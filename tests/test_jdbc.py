"""F2 JDBC source surface — options construction, testable without a live
PostgreSQL (the reference's equivalent is `src/floorist/floorist.py:117-146`)."""

from __future__ import annotations

from floorist_spark.config import Config
from floorist_spark.sources.jdbc import build_jdbc_options

CFG = Config(
    database_hostname="dbhost",
    database_name="insights",
    database_username="user",
    database_password="pw",
)


def test_options_parity_mode_pins_single_partition():
    # F9: one connection = one snapshot per dump (floorist.py:128); a
    # ``query`` read is one partition, which the Derby e2e checks live.
    # The driver is the one DriverManager finds for the URL.
    opts = build_jdbc_options(CFG, "SELECT 1")
    assert set(opts) == {"url", "query", "user", "password", "fetchsize"}
    assert opts["url"] == "jdbc:postgresql://dbhost/insights"
    assert opts["query"] == "SELECT 1"
    assert opts["fetchsize"] == "1000"  # reference default chunksize

