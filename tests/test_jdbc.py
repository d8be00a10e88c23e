"""F2/F3 JDBC source surface — options construction and the type-coercion
guard, testable without a live PostgreSQL (the reference's equivalent is
`src/floorist/floorist.py:117-146`)."""

from __future__ import annotations

from pyspark.sql import functions as F

from floorist_spark.config import Config
from floorist_spark.sources.jdbc import build_jdbc_options, coerce_unwritable_columns

CFG = Config(
    database_hostname="dbhost",
    database_name="insights",
    database_username="user",
    database_password="pw",
)


def test_options_parity_mode_pins_single_partition():
    # F9: one connection = one snapshot per dump (floorist.py:128)
    opts = build_jdbc_options(CFG, "SELECT 1")
    assert opts["numPartitions"] == "1"
    assert opts["url"] == "jdbc:postgresql://dbhost/insights"
    assert opts["query"] == "SELECT 1"
    assert opts["fetchsize"] == "1000"  # reference default chunksize


def test_coerce_is_noop_for_writable_schema(spark):
    df = spark.range(3).select(
        F.col("id"), F.lit("s").alias("t"), F.lit(1.5).alias("d")
    )
    assert coerce_unwritable_columns(df) is df


def test_coerce_casts_exotic_types_to_string(spark):
    # year-month intervals are not parquet-writable in all engines — the F3
    # guard casts them, mirroring the uuid caster's purpose
    df = spark.range(1).select(
        F.col("id"), F.expr("INTERVAL '2' YEAR").alias("iv")
    )
    out = coerce_unwritable_columns(df)
    assert dict(out.dtypes)["iv"] == "string"
    assert dict(out.dtypes)["id"] == "bigint"
    assert out.collect()[0]["iv"] is not None
