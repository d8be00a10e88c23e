"""SparkSession construction and view registration.

The reference engine has no session concept — it opens one psycopg2
connection (`/root/reference/src/floorist/floorist.py:123-128`). Here the
SparkSession is the engine: Catalyst owns the query surface the reference
delegated to PostgreSQL.

Spark sizes the session: the master is ``local[$SPARK_GRAFT_CPUS]``, else
``local[*]``, whose JVM count honours CPU affinity and the cgroup CPU quota
(JDK 17); ``SPARK_MASTER`` leaves it to the deployment. Shuffle partitions
are the ``defaultParallelism`` the session reports at start. The other
confs set differ from Spark's defaults, e.g. Arrow on, and no console
progress bar (its redraws would share stderr lines with a cron run's log).

JVM flags are not set here: a cron run's JVM profile (C1 JIT, serial GC)
is the runner's ``CRON_JVM_CONF``, passed through ``extra_conf`` only when
``FlooristSpark`` launches its own session.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType


def get_spark(
    app_name: str = "floorist_spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine session.

    The master is ``local[$SPARK_GRAFT_CPUS]``, else ``local[*]``, unless
    ``SPARK_MASTER`` is set; on a real cluster the deployment (spark-submit
    / k8s operator) sets the master and these conf defaults still apply.
    ``getOrCreate`` applies the builder's confs to a session that already
    exists too, and an ``extra_conf`` key wins over any default set here.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # events.ts has shipped as TIMESTAMP(NANOS) in some testdata
        # generations (see load_table); this legacy conf makes such columns
        # readable as long everywhere — batch scans AND the streaming
        # source's raw-schema probe — so it lives here, at session build,
        # as the engine's single unscoped conf write (round-10 verdict
        # task 5 consolidated the former per-callsite copies).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # keep managed-table data (bucketed tables etc.) out of the repo cwd
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE",
                os.path.join(tempfile.gettempdir(), "floorist_spark_warehouse"),
            ),
        )
    )
    # Optional extra jars (comma-separated paths), e.g. the PostgreSQL JDBC
    # driver for the live-Postgres e2e suite. Must be present at JVM launch:
    # spark.jars alone reaches executors, but the DriverManager lookup the
    # JDBC source does on the DRIVER needs extraClassPath too.
    extra_jars = os.environ.get("FLOORIST_EXTRA_JARS")
    if extra_jars:
        jar_list = [j for j in extra_jars.replace(os.pathsep, ",").split(",") if j]
        builder = builder.config("spark.jars", ",".join(jar_list))
        builder = builder.config(
            "spark.driver.extraClassPath", os.pathsep.join(jar_list)
        )
    if "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS') or '*'}]")
    extra_conf = extra_conf or {}
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if "spark.sql.shuffle.partitions" not in extra_conf:
        spark.conf.set("spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism))
    return spark


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata table. Plain parquet scan — Catalyst pushes filters
    and prunes columns into this scan (verify with .explain: PushedFilters /
    ReadSchema).

    The ``events.ts`` parquet encoding is NOT stable across testdata
    regenerations — observed so far: TIMESTAMP(NANOS) (rounds 1-3, read as
    long via the legacy conf) and timestamp[us] with isAdjustedToUTC=false
    (round 4+, read as TIMESTAMP_NTZ). Normalize EVERY encoding to
    session-UTC TIMESTAMP here, at the source boundary, so no downstream
    operator ever sees a non-TIMESTAMP event time. The reference never had
    this problem class because Postgres owned types end-to-end
    (`/root/reference/src/floorist/floorist.py:141-146` infers the schema
    from the live cursor); an engine that owns its sources must coerce at
    the boundary instead. Row-local projection — no shuffle, stays in
    codegen; DuckDB normalizes identically on the oracle side (ns
    truncation / naive-as-UTC). An ``events`` table without ``ts`` (any
    data-dir table is a view) is read as it is."""
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and "ts" in df.columns:
        df = normalize_event_time(df)
    return df


def normalize_event_time(df: DataFrame) -> DataFrame:
    """Coerce the ``ts`` event-time column from any observed parquet
    encoding to session-local TIMESTAMP (session tz is pinned to UTC in
    ``get_spark``).

    * long        → nanoseconds since epoch, truncated to micros
    * TIMESTAMP_NTZ → naive wall-clock; the generator writes UTC instants,
      and the session tz is UTC, so the NTZ→TIMESTAMP cast (interpreted in
      session tz) is value-preserving
    * TIMESTAMP   → already correct, no-op
    """
    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        return df.withColumn("ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))"))
    if isinstance(dt, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def parquet_tables(data_dir: str) -> list[str]:
    """The table names of ``data_dir``: ``<name>`` for every
    ``<name>.parquet`` entry, a file or a directory of part files."""
    return sorted(name for name, ext in map(os.path.splitext, os.listdir(data_dir)) if ext == ".parquet")


def register_views(spark: SparkSession, data_dir: str) -> None:
    """Register every table of ``data_dir`` as a temp view of the same name
    so floorplan SQL can reference it (the reference's queries named live
    Postgres tables; native mode names these views)."""
    for name in parquet_tables(data_dir):
        load_table(spark, data_dir, name).createOrReplaceTempView(name)
