"""SparkSession construction and view registration.

The reference engine has no session concept — it opens one psycopg2
connection (`/root/reference/src/floorist/floorist.py:123-128`). Here the
SparkSession is the engine: Catalyst owns the query surface the reference
delegated to PostgreSQL.

Only the confs that differ from Spark's own defaults are set, sized for
the test/bench environment (single JVM, local[N]) but meaning the same on
a real cluster:

* shuffle.partitions sized to cores locally; on a 1000-executor cluster
  this would be set to ~2-3x total cores (AQE, on by default, coalesces
  down).
* Arrow enabled — every pandas UDF / toPandas crosses via Arrow batches.

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

#: Tables the driver ships at /root/testdata/sf*/ (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return int(cpus)
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "floorist_spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine session.

    The master is ``local[$SPARK_GRAFT_CPUS]`` unless ``SPARK_MASTER`` is
    set; on a real cluster the deployment (spark-submit / k8s operator)
    sets the master and these conf defaults still apply. ``getOrCreate``
    applies the builder's confs to a session that already exists too, and
    an ``extra_conf`` key wins over the default set here.
    """
    n = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
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
        builder = builder.master(f"local[{n}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


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
    truncation / naive-as-UTC)."""
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
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


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view so floorplan SQL can
    reference them by name (the reference's queries named live Postgres
    tables; native mode names these views)."""
    for name in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)
