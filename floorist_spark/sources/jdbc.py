"""JDBC source — live-PostgreSQL parity mode (SURVEY §2 F2, F3).

The reference's only data source is one streaming PostgreSQL connection
(`/root/reference/src/floorist/floorist.py:123-146`): a single server-side
cursor pages the opaque SQL string into bounded-memory chunks. The Spark
equivalent is the built-in JDBC source with the ``query`` option; memory is
bounded by ``DEFAULT_FETCHSIZE`` rows per round-trip instead of pandas chunks.

F9 (one database snapshot per dump): a ``query`` read is one partition,
so a dump's whole result comes over ONE connection and therefore from one
snapshot, matching the reference's per-dump transaction
(`floorist.py:128,148-152`); Spark has no way to split it (it rejects
``partitionColumn`` together with ``query``). The sink executes the read
once per attempt (``StorageClient.write_parquet`` persists it for the
count and the write), so a dump sees exactly that snapshot. Spark JDBC
reads auto-commit, so there is no transaction to commit or roll back
around the dump.

The driver is the one ``DriverManager`` finds for the URL: pgjdbc for the
reference's ``jdbc:postgresql:`` URL, any other JDBC 4 driver on the driver
classpath for a ``FLOORIST_JDBC_URL`` override.

F3 (uuid→string): the reference registers a psycopg2 caster for OID 2950
(`floorist.py:27-29,117-139`) so its writer never fails on a source type.
Spark's JDBC dialects need no such hook: PostgresDialect maps ``uuid``,
``json``/``jsonb``, ``interval``, ``inet`` and every other ``Types.OTHER``
column to ``StringType``, and every type a dialect maps is one Parquet can
write. A type the dialect does not know fails at ``load()``, inside the
executor's retry scope, so only that dump fails.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from floorist_spark.config import Config

#: Spark's JDBC fetchsize default is 0 (driver-chosen); the reference pages
#: at the floorplan chunksize default (`floorist.py:194`), so match it.
DEFAULT_FETCHSIZE = 1000


def jdbc_url(config: Config) -> str:
    if config.jdbc_url:
        return config.jdbc_url
    return f"jdbc:postgresql://{config.database_hostname}/{config.database_name}"


def build_jdbc_options(config: Config, query: str) -> dict[str, str]:
    """The options dict for ``spark.read.format("jdbc")`` — split out so the
    surface is unit-testable without a live PostgreSQL."""
    return {
        "url": jdbc_url(config),
        "query": query,
        "user": config.database_username or "",
        "password": config.database_password or "",
        "fetchsize": str(DEFAULT_FETCHSIZE),
    }


def read_query(spark: SparkSession, config: Config, query: str) -> DataFrame:
    """F2: execute an opaque SQL string on PostgreSQL, lazily
    (`floorist.py:141-146`). Catalyst still prunes/pushes into the outer
    plan; the inner query runs verbatim on the server, exactly like the
    reference's ``pd.read_sql``."""
    return spark.read.format("jdbc").options(**build_jdbc_options(config, query)).load()
