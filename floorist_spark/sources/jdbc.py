"""JDBC source — live-PostgreSQL parity mode (SURVEY §2 F2, F3).

The reference's only data source is one streaming PostgreSQL connection
(`/root/reference/src/floorist/floorist.py:123-146`): a single server-side
cursor pages the opaque SQL string into bounded-memory chunks. The Spark
equivalent is the built-in JDBC source with the ``query`` option; memory is
bounded by ``DEFAULT_FETCHSIZE`` rows per round-trip instead of pandas chunks.

F9 (one database snapshot per dump): every read pins ``numPartitions=1``,
so a dump's whole result comes over ONE connection and therefore from one
snapshot, matching the reference's per-dump transaction
(`floorist.py:128,148-152`). The sink executes the read once per attempt
(``StorageClient.write_parquet`` persists it for the count and the write),
so a dump sees exactly that snapshot. Spark JDBC reads auto-commit, so
there is no transaction to commit or roll back around the dump.

F3 (uuid→string): Spark's built-in PostgresDialect already maps PG ``uuid``
to ``StringType`` — the custom OID-2950 type caster at
`floorist.py:27-29,117-139` is subsumed. :func:`coerce_unwritable_columns`
keeps a guard for *other* exotic source types so the Parquet writer can
never fail on an unmapped type, the same failure the caster existed to
prevent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from floorist_spark.config import Config

#: Spark's JDBC fetchsize default is 0 (driver-chosen); the reference pages
#: at the floorplan chunksize default (`floorist.py:194`), so match it.
DEFAULT_FETCHSIZE = 1000

#: Parquet-writable Spark SQL types; anything else is cast to string.
_WRITABLE = (
    T.NullType,
    T.BooleanType,
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
    T.StringType,
    T.BinaryType,
    T.DateType,
    T.TimestampType,
    T.TimestampNTZType,
    T.DayTimeIntervalType,
    T.ArrayType,
    T.MapType,
    T.StructType,
)


#: Reference database driver (`floorist.py:123` — postgres-only). An
#: explicit ``config.jdbc_url``/``jdbc_driver`` overrides both, which is how
#: the e2e suite runs the identical read path on embedded Derby.
DEFAULT_DRIVER = "org.postgresql.Driver"


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
        "driver": config.jdbc_driver or DEFAULT_DRIVER,
        "numPartitions": "1",
    }


def read_query(spark: SparkSession, config: Config, query: str) -> DataFrame:
    """F2: execute an opaque SQL string on PostgreSQL, lazily
    (`floorist.py:141-146`). Catalyst still prunes/pushes into the outer
    plan; the inner query runs verbatim on the server, exactly like the
    reference's ``pd.read_sql``."""
    reader = spark.read.format("jdbc")
    for k, v in build_jdbc_options(config, query).items():
        reader = reader.option(k, v)
    return coerce_unwritable_columns(reader.load())


def coerce_unwritable_columns(df: DataFrame) -> DataFrame:
    """F3 guard: cast any non-Parquet-writable column to string, replacing
    the reference's psycopg2 uuid caster (`floorist.py:117-139`). A no-op
    for schemas the dialect already mapped (the common case)."""
    exotic = [f.name for f in df.schema.fields if not isinstance(f.dataType, _WRITABLE)]
    if not exotic:
        return df
    return df.select(
        *[
            F.col(f.name).cast("string").alias(f.name) if f.name in exotic else F.col(f.name)
            for f in df.schema.fields
        ]
    )
