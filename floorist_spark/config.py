"""Config load + validation (SURVEY §2 F13).

Mirrors the reference's resolution and validation surface
(`/root/reference/src/floorist/config.py:25-105`):

* bucket settings from ``AWS_*`` env vars, with scheme-defaulting of the
  endpoint to ``https://`` (`config.py:43-48`);
* database settings from Clowder ``LoadedConfig`` when enabled, else from
  ``POSTGRESQL_*`` / ``POSTGRES_SERVICE_HOST`` env vars (`config.py:59-78`);
* floorplan filename from ``FLOORPLAN_FILE`` (`config.py:81-82`);
* hard validation errors, one per missing field, with the reference's
  messages (`config.py:85-105`).

Spark-specific additions (not in the reference):

* ``FLOORIST_OUTPUT_URI`` — write target override for native mode
  (``file:///...`` for local runs, any Hadoop-FS URI on a cluster). When
  unset the target is ``s3a://<AWS_BUCKET>`` as in the reference.
* ``FLOORIST_DATA_DIR`` — a table directory: when set, the run is
  ``"native"`` (queries run on Catalyst over its views, one per
  ``<name>.parquet``); when unset it is ``"jdbc"``, the reference's own
  contract (queries pushed to live PostgreSQL, which alone requires the
  database settings);
* ``FLOORIST_RUN_DATE`` — ``YYYY-MM-DD`` pins the partition date for
  reproducible backfills (the reference always stamps "today").
* :func:`s3a_conf` — maps resolved credentials onto the Hadoop S3A keys the
  executors need (the reference does the analogous wiring through
  boto3/awswrangler at `floorist.py:70-79`).
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import date
from os import R_OK, access, environ
from os.path import isdir, isfile
from urllib.parse import urlparse

try:  # Clowder is optional; absent in this environment (import-gated).
    from app_common_python import LoadedConfig, isClowderEnabled
except ImportError:  # pragma: no cover - exercised only on Clowder deploys
    LoadedConfig = None

    def isClowderEnabled() -> bool:
        return False


@dataclass
class Config:
    """Resolved engine configuration (reference `config.py:11-22`)."""

    bucket_url: str | None = None
    bucket_name: str | None = None
    bucket_secret_key: str | None = None
    bucket_access_key: str | None = None
    bucket_region: str | None = None
    database_hostname: str | None = None
    database_username: str | None = None
    database_password: str | None = None
    database_name: str | None = None
    floorplan_filename: str | None = None
    # Spark-native extensions
    output_uri: str | None = None
    mode: str = "native"
    #: Full JDBC URL override (``FLOORIST_JDBC_URL``). When set it replaces
    #: the postgres URL built from POSTGRES_* vars, enabling any database
    #: whose JDBC 4 driver is on the driver classpath: ``DriverManager``
    #: picks the driver by the URL (the e2e tests use Spark's bundled
    #: embedded Derby). The reference is postgres-only (`floorist.py:123`),
    #: so the default path — override unset — keeps exact reference behavior.
    jdbc_url: str | None = None
    #: Native-mode table directory (``FLOORIST_DATA_DIR``).
    data_dir: str | None = None
    #: Partition date of every dump (``FLOORIST_RUN_DATE``); None is today.
    run_date: date | None = None


def get_config(mode: str | None = None) -> Config:
    """Resolve + validate config from the environment.

    The mode is ``"native"`` when ``FLOORIST_DATA_DIR`` is set — Catalyst
    owns the query surface and no database is required — and ``"jdbc"``
    otherwise, which reproduces the reference contract exactly (database
    required). ``mode`` overrides that choice.
    """
    config = Config()
    _set_bucket_config(config)
    _set_database_config(config)
    _set_floorist_config(config)
    config.mode = mode or ("native" if config.data_dir else "jdbc")
    _validate_config(config)
    return config


def _set_bucket_config(config: Config) -> None:
    config.bucket_name = environ.get("AWS_BUCKET")
    config.bucket_url = _normalize_endpoint(environ.get("AWS_ENDPOINT"))
    config.bucket_secret_key = environ.get("AWS_SECRET_ACCESS_KEY")
    config.bucket_access_key = environ.get("AWS_ACCESS_KEY_ID")
    config.bucket_region = environ.get("AWS_REGION")
    config.output_uri = environ.get("FLOORIST_OUTPUT_URI")


def _normalize_endpoint(endpoint: str | None) -> str | None:
    """Default a scheme-less endpoint to https (reference `config.py:43-48`)."""
    if endpoint is None:
        return None
    url = urlparse(endpoint)
    if url.scheme in ("http", "https"):
        return endpoint
    return f"https://{endpoint}"


def _set_database_config(config: Config) -> None:
    if isClowderEnabled():
        db = LoadedConfig.database
        config.database_name = db.name
        config.database_hostname = db.hostname
        config.database_username = db.username
        config.database_password = db.password
    else:
        config.database_hostname = environ.get("POSTGRES_SERVICE_HOST")
        config.database_name = environ.get("POSTGRESQL_DATABASE")
        config.database_username = environ.get("POSTGRESQL_USER")
        config.database_password = environ.get("POSTGRESQL_PASSWORD")
    config.jdbc_url = environ.get("FLOORIST_JDBC_URL")


def _set_floorist_config(config: Config) -> None:
    config.floorplan_filename = environ.get("FLOORPLAN_FILE")
    config.data_dir = environ.get("FLOORIST_DATA_DIR")
    run_date = environ.get("FLOORIST_RUN_DATE")
    config.run_date = _parse_run_date(run_date) if run_date else None


def _parse_run_date(text: str) -> date:
    """``YYYY-MM-DD`` only: ``fromisoformat`` also takes ``20250203``, so
    the date must print back as the text."""
    try:
        if (run_date := date.fromisoformat(text)).isoformat() == text:
            return run_date
    except ValueError:
        pass
    raise ValueError(f"FLOORIST_RUN_DATE must be a YYYY-MM-DD date, got {text!r}")


def _validate_config(config: Config) -> None:
    """Fail fast, one error per missing field — messages match the reference
    (`config.py:85-105`) so operators see identical diagnostics."""
    if not config.floorplan_filename:
        raise ValueError("Floorplan filename not defined!")

    if not isfile(config.floorplan_filename) or not access(config.floorplan_filename, R_OK):
        raise IOError(
            f"File '{config.floorplan_filename}' does not exist or is not readable"
        )

    if not config.bucket_name and not config.output_uri:
        raise ValueError("Bucket name not configured, set AWS_BUCKET variable.")

    if config.data_dir and not isdir(config.data_dir):
        raise ValueError(f"FLOORIST_DATA_DIR {config.data_dir!r} is not a directory")

    if config.mode == "jdbc":
        if config.jdbc_url:
            # Non-postgres override: credentials/host live in the URL itself
            # (e.g. embedded Derby), so the POSTGRES_* requirements are moot.
            return
        if not config.database_hostname:
            raise ValueError("Database host not defined")
        if not config.database_name:
            raise ValueError("Database name not defined")
        if not config.database_username:
            raise ValueError("Database user not defined")
        if not config.database_password:
            raise ValueError("Database password not defined")
        if not config.bucket_url:
            raise ValueError("Bucket endpoint not defined")


def base_output_uri(config: Config) -> str:
    """The sink root: explicit override, else the reference's S3 bucket
    (`floorist.py:96` builds ``s3://<bucket>/...``; on Spark that is s3a)."""
    if config.output_uri:
        return config.output_uri.rstrip("/")
    return f"s3a://{config.bucket_name}".rstrip("/")


def s3a_conf(config: Config) -> dict[str, str]:
    """Hadoop S3A configuration from resolved credentials. Path-style access
    is forced when a custom endpoint is set (MinIO compatibility — the
    reference does the same via awswrangler's endpoint override,
    `floorist.py:70-73`)."""
    conf: dict[str, str] = {}
    if config.bucket_access_key:
        conf["spark.hadoop.fs.s3a.access.key"] = config.bucket_access_key
    if config.bucket_secret_key:
        conf["spark.hadoop.fs.s3a.secret.key"] = config.bucket_secret_key
    if config.bucket_region:
        conf["spark.hadoop.fs.s3a.endpoint.region"] = config.bucket_region
    if config.bucket_url:
        conf["spark.hadoop.fs.s3a.endpoint"] = config.bucket_url
        conf["spark.hadoop.fs.s3a.path.style.access"] = "true"
    return conf
