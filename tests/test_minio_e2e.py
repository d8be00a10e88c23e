"""F5/F6/F7/F12 against a REAL object store (MinIO over s3a://) — the
reference's sink layer runs against MinIO in CI
(`/root/reference/tests/docker-compose.yml:26-42`; marker/cleanup/chunk
behavior pinned at `tests/test_floorist_standalone.py:406-477` and
`tests/test_floorist.py:160-220`).

Every local sink test runs on ``file://``; this module proves the claims
that are only meaningful on an object store:

* F6 — ``mkdirs`` on S3A PUTs the zero-byte trailing-slash marker object
  the reference writes for empty results (`src/floorist/floorist.py:102-110`);
* F7 — recursive cleanup deletes every object under the prefix;
* F5 — chunk-count parity (ceil(N/chunksize) objects) holds for real
  multipart PUTs, and append lands next to earlier dumps' objects;
* F12 — the bucket-root probe succeeds against live credentials.

Gating: requires ``FLOORIST_S3_ENDPOINT`` (e.g. ``http://127.0.0.1:9000``
from ``tests/compose/docker-compose.yml``) reachable, plus the
``hadoop-aws`` + AWS SDK bundle jars on the session classpath at JVM
launch via ``FLOORIST_EXTRA_JARS`` (pyspark does not bundle them).
Credentials/bucket default to the compose values and can be overridden
with ``FLOORIST_S3_ACCESS_KEY`` / ``FLOORIST_S3_SECRET_KEY`` /
``FLOORIST_S3_BUCKET``.
"""

from __future__ import annotations

import os
import socket
import uuid
from datetime import date
from urllib.parse import urlparse

import pytest

from floorist_spark.config import Config, s3a_conf
from floorist_spark.storage import StorageClient

ENDPOINT = os.environ.get("FLOORIST_S3_ENDPOINT")
BUCKET = os.environ.get("FLOORIST_S3_BUCKET", "floorist")
ACCESS_KEY = os.environ.get("FLOORIST_S3_ACCESS_KEY", "floorist")
SECRET_KEY = os.environ.get("FLOORIST_S3_SECRET_KEY", "floorist123")

RUN_DATE = date(2026, 3, 4)
DAY_PATH = "year_created=2026/month_created=3/day_created=4"


def _endpoint_reachable(endpoint: str) -> bool:
    u = urlparse(endpoint)
    try:
        with socket.create_connection(
            (u.hostname, u.port or (443 if u.scheme == "https" else 80)), timeout=2
        ):
            return True
    except OSError:
        return False


if ENDPOINT is None:
    pytest.skip(
        "no object store: set FLOORIST_S3_ENDPOINT (e.g. via "
        "tests/compose/docker-compose.yml) plus FLOORIST_EXTRA_JARS with "
        "hadoop-aws + AWS SDK bundle",
        allow_module_level=True,
    )
if not _endpoint_reachable(ENDPOINT):
    pytest.skip(
        f"object store endpoint {ENDPOINT} not reachable", allow_module_level=True
    )


@pytest.fixture(scope="module")
def s3(spark):
    """Configure the session's Hadoop conf for the live endpoint through
    the SAME wiring production uses (config.s3a_conf), then hand back a
    StorageClient rooted at a per-run scratch prefix."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.hadoop.fs.s3a.S3AFileSystem")
    except Exception:
        pytest.skip(
            "S3AFileSystem not on the Spark session classpath; set "
            "FLOORIST_EXTRA_JARS=<hadoop-aws.jar>,<aws-sdk-bundle.jar> before pytest"
        )
    cfg = Config(
        bucket_name=BUCKET,
        bucket_url=ENDPOINT,
        bucket_access_key=ACCESS_KEY,
        bucket_secret_key=SECRET_KEY,
    )
    hconf = spark._jsc.hadoopConfiguration()
    for k, v in s3a_conf(cfg).items():
        # s3a_conf emits spark.hadoop.-prefixed keys (session-builder form);
        # at runtime they go straight onto the Hadoop conf
        hconf.set(k.removeprefix("spark.hadoop."), v)
    scratch = f"s3a://{BUCKET}/e2e-{uuid.uuid4().hex[:12]}"
    client = StorageClient(spark, scratch)
    yield client
    client.cleanup(scratch)


def test_f12_verify_probes_live_bucket(s3):
    s3.verify()  # raises on unreachable/denied — success IS the assertion


def test_f6_empty_marker_is_zero_byte_trailing_slash_object(spark, s3):
    # The reference PUTs "<prefix>/" as a zero-byte object for empty
    # results (floorist.py:102-110). On S3A, mkdirs creates exactly that
    # fake-directory object; prove it end-to-end: marker exists as a
    # directory entry, holds zero data files, zero length.
    _, target = s3.make_path("dumps/none", RUN_DATE)
    df = spark.range(1).filter("id < 0")  # 0 rows
    n = s3.write_parquet(df, target, chunksize=1000)
    assert n == 0
    assert s3._fs(target).exists(s3._jpath(target))
    assert s3.list_parquet_files(target) == []
    status = s3._fs(target).getFileStatus(s3._jpath(target))
    assert status.isDirectory()  # S3A surfaces the marker object as a dir


def test_f5_chunk_parity_holds_on_object_store(spark, s3):
    # 1000 rows, chunksize 77 -> ceil(1000/77) = 13 objects, the exact
    # reference contract (test_floorist.py:171-178) on real PUTs.
    _, target = s3.make_path("dumps/series", RUN_DATE)
    df = spark.range(1000).selectExpr("id AS n")
    n = s3.write_parquet(df, target, chunksize=77)
    assert n == -(-1000 // 77)
    assert len(s3.list_parquet_files(target)) == n
    back = spark.read.parquet(target)
    assert back.count() == 1000
    # append mode: a second dump lands NEXT to the first, and the per-dump
    # count reflects only the new objects
    n2 = s3.write_parquet(spark.range(10).selectExpr("id AS n"), target, chunksize=77)
    assert n2 == 1
    assert len(s3.list_parquet_files(target)) == n + n2
    assert spark.read.parquet(target).count() == 1010


def test_f7_cleanup_removes_every_object_under_prefix(spark, s3):
    _, target = s3.make_path("dumps/tmp", RUN_DATE)
    s3.write_parquet(spark.range(100).selectExpr("id AS n"), target, chunksize=10)
    assert len(s3.list_parquet_files(target)) == 10
    s3.cleanup(target)
    assert not s3._fs(target).exists(s3._jpath(target))
    assert s3.list_parquet_files(target) == []
