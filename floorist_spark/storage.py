"""Storage client: partitioned Parquet sink + markers + cleanup (SURVEY §2
F4, F5, F6, F7, F12).

The reference talks to S3 through boto3/awswrangler
(`/root/reference/src/floorist/floorist.py:66-113`); here every path goes
through the Hadoop FileSystem API, so one code path serves ``file://`` in
tests and ``s3a://`` on a cluster, and the writes themselves are executed by
Spark tasks (distributed PUTs), not the driver.

Reference semantics reproduced:

* **F4 make_path** — ``prefix/year_created=Y/month_created=M/day_created=D``
  from the *job run date*, month/day non-zero-padded (the reference's
  ``%-m/%-d``, `floorist.py:94-97`). Date parts are path literals, not data
  columns — partition values live only in the path (`tests pin this at
  /root/reference/tests/test_floorist.py:166-168`).
* **F5 write_parquet** — gzip Parquet, append mode, exactly
  ceil(N/chunksize) files, or one file unchunked (the reference's counts,
  `tests/test_floorist.py:160-188`). As with the reference's cursor, the
  query runs once and chunk k is its k-th page of chunksize rows, written
  in parallel, each whole in one task (``StorageClient._plan_writer``).
* **F6 empty-relation sink** — a 0-row (or 0-column) result, known from
  the same per-partition counts, writes a directory marker, NOT a Parquet
  file (`floorist.py:102-110`; on S3A ``mkdirs`` creates exactly the
  zero-byte trailing-slash object the reference PUTs). The Parquet writer
  must not run (`tests/test_floorist_standalone.py:436-441`).
* **F7 cleanup** — recursive delete of the target prefix before a retry so
  re-writing cannot duplicate rows (`floorist.py:112-113,209-213`).
* **F12 verify** — startup probe of the bucket root; on an access-denied
  style failure retry with a trailing slash (credentials without
  ListBuckets), otherwise fail fast (`floorist.py:81-92`). A missing local
  (``file://``) output directory fails with a ``ValueError`` that names
  the URI and ``FLOORIST_OUTPUT_URI``.
"""

from __future__ import annotations

import os
from datetime import date
from itertools import accumulate
from urllib.parse import urlparse

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class StorageClient:
    """Hadoop-FS-backed sink rooted at ``base_uri`` (s3a://bucket, file:///dir)."""

    def __init__(self, spark: SparkSession, base_uri: str):
        self.spark = spark
        self.base_uri = base_uri.rstrip("/")

    # -- Hadoop FS plumbing -------------------------------------------------

    def _jpath(self, uri: str):
        return self.spark._jvm.org.apache.hadoop.fs.Path(uri)

    def _fs(self, uri: str):
        return self._jpath(uri).getFileSystem(self.spark._jsc.hadoopConfiguration())

    # -- F12 ---------------------------------------------------------------

    def verify(self) -> None:
        """Probe the sink root; the fallback mirrors the reference's
        AccessDenied retry for prefix-scoped credentials (`floorist.py:81-92`:
        credentials without ListBuckets can still LIST under the prefix).

        Hadoop Path normalization makes a trailing-slash re-probe a no-op, so
        the second attempt is a genuinely different call: a child glob
        (``<base>/*``), which S3A issues as a LIST with ``prefix=<base>/`` —
        the permission surface a prefix-scoped policy actually grants."""
        try:
            self._fs(self.base_uri).listStatus(self._jpath(self.base_uri))
        except Exception as ex:
            if "AccessDenied" in str(ex):
                fs = self._fs(self.base_uri)
                if fs.globStatus(self._jpath(self.base_uri.rstrip("/") + "/*")) is None:
                    raise
                return
            parsed = urlparse(self.base_uri)
            if parsed.scheme in ("", "file") and not os.path.isdir(parsed.path):
                raise ValueError(
                    f"output directory {self.base_uri} does not exist; create it "
                    "or point FLOORIST_OUTPUT_URI at an existing directory"
                ) from ex
            raise

    # -- F4 ------------------------------------------------------------------

    def make_path(self, prefix: str, run_date: date | None = None) -> tuple[str, str]:
        """``(relative_path, full_target_uri)`` with unpadded month/day ints,
        byte-for-byte the reference layout (`floorist.py:94-97`)."""
        d = run_date or date.today()
        path = f"{prefix}/year_created={d.year}/month_created={d.month}/day_created={d.day}"
        return path, f"{self.base_uri}/{path}"

    # -- F5 / F6 -------------------------------------------------------------

    def write_parquet(self, df: DataFrame, target: str, chunksize: int | None = None) -> int:
        """Write one dump, executing its query once; returns the number of
        Parquet files it wrote: 0 for an empty result, ceil(rows/chunksize),
        or one file when ``chunksize`` is falsy (`floorist.py:194`: falsy
        chunksize → one pandas chunk → one file).

        The result is persisted and one job counts its rows per partition:
        emptiness (a 0-row or 0-column result takes the F6 marker path and
        never invokes the Parquet writer), the file count and each row's
        chunk all come from those counts. A plan the caller already cached
        stays cached; otherwise the persist ends with the write, so a retry
        re-executes the query and reads a fresh snapshot.
        """
        rows = 0
        if df.columns:
            owned = df.storageLevel == StorageLevel.NONE
            if owned:
                df.persist()
            try:
                counts = dict(df.groupBy(F.spark_partition_id()).count().collect())
                rows = sum(counts.values())
                if rows:
                    writer = self._plan_writer(df, chunksize, counts).write.option("maxRecordsPerFile", chunksize or 0)
                    writer.parquet(target, mode="append", compression="gzip")
            finally:
                if owned:
                    df.unpersist()
        if not rows:
            self.write_empty_marker(target)
            return 0
        return -(-rows // chunksize) if chunksize else 1

    def _plan_writer(self, df: DataFrame, chunksize: int | None, counts: dict[int, int]) -> DataFrame:
        """Shape the writer input so chunk k is the k-th page of ``chunksize``
        rows of the result, the file count is exact, and the gzip/Parquet
        encode of a chunked dump runs on ~cores tasks.

        Unchunked is one file, so one task (``coalesce(1)``). Chunked, a
        row's index is offset[p] + i, where ``monotonically_increasing_id``
        gives its partition p and position i there, and offset[p] sums the
        per-partition ``counts`` of the same persisted blocks below p: the
        numbering is deterministic while those blocks live. Chunk
        ``c = index // chunksize`` is placed in partition ``c mod n``, so
        every write task holds whole chunks and only one holds the partial
        last chunk; under ``maxRecordsPerFile`` the total is ceil(N/chunksize).
        A local task reads its map outputs in map order, so each file is one
        chunk. ``FileFormatWriter`` always writes a file from task 0, even an
        empty one, so chunk 0 must live there; ``c mod n`` puts it there.
        """
        if not chunksize:
            return df.coalesce(1)
        offsets = F.array(*map(F.lit, [0, *accumulate(counts.get(p, 0) for p in range(max(counts)))]))
        tag = "__floorist_chunk__"
        rid = F.col(tag)  # p << 33 | i
        index = offsets[F.shiftright(rid, 33)] + rid.bitwiseAND((1 << 33) - 1)
        n = self.spark.sparkContext.defaultParallelism
        return (
            df.withColumn(tag, F.monotonically_increasing_id())
            .withColumn(tag, F.pmod((index / chunksize).cast("long"), F.lit(n)).cast("int"))
            .repartitionById(n, tag)
            .drop(tag)
        )

    def write_empty_marker(self, target: str) -> None:
        """F6: directory marker instead of a Parquet file. On S3A `mkdirs`
        PUTs the zero-byte trailing-slash object (`floorist.py:102-110`);
        on local FS it creates the empty directory."""
        self._fs(target).mkdirs(self._jpath(target))

    # -- F7 ------------------------------------------------------------------

    def cleanup(self, target: str) -> None:
        """Delete everything under the target prefix (`floorist.py:112-113`).
        Recursive so partially-written chunks from a failed attempt vanish;
        a missing target is a no-op (Hadoop's ``delete`` returns false)."""
        self._fs(target).delete(self._jpath(target), True)

    # -- helpers -------------------------------------------------------------

    def list_parquet_files(self, target: str) -> list[str]:
        """Recursive listing of data files under ``target`` (excludes
        _SUCCESS and hidden files) — the test surface for chunk-count
        parity (`tests/test_floorist.py:160-188`)."""
        fs = self._fs(target)
        root = self._jpath(target)
        if not fs.exists(root):
            return []
        out = []
        it = fs.listFiles(root, True)
        while it.hasNext():
            status = it.next()
            name = status.getPath().getName()
            if not name.startswith("_") and not name.startswith("."):
                out.append(status.getPath().toString())
        return sorted(out)
