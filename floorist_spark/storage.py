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
  `tests/test_floorist.py:160-188`). Chunks are written in parallel, each
  whole in one task (``StorageClient._plan_writer``), so the write's own
  row count gives its file count.
* **F6 empty-relation sink** — a 0-row (or 0-column) result writes a
  directory marker, NOT a Parquet file (`floorist.py:102-110`; on S3A
  ``mkdirs`` creates exactly the zero-byte trailing-slash object the
  reference PUTs). The Parquet writer must not run
  (`tests/test_floorist_standalone.py:436-441`).
* **F7 cleanup** — recursive delete of the target prefix before a retry so
  re-writing cannot duplicate rows (`floorist.py:112-113,209-213`).
* **F12 verify** — startup probe of the bucket root; on an access-denied
  style failure retry with a trailing slash (credentials without
  ListBuckets), otherwise fail fast (`floorist.py:81-92`). A missing local
  (``file://``) output directory fails with a ``ValueError`` that names
  the URI and ``FLOORIST_OUTPUT_URI``.
"""

from __future__ import annotations

import logging
import os
from datetime import date
from urllib.parse import urlparse

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _hashable(dt: T.DataType) -> bool:
    """xxhash64 rejects MapType (anywhere in the tree); everything else the
    sink can carry hashes fine."""
    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.ArrayType):
        return _hashable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_hashable(f.dataType) for f in dt.fields)
    return True


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

    def write_parquet(
        self,
        df: DataFrame,
        target: str,
        chunksize: int | None = None,
        dump_count: int = 0,
    ) -> int:
        """Write one dump; returns the number of Parquet files it wrote:
        ceil(rows/chunksize), or one file when ``chunksize`` is falsy
        (`floorist.py:194`: falsy chunksize → one pandas chunk → one file).
        The number is derived, not listed: ``_plan_writer`` makes it exact,
        and ``rows`` is observed in this write's own result stage, so files
        already under an append-mode prefix do not count.

        Empty (0-row or 0-column) results take the F6 marker path and never
        invoke the Parquet writer.
        """
        if len(df.columns) == 0 or df.isEmpty():
            self.write_empty_marker(target)
            logging.info("[Dump #%d] Empty folder created for empty result", dump_count)
            return 0

        planned = self._plan_writer(df, chunksize)
        written = Observation()
        if chunksize:  # unchunked is one file: nothing to count
            planned = planned.observe(written, F.count(F.lit(1)).alias("rows"))
        planned.write.mode("append").options(compression="gzip", maxRecordsPerFile=chunksize or 0).parquet(target)
        files = -(-written.get["rows"] // chunksize) if chunksize else 1
        for chunk in range(1, files + 1):
            logging.info("[Dump #%d] Written parquet chunk #%d", dump_count, chunk)
        return files

    def _plan_writer(self, df: DataFrame, chunksize: int | None) -> DataFrame:
        """Shape the writer input so the file count is exact and the
        gzip/Parquet encode of a chunked dump runs on ~cores tasks.

        Unchunked is one file, so one task (``coalesce(1)``). Chunked, each
        write task emits ceil(rows_in_task / chunksize) files under
        ``maxRecordsPerFile``, so the total is ceil(N/chunksize) iff every
        task holds whole chunks and only one holds the partial last chunk.
        Each row gets a global chunk id from a row_number over a
        deterministic order (xxhash64 of the row, so a retried stage
        reproduces the assignment, SPARK-38388 class), and chunk ``c`` is
        placed in partition ``c mod n``. ``FileFormatWriter`` always writes
        a file from task 0, even an empty one, so chunk 0 must live there;
        ``c mod n`` puts it there. The row_number pass is single-partition,
        but it only numbers rows: the encode is what runs in parallel.
        """
        if not chunksize:
            return df.coalesce(1)
        order = (
            F.xxhash64(*df.columns)
            if all(_hashable(f.dataType) for f in df.schema.fields)
            else F.lit(1)  # map-typed rows: count-correct, order-arbitrary
        )
        chunk = ((F.row_number().over(Window.orderBy(order)) - 1) / chunksize).cast("long")
        n = self.spark.sparkContext.defaultParallelism
        tag = "__floorist_chunk__"
        return (
            df.withColumn(tag, F.pmod(chunk, F.lit(n)).cast("int"))
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
        Recursive so partially-written chunks from a failed attempt vanish."""
        fs = self._fs(target)
        p = self._jpath(target)
        if fs.exists(p):
            fs.delete(p, True)

    # -- helpers -------------------------------------------------------------

    def exists(self, uri: str) -> bool:
        return self._fs(uri).exists(self._jpath(uri))

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
