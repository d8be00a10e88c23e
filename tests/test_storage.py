"""F4/F5/F6/F7/F12 sink semantics — the reference's hardest parity traps
(`/root/reference/tests/test_floorist.py:160-210`,
`tests/test_floorist_standalone.py:406-477`)."""

from __future__ import annotations

import os
from datetime import date

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from floorist_spark.storage import StorageClient


@pytest.fixture
def storage(spark, tmp_path):
    return StorageClient(spark, f"file://{tmp_path}")


def _local(uri: str) -> str:
    return uri.removeprefix("file://")


def _counts(df) -> dict[int, int]:
    """Rows per input partition, as ``write_parquet`` counts them."""
    return dict(df.groupBy(F.spark_partition_id()).count().collect())


def _pages(spark, target) -> list[tuple[int, int, int]]:
    """(min n, max n, rows) per written file, ordered by min n."""
    per_file = spark.read.parquet(target).groupBy(F.input_file_name()).agg(F.min("n"), F.max("n"), F.count("n"))
    return sorted(tuple(r)[1:] for r in per_file.collect())


# -- F4: partitioned path, unpadded month/day --------------------------------

def test_make_path_unpadded(storage):
    # reference strftime %-m/%-d (floorist.py:94-97): 2026-03-07 must render
    # month_created=3, day_created=7 — NOT 03/07.
    path, target = storage.make_path("reports/cities", run_date=date(2026, 3, 7))
    assert path == "reports/cities/year_created=2026/month_created=3/day_created=7"
    assert target == f"{storage.base_uri}/{path}"


def test_make_path_defaults_to_today(storage):
    d = date.today()
    path, _ = storage.make_path("p")
    assert path == f"p/year_created={d.year}/month_created={d.month}/day_created={d.day}"


# -- F5: chunk-count parity ---------------------------------------------------

def test_chunksize_13_over_1000_rows_gives_77_files(spark, storage):
    # reference tests/test_floorist.py:170-178
    df = spark.range(0, 1000).select(F.col("id").alias("n"))
    _, target = storage.make_path("chunk13", run_date=date(2026, 1, 2))
    n = storage.write_parquet(df, target, chunksize=13)
    assert n == 77
    assert len(storage.list_parquet_files(target)) == 77


def test_chunksize_none_gives_single_file(spark, storage):
    # reference tests/test_floorist.py:180-188 (chunksize 0 -> falsy -> one file)
    df = spark.range(0, 1000).select(F.col("id").alias("n"))
    _, target = storage.make_path("chunk0", run_date=date(2026, 1, 2))
    n = storage.write_parquet(df, target, chunksize=None)
    assert n == 1
    assert len(storage.list_parquet_files(target)) == 1


@pytest.mark.slow
def test_million_rows_chunksize_1000_gives_1000_files(spark, storage):
    # reference tests/test_floorist.py:160-168: the 1M-row cross join at the
    # default chunksize lands as exactly 1000 parquet files.
    x = spark.range(0, 1000).select(F.col("id").alias("x"))
    y = spark.range(0, 1000).select(F.col("id").alias("y"))
    df = x.crossJoin(y)
    _, target = storage.make_path("large", run_date=date(2026, 1, 2))
    n = storage.write_parquet(df, target, chunksize=1000)
    assert n == 1000
    # the files themselves, listed in-process: a Hadoop listing of 1000
    # local files costs seconds of py4j round trips
    assert sum(f.endswith(".parquet") for f in os.listdir(_local(target))) == 1000
    back = spark.read.parquet(target)
    assert back.count() == 1_000_000


def test_append_mode_accumulates(spark, storage):
    # the reference writer appends (floorist.py:101); a second run on the
    # same day adds files instead of replacing them, and each write counts
    # only the files it wrote, not what the prefix already holds
    df = spark.range(0, 10).select(F.col("id").alias("n"))
    _, target = storage.make_path("append", run_date=date(2026, 1, 2))
    assert storage.write_parquet(df, target, chunksize=None) == 1
    assert storage.write_parquet(df, target, chunksize=None) == 1
    assert len(storage.list_parquet_files(target)) == 2
    assert spark.read.parquet(target).count() == 20

    df = spark.range(0, 1000).select(F.col("id").alias("n"))
    _, target = storage.make_path("append13", run_date=date(2026, 1, 2))
    assert storage.write_parquet(df, target, chunksize=13) == 77
    assert storage.write_parquet(df, target, chunksize=13) == 77
    assert len(storage.list_parquet_files(target)) == 154


def test_gzip_compression(spark, storage):
    df = spark.range(0, 10).select(F.col("id").alias("n"))
    _, target = storage.make_path("gz", run_date=date(2026, 1, 2))
    storage.write_parquet(df, target, chunksize=None)
    files = storage.list_parquet_files(target)
    assert all(".gz.parquet" in os.path.basename(f) for f in files)


def test_parity_writer_is_parallel_with_exact_count(spark, storage):
    # the chunked writer does not funnel the gzip/Parquet encode through
    # coalesce(1): rows are placed by a deterministic global chunk id, so
    # >1 task encodes concurrently while the file count stays EXACTLY
    # ceil(N/chunksize).
    df = spark.range(0, 1000).select(F.col("id").alias("n"))
    planned = storage._plan_writer(df, 13, _counts(df))
    assert planned.rdd.getNumPartitions() > 1
    _, target = storage.make_path("par13", run_date=date(2026, 1, 2))
    n = storage.write_parquet(df, target, chunksize=13)
    assert n == 77  # exact parity through the parallel path
    assert len(storage.list_parquet_files(target)) == 77


def test_parity_chunks_land_whole_with_chunk_zero_in_partition_zero(spark, storage):
    # the file count telescopes to ceil(N/chunksize) only if every chunk
    # lies whole in one write task and task 0 (which always writes a file)
    # holds chunk 0. Chunk counts around the partition count, one collect.
    # The writer numbers rows in the result's order and chunk k is its k-th
    # page; spark.range's order is n, so row n belongs to chunk n // chunksize.
    n = spark.sparkContext.defaultParallelism
    chunksize = 5
    cases = sorted({1, max(n - 1, 1), n, n + 1, 77})
    placed = None
    for chunks in cases:
        df = spark.range(0, chunks * chunksize - 2).select(F.col("id").alias("n"))
        part = (
            storage._plan_writer(df, chunksize, _counts(df))
            .select("n", F.spark_partition_id().alias("pid"))
            .select(F.lit(chunks).alias("case"), "pid", (F.col("n") / chunksize).cast("long").alias("chunk"))
        )
        placed = part if placed is None else placed.unionByName(part)
    got = placed.groupBy("case", "pid", "chunk").count().collect()
    for chunks in cases:
        pids, sizes = {}, {}
        for r in got:
            if r.case == chunks:
                pids.setdefault(r.chunk, set()).add(r.pid)
                sizes[r.chunk] = sizes.get(r.chunk, 0) + r["count"]
        assert sorted(pids) == list(range(chunks))  # every chunk is present
        assert all(len(p) == 1 for p in pids.values())  # ...whole in one task
        assert pids[0] == {0}  # chunk 0 in partition 0
        # every chunk is full but the last
        assert [sizes[c] for c in range(chunks)] == [chunksize] * (chunks - 1) + [chunksize - 2]
    df = spark.range(0, (n + 1) * chunksize - 2)
    _, target = storage.make_path("placed", run_date=date(2026, 1, 2))
    assert storage.write_parquet(df, target, chunksize=chunksize) == n + 1
    assert len(storage.list_parquet_files(target)) == n + 1


def test_chunks_are_pages_of_the_ordered_result(spark, storage):
    # the reference's chunk k is the k-th page of its cursor
    # (floorist.py:141-178): each file holds one contiguous run of the
    # query's ORDER BY, 13 rows each and the rest in the last
    spark.range(0, 1000, 1, 7).createOrReplaceTempView("pages_src")
    df = spark.sql("SELECT id AS n FROM pages_src ORDER BY n DESC")
    _, target = storage.make_path("pages", run_date=date(2026, 1, 2))
    assert storage.write_parquet(df, target, chunksize=13) == 77
    assert len(storage.list_parquet_files(target)) == 77
    want = [(max(0, 1000 - 13 * (k + 1)), 999 - 13 * k) for k in range(77)]
    assert _pages(spark, target) == sorted((lo, hi, hi - lo + 1) for lo, hi in want)


def test_exact_count_and_content_with_empty_partitions(spark, storage):
    # 8 input partitions of 125 rows; the filter empties the first (0), a
    # middle (3) and the last (7), so the offsets skip partitions with no rows
    df = spark.range(0, 1000, 1, 8).select(F.col("id").alias("n"))
    df = df.filter(F.col("n").between(125, 374) | F.col("n").between(500, 874))
    assert sorted(_counts(df)) == [1, 2, 4, 5, 6]
    _, target = storage.make_path("holes", run_date=date(2026, 1, 2))
    assert storage.write_parquet(df, target, chunksize=13) == 49  # ceil(625/13)
    assert len(storage.list_parquet_files(target)) == 49
    back = [r.n for r in spark.read.parquet(target).collect()]
    assert sorted(back) == [*range(125, 375), *range(500, 875)]
    sizes = [rows for _, _, rows in _pages(spark, target)]
    assert sorted(sizes) == [1] + [13] * 48


def test_parity_write_keeps_rows_with_duplicates_nulls_and_maps(spark, storage):
    # the parity checks above count files; this one checks what is in them:
    # duplicate rows, NULLs and a MapType column round-trip as the same
    # multiset of rows
    data = [
        (
            None if i % 100 == 0 else i % 100,
            None if i % 7 == 0 else f"s{i % 100 // 3}",
            None if i % 11 == 0 else {"k": i % 100, "j": i % 3},
        )
        for i in range(1000)
    ]
    df = spark.createDataFrame(data, "n int, s string, m map<string,int>")
    _, target = storage.make_path("content13", run_date=date(2026, 1, 2))
    assert storage.write_parquet(df, target, chunksize=13) == 77
    assert len(storage.list_parquet_files(target)) == 77

    def key(row):
        n, s, m = row
        return (
            (n is None, n or 0),
            (s is None, s or ""),
            (m is None, sorted(m.items()) if m else []),
        )

    back = [(r.n, r.s, r.m) for r in spark.read.parquet(target).select("n", "s", "m").collect()]
    assert sorted(back, key=key) == sorted(data, key=key)


def test_parity_count_exact_with_map_column(spark, storage):
    # the chunk numbering reads no column, so MapType rows land the exact
    # chunk count like any others.
    df = spark.range(0, 100).select(
        F.col("id").alias("n"), F.create_map(F.lit("k"), F.col("id")).alias("m")
    )
    _, target = storage.make_path("parmap", run_date=date(2026, 1, 2))
    n = storage.write_parquet(df, target, chunksize=30)
    assert n == 4  # ceil(100/30)
    assert len(storage.list_parquet_files(target)) == 4
    assert spark.read.parquet(target).count() == 100


# -- F6: empty-relation marker -------------------------------------------------

def test_empty_result_writes_marker_not_parquet(spark, storage, tmp_path):
    # reference tests/test_floorist_standalone.py:406-477: a 0-row result
    # creates a folder marker and the parquet writer is NOT invoked.
    df = spark.range(0, 5).filter(F.lit(False)).select(F.col("id").alias("n"))
    _, target = storage.make_path("empty", run_date=date(2026, 1, 2))
    n = storage.write_parquet(df, target, chunksize=1000)
    assert n == 0
    local = _local(target)
    assert os.path.isdir(local)
    assert os.listdir(local) == []  # no parquet, no _SUCCESS


def test_zero_column_relation_writes_marker(spark, storage):
    # the reference's `SELECT WHERE 1=0` yields a ZERO-COLUMN relation
    # (tests/floorplan_with_empty_dataset.yaml:1) — must not reach the writer
    df = spark.createDataFrame([], T.StructType([]))
    _, target = storage.make_path("zerocol", run_date=date(2026, 1, 2))
    n = storage.write_parquet(df, target)
    assert n == 0
    assert os.path.isdir(_local(target))


def test_empty_marker_skips_writer(spark, storage, monkeypatch):
    # hard assertion of the "writer not called" trap
    df = spark.range(0, 5).filter(F.lit(False))
    called = []
    monkeypatch.setattr(
        type(df.write), "parquet",
        lambda self, *a, **k: called.append(a),
        raising=False,
    )
    _, target = storage.make_path("noparquet", run_date=date(2026, 1, 2))
    storage.write_parquet(df, target)
    assert called == []


def test_write_leaves_persisted_rdds_as_found(spark, storage):
    # write_parquet persists the result for its one execution and drops it
    # after a write, an empty write and a failed write; a plan the caller
    # already cached, reached through the same object or another one with
    # the same plan, stays cached at the caller's level
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    _, target = storage.make_path("hygiene", run_date=date(2026, 1, 2))
    assert storage.write_parquet(spark.range(0, 100), target, chunksize=13) == 8
    assert jsc.getPersistentRDDs().size() == before
    assert storage.write_parquet(spark.range(0, 100).filter("id < 0"), target, chunksize=13) == 0
    assert jsc.getPersistentRDDs().size() == before
    boom = spark.range(0, 100).select(
        F.when(F.col("id") == 50, F.raise_error(F.lit("boom"))).otherwise(F.col("id")).alias("n")
    )
    with pytest.raises(Exception, match="boom"):
        storage.write_parquet(boom, target, chunksize=13)
    assert jsc.getPersistentRDDs().size() == before

    def make():
        return spark.range(0, 100).select((F.col("id") * 7).alias("n"))

    cached = make().persist()
    level = cached.storageLevel
    same = make()
    assert same.storageLevel == level
    try:
        for df in (cached, same):
            assert storage.write_parquet(df, target, chunksize=13) == 8
            assert cached.storageLevel == level and same.storageLevel == level
        assert jsc.getPersistentRDDs().size() == before + 1
    finally:
        cached.unpersist()


# -- F7: cleanup ---------------------------------------------------------------

def test_cleanup_removes_prefix(spark, storage):
    df = spark.range(0, 10).select(F.col("id").alias("n"))
    _, target = storage.make_path("clean", run_date=date(2026, 1, 2))
    storage.write_parquet(df, target, chunksize=None)
    assert os.path.isdir(_local(target)) and storage.list_parquet_files(target)
    storage.cleanup(target)
    assert not os.path.exists(_local(target))
    assert storage.list_parquet_files(target) == []


def test_cleanup_missing_target_is_noop(storage):
    storage.cleanup(f"{storage.base_uri}/never/written")


# -- F12: verify ----------------------------------------------------------------

def test_verify_existing_root(storage):
    storage.verify()


def test_verify_missing_root_raises(spark, tmp_path):
    uri = f"file://{tmp_path}/does/not/exist"
    bad = StorageClient(spark, uri)
    with pytest.raises(ValueError, match="FLOORIST_OUTPUT_URI") as exc:
        bad.verify()
    assert uri in str(exc.value)


class _DeniedFs:
    """Hadoop-FS stand-in: root listing is AccessDenied; the child-glob
    probe either succeeds (prefix-scoped credentials) or returns null."""

    def __init__(self, glob_result):
        self.glob_result = glob_result
        self.glob_calls = []

    def listStatus(self, path):
        raise RuntimeError("AccessDenied: ListBuckets not permitted")

    def globStatus(self, path):
        self.glob_calls.append(str(path))
        return self.glob_result


def test_verify_access_denied_falls_back_to_child_glob(spark, monkeypatch):
    # prefix-scoped credentials: root LIST denied, <base>/* LIST allowed
    client = StorageClient(spark, "file:///base")
    fs = _DeniedFs(glob_result=[])  # empty-but-listable prefix passes
    monkeypatch.setattr(client, "_fs", lambda uri: fs)
    client.verify()
    assert fs.glob_calls and fs.glob_calls[0].endswith("/base/*")


def test_verify_access_denied_with_failed_probe_reraises(spark, monkeypatch):
    client = StorageClient(spark, "file:///base")
    fs = _DeniedFs(glob_result=None)  # probe resolves nothing -> no access
    monkeypatch.setattr(client, "_fs", lambda uri: fs)
    with pytest.raises(RuntimeError, match="AccessDenied"):
        client.verify()


def test_append_schema_evolution_readback_contract(spark, storage):
    """A floorplan query that GAINS a column between scheduled runs lands
    mixed-schema files on the same append prefix (the reference's pandas
    sink behaves identically). Pin the read-back contract: a plain read
    resolves a single file's schema, while mergeSchema=true recovers the
    union with NULLs for the old files — the recipe consumers of an
    evolved dump prefix must use."""
    target = f"{storage.base_uri}/evolved"
    run1 = spark.range(3).selectExpr("id AS a")
    run2 = spark.range(3, 5).selectExpr("id AS a", "id * 10 AS b")
    storage.write_parquet(run1, target)
    storage.write_parquet(run2, target)

    merged = spark.read.option("mergeSchema", "true").parquet(target)
    assert sorted(c.lower() for c in merged.columns) == ["a", "b"]
    rows = {r["a"]: r["b"] for r in merged.collect()}
    assert rows[4] == 40 and rows[0] is None  # old files surface NULL b
    assert merged.count() == 5
