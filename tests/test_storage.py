"""F4/F5/F6/F7/F12 sink semantics — the reference's hardest parity traps
(`/root/reference/tests/test_floorist.py:160-210`,
`tests/test_floorist_standalone.py:406-477`)."""

from __future__ import annotations

import os
from datetime import date

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from floorist_spark.storage import StorageClient, partition_zero_preimage, spark_hash_long


@pytest.fixture
def storage(spark, tmp_path):
    return StorageClient(spark, f"file://{tmp_path}")


def _local(uri: str) -> str:
    return uri.removeprefix("file://")


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
    n = storage.write_parquet(df, target, chunksize=13, parity=True)
    assert n == 77
    assert len(storage.list_parquet_files(target)) == 77


def test_chunksize_none_gives_single_file(spark, storage):
    # reference tests/test_floorist.py:180-188 (chunksize 0 -> falsy -> one file)
    df = spark.range(0, 1000).select(F.col("id").alias("n"))
    _, target = storage.make_path("chunk0", run_date=date(2026, 1, 2))
    n = storage.write_parquet(df, target, chunksize=None, parity=True)
    assert n == 1


@pytest.mark.slow
def test_million_rows_chunksize_1000_gives_1000_files(spark, storage):
    # reference tests/test_floorist.py:160-168: the 1M-row cross join at the
    # default chunksize lands as exactly 1000 parquet files.
    x = spark.range(0, 1000).select(F.col("id").alias("x"))
    y = spark.range(0, 1000).select(F.col("id").alias("y"))
    df = x.crossJoin(y)
    _, target = storage.make_path("large", run_date=date(2026, 1, 2))
    n = storage.write_parquet(df, target, chunksize=1000, parity=True)
    assert n == 1000
    back = spark.read.parquet(target)
    assert back.count() == 1_000_000


def test_append_mode_accumulates(spark, storage):
    # the reference writer appends (floorist.py:101); a second run on the
    # same day adds files instead of replacing them
    df = spark.range(0, 10).select(F.col("id").alias("n"))
    _, target = storage.make_path("append", run_date=date(2026, 1, 2))
    storage.write_parquet(df, target, chunksize=None)
    storage.write_parquet(df, target, chunksize=None)
    assert len(storage.list_parquet_files(target)) == 2
    assert spark.read.parquet(target).count() == 20


def test_gzip_compression(spark, storage):
    df = spark.range(0, 10).select(F.col("id").alias("n"))
    _, target = storage.make_path("gz", run_date=date(2026, 1, 2))
    storage.write_parquet(df, target, chunksize=None)
    files = storage.list_parquet_files(target)
    assert all(".gz.parquet" in os.path.basename(f) for f in files)


def test_parity_writer_is_parallel_with_exact_count(spark, storage):
    # r11 optimization: parity mode no longer funnels the gzip/Parquet
    # encode through coalesce(1) — the writer input is hash-partitioned by
    # a deterministic global chunk id, so >1 task encodes concurrently
    # while the file count stays EXACTLY ceil(N/chunksize).
    df = spark.range(0, 1000).select(F.col("id").alias("n"))
    planned = storage._plan_writer(df, 13, parity=True)
    assert planned.rdd.getNumPartitions() > 1
    _, target = storage.make_path("par13", run_date=date(2026, 1, 2))
    n = storage.write_parquet(df, target, chunksize=13, parity=True)
    assert n == 77  # exact parity through the parallel path


def test_partition_zero_preimage_matches_spark_hash(spark):
    # the parity writer remaps chunk 0 to a value HashPartitioning places in
    # partition 0, computed on the driver: pin the Python Murmur3 against
    # F.hash and the placement against pmod, all in one Spark job
    extremes = [-1, -2, -42, -(2**31), -(2**63), 2**32, 2**32 + 7, 2**40 + 123, 2**63 - 1]
    preimages = {n: partition_zero_preimage(n) for n in range(1, 1025)}
    assert max(preimages.values()) <= 8192  # minimality below is pinned too
    rows = [(v, 1) for v in [*range(0, 8193), *extremes]]
    rows += [(v, n) for n, v in preimages.items()]
    got = (
        spark.createDataFrame(rows, "v long, n int")
        .select("v", "n", F.hash("v").alias("h"), F.pmod(F.hash("v"), F.col("n")).alias("p"))
        .collect()
    )
    assert all(r.h == spark_hash_long(r.v) for r in got)
    assert all(r.p == 0 for r in got if r.n > 1)
    for n, v in preimages.items():
        assert all(spark_hash_long(u) % n for u in range(v))


def test_parity_count_exact_with_map_column(spark, storage):
    # MapType rows can't feed xxhash64; the fallback ordering must still
    # land the exact chunk count.
    df = spark.range(0, 100).select(
        F.col("id").alias("n"), F.create_map(F.lit("k"), F.col("id")).alias("m")
    )
    _, target = storage.make_path("parmap", run_date=date(2026, 1, 2))
    n = storage.write_parquet(df, target, chunksize=30, parity=True)
    assert n == 4  # ceil(100/30)
    assert spark.read.parquet(target).count() == 100


def test_scale_mode_spreads_single_partition_input(spark, storage):
    # scale-adaptive: input arriving below session parallelism (e.g. a
    # single-file scan) is spread so the write runs in parallel; input at
    # or above parallelism keeps its partitioning (cluster no-op).
    one = spark.range(0, 100).coalesce(1)
    spread = storage._plan_writer(one, None, parity=False)
    assert spread.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    wide = spark.range(0, 100).repartition(
        spark.sparkContext.defaultParallelism + 3
    )
    kept = storage._plan_writer(wide, None, parity=False)
    assert kept.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism + 3


def test_scale_mode_respects_max_records_per_file(spark, storage):
    # scale mode: no coalesce, but files still bounded by chunksize
    df = spark.range(0, 1000).repartition(4).select(F.col("id").alias("n"))
    _, target = storage.make_path("scale", run_date=date(2026, 1, 2))
    n = storage.write_parquet(df, target, chunksize=100, parity=False)
    assert n >= 10  # >= ceil(1000/100); parallel writers may split more
    assert spark.read.parquet(target).count() == 1000


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


# -- F7: cleanup ---------------------------------------------------------------

def test_cleanup_removes_prefix(spark, storage):
    df = spark.range(0, 10).select(F.col("id").alias("n"))
    _, target = storage.make_path("clean", run_date=date(2026, 1, 2))
    storage.write_parquet(df, target, chunksize=None)
    assert storage.exists(target)
    storage.cleanup(target)
    assert not storage.exists(target)
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
    storage.write_parquet(run1, target, parity=True)
    storage.write_parquet(run2, target, parity=True)

    merged = spark.read.option("mergeSchema", "true").parquet(target)
    assert sorted(c.lower() for c in merged.columns) == ["a", "b"]
    rows = {r["a"]: r["b"] for r in merged.collect()}
    assert rows[4] == 40 and rows[0] is None  # old files surface NULL b
    assert merged.count() == 5
