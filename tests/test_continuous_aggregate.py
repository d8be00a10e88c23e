"""Cross-run incremental semantics for e16 — the catalog oracle proves
one availableNow pass equals the batch rollup; this drives TWO "cron
runs" against a growing landing dir with a SHARED checkpoint and asserts
(a) the second run processes only the new file, (b) the merged serving
read equals the batch rollup over everything, including an hour whose
partials SPAN the two runs."""

from __future__ import annotations

import datetime as dt
import glob
import os
import shutil

from pyspark.sql import functions as F

from floorist_spark.operators.events_analytics import e16_continuous_aggregate
from floorist_spark.streaming.stateful import _stream_dir_for

T0 = dt.datetime(2024, 7, 1, 9, 0, 0)
SCHEMA = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE"


def _flat_parquet(spark, rows, dest):
    tmp = dest + "_tmp"
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(tmp)
    shutil.move(glob.glob(os.path.join(tmp, "part-*.parquet"))[0], dest)
    shutil.rmtree(tmp)


def test_continuous_aggregate_across_runs(spark, tmp_path):
    m = lambda mins: T0 + dt.timedelta(minutes=mins)
    sf_dir = str(tmp_path / "landing")
    os.makedirs(sf_dir)
    # run-1 data: two hours, hour 9 gets more rows in run 2
    _flat_parquet(
        spark,
        [
            (1, m(5), 1, "view", 1.25),
            (2, m(10), 1, "view", 2.25),
            (3, m(65), 2, "click", 3.50),
        ],
        os.path.join(sf_dir, "events.parquet"),
    )
    # the landing dir lives under the system temp dir, keyed on sf_dir's
    # path, and keeps regular files across runs on purpose: a file an
    # earlier test session left there would be read as new data
    stream = _stream_dir_for(sf_dir, "events")
    shutil.rmtree(stream)
    try:
        work = str(tmp_path / "work")
        r1 = {
            (r["window_start"], r["event_type"]): r
            for r in e16_continuous_aggregate(spark, sf_dir, work=work).collect()
        }
        assert r1[(m(0), "view")]["n_events"] == 2
        assert r1[(m(0), "view")]["total_value"] == 3.5

        # "next cron run": a new file lands (the stream dir is what the
        # source lists); hour 9 gains a row, hour 11 appears
        _flat_parquet(
            spark,
            [(4, m(20), 3, "view", 0.75), (5, m(125), 1, "view", 9.0)],
            os.path.join(stream, "more.parquet"),
        )
        r2 = {
            (r["window_start"], r["event_type"]): r
            for r in e16_continuous_aggregate(spark, sf_dir, work=work).collect()
        }
        # hour 9's count now merges partials from BOTH runs
        assert r2[(m(0), "view")]["n_events"] == 3
        assert r2[(m(0), "view")]["total_value"] == 4.25
        assert r2[(m(60), "click")]["n_events"] == 1
        assert r2[(m(120), "view")]["n_events"] == 1
        assert len(r2) == 3

        # exactly-once: the partials store holds run-1 partials + ONLY the new
        # file's partials (2 + 2 rows) — file 1 was not reprocessed
        partials = spark.read.parquet(os.path.join(work, "partials"))
        assert partials.count() == 4
        assert partials.agg(F.sum("pn")).collect()[0][0] == 5
    finally:
        shutil.rmtree(stream, ignore_errors=True)


def test_partial_write_is_idempotent_on_batch_replay(spark, tmp_path):
    """foreachBatch is at-least-once: replaying a batch (same batch_id,
    same rows — the crash-between-write-and-commit case) must leave the
    served totals unchanged, and a different batch_id must add exactly
    its own contribution."""
    import datetime as dt

    from pyspark.sql import functions as F
    from floorist_spark.operators.events_analytics import _e16_write_partials

    t0 = dt.datetime(2024, 6, 1, 12, 30, 0)
    batch = spark.createDataFrame(
        [(1, t0, 1, "view", 2.0), (2, t0, 2, "view", 3.0)],
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE",
    )
    store = str(tmp_path / "partials")

    def served():
        return {
            (r["window_start"], r["event_type"]): (r["n"], float(r["v"]))
            for r in spark.read.parquet(store)
            .groupBy("window_start", "event_type")
            .agg(
                F.expr("CAST(SUM(pn) AS BIGINT)").alias("n"),
                F.expr("CAST(CAST(SUM(pv) AS STRING) AS DOUBLE)").alias("v"),
            )
            .collect()
        }

    _e16_write_partials(batch, 0, store)
    first = served()
    _e16_write_partials(batch, 0, store)  # replay: same batch_id
    assert served() == first  # no double count

    _e16_write_partials(batch, 1, store)  # genuinely new batch
    hour = dt.datetime(2024, 6, 1, 12, 0, 0)
    assert served()[(hour, "view")] == (4, 10.0)
