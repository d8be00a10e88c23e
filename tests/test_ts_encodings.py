"""Encoding-matrix regression test for the events.ts boundary coercion.

The driver's testdata generator has already shipped ``events.ts`` in two
different parquet encodings across rounds (TIMESTAMP(NANOS) in rounds 1-3,
timestamp[us] NTZ from round 4), and round 3 lost its bench to the switch.
This test writes the SAME logical events in every encoding pyarrow can emit
and pins that ``load_table`` normalizes each one to TIMESTAMP with
identical values — batch (e01/e05/e06) and streaming-watermark (e07) paths
both — so the next regeneration cannot silently break the engine again.
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from floorist_spark.operators.events_analytics import (
    e01_tumbling_hourly,
    e04_streaming_tumbling,
    e05_asof_join,
    e06_range_join,
    e07_streaming_watermark,
)
from floorist_spark.session import get_spark, load_table

ENCODINGS = ("nanos", "micros_ntz", "micros_utc")

_BASE = dt.datetime(2024, 3, 1, 0, 0, 0)
_ROWS = [
    # (event_id, minutes_from_base, user_id, event_type, value)
    (1, 0, 1, "view", 1.25),
    (2, 3, 1, "click", 2.50),
    (3, 61, 2, "view", 0.75),
    (4, 65, 2, "purchase", 10.00),
    (5, 124, 1, "view", 3.00),
    (6, 125, 3, "click", 4.25),
    (7, 126, 3, "view", 5.50),
    (8, 190, 2, "click", 6.00),
]


def _arrow_table(ts_type: pa.DataType) -> pa.Table:
    ts = [_BASE + dt.timedelta(minutes=m) for _, m, _, _, _ in _ROWS]
    return pa.table(
        {
            "event_id": pa.array([r[0] for r in _ROWS], pa.int64()),
            "ts": pa.array(ts, ts_type),
            "user_id": pa.array([r[2] for r in _ROWS], pa.int64()),
            "event_type": pa.array([r[3] for r in _ROWS], pa.string()),
            "value": pa.array([r[4] for r in _ROWS], pa.float64()),
            "props": pa.array(["{}"] * len(_ROWS), pa.string()),
        }
    )


@pytest.fixture(scope="module")
def encoded_dirs(tmp_path_factory):
    """One sf_dir per encoding, each holding the same logical events."""
    types = {
        "nanos": pa.timestamp("ns"),
        "micros_ntz": pa.timestamp("us"),
        "micros_utc": pa.timestamp("us", tz="UTC"),
    }
    dirs = {}
    for name, ts_type in types.items():
        d = tmp_path_factory.mktemp(f"events_{name}")
        pq.write_table(_arrow_table(ts_type), os.path.join(str(d), "events.parquet"))
        dirs[name] = str(d)
    return dirs


@pytest.mark.parametrize("encoding", ENCODINGS)
def test_load_table_normalizes_to_timestamp(spark, encoded_dirs, encoding):
    df = load_table(spark, encoded_dirs[encoding], "events")
    assert df.schema["ts"].dataType.typeName() == "timestamp", (
        f"{encoding}: expected TIMESTAMP after load_table, got "
        f"{df.schema['ts'].dataType}"
    )
    got = sorted((r["event_id"], r["ts"]) for r in df.collect())
    want = sorted(
        (eid, _BASE + dt.timedelta(minutes=m)) for eid, m, _, _, _ in _ROWS
    )
    assert got == want, f"{encoding}: ts values drifted through normalization"


@pytest.mark.parametrize("op", [e01_tumbling_hourly, e05_asof_join, e06_range_join])
def test_batch_ops_agree_across_encodings(spark, encoded_dirs, op):
    results = {
        enc: sorted(map(tuple, op(spark, d).collect()))
        for enc, d in encoded_dirs.items()
    }
    baseline = results["micros_utc"]
    assert len(baseline) > 0, f"{op.__name__}: empty result on the fixture"
    for enc in ENCODINGS:
        assert results[enc] == baseline, (
            f"{op.__name__}: {enc} result differs from micros_utc"
        )


@pytest.mark.parametrize("encoding", ENCODINGS)
def test_streaming_tumbling_on_every_encoding(spark, encoded_dirs, encoding):
    """Complete-mode availableNow stream == the batch tumbling agg, on
    every ts encoding (pins the streaming reader's _convert_ts path)."""
    rows = sorted(map(tuple, e04_streaming_tumbling(spark, encoded_dirs[encoding]).collect()))
    want = sorted(map(tuple, e01_tumbling_hourly(spark, encoded_dirs[encoding]).collect()))
    assert rows == want, f"{encoding}: streaming tumbling != batch tumbling"


@pytest.mark.parametrize("encoding", ENCODINGS)
def test_streaming_watermark_on_every_encoding(spark, encoded_dirs, encoding):
    """withWatermark requires TIMESTAMP — this is exactly the call that
    threw EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE on NTZ data in round 3."""
    rows = sorted(map(tuple, e07_streaming_watermark(spark, encoded_dirs[encoding]).collect()))
    # availableNow append mode emits exactly the CLOSED windows: those whose
    # end <= max(ts) - delay (10 min). Fixture max ts = base+190min, so the
    # 3rd hour [02:00,03:00) closes but the 4th [03:00,04:00) stays open.
    batch = e01_tumbling_hourly(spark, encoded_dirs[encoding]).collect()
    closed_end = _BASE + dt.timedelta(minutes=190 - 10)
    want = sorted(
        tuple(r)
        for r in batch
        if r["window_start"] + dt.timedelta(hours=1) <= closed_end
    )
    assert len(want) > 0 and len(want) < len(batch)
    assert rows == want, f"{encoding}: streaming result != closed batch windows"


def test_events_value_is_two_decimal_currency():
    """The event-family oracles sum `value` through DECIMAL(18,6), which
    is cross-engine-exact ONLY while every value's shortest decimal repr
    fits the scale — true today because the generator rounds to 2
    decimals. Spark and DuckDB round double->decimal DIFFERENTLY on
    general doubles (57% divergence measured on float32-derived values),
    so if the driver ever regenerates events.value with full-precision
    doubles this must fail loudly here, not flake the hash gate."""
    import duckdb

    from tests.conftest import SF_CORRECTNESS

    n = duckdb.sql(
        "SELECT count(*) FROM "
        f"read_parquet('{SF_CORRECTNESS}/events.parquet') "
        "WHERE value IS NOT NULL AND value != round(value, 2)"
    ).fetchone()[0]
    assert n == 0, f"{n} events.value rows exceed 2 decimal digits"


def test_get_spark_applies_its_confs_to_a_live_session(spark):
    # the nanos encoding above reads through nanosAsLong: get_spark on a
    # live session (getOrCreate) applies it again, an extra_conf value
    # wins over it, and AQE is on by Spark's own defaults
    key = "spark.sql.legacy.parquet.nanosAsLong"
    try:
        spark.conf.set(key, "false")
        assert get_spark().conf.get(key) == "true"
        assert get_spark(extra_conf={key: "false"}).conf.get(key) == "false"
        for aqe in (
            "spark.sql.adaptive.enabled",
            "spark.sql.adaptive.coalescePartitions.enabled",
            "spark.sql.adaptive.skewJoin.enabled",
        ):
            assert spark.conf.get(aqe) == "true"
    finally:
        spark.conf.set(key, "true")
