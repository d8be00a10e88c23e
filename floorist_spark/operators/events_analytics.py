"""Event analytics over the ``events`` table — tumbling, sliding, and
session windows, as-of and range joins, plus Structured Streaming
variants (availableNow tumbling; watermarked append-mode windows).

New surface beyond the reference (SURVEY §7.2.7; the reference is strictly
batch — `clowdapp.yaml:19-22` is a cron job). Batch ``window()`` /
``session_window()`` carry the semantics; the streaming variant runs the
same logical plan through ``readStream`` with an availableNow trigger to
prove the operators are streaming-ready.

Determinism: event-value sums use exact DECIMAL accumulation rendered to
DOUBLE (same technique as the relational catalog) so parallel Spark sums
are bit-identical to DuckDB's sequential ones. Window boundaries are pure
integer epoch arithmetic.

Scale (100 TB of events):

* tumbling/sliding aggregations shuffle only (window, partial-agg) pairs —
  map-side combine first; sliding duplicates each event into
  size/slide = 4 windows before the partial agg (inherent to the op);
* session windows shuffle once on user_id (Spark's session_window merge is
  a per-key sort + merge); skewed users are split by AQE;
* in streaming mode the same plans run incrementally with watermark-bounded
  state instead of a full shuffle — the state store holds only open
  windows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from floorist_spark.functions import textfrag as tf
from floorist_spark.session import load_table, normalize_event_time
from floorist_spark.operators._canon import CANON_EVENTS_D as _CEV
from floorist_spark.operators._canon import STREAM_EVENTS_CTE as _SEV

#: exact-accumulation cast for event values (values < 1e3, 6dp is lossless
#: for the 2dp synthetic data; sum of 10k values fits DECIMAL(18,6))
#: string hop = exact cross-engine double→decimal ingestion (see
#: relational._dcol: direct casts disagree at round-half ties)
_VAL_S = "CAST(CAST(value AS STRING) AS DECIMAL(18,6))"
#: decimal sum rendered via exact decimal STRING: both engines' float
#: parsers are correctly rounded, while a direct decimal→double cast can
#: differ by 1 ulp between engines once the scaled sum exceeds 2^53 (see
#: relational._dsum)
_SUM_VAL = f"CAST(CAST(SUM({_VAL_S}) AS STRING) AS DOUBLE) AS total_value"

SESSION_GAP_MIN = 30


def _convert_ts(df: DataFrame) -> DataFrame:
    """Normalize any observed events.ts encoding (nanos-as-long, micros
    NTZ, micros UTC) to session-UTC TIMESTAMP for the streaming reader —
    ``withWatermark`` requires TIMESTAMP, and the parquet encoding has
    changed across testdata regenerations (the batch path gets the same
    normalization from ``session.load_table``)."""
    return normalize_event_time(df)


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events scan — nanos-timestamp handling lives in ``load_table``."""
    return load_table(spark, sf_dir, "events")


def _sessionized(ev: DataFrame) -> DataFrame:
    """Append ``session_id`` (per-user 1-based counter) with e03's
    30-minute gaps-and-islands semantics — the ONE batch definition of "a
    session", shared by e17 (paths) and e19 (co-occurrence) so a gap-rule
    change cannot silently break their documented equivalence with e03.
    One shuffle on user_id; events totally ordered by (ts, event_id)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lag_us = F.expr("unix_micros(ts)") - F.lag(F.expr("unix_micros(ts)")).over(w)
    return (
        ev.withColumn(
            "new_session",
            F.when(
                lag_us.isNull() | (lag_us >= SESSION_GAP_MIN * 60 * 1_000_000), 1
            ).otherwise(0),
        )
        .withColumn(
            "session_id",
            F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .drop("new_session")
    )


def _sessionize_ctes(cols: str, src: str = "events") -> str:
    """DuckDB twin of :func:`_sessionized`, as the shared
    ``flagged``/``numbered`` CTE pair over the given column list (Spark
    windows are end-exclusive: an event exactly at last+gap does NOT
    merge, hence ``>=``). Used by the e03/e08/e17/e19 oracles. Streaming
    oracles do NOT filter here — they mirror the stream source's epoch
    gate + exactly-once ingest by prepending the ``STREAM_EVENTS_CTE``
    shadow (``_canon.py``), which re-binds the ``events`` name these CTEs
    read; identity-keyed batch consumers (e17/e19/e37) pass a canonical
    ``src`` so duplicated event_ids sessionize exactly once."""
    return f"""_evsrc AS MATERIALIZED (
  -- _rid makes the window order TOTAL: full-duplicate rows tie on
  -- (ts, event_id), and the lag and running-sum windows are evaluated
  -- independently — an inconsistent tie order between them splits a
  -- session (round-9 degenerate sweep, e03 @dup_ids). MATERIALIZED pins
  -- one row numbering for both windows.
  SELECT *, row_number() OVER () AS _rid FROM {src}
), flagged AS (
  SELECT {cols}, _rid,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id, _rid)
                   >= INTERVAL {SESSION_GAP_MIN} MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id, _rid) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM _evsrc
), numbered AS (
  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id, _rid
                                   ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)"""


#: Streaming event-time domain gate. Spark clamps watermarks at epoch 0
#: (WatermarkTracker starts at 0 and only ever advances), so PRE-EPOCH
#: event times can never advance a watermark: append-mode output for a
#: pre-1970 stream is withheld forever — 0 rows against a batch oracle
#: that sessionizes them fine (found by the round-9 degenerate sweep:
#: e07/e08/e15/e26 @pre1970). The engine therefore defines the STREAMING
#: domain as ts >= epoch and drops earlier rows at the source — every
#: streaming oracle mirrors it verbatim inside the ``STREAM_EVENTS_CTE``
#: shadow (``_canon.py``) so both engines agree. Batch twins (e01, e28,
#: ...) still process pre-epoch rows; a production deployment would
#: route these to a quarantine sink.
STREAM_DOMAIN = "ts >= TIMESTAMP '1970-01-01 00:00:00'"


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events table. The streaming file source lists a
    DIRECTORY; the testdata table is a single file, so expose it through a
    symlink dir (what a real deployment's landing prefix is anyway).
    Pre-epoch rows are outside the streaming domain (see STREAM_DOMAIN)."""
    from floorist_spark.streaming.stateful import _stream_dir_for

    raw_schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    return (
        _convert_ts(
            spark.readStream.schema(raw_schema).parquet(
                _stream_dir_for(sf_dir, "events")
            )
        )
        .filter(STREAM_DOMAIN)
        # exactly-once ingest: at-least-once delivery duplicates
        # event_ids; every streaming operator sees each event once
        # (oracle twin: _canon.STREAM_EVENTS_CTE). Contract: this models
        # REDELIVERY — duplicate event_ids inside the streaming domain
        # carry identical record bytes, so dropDuplicates' arbitrary pick
        # is value-deterministic. Conflicting payloads under one id are
        # an upstream key collision, resolved deterministically only by
        # the batch path (_canon.canonical_events least-payload pick); a
        # least-payload pick here needs an arbitrary-stateful operator
        # BEFORE the downstream windowed aggregations. Probe 2026-08-17
        # (tests/test_tws_chaining_probe.py): Spark 4's
        # transformWithStateInPandas WITH eventTimeColumnName lifts the
        # old chaining restriction at the plan level (the analyzer
        # accepts the shape and the query starts), but executing it is
        # blocked in this container — the Python state-server protocol
        # is protobuf-based and google.protobuf is not installed/
        # fetchable. The probe test auto-upgrades to a full parity
        # assertion the day the runtime appears. The degenerate
        # dup_ids profile pins the contract: its conflicting-payload
        # event duplicates are all pre-epoch, removed by the domain gate
        # above on both engines before dedup (gate-before-dedup order).
        .dropDuplicates(["event_id"])
    )


# ---------------------------------------------------------------------------
# e01 — tumbling window (1 hour)
# ---------------------------------------------------------------------------

def _sized_events_state(spark: SparkSession, sf_dir: str, *key_cols: str):
    """Data-derived state-partition scope for a streaming query over
    ``_events_stream`` (see streaming.tuning): every such query carries
    the event_id ingest-dedup operator (one tiny state entry per event)
    plus its own per-key operator state; ``key_cols`` are the SQL
    expressions of that operator's key."""
    from floorist_spark.streaming.tuning import (
        DEDUP_KEY_BYTES,
        STATE_KEY_BYTES,
        batch_stats,
        sized_state,
    )

    n_rows, n_keys = batch_stats(load_table(spark, sf_dir, "events"), *key_cols)
    state_bytes = n_rows * DEDUP_KEY_BYTES + n_keys * STATE_KEY_BYTES
    return sized_state(spark, state_bytes, n_rows)


def e01_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling counts + exact value sums per event type."""
    ev = _load_events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.expr(_SUM_VAL))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


E01_SQL = f"""
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events, {_SUM_VAL}
FROM events GROUP BY 1, 2 ORDER BY window_start, event_type
"""

#: streaming twin of E01_SQL — same rollup over the STREAMING domain
#: (pre-epoch rows are dropped at the stream source, see STREAM_DOMAIN)
E01_STREAM_SQL = f"""
WITH {_SEV}
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events, {_SUM_VAL}
FROM events GROUP BY 1, 2
ORDER BY window_start, event_type
"""


# ---------------------------------------------------------------------------
# e02 — sliding window (1 hour, slide 15 min)
# ---------------------------------------------------------------------------

def e02_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 15 minutes: each event lands in
    size/slide = 4 windows (Spark assigns windows whose epoch-aligned
    starts are multiples of the slide)."""
    ev = _load_events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), F.expr(_SUM_VAL))
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
        .orderBy("window_start")
    )


# DuckDB twin: event at t belongs to the 4 windows starting at
# floor(epoch/900)*900 - k*900 for k in 0..3 (all contain t since
# (epoch mod 900) + k*900 < 3600).
E02_SQL = f"""
WITH expanded AS (
  SELECT make_timestamp(CAST((floor(epoch(ts) / 900) * 900 - k * 900) * 1000000 AS BIGINT))
           AS window_start,
         value
  FROM events, (SELECT unnest(range(0, 4)) AS k)
)
SELECT window_start, count(*) AS n_events, {_SUM_VAL}
FROM expanded GROUP BY window_start ORDER BY window_start
"""


# ---------------------------------------------------------------------------
# e03 — session windows (30-minute gap) per user
# ---------------------------------------------------------------------------

def e03_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessions: events closer than 30 minutes merge; the session
    extends to last-event + gap (Spark ``session_window`` semantics)."""
    ev = _load_events(spark, sf_dir)
    return (
        ev.groupBy("user_id", F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), F.expr(_SUM_VAL))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
        .orderBy("user_id", "session_start")
    )


# gaps-and-islands twin (shared _sessionize_ctes); session_end = last
# event + gap.
E03_SQL = f"""
WITH {_sessionize_ctes("user_id, event_id, ts, value")}
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL {SESSION_GAP_MIN} MINUTE AS session_end,
       count(*) AS n_events, {_SUM_VAL}
FROM numbered GROUP BY user_id, session_id
ORDER BY user_id, session_start
"""


# ---------------------------------------------------------------------------
# e04 — Structured Streaming tumbling (availableNow)
# ---------------------------------------------------------------------------

def e04_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The e01 aggregation executed as a STREAM: ``readStream`` over the
    events parquet, availableNow trigger (process-all-then-stop), complete
    output mode into an in-memory sink. Same logical plan, incremental
    execution — shares e01's oracle, so the batch/stream parity is
    hash-checked by the driver.

    On a real cluster this runs continuously with
    ``withWatermark("ts", ...)`` + append mode and checkpointing; the
    complete-mode memory sink here keeps the demo hermetic."""
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.expr(_SUM_VAL))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    with _sized_events_state(spark, sf_dir, "date_trunc('hour', ts)", "event_type"):
        query = (
            agg.writeStream.format("memory")
            .queryName("e04_stream_sink")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return spark.table("e04_stream_sink").orderBy("window_start", "event_type")


# ---------------------------------------------------------------------------
# e07 — streaming windowed agg with WATERMARK (append mode)
# ---------------------------------------------------------------------------

WATERMARK_DELAY_MIN = 10


def e07_streaming_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production streaming shape: event-time watermark + tumbling
    window + APPEND output — each window is emitted exactly once, when the
    watermark (max event time − 10 min) passes its end, and its state is
    dropped. Unlike e04's complete-mode demo, state is bounded: only open
    windows live in the store, which is what makes the operator run
    forever at 100 TB/day.

    With one availableNow batch the final watermark is the global max
    event time, so the emitted set is exactly the closed windows — a
    deterministic subset with a plain SQL oracle (batch agg filtered on
    window_end <= max(ts) − delay)."""
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", f"{WATERMARK_DELAY_MIN} minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.expr(_SUM_VAL))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    with _sized_events_state(spark, sf_dir, "date_trunc('hour', ts)", "event_type"):
        query = (
            agg.writeStream.format("memory")
            .queryName("e07_stream_sink")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return spark.table("e07_stream_sink").orderBy("window_start", "event_type")


E07_SQL = f"""
WITH {_SEV}
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events, {_SUM_VAL}
FROM events
GROUP BY 1, 2
HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR
       <= (SELECT max(ts) FROM events) - INTERVAL {WATERMARK_DELAY_MIN} MINUTE
ORDER BY window_start, event_type
"""


# ---------------------------------------------------------------------------
# e08 — streaming session windows (watermark + append)
# ---------------------------------------------------------------------------

def e08_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming sessionization: ``session_window`` under a
    watermark in APPEND mode — a session emits once, when the watermark
    passes its end (last event + gap), then its state drops. This is the
    canonical always-on sessionizer; state holds only open sessions.

    Same determinism argument as e07: one availableNow batch makes the
    final watermark the global max event time, so the emitted set is
    exactly the batch sessions whose end <= max(ts) − delay — giving this
    stateful operator a full hash oracle (e03's gaps-and-islands SQL with
    a HAVING on the closed-session condition)."""
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", f"{WATERMARK_DELAY_MIN} minutes")
        .groupBy(
            "user_id", F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("w")
        )
        .agg(F.count("*").alias("n_events"), F.expr(_SUM_VAL))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )
    # per-user open sessions: user_id bounds the live keyspace (closed
    # sessions drop their state as the watermark passes)
    with _sized_events_state(spark, sf_dir, "user_id"):
        query = (
            agg.writeStream.format("memory")
            .queryName("e08_stream_sink")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return spark.table("e08_stream_sink").orderBy("user_id", "session_start")


E08_SQL = f"""
WITH {_SEV}, {_sessionize_ctes("user_id, event_id, ts, value")}
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL {SESSION_GAP_MIN} MINUTE AS session_end,
       count(*) AS n_events, {_SUM_VAL}
FROM numbered GROUP BY user_id, session_id
HAVING max(ts) + INTERVAL {SESSION_GAP_MIN} MINUTE
       <= (SELECT max(ts) FROM events) - INTERVAL {WATERMARK_DELAY_MIN} MINUTE
ORDER BY user_id, session_start
"""


# ---------------------------------------------------------------------------
# e05 — as-of join (event-time point lookup)
# ---------------------------------------------------------------------------

def e05_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each ``click`` event picks up the timestamp of the same
    user's most recent ``purchase`` at-or-before it. Spark has no ASOF
    JOIN operator; the scale-correct composition is union-the-sides + a
    running ``last(..., ignorenulls)`` window — ONE shuffle on user_id,
    no range self-join, no row explosion. The tag column orders purchases
    before clicks at equal timestamps so the <= semantics match DuckDB's
    native ASOF JOIN (the oracle). Output carries prior_purchase_ts (not
    the row id) so exact-tie winners don't affect values."""
    ev = _load_events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(0).alias("tag"), F.col("ts").alias("p_ts"),
        F.lit(None).cast("long").alias("event_id"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.lit(1).alias("tag"), F.lit(None).cast("timestamp").alias("p_ts"),
        "event_id",
    )
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        purchases.unionByName(clicks)
        .withColumn("prior_purchase_ts", F.last("p_ts", ignorenulls=True).over(w))
        .filter(F.col("tag") == 1)
        .select("event_id", "user_id", "ts", "prior_purchase_ts")
        .orderBy("event_id")
    )


E05_SQL = """
SELECT a.event_id, a.user_id, a.ts, b.ts AS prior_purchase_ts
FROM (SELECT * FROM events WHERE event_type = 'click') a
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
  ON a.user_id = b.user_id AND b.ts <= a.ts
ORDER BY a.event_id
"""


# ---------------------------------------------------------------------------
# e06 — range (interval) join
# ---------------------------------------------------------------------------

RANGE_JOIN_SECONDS = 300


def e06_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered event pairs of the same user within a 5-minute window
    (0 <= ts_b - ts_a <= 300s). A naive theta join is O(N^2) per user;
    the scale-safe plan buckets time into window-sized cells and equi-joins
    each left bucket to its own and the NEXT right bucket — every
    qualifying pair lands in exactly one of those two cells, so the join
    is hash-partitioned on (user_id, bucket) and the range predicate only
    filters bucket-local candidates."""
    ev = _load_events(spark, sf_dir).select(
        "event_id", "user_id", "ts",
        F.expr(f"CAST(floor(unix_micros(ts) / ({RANGE_JOIN_SECONDS} * 1e6)) AS BIGINT)").alias("bucket"),
    )
    a = ev.select(
        F.col("event_id").alias("id_a"), "user_id", F.col("ts").alias("ts_a"),
        F.explode(F.expr("array(bucket, bucket + 1)")).alias("jbucket"),
    )
    b = ev.select(
        F.col("event_id").alias("id_b"), "user_id", F.col("ts").alias("ts_b"),
        F.col("bucket").alias("jbucket"),
    )
    return (
        a.join(b, ["user_id", "jbucket"])
        .filter(
            (F.col("id_a") != F.col("id_b"))
            & (F.col("ts_b") >= F.col("ts_a"))
            & (F.expr(f"ts_b <= ts_a + INTERVAL {RANGE_JOIN_SECONDS} SECOND"))
            & ((F.col("ts_b") > F.col("ts_a")) | (F.col("id_a") < F.col("id_b")))
        )
        .select(
            "user_id", "id_a", "id_b",
            F.expr("CAST(unix_micros(ts_b) - unix_micros(ts_a) AS DOUBLE) / 1e6").alias("gap_s"),
        )
        .distinct()
        .orderBy("user_id", "id_a", "id_b")
    )


E06_SQL = f"""
SELECT a.user_id AS user_id, a.event_id AS id_a, b.event_id AS id_b,
       CAST(epoch_us(b.ts) - epoch_us(a.ts) AS DOUBLE) / 1e6 AS gap_s
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_id != b.event_id
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL {RANGE_JOIN_SECONDS} SECOND
 AND (b.ts > a.ts OR a.event_id < b.event_id)
ORDER BY user_id, id_a, id_b
"""


# ---------------------------------------------------------------------------
# e09 — ordered funnel (view → click → purchase)
# ---------------------------------------------------------------------------

#: funnel stages in required order
FUNNEL_STAGES = ("view", "click", "purchase")


def e09_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered funnel: the earliest ``view``, the earliest
    ``click`` strictly after that view, and the earliest ``purchase``
    strictly after that click — the strict-ordering semantics of
    ClickHouse's ``windowFunnel`` / product-analytics funnels (a click
    before any view does not count).

    Scale shape: each stage is a filtered scan of ONLY its event type
    (predicate pushed to the parquet scan) → hash aggregate on user_id →
    co-partitioned join with the previous stage. Per-stage state is one
    timestamp per user — never a per-user event array, so a whale user
    with 10^8 events costs the same as anyone else (the collect-sorted-
    array alternative OOMs on exactly those users). Three shuffles of
    (user_id, timestamp) pairs total, each smaller than the last."""
    ev = _load_events(spark, sf_dir).select("user_id", "ts", "event_type")
    s1 = (
        ev.filter(F.col("event_type") == FUNNEL_STAGES[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    s2 = (
        ev.filter(F.col("event_type") == FUNNEL_STAGES[1])
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    s3 = (
        ev.filter(F.col("event_type") == FUNNEL_STAGES[2])
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(
            "user_id",
            "t_view",
            "t_click",
            "t_purchase",
            F.expr(
                "CAST(1 + IF(t_click IS NOT NULL, 1, 0)"
                " + IF(t_purchase IS NOT NULL, 1, 0) AS INT)"
            ).alias("funnel_stage"),
        )
        .orderBy("user_id")
    )


E09_SQL = f"""
WITH s1 AS (
  SELECT user_id, min(ts) AS t_view FROM events
  WHERE event_type = '{FUNNEL_STAGES[0]}' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = '{FUNNEL_STAGES[1]}' AND e.ts > s1.t_view
  GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = '{FUNNEL_STAGES[2]}' AND e.ts > s2.t_click
  GROUP BY e.user_id
)
SELECT s1.user_id, t_view, t_click, t_purchase,
       CAST(1 + CASE WHEN t_click IS NULL THEN 0 ELSE 1 END
              + CASE WHEN t_purchase IS NULL THEN 0 ELSE 1 END AS INT)
         AS funnel_stage
FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
        LEFT JOIN s3 ON s1.user_id = s3.user_id
ORDER BY s1.user_id
"""


# ---------------------------------------------------------------------------
# e10 — cohort retention matrix
# ---------------------------------------------------------------------------

def e10_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic retention triangle: users are cohorted by their first-ever
    activity day; each (cohort_day, day_offset) cell counts the distinct
    users of that cohort active offset days later.

    Scale shape: one pass builds per-user cohort days (hash agg on
    user_id); a distinct user-day projection (hash agg on the pair —
    collapses each user's events per day BEFORE the join, so the join
    input is bounded by users×days, not raw events) joins the tiny
    per-user cohort table on user_id co-partitioned; the final cell
    aggregate is a map-side-combined count. No distinct-count state:
    rows entering the last groupBy are already unique per (user, day)."""
    ev = _load_events(spark, sf_dir).select(
        "user_id", F.expr("CAST(ts AS DATE)").alias("day")
    )
    cohort = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    user_days = ev.distinct()
    return (
        user_days.join(cohort, "user_id")
        .select(
            "cohort_day",
            F.expr("CAST(datediff(day, cohort_day) AS INT)").alias("day_offset"),
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.count("*").alias("active_users"))
        .orderBy("cohort_day", "day_offset")
    )


E10_SQL = """
WITH ev AS (
  SELECT user_id, CAST(ts AS DATE) AS day FROM events
), cohort AS (
  SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY user_id
), user_days AS (
  SELECT DISTINCT user_id, day FROM ev
)
SELECT cohort_day,
       CAST(date_diff('day', cohort_day, day) AS INT) AS day_offset,
       count(*) AS active_users
FROM user_days JOIN cohort USING (user_id)
GROUP BY cohort_day, day_offset
ORDER BY cohort_day, day_offset
"""


# ---------------------------------------------------------------------------
# e11 — calendar densification (gap-filled hourly series)
# ---------------------------------------------------------------------------

def e11_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly series per event type: every (hour, type) cell over the
    table's full time span, zero-filled where no events landed — the
    densification step every downstream time-series model (and SQL window
    over "previous hour") silently assumes.

    Scale shape: the aggregate side is e01's map-side-combined hourly
    rollup (small output: hours x types). The dense calendar is
    ``sequence()``-generated from a single-row min/max aggregate and
    exploded — O(hours x types) rows built without scanning the corpus
    again (the 1-row bounds cross-join auto-broadcasts both into the
    calendar build and the left join, which therefore also broadcasts:
    zero extra shuffle of anything corpus-sized at any scale)."""
    ev = _load_events(spark, sf_dir)
    agg = ev.groupBy(
        F.expr("date_trunc('hour', ts)").alias("hour"), "event_type"
    ).agg(F.count("*").alias("n_events"), F.expr(_SUM_VAL))
    bounds = ev.agg(
        F.expr("date_trunc('hour', min(ts))").alias("lo"),
        F.expr("date_trunc('hour', max(ts))").alias("hi"),
    )
    types = ev.select("event_type").distinct()
    calendar = (
        types.crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.expr("sequence(lo, hi, INTERVAL 1 HOUR)")).alias("hour"),
        )
    )
    return (
        calendar.join(agg, ["hour", "event_type"], "left")
        .select(
            "hour",
            "event_type",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
        )
        .orderBy("hour", "event_type")
    )


E11_SQL = f"""
WITH agg AS (
  SELECT date_trunc('hour', ts) AS hour, event_type,
         count(*) AS n_events,
         {_SUM_VAL}
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
  FROM events
), calendar AS (
  SELECT t.event_type, unnest(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) AS hour
  FROM (SELECT DISTINCT event_type FROM events) t, bounds b
)
SELECT c.hour, c.event_type,
       coalesce(a.n_events, 0) AS n_events,
       coalesce(a.total_value, 0.0::DOUBLE) AS total_value
FROM calendar c LEFT JOIN agg a ON a.hour = c.hour AND a.event_type = c.event_type
ORDER BY c.hour, c.event_type
"""


# ---------------------------------------------------------------------------
# e12 — semi-structured (JSON) property extraction
# ---------------------------------------------------------------------------

def e12_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extract the JSON ``props`` payload (path ``$.k``) in the scan
    projection and roll it up per event type — the semi-structured pattern
    every event pipeline needs (Spark: ``get_json_object``; both engines
    agree missing-path → NULL → dropped by the aggregates).

    Scale shape: JSON parsing is a narrow per-row JVM expression fused
    into the scan stage (no UDF, no shuffle of raw JSON — only the
    extracted BIGINT reaches the aggregate); the rollup groups on the
    tiny event-type key with map-side combine. The mean is an exact
    bigint-ratio division for cross-engine bit-parity."""
    ev = _load_events(spark, sf_dir).select(
        "event_type",
        F.expr("CAST(get_json_object(props, '$.k') AS BIGINT)").alias("k"),
    )
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .select(
            "event_type",
            "n_with_k",
            "sum_k",
            "min_k",
            "max_k",
            F.expr("CAST(sum_k AS DOUBLE) / n_with_k").alias("avg_k"),
        )
        .orderBy("event_type")
    )


E12_SQL = """
WITH ev AS (
  SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
), agg AS (
  SELECT event_type,
         count(k) AS n_with_k,
         CAST(sum(k) AS BIGINT) AS sum_k,
         min(k) AS min_k, max(k) AS max_k
  FROM ev GROUP BY event_type
)
SELECT event_type, n_with_k, sum_k, min_k, max_k,
       CAST(sum_k AS DOUBLE) / n_with_k AS avg_k
FROM agg ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# e13 — event-transition mining (first-order Markov counts)
# ---------------------------------------------------------------------------

def e13_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavioral transitions: for each user's time-ordered
    event stream, count (event_type → next_event_type) pairs corpus-wide
    and report each transition's share of its source type's outgoing edges
    — the Markov-chain summary behind session-path analysis and
    next-action models.

    Scale shape: one shuffle on user_id for the per-user ``lead`` window
    (ties broken by event_id for determinism), then a map-side-combined
    rollup on the tiny (type, next_type) key space. A whale user costs a
    longer per-partition sort, not a bigger shuffle — window state is one
    row of lookahead. The share is an exact bigint-ratio division via a
    windowed sum over the ~K^2 aggregate, bit-identical across engines."""
    ev = _load_events(spark, sf_dir)
    from pyspark.sql.window import Window

    nxt = ev.select(
        "event_type",
        F.lead("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    counts = nxt.groupBy("event_type", "next_type").agg(
        F.count("*").alias("n_transitions")
    )
    return counts.select(
        "event_type",
        "next_type",
        "n_transitions",
        F.expr(
            "CAST(n_transitions AS DOUBLE) / "
            "sum(n_transitions) OVER (PARTITION BY event_type)"
        ).alias("p_next"),
    ).orderBy("event_type", "next_type")


E13_SQL = """
WITH nxt AS (
  SELECT event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_type
  FROM events
), counts AS (
  SELECT event_type, next_type, count(*) AS n_transitions
  FROM nxt WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type
)
SELECT event_type, next_type, n_transitions,
       CAST(n_transitions AS DOUBLE)
         / sum(n_transitions) OVER (PARTITION BY event_type) AS p_next
FROM counts ORDER BY event_type, next_type
"""


# ---------------------------------------------------------------------------
# e14 — hourly volume anomalies (deterministic z-score)
# ---------------------------------------------------------------------------

Z_THRESHOLD = 2.5


def e14_hourly_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hours whose event volume is a volume outlier: z-score of each hourly
    count against the corpus-wide mean/stddev of hourly counts, keep
    |z| >= 2.5 — the alerting primitive over any metric stream.

    Determinism: Spark's stddev is a Welford streaming fold whose float
    error depends on partition order, so the moments are built from EXACT
    integer sums instead (n, Σc, Σc²  — counts are integers) and the
    variance/σ/z arithmetic is a fixed IEEE expression tree evaluated
    identically by both engines: mean = Σc/n, var = Σc²/n − mean², σ =
    correctly-rounded sqrt. Population variance (not sample) keeps the
    formula single-pass exact.

    Scale shape: e01-style map-side-combined hourly rollup → a 1-row
    moments aggregate over the (tiny) hours table → broadcast back over
    it. The hourly table feeds BOTH the moments and the scoring join, so
    it is persisted so one pass feeds both — without that, Spark
    replays the subtree and the corpus is scanned twice (caught by
    .explain: two FileScans of events in the unpersisted plan)."""
    ev = _load_events(spark, sf_dir)
    from floorist_spark.operators._cache import track

    hourly = track(
        ev.groupBy(F.expr("date_trunc('hour', ts)").alias("hour"))
        .agg(F.count("*").alias("n_events"))
        .persist()
    )
    stats = hourly.agg(
        F.count("*").alias("n_hours"),
        F.sum("n_events").alias("s"),
        F.sum(F.expr("n_events * n_events")).alias("ss"),
    )
    return (
        hourly.crossJoin(F.broadcast(stats))
        # degenerate-corpus guard, in EXACT arithmetic so both engines
        # agree: population variance > 0 ⟺ n·Σc² > (Σc)². With zero
        # variance Spark's Divide yields NULL where DuckDB yields
        # inf/NaN — filtering first keeps the engines from ever scoring
        # the undefined case. DECIMAL(38,0) (HUGEINT in the oracle)
        # because (Σc)² overflows BIGINT past ~3e9 total events — at the
        # scale this module targets, a wrapped product would silently
        # drop EVERY hour; 38 digits hold (9.2e18)² exactly.
        # Engine-lockstep invariant: past 38 digits Spark's non-ANSI
        # decimal overflow yields NULL (row filtered) while DuckDB's
        # HUGEINT stays exact up to ~1.7e38 — a band where the engines
        # COULD disagree. Unreachable from BIGINT inputs: the worst case
        # ss·n_hours ≤ (2⁶³−1)² ≈ 8.5e37 < 1e38, so DECIMAL(38,0) and
        # HUGEINT agree on every representable input
        .filter(
            F.expr(
                "CAST(ss AS DECIMAL(38,0)) * n_hours "
                "> CAST(s AS DECIMAL(38,0)) * s"
            )
        )
        .withColumn("mean_events", F.expr("CAST(s AS DOUBLE) / n_hours"))
        .withColumn(
            "z",
            F.expr(
                "(n_events - mean_events) / "
                "sqrt(CAST(ss AS DOUBLE) / n_hours - mean_events * mean_events)"
            ),
        )
        .filter(F.expr(f"abs(z) >= {Z_THRESHOLD}"))
        .select("hour", "n_events", "mean_events", "z")
        .orderBy("hour")
    )


E14_SQL = f"""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hour, count(*) AS n_events
  FROM events GROUP BY 1
), stats AS (
  SELECT count(*) AS n_hours,
         CAST(sum(n_events) AS BIGINT) AS s,
         CAST(sum(n_events * n_events) AS BIGINT) AS ss
  FROM hourly
), scored AS (
  SELECT hour, n_events,
         CAST(s AS DOUBLE) / n_hours AS mean_events,
         (n_events - CAST(s AS DOUBLE) / n_hours)
           / sqrt(CAST(ss AS DOUBLE) / n_hours
                  - (CAST(s AS DOUBLE) / n_hours) * (CAST(s AS DOUBLE) / n_hours))
           AS z
  FROM hourly, stats
  -- zero-variance guard, mirrors the Spark side; HUGEINT (128-bit) keeps
  -- the squared sum exact where BIGINT would overflow past ~3e9 events
  WHERE CAST(ss AS HUGEINT) * n_hours > CAST(s AS HUGEINT) * s
)
SELECT hour, n_events, mean_events, z FROM scored
WHERE abs(z) >= {Z_THRESHOLD} ORDER BY hour
"""


# ---------------------------------------------------------------------------
# e16 — continuous aggregate (incrementally maintained rollup)
# ---------------------------------------------------------------------------

def _e16_write_partials(batch_df: DataFrame, batch_id: int, store: str) -> None:
    """One micro-batch's partial rollup, written IDEMPOTENTLY.

    foreachBatch is at-least-once: a crash between the write and the
    checkpoint commit replays the batch (same batch_id, same files). A
    blind append would double-count that replay, so each batch OVERWRITES
    its own batch_id-keyed partition — the replay rewrites identical
    content and the merge stays exactly-once per file, as the
    disjoint-partials proof requires. Module-level so the replay test can
    drive it directly."""
    (
        batch_df.groupBy(
            F.expr("date_trunc('hour', ts)").alias("window_start"), "event_type"
        )
        .agg(
            F.count("*").alias("pn"),
            F.expr(f"SUM({_VAL_S})").alias("pv"),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(store, f"batch_id={batch_id}"))
    )


def e16_continuous_aggregate(
    spark: SparkSession, sf_dir: str, work: str | None = None
) -> DataFrame:
    """Incrementally-maintained hourly rollup — the hypertable
    continuous-aggregate pattern (TimescaleDB-style) on Spark: each
    micro-batch computes its own PARTIAL aggregate inside ``foreachBatch``
    and appends it to a partials store; the serving read merges partials
    by re-aggregation. Because every event belongs to exactly one
    micro-batch, partials are disjoint and the merge is exact under ANY
    batching — proven by the multi-batch test and by this entry's hash
    oracle (== the full batch rollup, e01's shape).

    Scale design: the expensive work (corpus scan + map-side combine)
    happens once per batch over only that batch's files (checkpointed
    file-listing state → each file processed exactly once across cron
    runs); the partials store grows by O(hours × types) per batch, and
    the serving merge touches partials only — never raw events. Partial
    value sums are exact DECIMAL columns in parquet, so re-aggregation
    order cannot drift the float render."""
    import tempfile

    if work is None:
        work = tempfile.mkdtemp(prefix="floorist_e16_")
    store = os.path.join(work, "partials")
    ckpt = os.path.join(work, "ckpt")

    # the only stateful operator here is the event_id ingest dedup
    with _sized_events_state(spark, sf_dir, "event_id"):
        query = (
            _events_stream(spark, sf_dir)
            .writeStream.foreachBatch(
                lambda batch_df, batch_id: _e16_write_partials(
                    batch_df, batch_id, store
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return (
        spark.read.parquet(store)
        .groupBy("window_start", "event_type")
        .agg(
            F.expr("CAST(SUM(pn) AS BIGINT)").alias("n_events"),
            F.expr("CAST(CAST(SUM(pv) AS STRING) AS DOUBLE)").alias("total_value"),
        )
        .orderBy("window_start", "event_type")
    )


E16_SQL = E01_STREAM_SQL  # maintained rollup == full batch rollup, stream domain


# ---------------------------------------------------------------------------
# e17 — session path analysis (top-k common event sequences)
# ---------------------------------------------------------------------------

PATH_LEN = 5   # leading events per session that define its path
PATH_TOP = 20  # paths reported


def e17_path_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The product-analytics path report: sessionize per user (30-min gap,
    e03's gaps-and-islands semantics), take each session's first
    ``PATH_LEN`` event types in time order as its path ('view>click>buy'),
    and rank the ``PATH_TOP`` most common paths — the 'how do users
    actually move through the product' query every funnel tool ships.

    Scale shape: one shuffle on user_id for the lag/session window (the
    unavoidable sessionization exchange, same as e03); the per-session
    path build is a grouped collect of ≤PATH_LEN short strings; the path
    rollup is a map-side-combined count over bounded-cardinality path
    strings, so the final top-k sorts a tiny distinct-path table, never
    event rows. Determinism: events order by (ts, event_id) — a total
    order — and the top-k tie-breaks on the path string."""
    from floorist_spark.operators._canon import canonical_events

    # identity-keyed: duplicated event_ids sessionize exactly once
    ev = canonical_events(spark, sf_dir).select(
        "user_id", "event_id", "ts", "event_type"
    )
    numbered = _sessionized(ev)
    paths = numbered.groupBy("user_id", "session_id").agg(
        F.expr(
            "concat_ws('>', slice(transform(array_sort("
            "collect_list(struct(ts, event_id, event_type))), "
            f"s -> s.event_type), 1, {PATH_LEN}))"
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(PATH_TOP)
    )


E17_SQL = f"""
WITH {_sessionize_ctes("user_id, event_id, ts, event_type", src=_CEV + " events")}, paths AS (
  -- ORDER BY (ts, event_id) is total given event_id is the events table key;
  -- the Spark twin sorts struct(ts, event_id, event_type) — same order
  SELECT user_id, session_id,
         array_to_string((list(event_type ORDER BY ts, event_id))[1:{PATH_LEN}],
                         '>') AS path
  FROM numbered GROUP BY user_id, session_id
)
SELECT path, count(*) AS n_sessions FROM paths
GROUP BY path ORDER BY n_sessions DESC, path LIMIT {PATH_TOP}
"""


# ---------------------------------------------------------------------------
# e18 — stream-stream interval join (view → click attribution)
# ---------------------------------------------------------------------------

ATTRIBUTION_WINDOW_MIN = 10


def e18_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM inner join — the Structured Streaming capability the
    rest of the family doesn't exercise: attribute every click to each
    view by the same user within the preceding 10 minutes, with BOTH
    sides watermarked so the join state is bounded (views older than the
    watermark minus the interval are evicted; without the time-range
    condition + watermarks Spark would have to buffer both streams
    forever). This is the ad-attribution / funnel-stitching primitive.

    Scale shape: one shuffle of each stream on user_id (the join key);
    state per user is the last 10 minutes of views — watermark-bounded,
    RocksDB-backed on a real cluster. With one availableNow batch every
    matching pair is emitted (watermarks only evict state), so the result
    equals the batch interval join and the entry is hash-gated. The gap
    is exact integer microseconds — no float drift."""
    base = _events_stream(spark, sf_dir).withWatermark(
        "ts", f"{WATERMARK_DELAY_MIN} minutes"
    )
    views = base.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"),
    )
    clicks = base.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    joined = clicks.join(
        views,
        F.expr(
            "c_user = v_user AND v_ts <= c_ts AND "
            f"v_ts >= c_ts - INTERVAL {ATTRIBUTION_WINDOW_MIN} MINUTES"
        ),
    )
    # join state is per-user watermark-bounded view buffers
    with _sized_events_state(spark, sf_dir, "user_id"):
        query = (
            joined.select(
                F.col("c_user").alias("user_id"),
                "view_id",
                "click_id",
                F.expr("unix_micros(c_ts) - unix_micros(v_ts)").alias("gap_us"),
            )
            .writeStream.format("memory")
            .queryName("e18_stream_sink")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return spark.table("e18_stream_sink").orderBy("user_id", "click_id", "view_id")


E18_SQL = f"""
WITH {_SEV}
SELECT c.user_id, v.event_id AS view_id, c.event_id AS click_id,
       epoch_us(c.ts) - epoch_us(v.ts) AS gap_us
FROM events c JOIN events v
  ON c.user_id = v.user_id
 AND c.event_type = 'click' AND v.event_type = 'view'
 AND v.ts <= c.ts
 AND v.ts >= c.ts - INTERVAL {ATTRIBUTION_WINDOW_MIN} MINUTE
ORDER BY c.user_id, click_id, view_id
"""


# ---------------------------------------------------------------------------
# e19 — session-scoped event-type co-occurrence lift
# ---------------------------------------------------------------------------

def e19_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket lift over sessions: for every unordered event-type
    pair, how much more often do the two types co-occur in one session
    than independence predicts — ``lift = P(a,b) / (P(a)·P(b)) =
    (n_ab · n_sessions) / (n_a · n_b)``. The standard association signal
    behind "users who error also churn" dashboards, computed here from the
    same 30-minute session windows as e03.

    Exactness: the lift is ONE IEEE division of two exact BIGINT products
    (counts at sf0.1 keep both products ≪ 2^53, so the numerator's double
    cast is exact; a corpus where n_ab·n_s approaches 2^53 — ~10^8
    sessions with ~10^8 co-occurrences — should divide twice instead:
    (n_ab / n_a) · (n_s / n_b) costs one more rounding but never
    overflows).

    Scale shape: sessionization is e03's single user_id-keyed shuffle;
    distinct (session, type) rows then self-join on the SESSION key — at 5
    event types each session contributes ≤10 pair rows, so the join output
    is linear in session count; per-type and total-session counts are
    map-side-combined aggregates broadcast back onto ≤|types|² rows.
    The (session, type) table is persisted: four consumers (pair sides,
    per-type counts, session total) would otherwise each replay the
    sessionization window — five corpus scans and four user_id exchanges
    instead of one (verified via .explain, same trap as e14's hourly
    rollup)."""
    from floorist_spark.operators._cache import track
    from floorist_spark.operators._canon import canonical_events

    # identity-keyed: duplicated event_ids sessionize exactly once
    ev = canonical_events(spark, sf_dir).select(
        "user_id", "event_id", "ts", "event_type"
    )
    # _sessionized, NOT session_window: session_window's gap semantics
    # apply per full grouping key, so grouping by event_type too would
    # sessionize each type independently and never co-locate types.
    numbered = _sessionized(ev)
    st = track(
        numbered.select(
            "user_id", F.col("session_id").alias("ss"), "event_type"
        )
        .distinct()
        .persist()  # one pass feeds the four consumers below
    )
    n_s = (
        st.select("user_id", "ss")
        .distinct()
        .agg(F.count("*").alias("n_sessions"))
    )
    n_t = st.groupBy("event_type").agg(F.count("*").alias("n_t"))
    a = st.select("user_id", "ss", F.col("event_type").alias("type_a"))
    b = st.select("user_id", "ss", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, ["user_id", "ss"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_ab"))
    )
    return (
        pairs.join(
            F.broadcast(n_t.select(F.col("event_type").alias("type_a"), F.col("n_t").alias("n_a"))),
            "type_a",
        )
        .join(
            F.broadcast(n_t.select(F.col("event_type").alias("type_b"), F.col("n_t").alias("n_b"))),
            "type_b",
        )
        .crossJoin(F.broadcast(n_s))
        .select(
            "type_a",
            "type_b",
            "n_ab",
            "n_a",
            "n_b",
            (
                (F.col("n_ab") * F.col("n_sessions")).cast("double")
                / (F.col("n_a") * F.col("n_b"))
            ).alias("lift"),
        )
        .orderBy("type_a", "type_b")
    )


E19_SQL = f"""
WITH {_sessionize_ctes("user_id, event_id, ts, event_type", src=_CEV + " events")}, st AS (
  SELECT DISTINCT user_id, session_id, event_type FROM numbered
), n_s AS (
  SELECT count(*) AS n_sessions FROM (SELECT DISTINCT user_id, session_id FROM st)
), n_t AS (
  SELECT event_type, count(*) AS n_t FROM st GROUP BY event_type
), pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_ab
  FROM st a JOIN st b ON a.user_id = b.user_id AND a.session_id = b.session_id
  WHERE a.event_type < b.event_type
  GROUP BY type_a, type_b
)
SELECT type_a, type_b, n_ab, ta.n_t AS n_a, tb.n_t AS n_b,
       (n_ab * n_s.n_sessions)::DOUBLE / (ta.n_t * tb.n_t) AS lift
FROM pairs
JOIN n_t ta ON ta.event_type = type_a
JOIN n_t tb ON tb.event_type = type_b
CROSS JOIN n_s
ORDER BY type_a, type_b
"""


# ---------------------------------------------------------------------------
# e20 — HyperLogLog-style distinct-user sketch (deterministic, oracle-gated)
# ---------------------------------------------------------------------------

#: register count m = 2^6; the base hash is 28 bits (textfrag), so the
#: geometric part w gets the remaining 22 bits
_HLL_M = 64
_HLL_WBITS = 22
#: alpha_64 * m^2 — written as the literal product so both engines parse
#: the same correctly-rounded decimal literal and do one exact multiply
_HLL_ALPHA_M2 = "0.709 * 4096.0"


def _hll_rank_case(w: str) -> str:
    """Rank = 1-based index of the lowest set bit of ``w`` (the FM/HLL
    geometric observable), or WBITS+1 when w = 0 — pure integer modular
    arithmetic, identical text in both SQL dialects (no log2/bit-length,
    which are not pinned cross-engine)."""
    branches = " ".join(
        f"WHEN {w} % {1 << j} = {1 << (j - 1)} THEN {j}"
        for j in range(1, _HLL_WBITS + 1)
    )
    return f"CASE {branches} ELSE {_HLL_WBITS + 1} END"


def e20_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via a deterministic HyperLogLog-style
    register sketch (Flajolet et al. 2007), with the exact distinct count
    alongside as the accuracy audit — the pattern s09 uses for ANN recall.

    Why a sketch at 100 TB: exact COUNT(DISTINCT user) shuffles every
    distinct (type, user) pair; the sketch's state is m=64 registers per
    group — the (type, register)→max(rank) aggregate partial-aggregates
    map-side, so the exchange carries at most |types|·64 rows regardless of
    corpus size. The exact column here is the gate's ground truth;
    production drops it (or samples it) — the sketch is the scale path.

    Cross-engine exactness: registers hold 2^-rank with rank ∈ [1, 23] and
    empty registers contribute 2^0, so every addend is an exact power of
    two spanning 24 exponent bits — the double SUM is exact in ANY
    accumulation order, which is what makes a parallel Spark aggregate
    bit-identical to DuckDB's sequential one with no decimal machinery.
    The estimate is the raw alpha·m²/S (no small-range linear-counting
    correction: that needs ln(), which is not correctly-rounded-pinned
    across engines; zero_registers is emitted so a consumer CAN apply it)."""
    ev = _load_events(spark, sf_dir)
    h = tf.base_hash_spark("concat('hll:', CAST(user_id AS STRING))")
    ranked = (
        ev.select("event_type", F.expr(h).alias("h"))
        .select(
            "event_type",
            F.expr(f"pmod(h, {_HLL_M})").alias("reg"),
            F.expr(f"h div {_HLL_M}").alias("w"),
        )
        .select("event_type", "reg", F.expr(_hll_rank_case("w")).alias("r"))
    )
    sk = (
        ranked.groupBy("event_type", "reg")
        .agg(F.max("r").alias("m_j"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_present"),
            F.sum(
                F.expr(
                    "CAST(1 AS DOUBLE) / "
                    "CAST(shiftleft(CAST(1 AS BIGINT), m_j) AS DOUBLE)"
                )
            ).alias("s_present"),
        )
    )
    ex = ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("exact_distinct"),
    )
    est = f"({_HLL_ALPHA_M2}) / (s_present + ({_HLL_M} - n_present))"
    return (
        ex.join(sk, "event_type")
        .select(
            "event_type",
            "n_events",
            "exact_distinct",
            F.expr(f"CAST({_HLL_M} - n_present AS BIGINT)").alias(
                "zero_registers"
            ),
            F.expr(est).alias("hll_estimate"),
            F.expr(f"(({est}) - exact_distinct) / exact_distinct").alias(
                "rel_error"
            ),
        )
        .orderBy("event_type")
    )


E20_SQL = f"""
WITH h AS (
  SELECT event_type,
         {tf.base_hash_duck("concat('hll:', CAST(user_id AS VARCHAR))")} AS h
  FROM events
), ranked AS (
  SELECT event_type, h % {_HLL_M} AS reg,
         {_hll_rank_case(f"(h // {_HLL_M})")} AS r
  FROM h
), regs AS (
  SELECT event_type, reg, max(r) AS m_j FROM ranked GROUP BY event_type, reg
), sk AS (
  SELECT event_type, count(*) AS n_present,
         sum(CAST(1 AS DOUBLE) /
             CAST((CAST(1 AS BIGINT) << CAST(m_j AS INT)) AS DOUBLE))
           AS s_present
  FROM regs GROUP BY event_type
), ex AS (
  SELECT event_type, count(*) AS n_events,
         count(DISTINCT user_id) AS exact_distinct
  FROM events GROUP BY event_type
)
SELECT ex.event_type, n_events, exact_distinct,
       CAST({_HLL_M} - n_present AS BIGINT) AS zero_registers,
       ({_HLL_ALPHA_M2}) / (s_present + ({_HLL_M} - n_present)) AS hll_estimate,
       ((({_HLL_ALPHA_M2}) / (s_present + ({_HLL_M} - n_present)))
          - exact_distinct) / exact_distinct AS rel_error
FROM ex JOIN sk USING (event_type) ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# e21 — count-min-sketch heavy hitters (deterministic, oracle-gated)
# ---------------------------------------------------------------------------

_CMS_D = 4
_CMS_W = 256
_CMS_TOP = 20


def _cms_pairs_spark() -> str:
    """(row, position) pairs for the CMS: all four rows' positions come
    from disjoint 4-hex slices of ONE md5 digest column ``dg`` — one
    digest pass per event instead of d salted passes (the same
    one-md5-then-derive trick as the MinHash affine family)."""
    arms = ", ".join(
        f"struct(CAST({d} AS INT) AS d, "
        f"CAST(conv(substring(dg, {1 + 4 * d}, 4), 16, 10) AS BIGINT) "
        f"% {_CMS_W} AS pos)"
        for d in range(_CMS_D)
    )
    return f"array({arms})"


def _cms_arms_duck(prefix_cols: str, src: str) -> str:
    """UNION ALL arms mirroring :func:`_cms_pairs_spark` (constant substr
    offsets per arm keep the oracle trivially auditable)."""
    return " UNION ALL ".join(
        f"SELECT {prefix_cols}CAST({d} AS INT) AS d, "
        f"CAST(concat('0x', substr(dg, {1 + 4 * d}, 4)) AS BIGINT) "
        f"% {_CMS_W} AS pos FROM {src}"
        for d in range(_CMS_D)
    )


def e21_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 users by count-min-sketch estimated event count (Cormode &
    Muthukrishnan 2005), with the exact count and the sketch's
    overestimate as the audit columns.

    Why a sketch at 100 TB: the CMS state is a fixed d×w = 4×256 integer
    grid — the (row, position) count aggregate partial-aggregates
    map-side and the exchange carries ≤1024 rows total, independent of
    cardinality; the grid then BROADCASTS to score any candidate stream.
    The candidate set here is the exact per-user table (which doubles as
    ground truth for the gate); production feeds candidates from a sample
    or prior-window heavy hitters, never a full distinct.

    Determinism: counts are integers, the estimate is min over 4
    integers, and the top-20 is totally ordered by (estimate DESC,
    user_id) — Spark executes the orderBy+limit as a distributed
    TakeOrdered (per-partition partial top-k, no global sort)."""
    ev = _load_events(spark, sf_dir)
    dg = "md5(concat('cms:', CAST(user_id AS STRING)))"
    sketch = (
        ev.select(F.expr(dg).alias("dg"))
        .select(F.explode(F.expr(_cms_pairs_spark())).alias("s"))
        .select("s.d", "s.pos")
        .groupBy("d", "pos")
        .agg(F.count("*").alias("cnt"))
    )
    exact = ev.groupBy("user_id").agg(F.count("*").alias("exact_count"))
    est = (
        exact.withColumn("dg", F.expr(dg))
        .select(
            "user_id",
            "exact_count",
            F.explode(F.expr(_cms_pairs_spark())).alias("s"),
        )
        .select("user_id", "exact_count", "s.d", "s.pos")
        .join(F.broadcast(sketch), ["d", "pos"])
        .groupBy("user_id", "exact_count")
        .agg(F.min("cnt").alias("cms_estimate"))
    )
    return (
        est.orderBy(F.desc("cms_estimate"), "user_id")
        .limit(_CMS_TOP)
        .select(
            "user_id",
            "exact_count",
            "cms_estimate",
            F.expr("cms_estimate - exact_count").alias("overestimate"),
        )
        .orderBy(F.desc("cms_estimate"), "user_id")
    )


E21_SQL = f"""
WITH dig AS (
  SELECT md5(concat('cms:', CAST(user_id AS VARCHAR))) AS dg FROM events
), pairs AS (
  {_cms_arms_duck("", "dig")}
), sketch AS (
  SELECT d, pos, count(*) AS cnt FROM pairs GROUP BY d, pos
), ex AS (
  SELECT user_id, count(*) AS exact_count FROM events GROUP BY user_id
), cd AS (
  SELECT user_id, exact_count,
         md5(concat('cms:', CAST(user_id AS VARCHAR))) AS dg
  FROM ex
), cpos AS (
  {_cms_arms_duck("user_id, exact_count, ", "cd")}
), est AS (
  SELECT user_id, exact_count, min(cnt) AS cms_estimate
  FROM cpos JOIN sketch USING (d, pos)
  GROUP BY user_id, exact_count
)
SELECT user_id, exact_count, cms_estimate,
       cms_estimate - exact_count AS overestimate
FROM est ORDER BY cms_estimate DESC, user_id LIMIT {_CMS_TOP}
"""


# ---------------------------------------------------------------------------
# e22 — Z-order (Morton) multi-dimensional layout with locality audit
# ---------------------------------------------------------------------------

#: bits per dimension (16 buckets each): file_id drops the low 4 Morton
#: bits, so each of the 16 files covers a 4x4 tile of the (day_bucket,
#: user_bucket) grid — production scales bits/files up, same plan
_Z_BITS = 4


def _z_interleave(d: str, u: str, intdiv: str) -> str:
    """Morton-interleave two _Z_BITS-bit buckets (d gets odd bit
    positions, u even) with pure integer div/mod arithmetic — identical
    text in both dialects apart from the integer-division operator
    (``div`` Spark / ``//`` DuckDB); bitwise builtins are deliberately
    avoided so the fragment stays pinned cross-engine."""
    terms = []
    for j in range(_Z_BITS):
        terms.append(f"(({d} {intdiv} {1 << j}) % 2) * {1 << (2 * j + 1)}")
        terms.append(f"(({u} {intdiv} {1 << j}) % 2) * {1 << (2 * j)}")
    return " + ".join(terms)


def e22_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout assignment over (event day, user bucket) with a
    per-file locality audit — the data-layout pass that makes BOTH a
    time-range filter and a user point-lookup prune files at scan time,
    where a single-dimension sort prunes only its own dimension (Morton
    curves: Orenstein & Merrett 1984; the clustering trick behind
    Delta/Iceberg Z-ORDER). day_bucket is a RANGE bucket of the day
    offset (time filters hit contiguous buckets); user_bucket is the
    salted id-hash bucket (point lookups hit one bucket).

    The audit output proves the locality property the layout exists for:
    each of the 16 files covers at most a 4x4 tile of the 16x16
    (day_bucket, user_bucket) grid — n_day_buckets <= 4 and
    n_user_buckets <= 4, against 16 for the dimension a lexicographic
    sort leaves unsorted — and zkey ranges are disjoint per file
    (min/max columns), which is what lets a reader map a predicate to a
    zkey interval set and skip whole files.

    Scale shape: one narrow scan; the day-span bounds are a 1-row
    broadcast (e11's pattern); the per-file rollup is the only corpus
    exchange, map-side combined after collapsing to distinct grid cells.
    The real writer is ``repartitionByRange(zkey)`` + the F5 sink — this
    operator is the assignment + audit half the gate can hash."""
    ev = _load_events(spark, sf_dir).select(
        "user_id",
        F.expr(
            "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)"
        ).alias("day_num"),
    )
    bounds = ev.groupBy().agg(
        F.min("day_num").alias("lo"), F.max("day_num").alias("hi")
    )
    nb = 1 << _Z_BITS
    d_bucket = f"least({nb - 1}, ((day_num - lo) * {nb}) div (hi - lo + 1))"
    u_bucket = tf.idbucket_spark("zorder", nb, "user_id")
    zkey = _z_interleave("d_bucket", "u_bucket", "div")
    return (
        ev.crossJoin(F.broadcast(bounds))
        .select(
            F.expr(d_bucket).alias("d_bucket"),
            F.expr(u_bucket).alias("u_bucket"),
        )
        .select(
            "d_bucket",
            "u_bucket",
            F.expr(f"CAST({zkey} AS BIGINT)").alias("zkey"),
        )
        .withColumn("file_id", F.expr(f"CAST(zkey div {nb} AS BIGINT)"))
        .groupBy("file_id")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("d_bucket").alias("n_day_buckets"),
            F.countDistinct("u_bucket").alias("n_user_buckets"),
            F.min("zkey").alias("min_zkey"),
            F.max("zkey").alias("max_zkey"),
        )
        .orderBy("file_id")
    )


def _e22_sql() -> str:
    nb = 1 << _Z_BITS
    zkey = _z_interleave("d_bucket", "u_bucket", "//")
    return f"""
WITH ev AS (
  SELECT user_id,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)
           AS day_num
  FROM events
), bounds AS (
  SELECT min(day_num) AS lo, max(day_num) AS hi FROM ev
), bucketed AS (
  SELECT least({nb - 1}, ((day_num - lo) * {nb}) // (hi - lo + 1)) AS d_bucket,
         {tf.idbucket_duck("zorder", nb, "user_id")} AS u_bucket
  FROM ev, bounds
), z AS (
  SELECT d_bucket, u_bucket, CAST({zkey} AS BIGINT) AS zkey FROM bucketed
)
SELECT CAST(zkey // {nb} AS BIGINT) AS file_id,
       count(*) AS n_events,
       count(DISTINCT d_bucket) AS n_day_buckets,
       count(DISTINCT u_bucket) AS n_user_buckets,
       min(zkey) AS min_zkey,
       max(zkey) AS max_zkey
FROM z GROUP BY file_id ORDER BY file_id
"""


E22_SQL = _e22_sql()


# ---------------------------------------------------------------------------
# e23 — rolling active users (DAU / trailing-7-day WAU / stickiness)
# ---------------------------------------------------------------------------

def e23_rolling_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per activity day: distinct daily actives (DAU), distinct actives in
    the trailing 7-day window (WAU), and the DAU/WAU stickiness ratio —
    the rolling-distinct metric a plain windowed SUM cannot express
    (distinct users across 7 days ≠ sum of 7 daily distinct counts).

    Scale shape: the corpus collapses to distinct (user, day) pairs FIRST
    (map-side-combined hash agg — bounded by users x days, not raw
    events); each pair then fans out to the <=7 report days it contributes
    to via ``sequence()``+explode, and a second pair-distinct makes the
    final per-day count a plain COUNT(*). All exchanges carry 12-byte
    pairs; nothing corpus-sized is ever re-shuffled. The day-keyed
    DAU<->WAU join is tiny (one row per calendar day) and broadcasts.
    Stickiness is an int/int IEEE divide — bit-identical cross-engine."""
    ud = (
        _load_events(spark, sf_dir)
        .select("user_id", F.expr("CAST(ts AS DATE)").alias("day"))
        .distinct()
    )
    contrib = ud.select(
        "user_id",
        F.explode(F.expr("sequence(day, date_add(day, 6))")).alias("day"),
    ).distinct()
    wau = contrib.groupBy("day").agg(F.count("*").alias("wau_7d"))
    dau = ud.groupBy("day").agg(F.count("*").alias("dau"))
    return (
        dau.join(F.broadcast(wau), "day")
        .select(
            "day",
            "dau",
            "wau_7d",
            F.expr("CAST(dau AS DOUBLE) / wau_7d").alias("stickiness"),
        )
        .orderBy("day")
    )


E23_SQL = """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), contrib AS (
  SELECT DISTINCT user_id, day + CAST(x AS INTEGER) AS day
  FROM ud, (SELECT UNNEST(range(0, 7)) AS x)
), wau AS (
  SELECT day, count(*) AS wau_7d FROM contrib GROUP BY day
), dau AS (
  SELECT day, count(*) AS dau FROM ud GROUP BY day
)
SELECT day, dau, wau_7d, CAST(dau AS DOUBLE) / wau_7d AS stickiness
FROM dau JOIN wau USING (day)
ORDER BY day
"""


# ---------------------------------------------------------------------------
# e24 — weekly growth accounting (new / retained / resurrected / churned)
# ---------------------------------------------------------------------------

def e24_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly user-lifecycle ledger: each active (user, ISO week) is
    classified against the user's previous active week — first-ever week
    is ``new``, consecutive week is ``retained``, a gap is
    ``resurrected`` — and a user active in week w but absent in w+1 is
    counted as ``churned`` at w+1 (only for weeks the data can attest:
    w+1 <= the corpus's last week). Both engines truncate to ISO Monday,
    so week keys agree byte-for-byte.

    Scale shape: distinct (user, week) pairs first (map-side-combined —
    bounded by users x weeks); ONE shuffle on user_id computes lag and
    lead in the same per-user sorted pass (both classifications reuse the
    partitioning); the last-week bound is a 1-row broadcast. The final
    conditional-count aggregate is map-side combined on the tiny week
    key. Counts are exact BIGINTs — no floats anywhere."""
    from pyspark.sql.window import Window

    uw = (
        _load_events(spark, sf_dir)
        .select(
            "user_id",
            F.expr("CAST(date_trunc('week', ts) AS DATE)").alias("week"),
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("week")
    seq = uw.select(
        "user_id",
        "week",
        F.lag("week").over(w).alias("prev_week"),
        F.lead("week").over(w).alias("next_week"),
    )
    mx = uw.groupBy().agg(F.max("week").alias("max_week"))
    status = seq.select(
        "week",
        F.expr(
            "CASE WHEN prev_week IS NULL THEN 'new' "
            "WHEN prev_week = date_sub(week, 7) THEN 'retained' "
            "ELSE 'resurrected' END"
        ).alias("status"),
    )
    churn = (
        seq.crossJoin(F.broadcast(mx))
        .filter(
            F.expr(
                "(next_week IS NULL OR next_week > date_add(week, 7)) "
                "AND date_add(week, 7) <= max_week"
            )
        )
        .select(F.expr("date_add(week, 7)").alias("week"), F.lit("churned").alias("status"))
    )
    return (
        status.unionByName(churn)
        .groupBy("week")
        .agg(
            F.expr("CAST(sum(IF(status = 'new', 1, 0)) AS BIGINT)").alias("n_new"),
            F.expr("CAST(sum(IF(status = 'retained', 1, 0)) AS BIGINT)").alias(
                "n_retained"
            ),
            F.expr("CAST(sum(IF(status = 'resurrected', 1, 0)) AS BIGINT)").alias(
                "n_resurrected"
            ),
            F.expr("CAST(sum(IF(status = 'churned', 1, 0)) AS BIGINT)").alias(
                "n_churned"
            ),
        )
        .orderBy("week")
    )


E24_SQL = """
WITH uw AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week FROM events
), mx AS (
  SELECT max(week) AS max_week FROM uw
), seq AS (
  SELECT user_id, week,
         lag(week) OVER (PARTITION BY user_id ORDER BY week) AS prev_week,
         lead(week) OVER (PARTITION BY user_id ORDER BY week) AS next_week
  FROM uw
), status AS (
  SELECT week,
         CASE WHEN prev_week IS NULL THEN 'new'
              WHEN prev_week = week - 7 THEN 'retained'
              ELSE 'resurrected' END AS status
  FROM seq
  UNION ALL
  SELECT week + 7 AS week, 'churned' AS status
  FROM seq, mx
  WHERE (next_week IS NULL OR next_week > week + 7) AND week + 7 <= max_week
)
SELECT week,
       CAST(sum(CASE WHEN status = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
       CAST(sum(CASE WHEN status = 'retained' THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
       CAST(sum(CASE WHEN status = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected,
       CAST(sum(CASE WHEN status = 'churned' THEN 1 ELSE 0 END) AS BIGINT) AS n_churned
FROM status
GROUP BY week
ORDER BY week
"""


# ---------------------------------------------------------------------------
# e25 — last-touch conversion attribution with a lookback window
# ---------------------------------------------------------------------------

#: marketing touchpoints that can claim a conversion
TOUCH_TYPES = ("click", "view")
#: a touch older than this cannot claim the purchase
ATTRIB_LOOKBACK_DAYS = 7


def e25_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution: every ``purchase`` is credited
    to the same user's most recent STRICTLY PRECEDING touch event
    (``click``/``view``), provided the touch is within a 7-day lookback;
    a purchase with no prior touch reports ``none``, one whose only touch
    has aged out reports ``expired``. Output is the channel-level ledger:
    conversions per attributed touch type plus the mean touch→purchase
    delay — the table every marketing-spend decision reads.

    Scale shape: ONE shuffle on user_id; the per-user timeline is a
    single window pass where ``last(_, ignorenulls)`` over a
    rows-preceding frame carries the most recent touch forward — per-user
    state is one (type, ts) pair, never an event array, so whale users
    cost O(their events), not O(events²). The channel aggregate is
    map-side combined on a ≤3-key column. Determinism: the frame orders
    by (ts, event_id) — a total order — and the mean delay is a
    BIGINT-microsecond sum divided once, the same fixed IEEE expression
    in both engines."""
    from pyspark.sql.window import Window

    touch_in = ", ".join(f"'{t}'" for t in TOUCH_TYPES)
    ev = _load_events(spark, sf_dir).select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.expr(f"IF(event_type IN ({touch_in}), event_type, NULL)").alias("tt"),
        F.expr(f"IF(event_type IN ({touch_in}), ts, NULL)").alias("tts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    attributed = (
        ev.withColumn("last_touch", F.last("tt", ignorenulls=True).over(w))
        .withColumn("last_touch_ts", F.last("tts", ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select(
            F.expr(
                "CASE WHEN last_touch_ts IS NULL THEN 'none' "
                f"WHEN ts > last_touch_ts + INTERVAL {ATTRIB_LOOKBACK_DAYS} DAY "
                "THEN 'expired' ELSE last_touch END"
            ).alias("channel"),
            F.expr(
                "IF(last_touch_ts IS NOT NULL "
                f"AND ts <= last_touch_ts + INTERVAL {ATTRIB_LOOKBACK_DAYS} DAY, "
                "unix_micros(ts) - unix_micros(last_touch_ts), NULL)"
            ).alias("delay_us"),
        )
    )
    return (
        attributed.groupBy("channel")
        .agg(
            F.count("*").alias("n_conversions"),
            F.sum("delay_us").alias("total_delay_us"),
        )
        .select(
            "channel",
            "n_conversions",
            "total_delay_us",
            F.expr(
                "CAST(total_delay_us AS DOUBLE) / 1000000.0 / n_conversions"
            ).alias("avg_delay_s"),
        )
        .orderBy("channel")
    )


def _e25_sql() -> str:
    touch_in = ", ".join(f"'{t}'" for t in TOUCH_TYPES)
    lb = ATTRIB_LOOKBACK_DAYS
    return f"""
WITH ev AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN event_type IN ({touch_in}) THEN event_type END AS tt,
         CASE WHEN event_type IN ({touch_in}) THEN ts END AS tts
  FROM events
), carried AS (
  SELECT *,
         last_value(tt IGNORE NULLS) OVER w AS last_touch,
         last_value(tts IGNORE NULLS) OVER w AS last_touch_ts
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), attributed AS (
  SELECT CASE WHEN last_touch_ts IS NULL THEN 'none'
              WHEN ts > last_touch_ts + INTERVAL {lb} DAY THEN 'expired'
              ELSE last_touch END AS channel,
         CASE WHEN last_touch_ts IS NOT NULL
                   AND ts <= last_touch_ts + INTERVAL {lb} DAY
              THEN epoch_us(ts) - epoch_us(last_touch_ts) END AS delay_us
  FROM carried
  WHERE event_type = 'purchase'
)
SELECT channel,
       count(*) AS n_conversions,
       CAST(sum(delay_us) AS BIGINT) AS total_delay_us,
       CAST(sum(delay_us) AS DOUBLE) / 1000000.0 / count(*) AS avg_delay_s
FROM attributed
GROUP BY channel
ORDER BY channel
"""


E25_SQL = _e25_sql()


# ---------------------------------------------------------------------------
# e27 — log2-bucketed dwell-time histogram per event type
# ---------------------------------------------------------------------------


def e27_dwell_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dwell-time distribution: the time each user spends ON an event
    before their next one, log2-bucketed (the standard latency-histogram
    form — exponential buckets hold 10 orders of magnitude in ~40 rows),
    grouped by the event type being dwelt on. The product question it
    answers: "after a `view`, how long until users act?" — per type,
    bucket counts and each bucket's share of that type's gaps.

    Determinism without float logs: the log2 bucket is the INTEGER bit
    length of the microsecond gap (``length(bin(gap)) - 1``) — exact in
    both engines, immune to the pow/log ulp drift a float log2 would
    risk at bucket boundaries. Zero gaps (same-timestamp events) get
    their own -1 bucket.

    Scale shape: one shuffle on user_id for the per-user lag window
    (state = one row of lookback; whale users cost a longer local sort,
    not a wider shuffle), then a map-side-combined count on the tiny
    (type, bucket) key space, then a window share over the ~K·40
    aggregate rows. Same two-exchange shape as e13 transitions."""
    from pyspark.sql.window import Window

    ev = _load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.select(
            "event_type",
            (
                F.lead(F.expr("unix_micros(ts)")).over(w)
                - F.expr("unix_micros(ts)")
            ).alias("gap_us"),
        )
        .filter(F.col("gap_us").isNotNull())
        .select(
            "event_type",
            F.expr(
                "CASE WHEN gap_us = 0 THEN -1 "
                "ELSE length(bin(gap_us)) - 1 END"
            ).cast("int").alias("gap_bucket"),
        )
    )
    counts = gaps.groupBy("event_type", "gap_bucket").agg(
        F.count("*").alias("n_gaps")
    )
    return counts.select(
        "event_type",
        "gap_bucket",
        F.expr(
            "CASE WHEN gap_bucket = -1 THEN CAST(0 AS BIGINT) "
            "ELSE shiftleft(CAST(1 AS BIGINT), gap_bucket) END"
        ).alias("bucket_lo_us"),
        F.expr(
            "CASE WHEN gap_bucket = -1 THEN CAST(0 AS BIGINT) "
            "ELSE shiftleft(CAST(1 AS BIGINT), gap_bucket + 1) - 1 END"
        ).alias("bucket_hi_us"),
        "n_gaps",
        F.expr(
            "CAST(n_gaps AS DOUBLE) / "
            "sum(n_gaps) OVER (PARTITION BY event_type)"
        ).alias("share_of_type"),
    ).orderBy("event_type", "gap_bucket")


E27_SQL = """
WITH gaps AS (
  SELECT event_type,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           - epoch_us(ts) AS gap_us
  FROM events
), bucketed AS (
  SELECT event_type,
         CAST(CASE WHEN gap_us = 0 THEN -1
                   ELSE length(bin(gap_us)) - 1 END AS INTEGER) AS gap_bucket
  FROM gaps WHERE gap_us IS NOT NULL
), counts AS (
  SELECT event_type, gap_bucket, count(*) AS n_gaps
  FROM bucketed GROUP BY event_type, gap_bucket
)
SELECT event_type, gap_bucket,
       CASE WHEN gap_bucket = -1 THEN CAST(0 AS BIGINT)
            ELSE (CAST(1 AS BIGINT) << gap_bucket) END AS bucket_lo_us,
       CASE WHEN gap_bucket = -1 THEN CAST(0 AS BIGINT)
            ELSE (CAST(1 AS BIGINT) << (gap_bucket + 1)) - 1 END AS bucket_hi_us,
       n_gaps,
       CAST(n_gaps AS DOUBLE) / sum(n_gaps) OVER (PARTITION BY event_type)
         AS share_of_type
FROM counts ORDER BY event_type, gap_bucket
"""


# ---------------------------------------------------------------------------
# e28 — arrival-order lateness audit (watermark tuning)
# ---------------------------------------------------------------------------

#: arrival-block width for the two-level prefix max — the scan-algorithm
#: granularity knob: the cross-block table has n/ARRIVAL_BLOCK rows
ARRIVAL_BLOCK = 1024
#: lateness threshold mirroring the streaming ops' 10-minute watermark
LATE_THRESHOLD_US = 10 * 60 * 1_000_000


def _event_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(hour, late_us) per event: how far each event's time lags the
    event-time high-water mark of everything that ARRIVED before it.
    Arrival order is (event_id, event time): event_id alone stops being
    a TOTAL order on re-ingested corpora with duplicated ids, and an
    under-specified window order diverges between engines exactly where
    conflicting-payload duplicates exist (round-10 dup_ids sweep, e28:
    which copy "arrived first" decided whose lateness was huge). The ts
    tiebreak re-totalizes it; remaining ties are byte-identical copies,
    whose relative order cannot change any row's lateness value. The
    two-level parallel-prefix max shared
    by e28 (per-hour audit) and e39 (watermark-delay sweep): per-block
    maxima, an exclusive running max over the tiny block table, and a
    block-partitioned within-block prefix — no corpus-wide window."""
    from pyspark.sql.window import Window

    ev = _load_events(spark, sf_dir).select(
        "event_id",
        F.expr("unix_micros(ts)").alias("us"),
        F.expr("date_trunc('hour', ts)").alias("hour"),
        F.expr(f"event_id DIV {ARRIVAL_BLOCK}").alias("blk"),
    )
    blocks = (
        ev.groupBy("blk")
        .agg(F.max("us").alias("blk_hi"))
        .select(
            "blk",
            F.max("blk_hi")
            .over(
                Window.orderBy("blk").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            )
            .alias("prev_blocks_hi"),
        )
    )
    wi = (
        Window.partitionBy("blk")
        .orderBy("event_id", "us")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # Spark greatest() SKIPS NULLs, so hi is NULL only for the very
    # first arrival (no prefix at all) — the explicit CASE then matches
    # the oracle's `CASE WHEN hi > us THEN hi - us ELSE 0` exactly,
    # INCLUDING pre-1970 (negative-micros) event times: the old
    # coalesce-to-0 floor silently treated epoch zero as a phantom
    # high-water mark and scored negative-ts corpora as late where the
    # oracle scored 0. Subtraction is overflow-safe without the floor:
    # |hi - us| is bounded by the representable timestamp span (~6e17),
    # far under 2^63.
    return (
        ev.join(blocks, "blk")
        .withColumn("in_blk_hi", F.max("us").over(wi))
        .select(
            "hour",
            F.expr(
                "CASE WHEN greatest(prev_blocks_hi, in_blk_hi) > us "
                "THEN greatest(prev_blocks_hi, in_blk_hi) - us "
                "ELSE CAST(0 AS BIGINT) END"
            ).alias("late_us"),
        )
    )


def e28_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order-arrival audit — the measurement behind every
    watermark-delay choice: treating ``event_id`` as the monotone ingest
    order, an event's lateness is how far its event time lags the
    event-time high-water mark of everything that arrived BEFORE it.
    Per event-time hour: event count, count and fraction beyond the
    streaming ops' 10-minute delay (events the e04/e07/e15/e26 watermark
    would have dropped), and the worst lateness — exactly the histogram
    an operator reads before picking ``withWatermark``'s delay.

    Scale shape: the global prefix max is computed as a two-level scan
    (the classic parallel-prefix decomposition): per-block maxima
    (map-side-combined aggregate), an exclusive running max over the
    tiny block table (the only unpartitioned window — n/ARRIVAL_BLOCK
    rows), and a block-partitioned within-block prefix — so no window
    ever spans the corpus. The DuckDB oracle computes the same quantity
    with a direct global window (readable; equal by construction)."""
    late = _event_lateness(spark, sf_dir)
    return (
        late.groupBy("hour")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(
                F.expr(f"IF(late_us > {LATE_THRESHOLD_US}, 1, 0)")
            ).cast("bigint").alias("n_late"),
            F.max("late_us").alias("max_late_us"),
        )
        .select(
            "hour",
            "n_events",
            "n_late",
            F.expr("CAST(n_late AS DOUBLE) / n_events").alias("late_frac"),
            "max_late_us",
        )
        .orderBy("hour")
    )


E28_SQL = f"""
WITH x AS (
  SELECT date_trunc('hour', ts) AS hour, epoch_us(ts) AS us,
         max(epoch_us(ts)) OVER (ORDER BY event_id, epoch_us(ts)
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hi
  FROM events
), late AS (
  SELECT hour,
         CASE WHEN hi > us THEN hi - us ELSE CAST(0 AS BIGINT) END AS late_us
  FROM x
)
SELECT hour, count(*) AS n_events,
       CAST(sum(CASE WHEN late_us > {LATE_THRESHOLD_US} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_late,
       CAST(sum(CASE WHEN late_us > {LATE_THRESHOLD_US} THEN 1 ELSE 0 END)
            AS DOUBLE) / count(*) AS late_frac,
       max(late_us) AS max_late_us
FROM late GROUP BY hour ORDER BY hour
"""


# ---------------------------------------------------------------------------
# e30 — bot-regularity detection (inter-arrival dispersion per user)
# ---------------------------------------------------------------------------

#: minimum inter-event gaps before a user is scored (few-event users
#: have meaningless dispersion estimates)
BOT_MIN_GAPS = 10
#: squared coefficient of variation below which the cadence is "machine
#: regular" — humans are bursty (cv² ≈ 1 for Poisson arrivals, >1 for
#: bursts); timers/scripts sit near 0
BOT_CV2 = 0.1


def e30_bot_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot detection from inter-arrival regularity: per user, the squared
    coefficient of variation of successive event gaps. Scripted traffic
    fires on a timer (cv² → 0); organic users are bursty (cv² ≳ 1).
    The standard clickstream-hygiene filter run before any engagement
    analytics (new surface, SURVEY §7.2.7).

    Determinism (the e14 rule): Spark's variance is an order-sensitive
    Welford fold, so dispersion comes from EXACT integer sums instead —
    gaps are BIGINT microseconds, Σg is exact, Σg² accumulates in
    DECIMAL(38,0) (HUGEINT in the oracle; identical up to 38 digits, and
    n·Σg² ≤ 1e38 for any corpus whose per-user span stays under ~3e16 µs
    ≈ 900 years, so the engines agree on every reachable input). Then
    cv² = (n·Σg² − (Σg)²) / (Σg)² is one integer-exact ratio rendered
    through the exact decimal STRING (the _dsum rule — a direct
    decimal→double cast can differ by 1 ulp between engines past 2⁵³).

    Scale shape: ONE shuffle on user_id for the lag window, then a
    map-side-combinable per-user aggregate; output is user-cardinality.
    Users whose events all share one timestamp (Σg = 0) are reported
    with NULL cv² rather than dropped — both engines produce NULL for
    0/0 division under non-ANSI semantics."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        _load_events(spark, sf_dir)
        .select(
            "user_id",
            "event_id",
            "ts",
            (
                F.expr("unix_micros(ts)")
                - F.lag(F.expr("unix_micros(ts)")).over(w)
            ).alias("g"),
        )
        .filter(F.col("g").isNotNull())
    )
    num = (
        "CAST(CAST(n_gaps * ssg - CAST(sg AS DECIMAL(38,0)) * sg "
        "AS STRING) AS DOUBLE)"
    )
    den = "CAST(CAST(CAST(sg AS DECIMAL(38,0)) * sg AS STRING) AS DOUBLE)"
    return (
        gaps.groupBy("user_id")
        .agg(
            F.count("*").alias("n_gaps"),
            F.sum("g").alias("sg"),
            F.sum(F.expr("CAST(g AS DECIMAL(38,0)) * g")).alias("ssg"),
        )
        .select(
            "user_id",
            (F.col("n_gaps") + 1).alias("n_events"),
            "n_gaps",
            F.expr("CAST(sg AS DOUBLE) / n_gaps").alias("mean_gap_us"),
            F.expr(f"IF(sg > 0, {num} / {den}, NULL)").alias("cv2"),
            F.expr(
                f"sg > 0 AND n_gaps >= {BOT_MIN_GAPS} "
                f"AND {num} / {den} < {BOT_CV2}"
            ).alias("is_bot"),
        )
        .orderBy("user_id")
    )


E30_SQL = f"""
WITH gaps AS (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS g
  FROM events
),
agg AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
         CAST(sum(g) AS BIGINT) AS sg,
         sum(CAST(g AS HUGEINT) * g) AS ssg
  FROM gaps WHERE g IS NOT NULL GROUP BY user_id
)
SELECT user_id,
       n_gaps + 1 AS n_events,
       n_gaps,
       CAST(sg AS DOUBLE) / n_gaps AS mean_gap_us,
       CASE WHEN sg > 0 THEN
         CAST(CAST(n_gaps * ssg - CAST(sg AS HUGEINT) * sg AS STRING) AS DOUBLE)
           / CAST(CAST(CAST(sg AS HUGEINT) * sg AS STRING) AS DOUBLE)
       END AS cv2,
       sg > 0 AND n_gaps >= {BOT_MIN_GAPS} AND
         CAST(CAST(n_gaps * ssg - CAST(sg AS HUGEINT) * sg AS STRING) AS DOUBLE)
           / CAST(CAST(CAST(sg AS HUGEINT) * sg AS STRING) AS DOUBLE)
           < {BOT_CV2} AS is_bot
FROM agg ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# e31 — hour-of-week seasonality fingerprint per event type
# ---------------------------------------------------------------------------

#: hour-of-week grid: 7 days × 24 hours
HOW_CELLS = 168


def e31_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-week seasonality fingerprint per event type: bucket events
    into the 168-cell (day-of-week × hour) grid, report the peak cell and
    a χ²-against-uniform statistic. Human-driven event types show strong
    weekly structure (large χ²); machine traffic is flat. The standard
    pre-check before picking a seasonality-aware anomaly baseline (e14
    assumes hourly structure exists — this measures it; new surface,
    SURVEY §7.2.7).

    Determinism (the e30 rule): χ² = Σ_cells (168·obs − total)² /
    (168·total) is computed with an EXACT integer numerator — per-cell
    deviations square-accumulate in DECIMAL(38,0) (HUGEINT in the
    oracle), and the 168 − n_active EMPTY cells contribute total² each
    via the closed form instead of generating empty grid rows. The
    numerator is rendered through its exact decimal STRING (the _dsum
    rule) and divided once; peak_share is one BIGINT/BIGINT division.
    Overflow headroom: per-cell (168·obs − total)² ≤ 2.8e28 even at
    total = 1e12 events/type, and 168 such terms stay < 1e31 — inside
    DECIMAL(38,0)/HUGEINT agreement.

    Scale shape: ONE map-side-combinable shuffle to (event_type, dow,
    hour) — ≤168 cells per type regardless of corpus size — then a
    ≤168-row-per-partition window + per-type aggregate. dow is Spark
    ``dayofweek(ts) − 1`` so 0 = Sunday matches DuckDB's ``dayofweek``."""
    from pyspark.sql.window import Window

    cells = (
        _load_events(spark, sf_dir)
        .select(
            "event_type",
            (F.dayofweek("ts") - F.lit(1)).alias("dow"),
            F.hour("ts").alias("hod"),
        )
        .groupBy("event_type", "dow", "hod")
        .agg(F.count("*").alias("cnt"))
    )
    w_tot = Window.partitionBy("event_type")
    w_rank = Window.partitionBy("event_type").orderBy(
        F.col("cnt").desc(), "dow", "hod"
    )
    enriched = cells.select(
        "event_type",
        "dow",
        "hod",
        "cnt",
        F.sum("cnt").over(w_tot).alias("total"),
        F.row_number().over(w_rank).alias("rn"),
    )
    dev = f"CAST({HOW_CELLS} * cnt - total AS DECIMAL(38,0))"
    agg = enriched.groupBy("event_type").agg(
        F.max("total").alias("n_events"),
        F.count("*").alias("n_cells_active"),
        F.sum(F.expr(f"{dev} * ({HOW_CELLS} * cnt - total)")).alias("_dev_active"),
        F.max(F.expr("IF(rn = 1, dow, NULL)")).alias("peak_dow"),
        F.max(F.expr("IF(rn = 1, hod, NULL)")).alias("peak_hour"),
        F.max(F.expr("IF(rn = 1, cnt, NULL)")).alias("_peak_cnt"),
    )
    num = (
        f"_dev_active + CAST({HOW_CELLS} - n_cells_active AS DECIMAL(38,0)) "
        "* n_events * n_events"
    )
    return (
        agg.select(
            "event_type",
            "n_events",
            "n_cells_active",
            F.col("peak_dow").cast("bigint").alias("peak_dow"),
            F.col("peak_hour").cast("bigint").alias("peak_hour"),
            F.expr("CAST(_peak_cnt AS DOUBLE) / n_events").alias("peak_share"),
            F.expr(
                f"CAST(CAST({num} AS STRING) AS DOUBLE) / "
                f"(CAST({HOW_CELLS} AS DOUBLE) * n_events)"
            ).alias("chi2_uniform"),
        )
        .orderBy("event_type")
    )


E31_SQL = f"""
WITH cells AS (
  SELECT event_type, dayofweek(ts) AS dow, hour(ts) AS hod,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2, 3
), enriched AS (
  SELECT *, CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS total,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY cnt DESC, dow, hod) AS rn
  FROM cells
), agg AS (
  SELECT event_type, max(total) AS n_events,
         CAST(count(*) AS BIGINT) AS n_cells_active,
         sum(CAST({HOW_CELLS} * cnt - total AS HUGEINT)
             * ({HOW_CELLS} * cnt - total)) AS dev_active,
         CAST(max(CASE WHEN rn = 1 THEN dow END) AS BIGINT) AS peak_dow,
         CAST(max(CASE WHEN rn = 1 THEN hod END) AS BIGINT) AS peak_hour,
         max(CASE WHEN rn = 1 THEN cnt END) AS peak_cnt
  FROM enriched GROUP BY event_type
)
SELECT event_type, n_events, n_cells_active, peak_dow, peak_hour,
       CAST(peak_cnt AS DOUBLE) / n_events AS peak_share,
       CAST(CAST(dev_active + CAST({HOW_CELLS} - n_cells_active AS HUGEINT)
                 * n_events * n_events AS VARCHAR) AS DOUBLE)
         / (CAST({HOW_CELLS} AS DOUBLE) * n_events) AS chi2_uniform
FROM agg ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# e32 — EWMA volume trend per event type (α = 1/2, exact dyadic weights)
# ---------------------------------------------------------------------------

#: trailing window of daily buckets entering the EWMA (bounds the exact
#: integer weights: max weight 2^(TREND_DAYS-1))
TREND_DAYS = 16


def e32_ewma_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted daily-volume trend per event type: bucket
    the trailing TREND_DAYS days into daily counts, weight day at
    recency-lag r by 2^(TREND_DAYS-1-r) (the α = 1/2 EWMA kernel), and
    report the smoothed level plus last-day/EWMA — the burst/decay ratio
    an alerting pipeline thresholds. New surface, SURVEY §7.2.7.

    Determinism: α = 1/2 makes every kernel weight an exact power of
    two, so the weighted sum is an EXACT integer — accumulated in
    DECIMAL(38,0) (HUGEINT in the oracle), rendered through its decimal
    STRING (the _dsum rule), and divided once by the constant 2^15.
    trend_ratio is one division of two exactly-computed doubles. No
    order-sensitive float fold anywhere.

    Scale shape: one map-side-combinable shuffle to (event_type, day) —
    ≤ TREND_DAYS rows per type regardless of corpus size — after a
    broadcast 1-row max-day crossJoin gates the window; the final
    aggregate runs on type cardinality."""
    days = (
        _load_events(spark, sf_dir)
        .select("event_type", F.to_date("ts").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count("*").alias("cnt"))
    )
    maxd = days.agg(F.max("day").alias("max_day"))
    half = 1 << (TREND_DAYS - 1)
    num_dbl = "CAST(CAST(num AS STRING) AS DOUBLE)"
    last_dbl = (
        f"CAST(CAST(CAST(last_day_count AS DECIMAL(38,0)) * {half} "
        "AS STRING) AS DOUBLE)"
    )
    return (
        days.crossJoin(F.broadcast(maxd))
        .withColumn("r", F.expr("datediff(max_day, day)"))
        .filter(F.col("r") < TREND_DAYS)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_days_active"),
            F.sum("cnt").alias("window_total"),
            F.sum(F.expr("IF(r = 0, cnt, CAST(0 AS BIGINT))")).alias(
                "last_day_count"
            ),
            F.sum(
                F.expr(
                    "CAST(cnt AS DECIMAL(38,0)) * "
                    f"shiftleft(CAST(1 AS BIGINT), {TREND_DAYS} - 1 - r)"
                )
            ).alias("num"),
        )
        .select(
            "event_type",
            "n_days_active",
            "window_total",
            "last_day_count",
            F.expr(f"{num_dbl} / {float(half)}").alias("ewma"),
            F.expr(f"{last_dbl} / {num_dbl}").alias("trend_ratio"),
        )
        .orderBy("event_type")
    )


E32_SQL = f"""
WITH days AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
), maxd AS (
  SELECT max(day) AS max_day FROM days
), win AS (
  SELECT d.event_type, d.cnt, datediff('day', d.day, m.max_day) AS r
  FROM days d, maxd m
  WHERE datediff('day', d.day, m.max_day) < {TREND_DAYS}
), agg AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days_active,
         CAST(sum(cnt) AS BIGINT) AS window_total,
         CAST(sum(CASE WHEN r = 0 THEN cnt ELSE 0 END) AS BIGINT)
           AS last_day_count,
         sum(CAST(cnt AS HUGEINT) * (1::BIGINT << ({TREND_DAYS} - 1 - r)))
           AS num
  FROM win GROUP BY event_type
)
SELECT event_type, n_days_active, window_total, last_day_count,
       CAST(CAST(num AS VARCHAR) AS DOUBLE) / {float(1 << (TREND_DAYS - 1))}
         AS ewma,
       CAST(CAST(CAST(last_day_count AS HUGEINT) * {1 << (TREND_DAYS - 1)}
                 AS VARCHAR) AS DOUBLE)
         / CAST(CAST(num AS VARCHAR) AS DOUBLE) AS trend_ratio
FROM agg ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# e33 — outage census: top-K largest inter-event gaps per event type
# ---------------------------------------------------------------------------

#: Gaps reported per event type — top-K is scale-free (a fixed seconds
#: threshold returns everything at low traffic and nothing at high).
OUTAGE_TOP_K = 5


def e33_outage_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outage/coverage census: for every event type, the K largest gaps
    between consecutive events — the "was the collector down?" report a
    telemetry pipeline runs before trusting any windowed aggregate
    (e01/e11 silently interpolate through a collector outage; this
    surfaces it). Gap arithmetic is exact BIGINT microseconds
    (``unix_micros``/``epoch_us``) — no float timestamps. Ranking is
    fully deterministic: gaps tie-break on gap end, then event id. New
    surface, SURVEY §7.2.7.

    Scale shape: one shuffle partitioned by event_type for the lag
    window, then the rank+filter compiles to WindowGroupLimit — Spark
    pushes the top-K INTO the sort, so no partition ever materializes
    its full gap list (the q17 pattern). Event types are a bounded
    dimension; per-type skew is irrelevant because the window carries
    only (ts, event_id) pairs."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = (
        _load_events(spark, sf_dir)
        .select("event_id", "event_type", "ts")
        .withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn("prev_id", F.lag("event_id").over(w))
        .filter(F.col("prev_ts").isNotNull())
        .withColumn(
            "gap_us",
            F.expr("unix_micros(ts) - unix_micros(prev_ts)"),
        )
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.col("gap_us").desc(), F.col("ts").asc(), F.col("event_id").asc()
    )
    return (
        gaps.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= OUTAGE_TOP_K)
        .select(
            "event_type",
            F.col("rk").cast("int").alias("gap_rank"),
            F.col("prev_ts").alias("gap_start"),
            F.col("ts").alias("gap_end"),
            "gap_us",
            F.col("prev_id").alias("start_event_id"),
            F.col("event_id").alias("end_event_id"),
        )
        .orderBy("event_type", "gap_rank")
    )


E33_SQL = f"""
WITH g AS (
  SELECT event_type, event_id, ts,
         lag(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id)
           AS prev_ts,
         lag(event_id) OVER (PARTITION BY event_type ORDER BY ts, event_id)
           AS prev_id
  FROM events
), gaps AS (
  SELECT event_type, event_id, ts, prev_ts, prev_id,
         epoch_us(ts) - epoch_us(prev_ts) AS gap_us
  FROM g WHERE prev_ts IS NOT NULL
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
             ORDER BY gap_us DESC, ts ASC, event_id ASC) AS rk
  FROM gaps
)
SELECT event_type, CAST(rk AS INTEGER) AS gap_rank, prev_ts AS gap_start,
       ts AS gap_end, gap_us, prev_id AS start_event_id,
       event_id AS end_event_id
FROM ranked WHERE rk <= {OUTAGE_TOP_K}
ORDER BY event_type, gap_rank
"""


# ---------------------------------------------------------------------------
# e34 — conversion-lag histogram (first view → first purchase)
# ---------------------------------------------------------------------------

#: Lag histogram in hour buckets, capped: the tail beyond this collapses
#: into one ">= cap" bucket so the report stays bounded at any horizon.
CONV_LAG_CAP_HOURS = 48


def e34_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency histogram: for every user whose first
    ``purchase`` follows their first ``view``, the view→purchase lag in
    exact BIGINT microseconds, bucketed by hour (capped at 48h) with
    per-bucket user counts, share, and cumulative share — the
    time-to-convert curve growth teams read next to the e09 funnel
    (which counts WHO converts; this reports HOW FAST). New surface,
    SURVEY §7.2.7.

    Scale shape: one shuffle on user_id folds each user to two
    first-event timestamps (min() is map-side combinable, so the hot-user
    problem never materializes); the histogram is a second aggregate on
    the bounded bucket dimension, and the share/cumulative windows run
    on ≤49 rows. Lags are integer micros end-to-end — the share division
    is the only float op, performed once per bucket."""
    from pyspark.sql.window import Window

    firsts = (
        _load_events(spark, sf_dir)
        .filter(F.col("event_type").isin("view", "purchase"))
        .groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
                "first_view"
            ),
            F.min(
                F.when(F.col("event_type") == "purchase", F.col("ts"))
            ).alias("first_purchase"),
        )
        .filter(
            "first_view IS NOT NULL AND first_purchase IS NOT NULL "
            "AND first_purchase >= first_view"
        )
        .select(
            F.expr(
                "unix_micros(first_purchase) - unix_micros(first_view)"
            ).alias("lag_us")
        )
    )
    hist = (
        firsts.select(
            F.expr(
                f"least(lag_us DIV 3600000000, "
                f"CAST({CONV_LAG_CAP_HOURS} AS BIGINT))"
            ).alias("lag_hours_bucket")
        )
        .groupBy("lag_hours_bucket")
        .agg(F.count("*").alias("n_users"))
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_cum = Window.orderBy("lag_hours_bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        hist.withColumn("total", F.sum("n_users").over(w_all))
        .withColumn("cum", F.sum("n_users").over(w_cum))
        .select(
            "lag_hours_bucket",
            "n_users",
            F.expr("CAST(n_users AS DOUBLE) / total").alias("share"),
            F.expr("CAST(cum AS DOUBLE) / total").alias("cum_share"),
        )
        .orderBy("lag_hours_bucket")
    )


E34_SQL = f"""
WITH firsts AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
  FROM events WHERE event_type IN ('view', 'purchase')
  GROUP BY user_id
), lags AS (
  SELECT epoch_us(first_purchase) - epoch_us(first_view) AS lag_us
  FROM firsts
  WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL
    AND first_purchase >= first_view
), hist AS (
  SELECT least(lag_us // 3600000000, CAST({CONV_LAG_CAP_HOURS} AS BIGINT))
           AS lag_hours_bucket,
         CAST(count(*) AS BIGINT) AS n_users
  FROM lags GROUP BY 1
)
SELECT lag_hours_bucket, n_users,
       CAST(n_users AS DOUBLE) / sum(n_users) OVER () AS share,
       CAST(sum(n_users) OVER (ORDER BY lag_hours_bucket
         ROWS UNBOUNDED PRECEDING) AS DOUBLE) / sum(n_users) OVER ()
         AS cum_share
FROM hist ORDER BY lag_hours_bucket
"""


# ---------------------------------------------------------------------------
# e35 — seasonally-adjusted hourly anomaly (residual vs hour-of-week cell)
# ---------------------------------------------------------------------------

#: how many worst hours the seasonal-anomaly report returns
E35_TOP_K = 20


def e35_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hours anomalous FOR THEIR SLOT: z-score of each calendar hour's
    event count against the mean/σ of its own hour-of-week cell (Tue
    03:00 compares to other Tue 03:00s), reporting the TOP_K most
    anomalous hours ranked by |z|. e14 flags global volume outliers —
    on any corpus with real weekly seasonality it fires every Monday
    peak and misses a dead Tuesday night that is merely "average"
    globally; deseasonalizing against the e31 grid is the standard
    fix. Ranked top-K rather than thresholded: a cell observed n times
    bounds |z| at √(n−1) (z is computed against the cell's own
    population moments), so any fixed cutoff silently emits NOTHING
    until the corpus spans enough weeks — a monitor wants its K worst
    hours regardless. Zero-filled over the full calendar span (the e11
    densification) so silent hours are scored, not skipped — an outage
    IS the anomaly a monitor must catch.

    Determinism (the e14 rule, hardened): per-cell moments are EXACT
    integer sums (n, Σc, Σc²); zero-variance cells are filtered with
    the exact DECIMAL(38,0)/HUGEINT compare BEFORE any float division;
    and the variance itself is built from the exact integer numerator
    n·Σc² − (Σc)² rendered via STRING→DOUBLE (the _dsum rule), NOT the
    one-pass ss/n − mean² form — that form cancels catastrophically
    and can round to ≤ 0 even when the exact gate passes, which would
    resurface the Spark-NULL vs DuckDB-inf divergence inside the
    top-K. The exact numerator is ≥ 1 whenever the gate holds, so
    sqrt(var) > 0 strictly and both engines execute the identical IEEE
    tree. dow is Spark ``dayofweek − 1`` so 0 = Sunday matches DuckDB
    (the e31 rule). Overflow headroom: ss·n ≤ (2⁶³−1)² ≈ 8.5e37 <
    1e38 from BIGINT inputs, so DECIMAL(38,0) and HUGEINT agree on
    every reachable input.

    Ranking determinism: the sort key is (|z| DESC, hour) — |z| is the
    same IEEE double on both engines and hour is unique, so the K-row
    cut line cannot differ.

    Scale shape: ONE corpus scan feeding a map-side-combined hourly
    rollup (persisted — bounds AND scoring read it; date_trunc is
    monotone so the calendar bounds are min/max of the rolled-up
    hours, pinned by the cache-reuse plan test), a sequence()-
    exploded calendar from a broadcast 1-row bounds aggregate, a
    ≤168-row cell-moments aggregate broadcast back over the hours
    table; the top-K is a TakeOrdered over the hours table, never a
    global sort."""
    from floorist_spark.operators._cache import track

    ev = _load_events(spark, sf_dir)
    # date_trunc is monotone, so the calendar bounds are the min/max of
    # the ALREADY-ROLLED-UP hours — one corpus scan feeds everything.
    # The rollup is persisted (tiny: one row per hour) so one pass feeds
    # both the bounds and the scoring join; unpersisted, Spark replays
    # the subtree and scans the corpus twice (the e14 lesson, pinned by
    # the FileScan-count plan test).
    agg = track(
        ev.groupBy(F.expr("date_trunc('hour', ts)").alias("hour"))
        .agg(F.count("*").alias("n"))
        .persist()
    )
    bounds = agg.agg(
        F.min("hour").alias("lo"),
        F.max("hour").alias("hi"),
    )
    calendar = bounds.select(
        F.explode(F.expr("sequence(lo, hi, INTERVAL 1 HOUR)")).alias("hour")
    )
    hourly = (
        calendar.join(agg, "hour", "left")
        .select(
            "hour",
            F.expr("(dayofweek(hour) - 1) * 24 + hour(hour)").alias("cell"),
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_events"),
        )
    )
    cell_stats = hourly.groupBy("cell").agg(
        F.count("*").alias("n_hours"),
        F.sum("n_events").alias("s"),
        F.sum(F.expr("n_events * n_events")).alias("ss"),
    )
    mean = "CAST(s AS DOUBLE) / n_hours"
    # variance from the EXACT integer numerator n·Σc² − (Σc)², rendered
    # through STRING (the _dsum rule) — the one-pass ss/n − mean² form
    # cancels catastrophically and can round to ≤ 0 even when the exact
    # gate passes, resurfacing the Spark-NULL/DuckDB-inf divergence
    # inside the ranking; the exact numerator is ≥ 1 whenever the gate
    # holds, so sqrt(var) > 0 strictly on both engines.
    var = (
        "CAST(CAST(CAST(ss AS DECIMAL(38,0)) * n_hours "
        "- CAST(s AS DECIMAL(38,0)) * s AS STRING) AS DOUBLE) "
        "/ (CAST(n_hours AS DOUBLE) * CAST(n_hours AS DOUBLE))"
    )
    z = f"(n_events - ({mean})) / sqrt({var})"
    return (
        hourly.join(F.broadcast(cell_stats), "cell")
        .filter(
            F.expr(
                "CAST(ss AS DECIMAL(38,0)) * n_hours "
                "> CAST(s AS DECIMAL(38,0)) * s"
            )
        )
        .select(
            "hour",
            "cell",
            "n_events",
            F.expr(mean).alias("cell_mean"),
            F.expr(z).alias("z"),
        )
        .orderBy(F.expr("abs(z)").desc(), "hour")
        .limit(E35_TOP_K)
    )


def _e35_sql() -> str:
    mean = "CAST(s AS DOUBLE) / n_hours"
    var = (
        "CAST(CAST(CAST(ss AS HUGEINT) * n_hours "
        "- CAST(s AS HUGEINT) * s AS VARCHAR) AS DOUBLE) "
        "/ (CAST(n_hours AS DOUBLE) * CAST(n_hours AS DOUBLE))"
    )
    z = f"(n_events - ({mean})) / sqrt({var})"
    return f"""
WITH agg AS (
  SELECT date_trunc('hour', ts) AS hour, count(*) AS n
  FROM events GROUP BY 1
),
bounds AS (
  SELECT min(hour) AS lo, max(hour) AS hi FROM agg
),
calendar AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
  FROM bounds
),
hourly AS (
  SELECT c.hour,
         dayofweek(c.hour) * 24 + hour(c.hour) AS cell,
         CAST(coalesce(a.n, 0) AS BIGINT) AS n_events
  FROM calendar c LEFT JOIN agg a ON a.hour = c.hour
),
cs AS (
  SELECT cell, CAST(count(*) AS BIGINT) AS n_hours,
         CAST(sum(n_events) AS BIGINT) AS s,
         CAST(sum(n_events * n_events) AS BIGINT) AS ss
  FROM hourly GROUP BY cell
),
scored AS (
  SELECT h.hour, h.cell, h.n_events,
         {mean} AS cell_mean,
         {z} AS z
  FROM hourly h JOIN cs USING (cell)
  WHERE CAST(ss AS HUGEINT) * n_hours > CAST(s AS HUGEINT) * s
)
SELECT hour, cell, n_events, cell_mean, z
FROM scored
ORDER BY abs(z) DESC, hour
LIMIT {E35_TOP_K}
"""


# ---------------------------------------------------------------------------
# e36 — burst windows (per-type top-K 5-minute spikes)
# ---------------------------------------------------------------------------

#: tumbling burst-window width in microseconds (5 minutes)
E36_WIN_US = 300_000_000
#: spikes reported per event type
E36_TOP_K = 3


def e36_burst_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic-burst detection: for each event type, the K busiest
    tumbling 5-minute windows, with each spike's ratio to the type's
    average nonempty-window load. Rank-based like e35 (an absolute
    threshold would be corpus-scale-dependent); the ratio separates "the
    K busiest windows of smooth traffic" (~1x) from genuine bursts (a
    bot volley, a replayed batch, a thundering herd — the inputs
    watermark and rate-limit tuning need). New surface, SURVEY §7.2.7.

    Determinism: window identity is exact integer floor division of
    microseconds; the ratio is ONE double division of two exact BIGINTs
    per output row; ties rank by (n_events DESC, window_start ASC).

    Scale shape: one map-side-combinable shuffle to (type, window)
    counts; per-type totals are a second tiny aggregate broadcast back;
    the top-K window is partitioned BY TYPE over already-aggregated
    rows (#nonempty windows per type, bounded by timespan/5min — never
    a corpus-row window)."""
    from pyspark.sql.window import Window

    ev = _load_events(spark, sf_dir)
    # Window identity sign audit (round 8): Spark DIV and DuckDB // BOTH
    # truncate toward zero (verified: SELECT (-7) // 3 = -2 in DuckDB,
    # (-7) DIV 3 = -2 in Spark), so the pair is engine-consistent for
    # pre-1970 (negative-micros) timestamps too — negative-epoch events
    # share one window around zero ([-w+1, w-1] both truncate to 0),
    # which is acceptable for a burst census and identical cross-engine.
    counts = (
        ev.select(
            "event_type",
            F.expr(
                f"timestamp_micros((unix_micros(ts) DIV {E36_WIN_US}) * {E36_WIN_US})"
            ).alias("window_start"),
        )
        .groupBy("event_type", "window_start")
        .agg(F.count("*").alias("n_events"))
    )
    stats = counts.groupBy("event_type").agg(
        F.sum("n_events").cast("bigint").alias("tot"),
        F.count("*").alias("n_windows"),
    )
    w = Window.partitionBy("event_type").orderBy(
        F.desc("n_events"), F.asc("window_start")
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= E36_TOP_K)
        .join(F.broadcast(stats), "event_type")
        .select(
            "event_type",
            F.col("rk").cast("int").alias("rank"),
            "window_start",
            "n_events",
            F.expr("CAST(n_events AS DOUBLE) * n_windows / tot").alias(
                "burst_ratio"
            ),
        )
        .orderBy("event_type", "rank")
    )


E36_SQL = f"""
WITH counts AS (
  SELECT event_type,
         make_timestamp((epoch_us(ts) // {E36_WIN_US}) * {E36_WIN_US})
           AS window_start,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type, CAST(sum(n_events) AS BIGINT) AS tot,
         CAST(count(*) AS BIGINT) AS n_windows
  FROM counts GROUP BY event_type
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
            ORDER BY n_events DESC, window_start ASC) AS rk
  FROM counts
)
SELECT r.event_type, CAST(r.rk AS INTEGER) AS rank, r.window_start,
       r.n_events,
       CAST(r.n_events AS DOUBLE) * s.n_windows / s.tot AS burst_ratio
FROM ranked r JOIN stats s USING (event_type)
WHERE r.rk <= {E36_TOP_K}
ORDER BY r.event_type, r.rk
"""


# ---------------------------------------------------------------------------
# e37 — session-length histogram (log2-bucketed durations)
# ---------------------------------------------------------------------------

def e37_session_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of session DURATIONS over e03's session definition
    (30-minute gaps-and-islands — the one shared batch sessionizer), as
    a log2 histogram: per duration bucket, session count, total events
    carried, and the bucket's share of all sessions. e03 lists sessions;
    this is the shape retention and engagement work reads off them
    (bots pile into the bottom buckets, binge sessions into the top —
    e30 flags the former from inter-arrival dispersion; this shows the
    corpus-level mass). New surface, SURVEY §7.2.7.

    Determinism without float logs: bucket = INTEGER bit length of the
    microsecond duration (``length(bin(d)) - 1``, the e27 idiom), -1
    for zero-duration single-event sessions; the bucket floor is an
    exact BIGINT shift.

    Scale shape: ONE shuffle on user_id serves both the sessionizing
    window and the (user, session) rollup (partial-key partitioning
    satisfies the clustered distribution — no second exchange); the
    histogram is a map-side-combinable aggregate on <= ~40 bucket keys;
    the share denominator is a broadcast 1-row total."""
    from floorist_spark.operators._canon import canonical_events

    # identity-keyed: duplicated event_ids sessionize exactly once
    ev = canonical_events(spark, sf_dir)
    sess = (
        _sessionized(ev)
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.expr(
                "max(unix_micros(ts)) - min(unix_micros(ts))"
            ).alias("dur_us"),
        )
    )
    hist = (
        sess.select(
            F.expr(
                "CAST(CASE WHEN dur_us <= 0 THEN -1 "
                "ELSE length(bin(dur_us)) - 1 END AS INTEGER)"
            ).alias("duration_bucket"),
            "n_events",
        )
        .groupBy("duration_bucket")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").cast("bigint").alias("n_events_total"),
        )
    )
    tot = hist.agg(F.sum("n_sessions").alias("tot"))
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            "duration_bucket",
            F.expr(
                "CAST(IF(duration_bucket < 0, 0, "
                "shiftleft(CAST(1 AS BIGINT), duration_bucket)) AS BIGINT)"
            ).alias("dur_lo_us"),
            "n_sessions",
            "n_events_total",
            F.expr("CAST(n_sessions AS DOUBLE) / tot").alias("session_frac"),
        )
        .orderBy("duration_bucket")
    )


E37_SQL = f"""
WITH {_sessionize_ctes("user_id, event_id, ts", src=_CEV + " events")},
sess AS (
  SELECT user_id, session_id,
         CAST(count(*) AS BIGINT) AS n_events,
         max(epoch_us(ts)) - min(epoch_us(ts)) AS dur_us
  FROM numbered GROUP BY user_id, session_id
),
hist AS (
  SELECT CAST(CASE WHEN dur_us <= 0 THEN -1
              ELSE length(bin(dur_us)) - 1 END AS INTEGER) AS duration_bucket,
         CAST(count(*) AS BIGINT) AS n_sessions,
         CAST(sum(n_events) AS BIGINT) AS n_events_total
  FROM sess GROUP BY 1
)
SELECT duration_bucket,
       CAST(CASE WHEN duration_bucket < 0 THEN 0
            ELSE 1::BIGINT << duration_bucket END AS BIGINT) AS dur_lo_us,
       n_sessions, n_events_total,
       CAST(n_sessions AS DOUBLE) / (SELECT sum(n_sessions) FROM hist)
         AS session_frac
FROM hist ORDER BY duration_bucket
"""


# ---------------------------------------------------------------------------
# e38 — per-type user-concentration audit (HHI / effective users)
# ---------------------------------------------------------------------------

def e38_user_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How concentrated is each event type's traffic across users?
    Per type: event and user counts, the heaviest user's share, the
    Herfindahl-Hirschman index HHI = Σ(n_u/N)², and its inverse — the
    "effective user count" (inverse Simpson diversity). An event type
    whose effective users ≪ distinct users is bot- or whale-dominated:
    the signal that decides whether a per-key partition will skew (the
    q31 salting trigger), whether a funnel metric is one user's behavior,
    and which types need per-user rate caps. Complements e30 (which
    flags regular-cadence users) with the corpus-level mass view.

    Determinism: both ratios divide exact integers. Per-user squares sum
    in DECIMAL(38,0) — a bigint would overflow at Σn_u² > 2^63, reachable
    for a 10 B-event type — and render through the string cast (_dsum
    discipline); N² is computed the same way, so HHI and effective_users
    are single IEEE divisions of exactly-parsed doubles.

    Scale shape: one map-side-combinable groupBy(type, user) count, then
    a per-type rollup over user-count rows; nothing driver-side, no
    window — max() replaces a top-1 row_number. Output is |types| rows."""
    per_user = (
        _load_events(spark, sf_dir)
        .groupBy("event_type", "user_id")
        .agg(F.count("*").alias("n"))
    )
    return (
        per_user.groupBy("event_type")
        .agg(
            F.sum("n").cast("bigint").alias("n_events"),
            F.count("*").alias("n_users"),
            F.max("n").cast("bigint").alias("top_user_events"),
            F.expr(
                "CAST(CAST(sum(CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0)))"
                " AS STRING) AS DOUBLE)"
            ).alias("sum_sq"),
        )
        .select(
            "event_type",
            "n_events",
            "n_users",
            "top_user_events",
            F.expr(
                "CAST(top_user_events AS DOUBLE) / n_events"
            ).alias("top_user_share"),
            F.expr(
                "sum_sq / (CAST(CAST(CAST(n_events AS DECIMAL(19,0)) * "
                "CAST(n_events AS DECIMAL(19,0)) AS STRING) AS DOUBLE))"
            ).alias("hhi"),
            F.expr(
                "(CAST(CAST(CAST(n_events AS DECIMAL(19,0)) * "
                "CAST(n_events AS DECIMAL(19,0)) AS STRING) AS DOUBLE)) / sum_sq"
            ).alias("effective_users"),
        )
        .orderBy("event_type")
    )


E38_SQL = """
WITH per_user AS (
  SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY event_type, user_id
), per_type AS (
  SELECT event_type,
         CAST(sum(n) AS BIGINT) AS n_events,
         CAST(count(*) AS BIGINT) AS n_users,
         CAST(max(n) AS BIGINT) AS top_user_events,
         CAST(CAST(sum(CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0)))
              AS VARCHAR) AS DOUBLE) AS sum_sq
  FROM per_user GROUP BY event_type
)
SELECT event_type, n_events, n_users, top_user_events,
       CAST(top_user_events AS DOUBLE) / n_events AS top_user_share,
       sum_sq / CAST(CAST(CAST(n_events AS DECIMAL(19,0)) *
                CAST(n_events AS DECIMAL(19,0)) AS VARCHAR) AS DOUBLE) AS hhi,
       CAST(CAST(CAST(n_events AS DECIMAL(19,0)) *
            CAST(n_events AS DECIMAL(19,0)) AS VARCHAR) AS DOUBLE) / sum_sq
         AS effective_users
FROM per_type ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# e39 — watermark-delay sweep (the design input behind withWatermark)
# ---------------------------------------------------------------------------

#: candidate watermark delays (seconds) — 600 is the shipped
#: WATERMARK_DELAY_MIN * 60 the streaming ops (e04/e07/e15/e26) run with
E39_DELAYS_S = (0, 60, 300, 600, 900)


def e39_watermark_delay_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What would each candidate watermark delay DROP? Per delay D: the
    count and fraction of events whose lateness (e28's arrival-order
    high-water-mark lag) exceeds D — exactly the rows
    ``withWatermark(D)`` would never aggregate. e28 histograms lateness
    per hour at the ONE shipped threshold; this sweeps the knob itself,
    turning "pick a delay" from folklore into a read-off: the smallest D
    whose drop share clears the pipeline's loss budget. The 600 s row
    prices the delay the streaming ops actually run with.

    Determinism: lateness is exact BIGINT micros; each test is an
    integer comparison against a fixed literal; the share is one
    int/int division.

    Scale shape: rides the e28 two-level parallel-prefix max unchanged
    (the helper is shared code, not a re-derivation); all K delay tests
    fold into ONE map-side-combinable aggregate row unpivoted via stack
    — no per-delay rescan of the corpus."""
    late = _event_lateness(spark, sf_dir)
    aggs = [F.count("*").alias("n_events")]
    for i, d in enumerate(E39_DELAYS_S):
        aggs.append(
            F.sum(F.expr(f"IF(late_us > {d} * 1000000, 1, 0)"))
            .cast("bigint")
            .alias(f"l{i}")
        )
    stack_args = ", ".join(
        f"CAST({d} AS INT), l{i}" for i, d in enumerate(E39_DELAYS_S)
    )
    return (
        late.agg(*aggs)
        .select(
            F.expr(
                f"stack({len(E39_DELAYS_S)}, {stack_args}) "
                "AS (delay_s, n_dropped)"
            ),
            "n_events",
        )
        .select(
            "delay_s",
            "n_events",
            "n_dropped",
            F.expr("CAST(n_dropped AS DOUBLE) / n_events").alias("drop_frac"),
        )
        .orderBy("delay_s")
    )


def _e39_sql() -> str:
    rows = "\nUNION ALL\n".join(
        f"""SELECT CAST({d} AS INTEGER) AS delay_s,
       (SELECT CAST(count(*) AS BIGINT) FROM late) AS n_events,
       (SELECT CAST(sum(CASE WHEN late_us > {d} * 1000000 THEN 1 ELSE 0 END)
            AS BIGINT) FROM late) AS n_dropped,
       (SELECT CAST(sum(CASE WHEN late_us > {d} * 1000000 THEN 1 ELSE 0 END)
            AS DOUBLE) / count(*) FROM late) AS drop_frac"""
        for d in E39_DELAYS_S
    )
    return f"""
WITH x AS (
  SELECT epoch_us(ts) AS us,
         max(epoch_us(ts)) OVER (ORDER BY event_id, epoch_us(ts)
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hi
  FROM events
), late AS (
  SELECT CASE WHEN hi > us THEN hi - us ELSE CAST(0 AS BIGINT) END AS late_us
  FROM x
)
{rows}
ORDER BY delay_s
"""


QUERIES = {
    "e01_tumbling_hourly": e01_tumbling_hourly,
    "e02_sliding_counts": e02_sliding_counts,
    "e03_session_windows": e03_session_windows,
    "e04_streaming_tumbling": e04_streaming_tumbling,
    "e05_asof_join": e05_asof_join,
    "e06_range_join": e06_range_join,
    "e07_streaming_watermark": e07_streaming_watermark,
    "e08_streaming_sessions": e08_streaming_sessions,
    "e09_funnel": e09_funnel,
    "e10_retention": e10_retention,
    "e11_gapfill_hourly": e11_gapfill_hourly,
    "e12_json_extract": e12_json_extract,
    "e13_event_transitions": e13_event_transitions,
    "e14_hourly_anomaly": e14_hourly_anomaly,
    "e16_continuous_aggregate": e16_continuous_aggregate,
    "e17_path_analysis": e17_path_analysis,
    "e18_stream_stream_join": e18_stream_stream_join,
    "e19_cooccurrence_lift": e19_cooccurrence_lift,
    "e20_hll_distinct": e20_hll_distinct,
    "e21_cms_heavy_hitters": e21_cms_heavy_hitters,
    "e22_zorder_layout": e22_zorder_layout,
    "e23_rolling_active": e23_rolling_active,
    "e24_growth_accounting": e24_growth_accounting,
    "e25_attribution": e25_attribution,
    "e27_dwell_histogram": e27_dwell_histogram,
    "e28_lateness_audit": e28_lateness_audit,
    "e30_bot_regularity": e30_bot_regularity,
    "e31_seasonality_profile": e31_seasonality_profile,
    "e32_ewma_trend": e32_ewma_trend,
    "e33_outage_gaps": e33_outage_gaps,
    "e34_conversion_lag": e34_conversion_lag,
    "e35_seasonal_anomaly": e35_seasonal_anomaly,
    "e36_burst_windows": e36_burst_windows,
    "e37_session_length_histogram": e37_session_length_histogram,
    "e38_user_concentration": e38_user_concentration,
    "e39_watermark_delay_sweep": e39_watermark_delay_sweep,
}

ORACLES = {
    "e01_tumbling_hourly": E01_SQL,
    "e02_sliding_counts": E02_SQL,
    "e03_session_windows": E03_SQL,
    "e04_streaming_tumbling": E01_STREAM_SQL,  # stream/batch parity (gated domain)
    "e05_asof_join": E05_SQL,
    "e06_range_join": E06_SQL,
    "e07_streaming_watermark": E07_SQL,
    "e08_streaming_sessions": E08_SQL,
    "e09_funnel": E09_SQL,
    "e10_retention": E10_SQL,
    "e11_gapfill_hourly": E11_SQL,
    "e12_json_extract": E12_SQL,
    "e13_event_transitions": E13_SQL,
    "e14_hourly_anomaly": E14_SQL,
    "e16_continuous_aggregate": E16_SQL,
    "e17_path_analysis": E17_SQL,
    "e18_stream_stream_join": E18_SQL,
    "e19_cooccurrence_lift": E19_SQL,
    "e20_hll_distinct": E20_SQL,
    "e21_cms_heavy_hitters": E21_SQL,
    "e22_zorder_layout": E22_SQL,
    "e23_rolling_active": E23_SQL,
    "e24_growth_accounting": E24_SQL,
    "e25_attribution": E25_SQL,
    "e27_dwell_histogram": E27_SQL,
    "e28_lateness_audit": E28_SQL,
    "e30_bot_regularity": E30_SQL,
    "e31_seasonality_profile": E31_SQL,
    "e32_ewma_trend": E32_SQL,
    "e33_outage_gaps": E33_SQL,
    "e34_conversion_lag": E34_SQL,
    "e35_seasonal_anomaly": _e35_sql(),
    "e36_burst_windows": E36_SQL,
    "e37_session_length_histogram": E37_SQL,
    "e38_user_concentration": E38_SQL,
    "e39_watermark_delay_sweep": _e39_sql(),
}
