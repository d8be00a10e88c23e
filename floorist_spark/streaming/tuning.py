"""Data-sized state partitioning for the streaming operators.

A streaming query pins its state-store partition count from
``spark.sql.shuffle.partitions`` when its first micro-batch is planned.
Every micro-batch then pays a fixed cost PER STATE PARTITION PER
STATEFUL OPERATOR before a single row is processed: state-store
provider init, checkpoint delta dir, version commit — plus, for
``applyInPandasWithState``, one Python state-server round-trip per
partition. Measured on this box (zero-row floor probe over the sf0.1
events stream, local[32]): ~2.0-2.6s per query at 32 state partitions
vs ~0.9-1.1s at <=4 — i.e. most of the "streaming startup floor" the
bench splits out is this per-partition fixed cost, not data work
(r11 verdict item 3).

Scale-safety argument (why this is not a local[32] conf tweak): the
partition count is derived from the query's own DATA, never from the
core count, as the max of the two quantities that actually demand
partitions::

    n = clamp(max(ceil(state_bytes / TARGET_STORE_BYTES),
                  ceil(batch_rows  / ROWS_PER_STATE_TASK)),
              1, session shuffle partitions)

* ``state_bytes`` — the estimated TOTAL state across every stateful
  operator in the query (the ``dropDuplicates(event_id)`` ingest-dedup
  operator counts too: its keyspace is the event count). Production
  state stores are sized to keep each partition's store around
  TARGET_STORE_BYTES so snapshot/commit/rebalance stay fast; below one
  target-size store there is nothing to split.
* ``batch_rows`` — fold-compute parallelism: a partition should carry
  at least ROWS_PER_STATE_TASK rows per trigger before a second task
  beats its own fixed cost (the usual don't-schedule-sub-100ms-tasks
  rule).

Both terms grow with the data, so on any production stream (billions of
keys, millions of rows per trigger) the clamp returns exactly the
session value and this module is a no-op; it can only LOWER the store
count when the data provably cannot use more stores. The inputs are
measured from the batch twin of the stream source in one map-side
combined aggregate (count + approx_count_distinct).
"""

from __future__ import annotations

import math
from contextlib import contextmanager

from pyspark.sql import DataFrame, functions as F

#: Target bytes of state per store partition. Production stores are kept
#: around this size so per-batch snapshot/commit and partition rebalance
#: stay fast.
TARGET_STORE_BYTES = 64 << 20

#: Minimum rows per trigger a state partition should fold before a second
#: task is worth its scheduling + store fixed cost — for JVM stateful
#: operators (windowed aggs, session windows, stream-stream joins,
#: dropDuplicates), whose per-row fold is codegen-cheap.
ROWS_PER_STATE_TASK = 64 << 10

#: Same floor for queries whose fold runs in PYTHON
#: (applyInPandasWithState): each key costs an Arrow group transfer +
#: pandas construction + a Python loop, ~1000x a codegen fold step, so a
#: partition saturates its fixed cost at far fewer rows. Measured here:
#: e26 at sf0.1 (100k rows, 7.5k keys) folds ~8s of Python per batch —
#: starving it to 2 partitions DOUBLED the entry; 2048 rows/task keeps
#: the Python work parallel (100k rows → wants 49, clamps to the session
#: value) while small corpora (10k rows at sf0.01 → 5 stores) still shed
#: the per-store floor.
PY_ROWS_PER_STATE_TASK = 2 << 10

#: Keys floor for Python folds: the per-KEY invocation overhead (one
#: Arrow group + one pandas frame + one state round-trip per key per
#:   batch, ~0.3-1ms) dominates when keys are many but rows-per-key few.
#: Measured: d08 (5000 single-row keys) ran 2.2s at 32 partitions and
#: 3.3s when the rows floor alone sized it to 3 — ~192 keys/task keeps
#: its per-key Python amortized at the same per-store fixed cost.
PY_KEYS_PER_STATE_TASK = 192

#: Estimated state width of the exactly-once ingest dedup operator
#: (dropDuplicates(event_id)): key + empty value + store overhead.
DEDUP_KEY_BYTES = 64

#: Estimated state width of the custom stateful operators in this repo
#: (anchor/session/funnel structs of a few longs, plus store overhead).
STATE_KEY_BYTES = 256


def batch_stats(df: DataFrame, *key_cols: str) -> tuple[int, int]:
    """(rows, approx distinct composite keys) of the stream's batch twin
    in ONE map-side-combined aggregate; a few percent of HLL error is
    immaterial against the /TARGET quantization. Key columns are SQL
    expressions (e.g. ``date_trunc('hour', ts)`` for a windowed agg's
    keyspace)."""
    exprs = [F.expr(c) for c in key_cols]
    key = exprs[0] if len(exprs) == 1 else F.xxhash64(*exprs)
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct(key).alias("k"),
    ).first()
    return int(row["n"]), int(row["k"])


def state_partition_count(
    spark,
    state_bytes: int,
    batch_rows: int,
    python_stateful: bool = False,
    n_keys: int = 0,
) -> int:
    """The formula from the module docstring. Never raises the session
    setting. ``python_stateful`` selects the Python-fold rows floor
    (PY_ROWS_PER_STATE_TASK) and, with ``n_keys``, adds the per-key
    invocation floor (PY_KEYS_PER_STATE_TASK) for
    applyInPandasWithState queries."""
    session_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    per_task = PY_ROWS_PER_STATE_TASK if python_stateful else ROWS_PER_STATE_TASK
    want = max(
        math.ceil(max(int(state_bytes), 1) / TARGET_STORE_BYTES),
        math.ceil(max(int(batch_rows), 1) / per_task),
    )
    if python_stateful and n_keys:
        want = max(want, math.ceil(int(n_keys) / PY_KEYS_PER_STATE_TASK))
    return max(1, min(session_n, want))


@contextmanager
def sized_state(
    spark,
    state_bytes: int,
    batch_rows: int,
    python_stateful: bool = False,
    n_keys: int = 0,
):
    """Scope ``spark.sql.shuffle.partitions`` to the data-derived state
    partition count for the duration of one streaming query
    (set → start+awaitTermination inside the block → restored). The conf
    is session-scoped, so the block must contain the query's whole
    lifetime; the operators in this repo run their streams synchronously
    inline, which is exactly that shape."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(
        key,
        str(
            state_partition_count(
                spark, state_bytes, batch_rows, python_stateful, n_keys
            )
        ),
    )
    try:
        yield
    finally:
        spark.conf.set(key, old)
