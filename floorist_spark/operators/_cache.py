"""Registry of persisted operator intermediates, so catalog sweeps stay
memory-flat.

Operator builders persist intermediates the RETURNED lazy plan still
references (e.g. d04's hashed-shingle table feeds band signatures, the
candidate join, AND the Jaccard verify), so they cannot unpersist before
the caller runs its action. Instead, every ``persist()`` in an operator is
wrapped in :func:`track`, and :func:`release_caches` unpersists everything
recorded. It is called

* by the catalog boundary before building each entry (caches of the
  PREVIOUS, already-collected entry — this covers the export engine's
  catalog dumps and any external harness that sweeps the catalog through
  ``__spark_entry__``), and
* by bench/selfcheck at the end of their sweeps,

keeping a ~100-query session's executor memory flat instead of accumulating
cached partitions per query.

A second tier, :func:`memo`, deliberately SURVIVES the per-entry release:
it holds the few intermediates shared ACROSS entries (the dedup signature
chain), bounded to one dataset dir at a time — see its docstring.

One rule covers both tiers: ``persist()`` only marks a DataFrame for
reuse, and the first query that reads it fills it. Neither a memo nor an
operator builder runs an action just to fill a cache, so a dump's shared
intermediates execute inside the dump's own query — one pass that feeds
every consumer in its plan — not in jobs of their own while it is built.

Caveat: tracked DataFrames include ``localCheckpoint`` results (d09's final
label table), whose lineage is truncated — after release they can be
neither read nor recomputed. The contract is therefore: a catalog entry's
returned DataFrame is valid until the NEXT entry is built, which is how
every sequential sweep (driver gate, bench, selfcheck, export engine)
consumes them.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

_LIVE: list = []

#: (name, sf_dir) -> (SparkSession, persisted DataFrame). Unlike _LIVE,
#: memos survive the per-entry release: they hold intermediates SHARED
#: across catalog entries (the MinHash signature chain d03→d04→d09→d10→
#: d13 re-derived the same shingle+digest pass per entry before this).
_MEMO: dict = {}

#: session-lifetime handles (TrackedCheckpoints) backing memoized
#: DataFrames: a memo built over a localCheckpoint must keep the
#: checkpoint's RDD blocks alive as long as the memo itself (truncated
#: lineage ⇒ the persisted copy cannot be recomputed), so the handle's
#: lifetime is tied to the memo tier, not the per-entry _LIVE tier
_MEMO_AUX: list = []


def memo_aux(obj):
    """Register a handle (e.g. a TrackedCheckpoint) that must live as long
    as the memo tier; freed by release_memos() or when memos for another
    dataset are evicted. Returns it."""
    _MEMO_AUX.append(obj)
    return obj


def _drain_memo_aux() -> None:
    while _MEMO_AUX:
        obj = _MEMO_AUX.pop()
        try:
            obj.unpersist()
        except Exception:
            pass


def memo(spark, name: str, sf_dir: str, build):
    """Session-lifetime memo for a persisted intermediate keyed by
    (name, dataset dir). On hit, returns the persisted DataFrame; on
    miss, builds, persists (MEMORY_AND_DISK) and records it. Nothing is
    executed here: the first query that reads the memo fills it, and
    every later reader (in the same plan or a later entry) reads the
    cached copy.

    Memory stays bounded: memos for any OTHER dataset dir or a different
    SparkSession are evicted on first use of a new one (sweeps run one
    sf_dir at a time), so at most one dataset's shared tables are ever
    live — O(1) per session, not O(entries). At cluster scale the same
    role is played by a checkpointed signature TABLE in storage; the memo
    is its session-local analogue."""
    sf_dir = os.path.realpath(sf_dir)
    key = (name, sf_dir)
    hit = _MEMO.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    evicted = False
    for k in list(_MEMO):
        if k[1] != sf_dir or _MEMO[k][0] is not spark:
            _, stale = _MEMO.pop(k)
            evicted = True
            try:
                stale.unpersist()
            except Exception:
                pass
    if evicted:
        # memos are one-dataset-at-a-time, so any eviction means every
        # aux handle belongs to the dataset (or session) just dropped
        _drain_memo_aux()
    df = build().persist()
    _MEMO[key] = (spark, df)
    return df


def release_memos() -> None:
    """Unpersist and forget every memoized shared table (idempotent)."""
    for k in list(_MEMO):
        _, df = _MEMO.pop(k)
        try:
            df.unpersist()
        except Exception:
            pass
    _drain_memo_aux()


def track(obj):
    """Record a persisted DataFrame (or TrackedCheckpoint) for later
    release; returns it."""
    _LIVE.append(obj)
    return obj


def release_caches() -> None:
    """Unpersist every tracked intermediate (idempotent, never raises —
    a dead SparkSession just means there is nothing left to free)."""
    while _LIVE:
        obj = _LIVE.pop()
        try:
            obj.unpersist()
        except Exception:
            pass


def _persistent_ids(sc) -> set[int]:
    return {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}


class TrackedCheckpoint:
    """Handle to the persistent RDD(s) a ``localCheckpoint`` created.

    ``DataFrame.unpersist()`` only uncaches through the CacheManager; a
    local checkpoint's blocks live as an RDD-level persist that stays in
    the context's persistentRdds map until JVM GC. This handle records the
    RDD ids the checkpoint added and frees them through the map — after
    ``unpersist()`` the checkpointed DataFrame is gone for good (truncated
    lineage ⇒ not recomputable), which is exactly the point."""

    def __init__(self, sc, rdd_ids: set[int]):
        self._sc = sc
        self._ids = rdd_ids

    def unpersist(self) -> None:
        m = self._sc._jsc.getPersistentRDDs()
        for i in self._ids:
            rdd = m.get(i)
            if rdd is not None:
                rdd.unpersist()
        self._ids = set()


def local_checkpoint(df: DataFrame) -> tuple[DataFrame, TrackedCheckpoint]:
    """``df.localCheckpoint()`` plus a release handle for its blocks.

    The id-diff attributes new persistent RDDs to this checkpoint; the
    export engine runs one dump at a time, so no other build adds ids in
    between."""
    sc = df.sparkSession.sparkContext
    before = _persistent_ids(sc)
    out = df.localCheckpoint()
    return out, TrackedCheckpoint(sc, _persistent_ids(sc) - before)
