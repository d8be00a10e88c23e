"""Persisted-intermediate hygiene: per-entry operator caches must not
accumulate across a catalog sweep — the catalog boundary releases the
previous entry's caches (VERDICT r2 item 5). Session-lifetime MEMOS (the
shared MinHash signature chain) are the deliberate exception: they survive
release_caches but are O(1) per dataset (bounded set of named tables,
evicted on dataset switch), so the sweep stays memory-flat either way.
"""

from __future__ import annotations

from floorist_spark.operators._cache import (
    _MEMO,
    release_caches,
    release_memos,
)
from floorist_spark.operators.catalog import all_queries

from tests.conftest import SF_SMOKE


def _n_persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_catalog_boundary_releases_previous_entry_caches(spark):
    release_caches()
    release_memos()  # clean slate regardless of test order
    qs = all_queries()

    df = qs["d04_lsh_jaccard_dedup"](spark, SF_SMOKE)
    df.count()
    n_after_d04 = _n_persisted(spark)
    assert n_after_d04 >= 2  # hashed shingles + signatures + pairs memos

    # building the NEXT catalog entry frees per-entry caches; memos stay
    qs["d01_exact_dedup"](spark, SF_SMOKE).count()
    assert _n_persisted(spark) == len(_MEMO)

    # and the memo set stays a BOUNDED named set when the chain re-runs
    # (the whole point: d09/d10 reuse d04's tables instead of rebuilding
    # them). r11 grew the set by three: candidate pairs, scored pairs,
    # and d09's converged cluster labels.
    qs["d09_dedup_clusters"](spark, SF_SMOKE).count()
    n_memos = len(_MEMO)
    # canonical docs, hashed shingles, minhash mins, cand pairs, scored
    # pairs, verified pairs, cluster labels
    assert n_memos <= 7
    # re-running the same consumers must not grow the set further
    qs["d09_dedup_clusters"](spark, SF_SMOKE).count()
    qs["d04_lsh_jaccard_dedup"](spark, SF_SMOKE).count()
    assert len(_MEMO) == n_memos
    release_caches()
    release_memos()
    assert _n_persisted(spark) == 0


def test_simhash_fp_memo_shared_across_consumers(spark):
    # r11: the SimHash fingerprint pass is memoized — d05/d06/d12/d29 all
    # ride ONE (doc_id, simhash) table instead of recomputing the
    # tokenize→md5→vote aggregation per consumer (and twice inside the
    # d06 self-join).
    release_caches()
    release_memos()
    from floorist_spark.operators.dedup import _simhash_fp, d06_simhash_near_pairs

    fp1 = _simhash_fp(spark, SF_SMOKE)
    n_memos = len(_MEMO)
    assert _simhash_fp(spark, SF_SMOKE) is fp1  # memo hit, same handle
    d06_simhash_near_pairs(spark, SF_SMOKE).count()
    assert len(_MEMO) == n_memos  # d06 rode the existing memos
    release_caches()
    release_memos()
    assert _n_persisted(spark) == 0


def test_cluster_labels_memo_shared_across_consumers(spark):
    # r11: d09's converged label table is memoized — d10/d16/c22 (and the
    # c16/c23 mixture chain) ride ONE propagation-loop run per dataset
    # instead of re-running the iterative join+checkpoint loop per entry.
    release_caches()
    release_memos()
    from floorist_spark.operators.dedup import (
        _cluster_labels,
        d10_curation_keep,
        d16_soft_dedup_weights,
    )

    labels = _cluster_labels(spark, SF_SMOKE)
    assert _cluster_labels(spark, SF_SMOKE) is labels  # memo hit
    n_memos = len(_MEMO)
    d10_curation_keep(spark, SF_SMOKE).count()
    d16_soft_dedup_weights(spark, SF_SMOKE).count()
    assert len(_MEMO) == n_memos  # consumers rode the memo, no rebuild
    release_caches()
    release_memos()
    # the aux-held localCheckpoint blocks must be freed with the memo tier
    assert _n_persisted(spark) == 0


def test_release_caches_is_idempotent_and_complete(spark):
    qs = all_queries()
    qs["d09_dedup_clusters"](spark, SF_SMOKE).count()
    assert _n_persisted(spark) >= 1
    release_caches()
    release_memos()
    assert _n_persisted(spark) == 0
    release_caches()  # second call is a no-op
    release_memos()
    assert _n_persisted(spark) == 0


def test_memo_evicts_on_dataset_switch(spark, tmp_path):
    """Memos are keyed by dataset dir; using a different dir evicts the
    old dataset's tables so at most one dataset's memos are ever live."""
    import shutil
    import os

    release_caches()
    release_memos()
    qs = all_queries()
    qs["d04_lsh_jaccard_dedup"](spark, SF_SMOKE).count()
    first_keys = set(_MEMO)
    assert first_keys

    other = tmp_path / "sfcopy"
    shutil.copytree(SF_SMOKE, other)
    qs["d04_lsh_jaccard_dedup"](spark, str(other)).count()
    dirs = {k[1] for k in _MEMO}
    assert dirs == {os.path.realpath(str(other))}
    release_caches()
    release_memos()


#: entries whose builders persist an intermediate their plan reads more
#: than once, plus the dedup memo chain's first two consumers
_PERSISTING_ENTRIES = (
    "c17_budget_waterfill",
    "d03_minhash_lsh_candidates",
    "d04_lsh_jaccard_dedup",
    "d14_ngram_containment",
    "e14_hourly_anomaly",
    "e19_cooccurrence_lift",
    "e35_seasonal_anomaly",
    "m15_chunk_overlap_pairs",
    "s05_kmeans_ivf_assign",
    "s15_probe_frontier",
    "t12_bigram_lm_score",
    "t21_vocab_coverage",
)


def test_builds_run_no_action_to_fill_a_cache(spark, monkeypatch):
    """persist() marks a DataFrame for reuse and the first query that reads
    it fills it: neither a memo nor a builder counts a cache full, and no
    builder probes a partition count through ``.rdd``."""
    release_caches()
    release_memos()  # every memo is built, not hit
    cls = type(spark.range(1))

    def refuse(*_):
        raise AssertionError("an action ran to fill a cache")

    monkeypatch.setattr(cls, "count", refuse)
    monkeypatch.setattr(cls, "rdd", property(refuse))
    qs = all_queries()
    try:
        for name in _PERSISTING_ENTRIES:
            qs[name](spark, SF_SMOKE)
    finally:
        release_caches()
        release_memos()


def test_shingle_pass_runs_once_per_canonical_partition(spark, monkeypatch, tmp_path):
    """d04's plan reads the shingle memo along three paths (bands, and both
    sides of the Jaccard join); a cold run still makes one Python pass per
    partition of the canonical-docs memo, because the first reader fills
    the memo and the others read the cached copy."""
    from floorist_spark.operators import dedup
    from floorist_spark.operators._canon import canonical_docs

    release_caches()
    release_memos()
    markers = str(tmp_path)
    shingle = dedup._shingle_minhash_batches

    def counted(batches):
        import os
        import uuid

        open(os.path.join(markers, uuid.uuid4().hex), "w").close()
        yield from shingle(batches)

    monkeypatch.setattr(dedup, "_shingle_minhash_batches", counted)
    try:
        all_queries()["d04_lsh_jaccard_dedup"](spark, SF_SMOKE).collect()
        n_parts = canonical_docs(spark, SF_SMOKE).rdd.getNumPartitions()
        assert len(list(tmp_path.iterdir())) == n_parts
    finally:
        release_caches()
        release_memos()
