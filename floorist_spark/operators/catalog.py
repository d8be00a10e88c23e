"""Operator-catalog registry — the single source of truth for every
implemented query/operator and its DuckDB oracle.

Used by two consumers:

* ``__spark_entry__`` (the driver contract) exposes these as
  ``queries()`` / ``oracle_sql()``;
* the export engine resolves floorplan rows whose ``query`` is
  ``catalog:<name>`` to the same callables, so any catalog operator can be
  dumped through the partitioned Parquet sink exactly like a SQL query.

The module list is explicit — a broken import in any operator family
fails loudly instead of silently dropping it from the correctness gate.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from floorist_spark.operators._cache import release_caches

#: prefix marking a floorplan query as a catalog reference
CATALOG_PREFIX = "catalog:"


def modules():
    from floorist_spark.operators import (
        curation,
        dedup,
        events_analytics,
        multimodal,
        relational,
        similarity,
        text,
    )
    from floorist_spark.streaming import stateful

    return [
        relational,
        dedup,
        similarity,
        text,
        curation,
        events_analytics,
        multimodal,
        stateful,
    ]


def _with_cache_release(
    fn: Callable[[SparkSession, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    """Release the persisted intermediates of the PREVIOUS catalog entry
    before building this one. Catalog consumers run entries sequentially
    (action included), so at build time of entry N the caches of entry N-1
    are dead weight — this keeps a ~100-query sweep memory-flat even when
    the harness (e.g. the grading driver) never calls release itself."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        release_caches()
        return fn(spark, sf_dir)

    wrapped.__name__ = getattr(fn, "__name__", "catalog_query")
    wrapped.__doc__ = fn.__doc__
    return wrapped


#: Entries promoted to the FRONT of the registry. Correctness harnesses
#: that gate a prefix of ``queries()`` (the grading driver samples the
#: first ~50) would, under round-robin alone, only ever see each family's
#: oldest entries — this list rotates the never-yet-externally-gated tail
#: into the window each round. The window holds 50 slots and must keep one
#: representative of EVERY family (q's representative is the round-robin
#: head right after the priority block), so the list is capped at 49
#: (tests/test_llm_operators.py enforces both invariants). Pure ordering —
#: membership and semantics of every entry are unchanged.
#:
#: Round-12 rotation. The window is MECHANICALLY derived: the 49 stalest
#: entries by last driver-green round, computed from the committed
#: CORRECTNESS_r*.json artifacts strictly before ROTATION_ROUND
#: (tests/test_gate_rotation.py re-derives that ledger and fails if this
#: list is not a stalest-first window, if any family is unrepresented, or
#: if the max-staleness claim is violated). Snapshot at ROTATION_ROUND=12:
#: ledger distribution is r7:28 / r8:49 / r9:48 / r10:49 / r11:50 — so the
#: window is the FULL 28-entry r7 cohort plus 21 of the 49 r8 entries at
#: the tie boundary (ties free per the test), picked to thicken the
#: thinnest families in the window: the r7 cohort has no q and one each of
#: e/s, so the 21 go thinnest-family-first (lexicographic within a family),
#: ending q:6 s:5 e:6 m:6 c:6. OUT: the remaining 28 r8 ties and everything
#: green r9-r11. Staleness bound after this gate runs green: max 12-8 = 4
#: <= 5. ``python tools/gate_window.py`` prints the next window and round
#: from the newest committed artifact.
ROTATION_ROUND = 12

GATE_PRIORITY = [
    # -- last green at the r7 gate (the full 28-entry cohort) --------------
    "c16_dedup_aware_mixture",
    "c17_budget_waterfill",
    "c18_oversample_plan",
    "c21_ctx_length_sweep",
    "d13_minhash_calibration",
    "d14_ngram_containment",
    "d15a_token_census",
    "d15b_norm_digest",
    "d16_soft_dedup_weights",
    "d17_incremental_dedup",
    "d21_shingle_novelty",
    "d22_boilerplate_census",
    "d24_exact_substring_spans",
    "d26_cluster_size_census",
    "d27_threshold_sweep",
    "e35_seasonal_anomaly",
    "m18_caption_rate_audit",
    "m21_phash_candidate_histogram",
    "s21_embedding_hygiene",
    "t10_tfidf_topk",
    "t12_bigram_lm_score",
    "t13_gopher_rules",
    "t15_bpe_merges",
    "t16_zipf_audit",
    "t17_token_diversity",
    "t21_vocab_coverage",
    "t22_rake_keyphrases",
    "t25_code_detect",
    # -- last green at the r8 gate (21 of 49; family-balancing tie-break) --
    "c20_shard_manifest",
    "c22_split_leakage_audit",
    "e26_alert_throttle",
    "e36_burst_windows",
    "e37_session_length_histogram",
    "e38_user_concentration",
    "e39_watermark_delay_sweep",
    "m12_block_dedup_census",
    "m19_modality_mix_manifest",
    "m20_byte_uniformity_census",
    "m22_magic_byte_census",
    "q08_distinct",
    "q09_in_subquery",
    "q10_quoted_idents",
    "q11_pricing_summary",
    "q12_shipping_priority",
    "q13_local_supplier_volume",
    "s22_nprobe_cost_frontier",
    "s23_recall_vs_nprobe",
    "s24_centroid_separation",
    "s25_quantization_width_sweep",
]


def _interleave(dicts: list[dict]) -> dict:
    """Priority entries first (family-interleaved among themselves), then
    a round-robin merge of the remainder preserving each module's
    internal order.

    Registry order is visible downstream: correctness harnesses that
    sample a prefix of ``queries()`` (the grading driver gates the first
    ~50) would otherwise only ever see the first one or two families.
    Interleaving puts a representative of EVERY family in the first
    len(modules()) entries, so a prefix window exercises the whole
    surface — this is how e06's round-3 breakage slipped past a gate that
    stopped inside the q* block. ``GATE_PRIORITY`` additionally rotates
    the never-yet-gated tail of each family into the window."""
    prio = set(GATE_PRIORITY)
    heads = [{k: v for k, v in d.items() if k in prio} for d in dicts]
    tails = [{k: v for k, v in d.items() if k not in prio} for d in dicts]

    def robin(ds: list[dict]) -> dict:
        iters = [iter(d.items()) for d in ds]
        out: dict = {}
        while iters:
            alive = []
            for it in iters:
                try:
                    k, v = next(it)
                except StopIteration:
                    continue
                out[k] = v
                alive.append(it)
            iters = alive
        return out

    merged = robin(heads)
    merged.update(robin(tails))
    return merged


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out = _interleave([getattr(mod, "QUERIES", {}) for mod in modules()])
    return {name: _with_cache_release(fn) for name, fn in out.items()}


def all_oracles() -> dict[str, str]:
    """Oracle SQL keyed by entry name, in ``all_queries()`` order so any
    prefix-sampling harness sees query/oracle pairs consistently."""
    merged = _interleave([getattr(mod, "ORACLES", {}) for mod in modules()])
    order = _interleave([getattr(mod, "QUERIES", {}) for mod in modules()])
    return {k: merged[k] for k in order if k in merged}


def resolve_catalog_query(
    spark: SparkSession, query: str, data_dir: str
) -> DataFrame | None:
    """If ``query`` is a ``catalog:<name>`` reference, build that operator's
    DataFrame over ``data_dir``; otherwise return None (caller treats the
    string as SQL). Unknown names raise KeyError — the executor's per-dump
    isolation turns that into a failed dump, not a crashed run."""
    q = query.strip()
    if not q.startswith(CATALOG_PREFIX):
        return None
    name = q[len(CATALOG_PREFIX) :].strip()
    fns = all_queries()
    if name not in fns:
        import difflib

        close = difflib.get_close_matches(name, fns, n=3, cutoff=0.5)
        hint = f"; did you mean {', '.join(repr(c) for c in close)}?" if close else ""
        raise KeyError(
            f"unknown catalog query {name!r} (known: {len(fns)} operators{hint})"
        )
    return fns[name](spark, data_dir)
