"""Planted-skew stress: the join and session-window paths under a hot key
at 10x data (VERDICT r2 item 6).

Corpus: 200k events where user 0 owns 20% (every 5th event) on a tight
50-second cadence — one giant session — while 999 cold users each see
their events ~2.8h apart — every event its own session. The construction
makes expected session structure EXACT, so correctness under skew is a
count check, not a tolerance.

The join test forces a sort-merge join with AQE skew thresholds lowered to
test scale, and asserts Spark actually SPLIT the hot partition
(``skew=true`` on the join in the final adaptive plan) while producing
exact counts — the evidence that per-task input stays bounded when one key
holds 20% of the table.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

N_EVENTS = 200_000
N_HOT = N_EVENTS // 5  # ids 0, 5, 10, ... → user 0
N_COLD_USERS = 999


@pytest.fixture(scope="module")
def skew_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("skew_events")
    # hot user 0: every 5th event, 50s apart (id*10s) → gaps << 30min → ONE
    # session. cold user u (1..999): ids ≡ u-1 (mod 999) not divisible by 5,
    # so consecutive own events are ≥ 999*10s ≈ 2.8h apart → each its own
    # session.
    ev = spark.range(N_EVENTS).select(
        F.col("id").alias("event_id"),
        F.expr(
            "timestamp_seconds(1700000000 + id * 10)"
        ).alias("ts"),
        F.expr("IF(pmod(id, 5) = 0, 0, pmod(id, 999) + 1)").alias("user_id"),
        F.lit("click").alias("event_type"),
        F.expr("CAST(pmod(id, 100) AS DOUBLE) / 4").alias("value"),
        F.lit("{}").alias("props"),
    )
    ev.write.parquet(f"file://{d}/events.parquet")
    return str(d)


@pytest.mark.slow
def test_session_windows_exact_under_hot_user(spark, skew_dir):
    from floorist_spark.operators.events_analytics import e03_session_windows

    res = e03_session_windows(spark, skew_dir).persist()
    hot = res.filter(F.col("user_id") == 0).collect()
    # the hot user's 40k events collapse into exactly one session — the
    # skewed groupBy key is handled by partial aggregation, not a hot task
    assert len(hot) == 1
    assert hot[0]["n_events"] == N_HOT
    # every cold event is its own session
    assert res.count() == 1 + (N_EVENTS - N_HOT)
    assert (
        res.filter(F.col("user_id") != 0).filter(F.col("n_events") != 1).count() == 0
    )
    res.unpersist()


@pytest.fixture
def aqe_skew_conf(spark):
    """Lower AQE skew thresholds to test scale and force SMJ (no broadcast),
    restoring the session conf afterwards. The shuffle partition count is
    pinned too: the session's follows the CPU count, and at 4 partitions
    the hot key's partition (~80k rows) is exactly 2x the median (~40k),
    so ``skewedPartitionFactor`` never flags it; at 16 it is far above."""
    keys = {
        "spark.sql.shuffle.partitions": "16",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
    }
    saved = {}
    for k, v in keys.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    yield
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


@pytest.mark.slow
def test_aqe_splits_skewed_join_partition(spark, skew_dir, aqe_skew_conf):
    events = spark.read.parquet(f"file://{skew_dir}/events.parquet")
    users = spark.range(N_COLD_USERS + 1).select(
        F.col("id").alias("user_id"),
        F.concat(F.lit("user_"), F.col("id")).alias("name"),
    )
    joined = events.join(users, "user_id").select("event_id", "user_id", "name")
    # collect() executes THIS DataFrame's query execution, so its AQE plan
    # finalizes (count() would run a separate, re-optimized execution whose
    # final plan is invisible from here)
    assert len(joined.collect()) == N_EVENTS  # exact under the hot key

    final_plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final_plan
    # the hot partition (user 0 = 20% of the fact side) must have been
    # split by AQE's skew-join rule, not fed to a single straggler task
    assert "skew=true" in final_plan, final_plan[:2000]


# -- m12 under a mass-duplicated block (round 6) ------------------------------


def test_m12_exact_under_hot_block(spark, tmp_path):
    """Planted block-level skew: 20k documents all SHARE one identical
    payload (one digest owned by 20k (doc, idx) rows) while 1k docs are
    distinct. The ownership groupBy map-side-combines the hot digest to
    one owner row per partition before the exchange, and the survivor
    join's hot key is AQE-splittable — correctness under that skew is an
    exact count check by construction."""
    from floorist_spark.operators.multimodal import (
        BLOCK_BYTES,
        m12_block_dedup_census,
    )

    n_hot, n_cold = 20_000, 1_000
    hot_body = "h" * BLOCK_BYTES  # one block, identical across all hot docs
    docs = spark.range(n_hot + n_cold).selectExpr(
        "id AS doc_id",
        f"IF(id < {n_hot}, '{hot_body}', "
        f"concat('cold-', CAST(id AS STRING))) AS text",
    )
    out = str(tmp_path / "hotblock")
    docs.write.parquet(f"{out}/documents.parquet")

    res = m12_block_dedup_census(spark, out)
    agg = res.selectExpr(
        "count(*) AS n_docs",
        "sum(n_first_owned) AS owned",
        "sum(n_blocks) AS blocks",
    ).collect()[0]
    assert agg["n_docs"] == n_hot + n_cold
    assert agg["blocks"] == n_hot + n_cold  # every doc exactly one block
    # exactly ONE owner for the hot block + one per distinct cold doc
    assert agg["owned"] == 1 + n_cold
    # the owner of the hot block is the lowest doc_id
    first = res.filter("doc_id = 0").collect()[0]
    assert first["n_first_owned"] == 1
    some_hot = res.filter("doc_id = 7").collect()[0]
    assert some_hot["n_first_owned"] == 0


# -- d20/d21 under a mass-duplicated corpus (round 6) -------------------------


def test_d20_exact_under_mass_duplication(spark, tmp_path):
    """One source ships 20k byte-identical docs plus nothing else; a
    second source ships 1k distinct docs plus ONE copy of the hot doc.
    The digest groupBy map-side-combines the hot digest before its
    exchange (20k rows → one partial per partition), so the census is
    exact regardless of the hot key."""
    from floorist_spark.operators.dedup import d20_source_dup_overlap

    n_hot, n_cold = 20_000, 1_000
    docs = spark.range(n_hot + n_cold + 1).selectExpr(
        "id AS doc_id",
        f"IF(id < {n_hot} OR id = {n_hot + n_cold}, 'hot doc body', "
        "concat('cold-', CAST(id AS STRING))) AS text",
        f"IF(id < {n_hot}, 'botfarm', 'organic') AS source",
    )
    out = str(tmp_path / "massdup")
    docs.write.parquet(f"{out}/documents.parquet")
    got = {
        r["source"]: r for r in d20_source_dup_overlap(spark, out).collect()
    }
    bot, org = got["botfarm"], got["organic"]
    assert bot["n_docs"] == n_hot and bot["n_distinct_digests"] == 1
    assert bot["n_dup_docs"] == n_hot and bot["n_cross_docs"] == n_hot
    assert org["n_docs"] == n_cold + 1
    assert org["n_distinct_digests"] == n_cold + 1
    assert org["n_dup_docs"] == 1 and org["n_cross_docs"] == 1


def test_d21_novelty_exact_under_mass_duplication(spark, tmp_path):
    """20k re-crawls of one page: the first copy owns every shingle, the
    other 19 999 score zero novelty, and the shingle-ownership exchange
    carries (hash, doc_id) pairs whose hot keys map-side-combine in the
    min-aggregate — total novel shingles equals the distinct-shingle
    count of the two distinct texts."""
    from floorist_spark.operators.dedup import d21_shingle_novelty

    n_hot = 20_000
    docs = spark.range(n_hot + 1).selectExpr(
        "id AS doc_id",
        f"IF(id < {n_hot}, 'the same hot page body', 'a different page') "
        "AS text",
    )
    out = str(tmp_path / "masssh")
    docs.write.parquet(f"{out}/documents.parquet")
    res = d21_shingle_novelty(spark, out)
    agg = res.selectExpr(
        "count(*) AS n_docs",
        "sum(n_novel) AS novel",
        "sum(IF(novelty_frac = 0.0, 1, 0)) AS zero_novelty",
    ).collect()[0]
    sh = lambda t: {t[i : i + 5] for i in range(len(t) - 4)}
    # total first-owned = distinct shingles across the corpus (shared
    # shingles are owned once, by the earlier text)
    n_union = len(sh("the same hot page body") | sh("a different page"))
    assert agg["n_docs"] == n_hot + 1
    assert agg["novel"] == n_union
    assert agg["zero_novelty"] == n_hot - 1


def test_d22_boilerplate_exact_under_mass_template(spark, tmp_path):
    """20k docs share one template prefix; tails cycle through 26
    single-letter blocks, so every prefix-internal shingle appears in
    ALL 20k docs (boilerplate) while every tail/boundary shingle appears
    in only ~770 (< 25%, not boilerplate). The (source, hash) exchange
    map-side-combines the hot shingle keys, and the census is exact —
    computed here against an independent python 5-gram model."""
    from floorist_spark.operators.dedup import d22_boilerplate_census

    n = 20_000
    prefix = "template header body "
    docs = spark.range(n).selectExpr(
        "id AS doc_id",
        f"concat('{prefix}', repeat(char(97 + CAST(id % 26 AS INT)), 6)) "
        "AS text",
        "'crawl' AS source",
    )
    out = str(tmp_path / "masstpl")
    docs.write.parquet(f"{out}/documents.parquet")
    (got,) = d22_boilerplate_census(spark, out).collect()

    sh = lambda t: {t[i : i + 5] for i in range(len(t) - 4)}
    # shingles fully inside the prefix: shared by every doc
    p_sh = {prefix[i : i + 5] for i in range(len(prefix) - 4)}
    per_letter = {c: sh(prefix + chr(97 + c) * 6) for c in range(26)}
    counts = {c: n // 26 + (1 if c < n % 26 else 0) for c in range(26)}
    n_occ = sum(counts[c] * len(per_letter[c]) for c in range(26))
    union = set().union(*per_letter.values())
    # only prefix-internal shingles clear the 25% bar (tail groups are
    # ~770/20000 each)
    assert got["n_docs"] == n
    assert got["n_distinct_shingles"] == len(union)
    assert got["n_occurrences"] == n_occ
    assert got["n_boiler_shingles"] == len(p_sh)
    assert got["boiler_occurrences"] == len(p_sh) * n
    assert got["boiler_frac"] == (len(p_sh) * n) / float(n_occ)


def test_t22_rake_exact_under_mass_repetition(spark, tmp_path):
    """One phrase repeated across 20k docs: the word-stat and phrase
    aggregates both see a single hot key and must map-side-combine it.
    deg/freq arithmetic stays exact: freq(w) = 20k per word, deg(w) =
    3·20k (every occurrence sits in a 3-word phrase)."""
    from floorist_spark.operators.text import t22_rake_keyphrases

    n = 20_000
    docs = spark.range(n).selectExpr(
        "id AS doc_id", "'quick brown fox' AS text"
    )
    out = str(tmp_path / "massphrase")
    docs.write.parquet(f"{out}/documents.parquet")
    (got,) = t22_rake_keyphrases(spark, out).collect()
    assert got["phrase"] == "quick brown fox"
    assert (got["n_words"], got["n_occurrences"], got["n_docs"]) == (3, n, n)
    assert got["sum_deg"] == 3 * 3 * n
    assert got["sum_freq"] == 3 * n
    assert got["score"] == 3.0


def test_d24_spans_exact_under_mass_duplication(spark, tmp_path):
    """20k byte-identical 12-token docs plus 1k unique docs: every anchor
    digest of the hot text is shared by 20k documents, but d24 never
    pairs documents — the dup test is a min/max digest aggregate
    (map-side-combined hot key) and the join back is 1:1 per anchor row
    — so each hot doc reports FULL coverage (one merged span of all 12
    tokens) and every unique doc reports zero, exactly."""
    from floorist_spark.operators.dedup import d24_exact_substring_spans

    n_hot, n_cold = 20_000, 1_000
    hot_text = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11"
    docs = spark.range(n_hot + n_cold).selectExpr(
        "id AS doc_id",
        # cold docs: every token carries the doc id, so no 8-gram is
        # shared between any two cold docs
        f"IF(id < {n_hot}, '{hot_text}', array_join(transform("
        "sequence(1, 10), i -> concat('u', CAST(id AS STRING), 'x', "
        "CAST(i AS STRING))), ' ')) AS text",
    )
    out = str(tmp_path / "massdup24")
    docs.write.parquet(f"{out}/documents.parquet")
    res = d24_exact_substring_spans(spark, out)
    agg = res.selectExpr(
        f"sum(IF(doc_id < {n_hot}, 1, 0)) AS hot_rows",
        f"sum(IF(doc_id < {n_hot} AND n_spans = 1 AND covered_tokens = 12 "
        "AND n_dup_anchors = 5, 1, 0)) AS hot_exact",
        f"sum(IF(doc_id >= {n_hot} AND covered_tokens = 0 "
        "AND n_dup_anchors = 0, 1, 0)) AS cold_clean",
    ).collect()[0]
    assert agg["hot_rows"] == n_hot
    assert agg["hot_exact"] == n_hot  # 12 tokens -> 5 anchors, all dup
    assert agg["cold_clean"] == n_cold
