"""Headline benchmark: times the engine's representative queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``, else ``local[*]``, and prints ONE JSON line::

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q11_pricing_summary": sec, ...}, "sf": 0.1}

Each query executes fully via the no-op sink (``format("noop")``) so the
timing covers scan → shuffle → result materialization without driver
collect overhead. One warm-up scan of lineitem amortizes JVM/codegen
startup so per-query numbers reflect steady-state plans.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Representative set: the reference-derived floor (1M cross-join dump),
#: the TPC-H-shaped flagship + join/window workloads, and one headline per
#: LLM-pipeline family (dedup / similarity / text / events).
HEADLINE = (
    "q05b_cross_join_1m",
    "q11_pricing_summary",
    "q12_shipping_priority",
    "q13_local_supplier_volume",
    "q17_window_topk_per_group",
    "q18_window_running",
    "q31_salted_distinct_agg",
    "q32_percentiles",
    "q33_range_window",
    "q42_full_outer_join",
    "d01_exact_dedup",
    "d03_minhash_lsh_candidates",
    "d04_lsh_jaccard_dedup",
    "d06_simhash_near_pairs",
    "d07_embedding_neardup",
    "d10_curation_keep",
    "d11_semantic_dedup",
    "d15_passage_dedup",
    "s01_cosine_topk_brute",
    "s02_lsh_bucketed_ann",
    "s04_ivf_search",
    "s08_quantized_rerank",
    "s11_pq_quantize",
    "t01_token_stats",
    "t05_top_bigrams",
    "t06_regex_tokens",
    "t08_word_repetition",
    "t09_dup_ngram_fraction",
    "t10_tfidf_topk",
    "t12_bigram_lm_score",
    "c04_pack_bins",
    "c05_decontamination",
    "c06_mixture_weights",
    "c07_curation_pipeline",
    "e01_tumbling_hourly",
    "e03_session_windows",
    "e05_asof_join",
    "e06_range_join",
    "e09_funnel",
    "e17_path_analysis",
    "e19_cooccurrence_lift",
    "e20_hll_distinct",
    "e23_rolling_active",
    "e24_growth_accounting",
    "e25_attribution",
    "c13_data_card",
    "c14_epoch_allocation",
    "s13_filtered_ann",
    "s14_index_health",
    "t16_zipf_audit",
    "t17_token_diversity",
    "d16_soft_dedup_weights",
    "d17_incremental_dedup",
    "d18_dup_graph_triangles",
    "e26_alert_throttle",
    "m11_scene_cuts",
    "t13_gopher_rules",
    "t15_bpe_merges",
    "c11_bloom_decontaminate",
    "c12_passage_chunks",
    "e22_zorder_layout",
    "m01_binary_ingest",
    "m03_byte_histogram",
    "m05_frame_sample",
    "m10_contrastive_pairs",
    # round-6 additions (index tuning/maintenance + new modality passes)
    "d19_lsh_tuning_curve",
    "e27_dwell_histogram",
    "m12_block_dedup_census",
    "t18_pii_scrub",
    "c15_curriculum_phases",
    "s15_probe_frontier",
    "e28_lateness_audit",
    "e29_streaming_funnel",
    "c16_dedup_aware_mixture",
    "d20_source_dup_overlap",
    "t19_distribution_outliers",
    "s16_mmr_diversify",
    "d21_shingle_novelty",
    "e30_bot_regularity",
    "e31_seasonality_profile",
    "t20_readability",
    "t21_vocab_coverage",
    "c17_budget_waterfill",
    "s17_hard_negatives",
    "m13_vad_segments",
    "e32_ewma_trend",
    "t22_rake_keyphrases",
    "c18_oversample_plan",
    "s18_rrf_fusion",
    "m14_cdc_chunks",
    "d22_boilerplate_census",
    "d23_dup_graph_pagerank",
    "m15_chunk_overlap_pairs",
    "d24_exact_substring_spans",
    "t23_encoding_anomalies",
    "c19_contamination_report",
    "s19_tombstone_compaction",
    "e33_outage_gaps",
    "m16_payload_size_census",
    "c20_shard_manifest",
    "e34_conversion_lag",
    "s20_cell_rebalance",
    "t24_source_divergence",
    "d25_lsh_recall_audit",
    "m17_block_size_sweep",
    "d26_cluster_size_census",
    "t25_code_detect",
    "c21_ctx_length_sweep",
    "e35_seasonal_anomaly",
    "s21_embedding_hygiene",
    "d27_threshold_sweep",
    "m18_caption_rate_audit",
    "q43_semi_join",
    "d28_candidate_score_histogram",
    "s22_nprobe_cost_frontier",
    "t26_hapax_census",
    "c22_split_leakage_audit",
    "e36_burst_windows",
    "m19_modality_mix_manifest",
    "q44_set_ops_all",
    "d29_detector_agreement",
    "s23_recall_vs_nprobe",
    "t27_token_class_census",
    "c23_mixture_shift",
    "e37_session_length_histogram",
    "m20_byte_uniformity_census",
    "m21_phash_candidate_histogram",
    # round-8 additions
    "d15c_multiplicity_census",
    "m22_magic_byte_census",
    "s24_centroid_separation",
    # round-8 wave 14
    "q45_recursive_gapfill",
    "e38_user_concentration",
    "t28_token_rarity",
    "m23_label_sniff_consistency",
    "d30_source_pair_similarity",
    "c24_decon_width_sweep",
    "s25_quantization_width_sweep",
    # round-8 wave 15
    "d31_containment_audit",
    "s26_quantized_recall",
    "c25_quality_threshold_sweep",
    "t29_vocab_growth_curve",
    "e39_watermark_delay_sweep",
    "d32_cosine_threshold_sweep",
    "m24_cross_source_assets",
)


def _sf_from_dir(path: str) -> float:
    m = re.search(r"sf([0-9.]+)", path)
    return float(m.group(1).rstrip(".")) if m else -1.0


def _stream_startup_floor(spark, errors: dict[str, str]) -> float | None:
    """Zero-row streaming query through the full micro-batch machinery —
    see the call site for why this runs BEFORE the headline entries."""
    import shutil
    import tempfile

    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    from floorist_spark.session import load_table
    from floorist_spark.streaming.stateful import _stream_dir_for

    def _noop_state(key, pdfs, state):
        for _ in pdfs:
            pass
        return iter(())

    one_long = StructType([StructField("v", LongType())])
    ckpt = tempfile.mkdtemp(prefix="floorist_bench_stream_ckpt_")
    try:
        schema = load_table(spark, SF_DIR, "events").schema
        t0 = time.time()
        q = (
            spark.readStream.schema(schema)
            .parquet(_stream_dir_for(SF_DIR, "events"))
            .filter("event_id < 0")  # never true: zero rows, full machinery
            .selectExpr("user_id AS v")
            .groupBy("v")
            .applyInPandasWithState(
                _noop_state,
                one_long,
                one_long,
                "update",
                GroupStateTimeout.NoTimeout,
            )
            .writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return round(time.time() - t0, 3)
    except Exception as e:  # noqa: BLE001 — floor is advisory
        errors["stream_startup_floor"] = (
            f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
        )
        return None
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


#: Entries re-run twice with the min recorded (same discipline as the
#: export entries). These are the top analytic swing entries: the round-10
#: adjudication showed them moving 20-60% run-to-run on a contended box
#: with no code change (driver x00 13.0s vs builder/judge 10.7s at the
#: same commit), which forced a full judge re-bench to tell noise from
#: regression. Min-of-2 records the steady-state cost directly.
MIN_OF_2 = frozenset(
    {
        "d06_simhash_near_pairs",
        "d29_detector_agreement",
        "e26_alert_throttle",
        "t15_bpe_merges",
        # r11 additions: these swung 2-6x between same-commit sweeps under
        # co-tenant load (e.g. m21 17.4s contended vs 2.9s clean, e29
        # 3.8s vs 8.3s) while their warm-solo mins were flat — the same
        # adjudication problem the first four had in round 10
        "d15_passage_dedup",
        "d23_dup_graph_pagerank",
        "e29_streaming_funnel",
        "m21_phash_candidate_histogram",
        "s16_mmr_diversify",
    }
)


def _host_steal_sec() -> float | None:
    """Cumulative hypervisor CPU-steal (cpu-seconds, whole host) from
    /proc/stat. The endpoint calibration probes miss MID-RUN co-tenant
    bursts: r11 session 2 sampled /proc/stat at 2s during a full bench
    whose start/end calibrations both read idle (0.46/0.44s) and found
    1018 cpu-s stolen — 32% of the window's busy time, peaking at half
    the box. Deltas recorded per entry make an inflated number
    attributable from the artifact alone. Linux-only; None elsewhere."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        return int(parts[8]) / os.sysconf("SC_CLK_TCK")
    except Exception:  # noqa: BLE001 — diagnostics only, never fatal
        return None


def _calibration_probe(spark) -> float:
    """Fixed reference computation (~1s idle): a pure-CPU codegen sum over
    a billion-row range, no I/O, no shuffle beyond the final reduce. Run
    at bench start AND end and recorded in the JSON so a contended run is
    diagnosable from the artifact alone — the round-10 driver total
    (325s vs 252s judge-idle, same commit) was only adjudicable because
    the judge re-ran the whole bench; with this probe the co-tenancy
    diagnosis is mechanical (probe >> idle value ⇒ machine contention,
    not engine regression). The first invocation per session pays ~2.5s of
    codegen compilation; one untimed warm call makes start and end measure
    the same steady-state computation (~0.5s idle on this box)."""
    if not getattr(_calibration_probe, "_warm", False):
        spark.range(0, 1_000_000_000, 1, 32).selectExpr(
            "sum(xxhash64(id) % 1000003) AS s"
        ).collect()
        _calibration_probe._warm = True
    t0 = time.time()
    spark.range(0, 1_000_000_000, 1, 32).selectExpr(
        # modular hash keeps the running sum < 1e15 (ANSI mode: a plain
        # product-sum overflows long and aborts the probe)
        "sum(xxhash64(id) % 1000003) AS s"
    ).collect()
    return round(time.time() - t0, 3)


def main() -> int:
    from __spark_entry__ import queries
    from floorist_spark.session import get_spark, load_table

    spark = get_spark("floorist_bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()

    # warm-up: touch the big table once so JVM startup isn't billed to q1,
    # and spin up the Python worker pool (pandas import per worker) so the
    # first mapInPandas query measures steady-state, not pool cold-start
    load_table(spark, SF_DIR, "lineitem").count()
    cpus = spark.sparkContext.defaultParallelism
    spark.range(cpus * 2).repartition(cpus).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    # Failure isolation: one broken entry must cost ONE number, not the
    # whole artifact (round 3 lost every bench number to a single
    # AnalysisException). Failures land in "errors" and the run continues.
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    #: every attempt's wall seconds for the min-of-N entries (r11 verdict
    #: item 6: the min-discipline must be auditable from the artifact
    #: alone, not from the run log)
    wall_all_runs: dict[str, list[float]] = {}

    calib_start = _calibration_probe(spark)
    print(f"  calibration(start): {calib_start:.3f}s", file=sys.stderr)

    # Memo-build attribution: the dedup family shares session-lifetime
    # memos (hashed shingles → MinHash signatures → LSH-verified pairs,
    # _cache.memo). Built lazily, the one-time build cost lands on
    # whichever d* entry runs first — round-5 bench billed it to d03,
    # which read as a 1.43x regression when the chain total had actually
    # DROPPED. Build the chain explicitly as its own timed line so every
    # d* number is steady-state and the build cost stays auditable.
    from floorist_spark.operators.dedup import (
        _cluster_labels,
        _simhash_fp,
        _verified_pairs,
    )

    def _warm_dedup_memos(data_dir: str) -> float | None:
        t0 = time.time()
        try:
            # materializes the whole dedup memo tier: verified pairs
            # (deriving band rows ← signatures ← shingles along the way),
            # the converged cluster labels, and the SimHash fingerprints.
            # r11 session 2: labels and fp were previously built lazily
            # by their first in-sweep consumer (d10 and d06 — HEADLINE
            # entries), so those two numbers carried a one-time build the
            # other 10+ chain consumers amortize; building them here puts
            # the cost on the line that exists to hold it (same round-5
            # rationale that created x00). Disclosed in
            # OPTIMIZATION_r11.md — the x00 number grows by what d10/d06
            # shed; the total is unchanged.
            _verified_pairs(spark, data_dir)
            _cluster_labels(spark, data_dir)
            _simhash_fp(spark, data_dir)
        except Exception as e:  # noqa: BLE001 — consumers rebuild lazily
            errors["x00_dedup_memo_build"] = (
                f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
            )
            return None
        return round(time.time() - t0, 3)

    # min-of-2 (see MIN_OF_2): release and rebuild once, record the best
    # cold-build time. The second build leaves the memos warm for the d*
    # headline entries exactly as a single build would.
    from floorist_spark.operators._cache import release_memos as _release_memos

    warm = _warm_dedup_memos(SF_DIR)
    if warm is not None:
        _release_memos()
        warm2 = _warm_dedup_memos(SF_DIR)
        best_warm = min(w for w in (warm, warm2) if w is not None)
        # one successful build is enough for a number — never leave the
        # entry simultaneously timed and errored in the artifact
        errors.pop("x00_dedup_memo_build", None)
        timings["x00_dedup_memo_build"] = best_warm
        wall_all_runs["x00_dedup_memo_build"] = [
            round(w, 3) for w in (warm, warm2) if w is not None
        ]
        print(
            f"  x00_dedup_memo_build: {best_warm:.3f}s"
            f" min-of-{sum(w is not None for w in (warm, warm2))}",
            file=sys.stderr,
        )

    # Streaming-startup split: every streaming entry (e26 here; e04/e07/
    # e08/e15/d08 in the wider catalog) pays a fixed per-query cost just
    # to spin the micro-batch machinery — source listing, checkpoint
    # setup, per-shuffle-partition state-store init, Python state-worker
    # round-trip — before a single row is processed. Measure that floor
    # with the SAME machinery the entries use (applyInPandasWithState on
    # the events stream) driven over ZERO rows (constant-false filter), so
    # the number is pure startup, no per-row work.
    #
    # Round 8: measured BEFORE the headline loop, not after. The SESSION'S
    # FIRST streaming query additionally pays one-time state-worker/
    # machinery spin-up, and with the floor probe at the end that cold
    # cost landed on e26 (the first streaming headline entry) — measured
    # solo 3x: e26 9.29/5.41/5.01s, the zero-row floor itself 4.63/1.64/
    # 1.61s. That is the whole story of e26's r6→r7 driver swing
    # (2.14s→8.12s with no code change): the entry's number was
    # cold-vs-warm roulette. Probing first pins the cold cost to this
    # explicit floor line and makes every streaming entry steady-state
    # and round-comparable.
    stream_floor = _stream_startup_floor(spark, errors)
    if stream_floor is not None:
        print(f"  stream_startup_floor: {stream_floor:.3f}s", file=sys.stderr)

    steal_by_entry: dict[str, float] = {}
    steal_run_start = _host_steal_sec()
    for name in HEADLINE:
        runs = 2 if name in MIN_OF_2 else 1
        best = None
        best_steal = None
        for _ in range(runs):
            # steal sampled PER RUN (ADVICE r11): the recorded delta is
            # the one of the run that produced the KEPT (min) timing, so
            # a burst during a discarded attempt can no longer be
            # attributed to a clean best number (or vice versa)
            steal0 = _host_steal_sec()
            t0 = time.time()
            try:
                qs[name](spark, SF_DIR).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception as e:  # noqa: BLE001 — record and keep benching
                errors[name] = (
                    f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
                )
                print(f"  {name}: FAILED {errors[name]}", file=sys.stderr)
                continue
            elapsed = time.time() - t0
            steal1 = _host_steal_sec()
            run_steal = (
                round(steal1 - steal0, 2)
                if steal0 is not None and steal1 is not None
                else None
            )
            if runs > 1:
                wall_all_runs.setdefault(name, []).append(round(elapsed, 3))
            if best is None or elapsed < best:
                best = elapsed
                best_steal = run_steal
        if best is None:
            # every attempt failed: no timing, so no steal record either
            # (ADVICE r11 — per-entry steal keys must align with
            # timings_sec)
            continue
        if best_steal is not None and best_steal > 0:
            steal_by_entry[name] = best_steal
        errors.pop(name, None)  # a later attempt succeeded; keep one number
        timings[name] = round(best, 3)
        tag = " min-of-2" if runs == 2 else ""
        print(f"  {name}: {timings[name]:.3f}s{tag}", file=sys.stderr)

    # the reference's actual job: the 1M-row dump through the real sink
    # (BASELINE.md pins 1000 gzip files at chunksize 1000).
    import shutil
    import tempfile

    from floorist_spark.storage import StorageClient

    out = tempfile.mkdtemp(prefix="floorist_bench_export_")
    try:
        storage = StorageClient(spark, f"file://{out}")
        df_1m = qs["q05b_cross_join_1m"](spark, SF_DIR)
        key = "x01_export_1m_parity"
        # The export is disk-bound (1000 gzip files) and has swung ~2x
        # between runs of the same commit on a contended box (32.2s,
        # 20.9s and 16.3s). Run it twice and record the min — the
        # steady-state cost, same discipline as the e26 stream-startup
        # floor probe above.
        best = None
        nfiles = None
        ok_runs = 0
        for attempt in range(2):
            _, target = storage.make_path(f"{key}_try{attempt}")
            t0 = time.time()
            try:
                nfiles = storage.write_parquet(df_1m, target, chunksize=1000)
            except Exception as e:  # noqa: BLE001 — try the other run
                errors[key] = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
                print(f"  {key}: FAILED {errors[key]}", file=sys.stderr)
                continue
            elapsed = time.time() - t0
            ok_runs += 1
            wall_all_runs.setdefault(key, []).append(round(elapsed, 3))
            best = elapsed if best is None else min(best, elapsed)
        if best is not None:
            # at least one run succeeded: the entry gets ONE number and
            # no error record (an entry must never read as both timed
            # and failed in the same artifact)
            errors.pop(key, None)
            timings[key] = round(best, 3)
            print(
                f"  {key}: {timings[key]:.3f}s min-of-{ok_runs}"
                f" ({nfiles} files)",
                file=sys.stderr,
            )
    finally:
        shutil.rmtree(out, ignore_errors=True)

    # each entry's build released its predecessor's caches; free the last
    # one (plus the session-lifetime dedup memos) so the sweep ends with
    # zero persisted partitions
    from floorist_spark.operators._cache import release_caches, release_memos

    release_caches()
    release_memos()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0, "cache leak"

    # Scaling visibility: re-time the headline set at the small scale and
    # report wall(SF)/wall(small) per entry. With a 10x data ratio a
    # scan-bound entry lands well under 10 (fixed overhead dominates at
    # the small scale); an entry whose ratio APPROACHES OR EXCEEDS the
    # data ratio is superlinear and needs a plan audit — the artifact now
    # carries that signal instead of burying it in prose.
    slopes: dict[str, float] = {}
    small_dir = os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.01")
    if os.path.isdir(small_dir) and os.path.realpath(small_dir) != os.path.realpath(
        SF_DIR
    ):
        small: dict[str, float] = {}
        warm_small = _warm_dedup_memos(small_dir)
        if warm_small is not None and warm_small > 0:
            small["x00_dedup_memo_build"] = warm_small
        for name in HEADLINE:
            t0 = time.time()
            try:
                qs[name](spark, small_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception:  # noqa: BLE001 — slope is best-effort
                continue
            small[name] = time.time() - t0
        release_caches()
        release_memos()
        slopes = {
            n: round(timings[n] / small[n], 2)
            for n in timings
            if small.get(n, 0) > 0
        }

    calib_end = _calibration_probe(spark)
    print(f"  calibration(end): {calib_end:.3f}s", file=sys.stderr)

    out = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": _sf_from_dir(SF_DIR),
        "cpus": cpus,
        "calibration_sec": {"start": calib_start, "end": calib_end},
    }
    if stream_floor is not None:
        out["stream_startup_floor_sec"] = stream_floor
    if wall_all_runs:
        out["wall_all_runs"] = wall_all_runs
    steal_run_end = _host_steal_sec()
    if steal_run_start is not None and steal_run_end is not None:
        out["host_steal_cpu_sec"] = {
            "headline_window_total": round(steal_run_end - steal_run_start, 1),
            # only entries whose window saw theft, to keep the dict short
            "per_entry": {
                k: v for k, v in steal_by_entry.items() if v >= 0.5
            },
        }
    if slopes:
        out["scale_ratio_vs_sf0.01"] = slopes
    if errors:
        out["errors"] = errors
    print(json.dumps(out))
    # versioned full-timing artifact (round-8 verdict task 4): the
    # driver's tail truncation keeps only the summary line, so
    # round-over-round per-query regression detection needs the full map
    # committed — `SPARK_GRAFT_BENCH_OUT=BENCHLOCAL_rNN.json python bench.py`
    artifact = os.environ.get("SPARK_GRAFT_BENCH_OUT")
    if artifact:
        with open(artifact, "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)

    # The grading driver records only the LAST 2000 characters of this
    # output, so a catalog-sized "queries" dict pushes the line's HEAD
    # (metric/value/totals) past the cut and the whole line fails to
    # parse (BENCH_r06 "parsed": null). Emit a compact summary as the
    # FINAL line — always inside the tail window, always parseable; the
    # full per-query line above stays for local runs and readers.
    exports = {k: v for k, v in timings.items() if k.startswith("x0")}
    slowest = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:5]
    )
    summary = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": "sec",
        "sf": out["sf"],
        "cpus": out["cpus"],
        "n_queries": len(timings),
        "n_errors": len(errors),
        "calibration_sec": out["calibration_sec"],
        "queries": {**exports, **slowest},
        "note": "summary line; full per-query timings on the previous line",
    }
    if errors:
        summary["error_names"] = sorted(errors)[:10]
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
