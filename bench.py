"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE short JSON line for the
driver — {"metric", "value", "unit", "sf", "n_queries", "apps": {the 3
canonical reference apps}, "many_job"} — and writes the full per-query
timing map to bench_full.json next to this file. (Round 5 lesson: the
one-line output grew past the driver's ~2.2 KB tail capture once the
suite hit 110 queries, beheading the JSON — BENCH_r05 "parsed": null.
The driver line is now bounded regardless of suite size; the judge
reads bench_full.json for per-query numbers.)

Each query is forced end-to-end with the noop sink (full materialization,
no driver collect). Headliners cover the reference's three canonical apps
plus the relational / LLM-pipeline surface.

The metric is STEADY-STATE latency: each query runs once untimed
immediately before its timed run (absorbing one-time costs that are
not properties of the query — Janino codegen JIT, parquet footer/page
cache, Python worker spinup). The warmup must be ADJACENT to the timed
run: round 1 used a single sf0.001 warmup (aggregation: 10.65 s driver
vs 1.1 s measured warm) and a round-2 experiment with one whole-suite
warm pass still left the first timed queries paying multi-second GC /
cache-decay costs from the 20+ intervening queries."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession

import __spark_entry__ as entrymod
from eclipse_spark.session import run_concurrent

# Round stamp for the per-query artifact (VERDICT r14 item 2a: the r14
# 8-core scaling rerun overwrote bench_full.json and the driver's own
# 32-core per-query map was lost — PERF_r14 per_query: {}, geomean
# null). Every run now ALSO writes bench_full_r{ROUND}_c{cpus}.json, so
# per-query walls survive any rerun order; and the main bench_full.json
# is NOT overwritten by a run at a LOWER core count than the one it
# holds (same sf), so the 32-core map outlives the scaling rerun.
# Bump per optimization round alongside the window rotation.
ROUND = 15


def stamped_artifact_name(cpus: int | str) -> str:
    return f"bench_full_r{ROUND}_c{cpus}.json"


HEADLINE = [
    "word_count",
    "inverted_index",
    "aggregation",
    "tpch_q1",
    "tpch_q5",
    "tpch_q6",
    "tpch_q18",
    "join_5way",
    "window_topk",
    "events_sessionize",
    "dedup_exact",
    "minhash_candidates",
    "ann_topk",
    "ann_ivf",
    "asof_join",
    "text_quality",
    "media_meta",
    # round 2 additions
    "tpch_q2",
    "tpch_q9",
    "simhash_candidates",
    "semcache_demo",
    "pagerank",
    "hypertable_rollup",
    "funnel",
    "triangle_count",
    "decontaminate",
    "semdedup",
    "chunking",
    "bpe_train",
    "unigram_logprob",
    "group_sample",
    "time_travel",
    "sequence_pack",
    "anomaly_zscore",
    # round 4 additions
    "span_dedup",
    "mixture_sample",
    "incremental_dedup",
    "dataset_split",
    "quality_classifier",
    "media_resize",
    "bpe_encode",
    # round 5 additions
    "tfidf_topterms",
    "data_profile",
    "table_diff",
    "pq_encode",
    "ann_pq",
    "random_projection",
    "pmi_bigrams",
    "skipgram_pairs",
    "phrase_search",
    "text_normalize",
    "ewma",
    "session_paths",
    "bucketed_join",
    "label_propagation",
    "anomaly_mad",
    "bigram_logprob",
    "containment_lsh",
    "data_profile_by",
    "cluster_topics",
    "bfs_distances",
    "rolling_corr",
    "minhash_estimate",
    "fuzzy_join",
    "apss_cosine",
    "activity_islands",
    "interpolate",
    "attribution",
    "frequent_pairs",
    "er_resolve",
    "chi_square",
    "winsorize",
    "ks_drift",
    "rolling_distinct",
    "mv_refresh",
    "events_stream_ivm",
    "linreg",
    "clustering_coeff",
    "collapse_lines",
    "negative_sampling",
    "temporal_join",
    "curation_pipeline",
    "events_stream_enrich",
    "mv_refresh_minmax",
    "quantile_normalize",
    "transitions",
    "gini",
    "dwell_times",
    "label_separability",
    "dense_index",
    "ann_lsh_multiprobe",
    "schema_evolution",
    "referential_integrity",
    "pps_sample",
    "lsh_s_curve",
    "entry_exit",
    "order_lifecycle",
    "rfm_segments",
    "cohort_ltv",
    "new_vs_returning",
    "dau_mau",
    "time_weighted_avg",
    "price_reconciliation",
    "pareto_80_20",
    "rank_movers",
    "activity_heatmap",
    "hhi_concentration",
    "dup_cluster_sizes",
    "repurchase_interval",
    "session_baskets",
    # round 6 additions: real BMP decode / resize (vendored codec),
    # keep-first overlapping substring dedup (Lee et al. ExactSubstr)
    "media_decode_bmp",
    "media_resize_bmp",
    "substring_dedup",
    "cc_star",
    "events_stream_asof",
    "shortest_path",
    "int8_quantize",
    "ann_int8",
    "storage_layouts",
    # round 7 additions: Gopher rule verdicts, hashing-trick features,
    # real WAV audio decode + frame energies
    "gopher_rules",
    "feature_hash",
    "media_decode_wav",
    "media_audio_frames",
    "media_video_frames",
    "mv_refresh_join",
    "mg_heavy_hitters",
    "semcache_subplan",
    "ohlc_bars",
    # round 8 additions: auto-scaled + Arrow/numpy-kernel SemDeDup,
    # VWAP bars, max drawdown, exact ROC AUC, k-anonymity release
    # gates, serpentine export sharding, k-core peeling, atomic
    # multi-table snapshot round-trip
    "semdedup_autoscale",
    "semdedup_scaled",
    "vwap_bars",
    "max_drawdown",
    "auc_roc",
    "k_anonymity",
    "reid_summary",
    "shard_balance",
    "kcore",
    "atomic_snapshot",
    "ktruss",
    "storage_compact",
    "bloom_prune_join",
    "hll_rollup",
    "apss_jaccard",
    "semantic_decontaminate",
    "kmv_overlap",
    # round 9 additions: Count-Min point frequencies, join-key skew
    # audit, perceptual dHash image near-dup, zero-copy table branch
    "cms_token_freq",
    "skew_audit",
    "media_dhash",
    "storage_branch",
    "cms_join_size",
    "kmv_set_ops",
    "quantile_rollup",
    # round 10 additions: 128-bit composed-key dHash (the large-corpus
    # escape hatch), the bucketed-explode interval-overlap join, and
    # incremental Count-Min maintenance (base + delta == rebuild)
    "media_dhash_wide",
    "interval_join",
    "cms_refresh",
    "media_curation_pipeline",
    # round-11 additions: the streaming MinHash bucket rollup and the
    # storage+cache lineage audit (NOT in STABLE_TIER — created this
    # round, no baseline to drift from)
    "stream_near_dedup",
    "lineage_audit",
    "media_audio_fingerprint",
    "media_audio_pipeline",
    "media_video_near_dup",
    # round-12 additions: the shared-semcache cross-modality curation
    # run, the shift-robust (offset-enumerated) video near-dup, and
    # the streaming audio bucket rollup (NOT in STABLE_TIER — created
    # this round, no baseline to drift from)
    "cross_modal_curation",
    "media_video_shifted",
    "stream_audio_dedup",
    "stream_video_dedup",
    "media_audio_shifted",
    "media_incremental_dedup",
    # round-13 additions: the incremental cross-modality refresh (daily
    # batch -> shared survivor gate under one semcache -> per-modality
    # new x ref index joins) and the embedding tier of the incremental
    # family (cell-partitioned new x ref SemDeDup); NOT in STABLE_TIER —
    # created this round
    "cross_modal_incremental",
    "semantic_incremental_dedup",
    "semantic_incremental_scaled",
    # NOTE: coreness is deliberately NOT a headliner: the h-index
    # fixpoint runs ~17 synchronous rounds on this graph, so its bench
    # number (16s warm at sf0.1) would measure driver round-trip
    # latency x chain length — a constant-per-round cost already
    # represented by the iterative headliners (cc_star, pagerank,
    # kcore) — not data-volume scaling. Correctness is driver-gated
    # (window position 26) and the exact fixpoint is oracle-checked.
    # NOTE: media_index_refresh and stream_media_refresh are
    # deliberately NOT headliners for the
    # same reason as incremental_dedup_cached below: the self-contained
    # query rebuilds its catalog index artifact every call, so its
    # bench number would measure index construction, not the
    # steady-state refresh. The refresh-shape evidence lives in
    # test_round13_fixes.py (ref side served from the bucketed index
    # scan, strictly fewer Arrow stages than the direct path).
    # NOTE: incremental_dedup_cached is deliberately NOT a headliner:
    # the self-contained query rebuilds its index artifact every call,
    # so its bench number would measure index construction, not the
    # steady-state refresh the operator exists for. The refresh-shape
    # evidence lives in test_plan_quality.py (ref side scanned from
    # the stored index, not re-shingled).
    # NOTE: ann_ivf_refresh and ann_ivf_refresh_stream (round 14) join
    # the same exclusion class — the self-contained queries build the
    # IVF index per call. The steady-state numbers for the WHOLE
    # refresh family now live in bench_refresh.json
    # (tools/bench_refresh.py — VERDICT r13 task 1: stored artifact
    # built once OUTSIDE the timer, the refresh join alone warm +
    # min-of-3), merged into bench_full.json below.
]

# STABLE TIER (VERDICT r9 task 8): a FIXED 50-query subset that owns
# the round-over-round comparison. At 160+ headliners x min-of-2, the
# suite's cold/warm variance produced more drift flags than signal —
# so the stable tier gets min-of-THREE timed runs (a tighter steady-
# state estimate) and is the ONLY tier whose regressions raise drift
# flags; every other headliner still records min-of-2 + spread, and
# its regressions land in an informational map without flagging. The
# set is FROZEN (one query per operator family, the three canonical
# apps first) — do not rotate it, or the comparison baseline dies.
STABLE_TIER = frozenset([
    "word_count", "inverted_index", "aggregation",
    "tpch_q1", "tpch_q5", "tpch_q9", "tpch_q18",
    "join_5way", "window_topk", "events_sessionize",
    "dedup_exact", "minhash_candidates", "ann_topk", "ann_ivf",
    "asof_join", "text_quality", "semcache_demo", "pagerank",
    "hypertable_rollup", "triangle_count", "decontaminate", "semdedup",
    "bpe_train", "bpe_encode", "data_profile", "table_diff",
    "pq_encode", "apss_cosine", "apss_jaccard", "clustering_coeff",
    "curation_pipeline", "temporal_join", "dense_index",
    "substring_dedup", "cc_star", "shortest_path", "int8_quantize",
    "storage_layouts", "gopher_rules", "feature_hash",
    "media_decode_bmp", "media_decode_wav", "mv_refresh",
    "events_stream_ivm", "kcore", "ktruss", "mg_heavy_hitters",
    "bloom_prune_join", "hll_rollup", "kmv_overlap",
])


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1")

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("eclipse_spark_bench")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r15: AQE applies to cached-plan materialization (ships in the
        # engine session defaults too — session.py documents why; the
        # bench session mirrors the engine configuration so the
        # measured plans are the shipped plans)
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        # sf0.1 parquet files are ~10-60 MB each — split well below the
        # 128 MB default so scans fan out over the local cores the same
        # way a real cluster would over executors
        .config("spark.sql.files.maxPartitionBytes", "16m")
        # FAIR mode so the many_job probe shares task slots across
        # concurrently submitted jobs (pools materialize on demand);
        # single-job latency numbers are unaffected (one pool, all slots)
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    queries = entrymod.queries()

    timings: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    for name in HEADLINE:
        fn = queries[name]
        # Untimed warm run at the TARGET SF immediately before the
        # timed run (see module docstring): same plan, same data —
        # everything one-time is paid here, adjacent to the clock.
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as exc:  # the timed run below will surface it
            print(f"WARM-RUN FAILED {name}: {exc!r}", file=sys.stderr)
        # plan-build stays inside the clock: the timed number is still
        # end-to-end (analysis + optimization + execution). Min of two
        # timed runs — single-shot numbers on a shared host showed
        # transient 2-5x outliers (CPU contention), and min-of-N is the
        # standard steady-state estimator for that noise model. BOTH
        # run times are recorded (VERDICT r6 task 7): min is the
        # steady-state estimate, the spread is the host-noise band that
        # lets the next round tell plan regressions from noise.
        both: list[float] = []
        # stable-tier queries (the frozen round-over-round comparison
        # set) get min-of-THREE; the rest min-of-two (VERDICT r9 task 8)
        for _ in range(3 if name in STABLE_TIER else 2):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            both.append(round(time.perf_counter() - t0, 3))
        timings[name] = min(both)
        runs[name] = both
        # Iterative operators persist() intermediates (pagerank edges,
        # IVF centroids, CC labels) whose lifecycle belongs to the
        # caller; without a release, 36 queries x 3 runs accumulate
        # dozens of cached RDDs and later queries pay their GC/evict
        # pressure (measured: pagerank 11.4 s late in the suite vs
        # 5.1 s isolated). Clear between queries so each number is the
        # query's own cost.
        spark.catalog.clearCache()

    # Many-job throughput probe — the reference's second published
    # metric (BASELINE.md row 4: 10 -> 100 concurrent word-count jobs,
    # ~linear elapsed growth once task slots saturate). N identical
    # word-count jobs submitted at once from N threads, one FAIR pool
    # each; elapsed-vs-N near-linear (slope ~ suite latency) means the
    # scheduler admits jobs concurrently instead of head-of-line
    # blocking — sub-linear at small N is the concurrency headroom.
    wc = queries["word_count"]

    def _one_job() -> None:
        wc(spark, sf_dir).write.format("noop").mode("overwrite").save()

    # All runs recorded per N (VERDICT r7 task 7). The 64-point gets
    # min-of-THREE (VERDICT r10 task 1): its per-run distribution is
    # wide and bimodal-ish — 8 identical fresh-process runs measured
    # 9.7-18.3 s with no warming trend (fresh-process repeats), so
    # min-of-2 under-samples the fast mode and round-over-round deltas
    # at min-of-2 were sampling noise, not scheduler regressions
    # (r9's 8.70 vs r10's 14.39 were draws from the SAME distribution:
    # r9 runs [14.19, 8.70], r10 session runs [15.80, 7.95], r10
    # driver runs [15.49, 14.39]). run_concurrent now also caps
    # submission threads at half the CPUs (session.py admission
    # control), which removes the 64-thread GIL/py4j contention floor.
    many_job: dict[str, float] = {}
    many_job_runs: dict[str, list[float]] = {}
    _one_job()  # warm (codegen + parquet footers), adjacent to the clock
    for n in (1, 4, 16, 64):
        both_mj: list[float] = []
        for _ in range(3 if n == 64 else 2):
            t0 = time.perf_counter()
            run_concurrent(spark, [_one_job] * n)
            both_mj.append(round(time.perf_counter() - t0, 3))
        many_job[str(n)] = min(both_mj)
        many_job_runs[str(n)] = both_mj
    spark.catalog.clearCache()

    total = round(sum(timings.values()), 3)
    here = os.path.dirname(os.path.abspath(__file__))

    # plan signatures from PLAN_AUDIT.json (structural: shuffle/scan/
    # broadcast/UDF counts) — "unchanged plan" for the drift check
    plan_sigs: dict[str, str] = {}
    try:
        with open(os.path.join(here, "PLAN_AUDIT.json")) as fh:
            audit = json.load(fh).get("queries", {})
        plan_sigs = {
            n: json.dumps(audit[n], sort_keys=True)
            for n in timings
            if n in audit
        }
    except (OSError, ValueError):
        pass

    # drift check (VERDICT r6 task 7): against the PREVIOUS round's
    # bench_full.json (still on disk before we overwrite it below) —
    # flag any query whose min regressed >1.5x while its structural
    # plan signature is unchanged (host noise vs plan regression).
    drift: dict[str, dict] = {}
    informational: dict[str, dict] = {}
    try:
        with open(os.path.join(here, "bench_full.json")) as fh:
            prev = json.load(fh)
        prev_q = prev.get("queries", {})
        prev_sigs = prev.get("plan_sigs", {})
        for n, cur in timings.items():
            old = prev_q.get(n)
            if old and cur > 1.5 * old:
                entry = {
                    "prev_sec": old,
                    "cur_sec": cur,
                    "plan_changed": plan_sigs.get(n) != prev_sigs.get(n)
                    if n in prev_sigs
                    else None,
                }
                # only the FROZEN stable tier raises drift flags
                # (VERDICT r9 task 8): non-stable regressions are
                # recorded informationally, not flagged — their
                # min-of-2 numbers carry too much host variance for
                # the flag to mean anything (new_vs_returning r9: the
                # 0.31 -> 0.49 s flag reproduced as plain host
                # slowness when re-measured isolated)
                if n in STABLE_TIER:
                    drift[n] = entry
                else:
                    informational[n] = entry
        # many-job drift flags (VERDICT r7 task 7), same 1.5x bar
        prev_mj = prev.get("many_job", {})
        mj_drift = {
            n: {"prev_sec": prev_mj[n], "cur_sec": cur}
            for n, cur in many_job.items()
            if prev_mj.get(n) and cur > 1.5 * prev_mj[n]
        }
        if mj_drift:
            drift["many_job"] = mj_drift
    except (OSError, ValueError):
        pass

    # Third timed run for noise-flagged queries (VERDICT r7 task 8):
    # a >1.5x regression with an UNCHANGED plan signature has been host
    # noise two rounds running (dau_mau, time_weighted_avg) — min-of-3
    # keeps real plan regressions from hiding behind the noise-flag
    # habit. Queries whose plan DID change keep their flag untouched:
    # that is a genuine regression signal, not noise.
    for n, info in list(drift.items()):
        if n == "many_job" or info.get("plan_changed") is not False:
            continue
        fn = queries[n]
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        third = round(time.perf_counter() - t0, 3)
        spark.catalog.clearCache()
        runs[n].append(third)
        timings[n] = min(runs[n])
        info["third_run_sec"] = third
        info["cur_sec"] = timings[n]
        if timings[n] <= 1.5 * info["prev_sec"]:
            info["resolved_by_third_run"] = True
    total = round(sum(timings.values()), 3)

    full = {
        "metric": "headline_suite_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "query_runs": runs,  # all timed runs: min + spread per query
        "stable_tier": sorted(STABLE_TIER),
        "plan_sigs": plan_sigs,
        "drift_vs_prev": drift,
        # non-stable-tier >1.5x regressions: recorded, not flagged
        "non_stable_regressions": informational,
        "many_job": many_job,
        "many_job_runs": many_job_runs,  # both runs: min + spread per N
        "sf": sf,
        "cpus": int(cpus),
        "n_queries": len(timings),
    }
    # sf-scaling probe ratios (tools/scale_probe.py writes the sidecar;
    # merge them so bench_full.json is the one-stop perf artifact)
    scaling_path = os.path.join(here, "bench_scaling.json")
    if os.path.exists(scaling_path):
        with open(scaling_path) as fh:
            full["sf_scaling"] = json.load(fh)
    # steady-state refresh tier (tools/bench_refresh.py — the numbers
    # for the index-refresh family bench.py's headliners exclude by
    # design: build outside the timer, refresh join alone timed)
    refresh_path = os.path.join(here, "bench_refresh.json")
    if os.path.exists(refresh_path):
        with open(refresh_path) as fh:
            full["refresh_steady_state"] = json.load(fh)
    # round+cpu-stamped per-query artifact: survives any rerun order
    with open(os.path.join(here, stamped_artifact_name(int(cpus))), "w") as fh:
        json.dump(full, fh, indent=1, sort_keys=True)
    # the main artifact is only replaced by a run at >= its core count
    # at the same sf (the low-core SCALING rerun must not clobber the
    # headline per-query map — VERDICT r14 item 2a); the drift check
    # above already read the previous contents.
    main_path = os.path.join(here, "bench_full.json")
    keep_main = False
    try:
        with open(main_path) as fh:
            existing = json.load(fh)
        keep_main = (
            existing.get("sf") == sf
            and int(existing.get("cpus", 0)) > int(cpus)
        )
    except (OSError, ValueError):
        pass
    if not keep_main:
        with open(main_path, "w") as fh:
            json.dump(full, fh, indent=1, sort_keys=True)
    # Driver-facing line: bounded size (~300 B) no matter how many
    # queries the suite grows to.
    print(
        json.dumps(
            {
                "metric": "headline_suite_total",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "n_queries": len(timings),
                "apps": {
                    k: timings[k]
                    for k in ("word_count", "inverted_index", "aggregation")
                    if k in timings
                },
                "many_job": many_job,
                "drift_flags": len(drift),
                "full": "bench_full.json",
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
