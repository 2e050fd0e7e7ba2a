#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]. The FINAL
stdout line is the compact contract JSON: {"metric": ..., "value":
total_sec, "unit": "sec", "queries": {name: sec}, "sf": ..., "cpus":
...} (≈0.6 KB so a reader that keeps only the tail of the output can
never truncate it — see the note at the end of main()); the line
before it is the full document with the extended per-query map.

Headline set: one representative per operator family — scan-agg, join,
window/argmax, islands, spatial join, sessionization, dedup (minhash),
similarity (cosine top-k), plus the MOT IoU-argmax. Each timing is the
full action (fresh Catalyst plan + execute + count); the reported
number is the min of 3 runs, which strips co-tenant load spikes and
one-time whole-stage-codegen compilation while still re-planning every
query from scratch (steady-state cost, the figure that matters for a
repeated production workload).

Wall time here is reported, not gated: it swings 1.5-2x with host
load. Plan regressions in every benched query are caught by
`tests/test_work_counters.py`, which compares deterministic work
counters (jobs, stages, input rows, file scans, exchanges) against the
checked-in `tests/work_baseline.json`.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from iceberg_tracking_spark.plans import QUERIES  # noqa: E402
from iceberg_tracking_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "q_sum_count",
    "q_equijoin",
    "q_theta_argmax",
    "q_islands",
    "q_grid_join",
    "q_session_window",
    "q_minhash_lsh",
    "q_cosine_topk",
    "q_iou_argmax",
    "q_rollup",
    # as-of join, LSH ANN, token accounting, eval metrics, star join
    "q_asof_join",
    "q_ann_lsh",
    "q_token_count",
    "q_eval_metrics",
    "q_star_join",
]

# Secondary set (min-of-3 timings in the "extended" key of the full
# document): one representative per newer operator family.
EXTENDED = [
    # graph, interval join, fuzzy match, sketches, media, hybrid retrieval
    "q_pagerank",
    "q_interval_join",
    "q_fuzzy_match",
    "q_char_entropy",
    "q_hll",
    "q_count_min",
    "q_image_decode",
    "q_rrf_fusion",
    # distributed ranking, packing, histogram sketch, BPE, data mixing
    "q_auc",
    "q_pack_sequences",
    "q_pack_sequences_sharded",
    "q_histogram_quantiles",
    "q_bpe_learn",
    "q_domain_mixture",
    "q_curriculum",
    "q_training_manifest",
    "q_ann_recall",
    "q_ann_recall_multiprobe",
    # detection / tracking eval
    "q_average_precision",
    "q_eval_identity",
    "q_eval_combined",
    # sketches, gates, curation
    "q_heavy_hitters",
    "q_bloom_pruned_join",
    "q_neardup_gate",
    "q_classifier_score",
    "q_chunk_documents",
    "q_retrieval_metrics",
    "q_ann_ivf_recall",
    # feature engineering, eval, graph
    "q_target_encoding",
    "q_feature_hashing",
    "q_lag_features",
    "q_item_cooccurrence",
    "q_reliability_ece",
    "q_merge_upsert",
    "q_shortest_path",
    "q_l_diversity",
    "q_item_similarity",
    "q_seasonal_decompose",
    "q_bpe_encode",
    # regression, feature selection, binning, drift, experimentation stats
    "q_linear_fit",
    "q_mutual_information",
    "q_quantile_binning",
    "q_gini_skew",
    "q_conformal",
    "q_ks_test",
    "q_psi",
    "q_markov_transitions",
    "q_attribution",
    "q_dsir_weights",
    "q_rfm",
    "q_kaplan_meier",
    "q_cuped",
    "q_poisson_bootstrap",
    "q_anova",
    "q_chi2_independence",
    # media decode, quantization, batching, span dedup
    "q_png_decode",
    "q_int8_quantize",
    "q_length_buckets",
    "q_dup_span_removal",
    # ALS half-step, FDR control
    "q_als_step",
    "q_benjamini_hochberg",
    # sketch fidelity, sequential testing
    "q_minhash_fidelity",
    "q_msprt",
    # rank tests, audits, autocorrelation, recommenders, classifier eval
    "q_mann_whitney",
    "q_benford",
    "q_acf",
    "q_slope_one",
    "q_confusion_matrix",
    "q_knn_accuracy",
    "q_zipf_fit",
    # GIF decode
    "q_gif_decode",
    # rank statistics, calibration, graph link scores, video
    "q_spearman",
    "q_kruskal_wallis",
    "q_permutation_test",
    "q_isotonic_calibration",
    "q_adamic_adar",
    "q_hits",
    "q_theil_sen",
    "q_video_motion",
    "q_label_propagation",
    # animated GIF, WebP, association statistics
    "q_gif_frames",
    "q_webp_decode",
    "q_kendall_tau",
    "q_cliffs_delta",
    "q_js_divergence",
    # media cataloging, exact tau-b, trend monitoring
    "q_media_catalog",
    "q_kendall_exact",
    "q_mann_kendall",
    # media accounting, paired-rater agreement, change detection
    "q_media_accounting",
    "q_mcnemar",
    "q_cohens_kappa",
    "q_cochran_q",
    "q_friedman",
    "q_cusum_prefix",
]


# Host canary: a fixed synthetic shuffle+aggregate with no repo code in
# its plan, timed once before the queries. It records how loaded the
# host was (host_factor = canary / its idle minimum) so a reader can
# scale the run's wall times; it gates nothing.
CANARY_FLOOR_SEC = 0.475  # idle-host minimum of the canary


def _canary_sec(spark) -> float:
    """Min-of-3 of a fixed synthetic shuffle+agg (20M rows, 32 parts)."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        (
            spark.range(0, 20_000_000, 1, 32)
            .selectExpr("id % 9973 AS k", "id")
            .groupBy("k")
            .agg({"id": "sum"})
            .count()
        )
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="bench")
    timings: dict[str, float] = {}
    # Warm the JVM once (not counted): codegen plus the parquet/Arrow
    # reader paths — classloading on the first columnar scan otherwise
    # bills ~2 s of one-time JVM setup to whichever query runs first.
    spark.range(1000).count()
    from iceberg_tracking_spark.sources.tables import load_table

    load_table(spark, sf_dir, "lineitem").limit(1000).count()
    load_table(spark, sf_dir, "events").limit(1000).count()
    # min of 3 runs per query: this host shows 1.5-2x transient-load
    # swings across identical code, and the min is the standard
    # estimator for stripping co-tenant noise from a fixed workload.
    # Every run executes the full action from a cold plan;
    # `runs_per_query` records the method.
    RUNS = 3
    errors: dict[str, str] = {}
    canary = round(_canary_sec(spark), 3)
    host_factor = max(1.0, canary / CANARY_FLOOR_SEC)
    print(
        f"# canary: {canary:.3f}s (floor {CANARY_FLOOR_SEC:.3f}s, "
        f"host_factor {host_factor:.2f})",
        file=sys.stderr,
    )

    for name in HEADLINE:
        # Per-query isolation: one failing query must never zero the
        # whole run's record.
        q = QUERIES[name]
        best = float("inf")
        n = 0
        try:
            for _ in range(RUNS):
                t0 = time.perf_counter()
                n = q.fn(spark, sf_dir).count()
                best = min(best, time.perf_counter() - t0)
        except Exception as exc:  # noqa: BLE001 — record and keep going
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"# {name}: FAILED {errors[name][:120]}", file=sys.stderr)
            continue
        timings[name] = round(best, 3)
        print(f"# {name}: {timings[name]:.3f}s ({n} rows)", file=sys.stderr)
    total = round(sum(timings.values()), 3)
    # Secondary, NON-headline timings for the newer operator families
    # (min-of-3, same discipline as the headline set; the headline
    # metric and set stay fixed so run-over-run ratios remain comparable).
    extended: dict[str, float] = {}
    for name in EXTENDED:
        try:
            best = float("inf")
            for _ in range(RUNS):
                t0 = time.perf_counter()
                QUERIES[name].fn(spark, sf_dir).count()
                best = min(best, time.perf_counter() - t0)
            extended[name] = round(best, 3)
            print(f"# ext {name}: {extended[name]:.3f}s", file=sys.stderr)
        except Exception as exc:  # noqa: BLE001
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
    doc = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "extended": extended,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0),
        "runs_per_query": RUNS,
        "canary_sec": canary,
        "canary_floor_sec": CANARY_FLOOR_SEC,
        "host_factor": round(host_factor, 3),
    }
    if errors:
        doc["errors"] = errors
    # Two-line output: a one-line JSON carrying the extended map grew
    # past an output-tail capture and was truncated away. The FULL
    # document goes out first on its own stdout line for the record;
    # the FINAL line — the one a reader of the run parses — is the
    # compact contract doc (headline total + 15-query map + sf/cpus/
    # canary, ~0.6 KB) plus any errors, which must never be silently
    # dropped.
    print(json.dumps(doc))
    compact = {
        k: doc[k]
        for k in (
            "metric", "value", "unit", "queries", "sf", "cpus",
            "runs_per_query", "canary_sec", "canary_floor_sec",
            "host_factor",
        )
    }
    compact["extended_total_sec"] = round(sum(extended.values()), 3)
    compact["n_extended"] = len(extended)
    if errors:
        compact["errors"] = errors
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
