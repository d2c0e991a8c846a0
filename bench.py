#!/usr/bin/env python
"""Benchmark: run the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON
line: {"metric": ..., "method": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is executed to completion via the ``noop`` sink — a
``count()`` action would let Catalyst prune every column and skip the
actual computation for projection-only queries, under-reporting by
10x+ — after a session warmup; time measured per query, wall-clock.

``--all`` times every registered query once, in registry order, which
is registration order (``plans/__init__.py``).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from openweathermapapi_etl_spark.plans import QUERIES  # noqa: E402
from openweathermapapi_etl_spark.session import get_session  # noqa: E402

#: Headline set: the flagship plus one representative per operator
#: family and per distinct execution pattern (shuffle shape, driver
#: loop, stateful stream, Arrow batch, commit path), so a regression in
#: any of them shows in the total.
BENCH_QUERIES = [
    "flagship_q3",
    "b06_select_expr",
    "b07_filter_predicates",
    "b10_inner_join",
    "b11_left_join",
    "b14_range_join",
    "b15_asof_join",
    "b16_groupby_agg",
    "b17_count_distinct",
    "b20_rollup",
    "b23_ranking_windows",
    "b25_window_frames",
    "b27_top_k",
    "b28_topk_per_group",
    "c01_exact_dedup",
    "c02_minhash_signatures",
    "c02_minhash_fast",
    "c02_lsh_candidates",
    "c03_cosine_topk_lsh",
    "c03_cosine_topk_ivf",
    "c04_token_stats",
    "m1_keyed_upsert",
    "b44_foreachbatch_upsert",
    "a10_weather_pipeline_e2e",
    "c05_feature_extract",
    "c05_frame_sample",
    "c06_dedup_clusters",
    "c04_repetition_stats",
    "m2_scd2_merge",
    "c03_kmeans_iter",
    "m3_snapshot_diff",
    "b26_global_rank",
    "m5_compaction_plan",
    "b24_gap_fill_ffill",
    "c03_pq_encode",
    "c03_ivf_pq_topk",
    "b53_state_timeout_expiry",
    "c04_repeated_spans",
    "c04_bm25_topk",
    "c07_epoch_shuffle",
    "b10_bloom_runtime_filter",
    "c02_semdedup",
    "c04_bigram_interp_score",
    "c03_sq8_encode",
    "c06_cc_alternating_star",
    "c04_ppl_buckets",
    "m6_targeted_delete",
    "c02_setsim_exact",
    "c06_jaccard_neighbors",
    "m10_reconcile_checksum",
    "c03_pca_project",
    "c04_pmi_lift",
    "b16_weighted_median",
    "c02_incremental_neardup",
    "c02_cross_corpus_overlap",
    "c03_ivf_persist",
    "c02_winnow_matches",
    "c03_bq_rerank_funnel",
    "m15_cdc_agg_maintenance",
    "c03_mrl_rerank_funnel",
    "c04_dsir_importance",
    "c04_boilerplate_strip",
    "c03_graph_expand_topk",
    "c03_centroid_drift",
    "c03_jl_projection",
    "c04_first_copy_dedup",
    "c03_rvq_encode",
    "c05_cdc_chunking",
    "flagship_q5",
    "flagship_q18",
    "c06_kcore",
    "c06_incremental_cc",
    "c03_kcenter_select",
    "c09_decontaminate_semantic",
]


def main() -> None:
    # --all: time EVERY registered query, not just the headline set,
    # so a wall-time regression anywhere in the book is visible
    # (compare two sweeps with tools/bench_diff.py).
    run_all = "--all" in sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_session("bench")

    def force(df) -> None:
        """Fully evaluate every output column (no column pruning)."""
        df.write.format("noop").mode("overwrite").save()

    # Warmup: JIT + codegen + file listing, not measured.
    force(QUERIES["b01_parquet_scan"](spark, sf_dir))

    names = list(QUERIES) if run_all else BENCH_QUERIES
    if run_all:
        # Head warmup: whichever queries run first absorb the session's
        # remaining JIT/codegen ramp and read ~2-3x hot, so one
        # unmeasured pass over the first names keeps their figures
        # comparable with the rest. 16 covers the measured ramp (8 left
        # positions 8-10 hot, including the first JDBC query, which
        # pays the one-time Derby boot for the whole session).
        for name in names[:16]:
            force(QUERIES[name](spark, sf_dir))
    # Headline mode reports MIN-OF-3 per query: single-shot numbers
    # carry a ~1.15x session/cache noise band, and the host shows
    # multi-second CPU-steal bursts (SCALE.md "Measuring on a shared
    # host"); with three runs a single burst is discardable. The first
    # (cold) run pays file listing + codegen + JIT; the min is the
    # comparable figure. --all stays single-shot per sweep.
    repeats = 1 if run_all else 3
    timings: dict[str, float] = {}
    for name in names:
        if name not in QUERIES:
            continue
        best = float("inf")
        for _ in range(repeats):
            t0 = time.perf_counter()
            force(QUERIES[name](spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)

    print(
        json.dumps(
            {
                "metric": (
                    "full_book_runtime" if run_all
                    else "headline_queries_total_runtime"
                ),
                "method": (
                    "single_shot_headwarm" if run_all
                    else f"min_of_{repeats}"
                ),
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )


if __name__ == "__main__":
    main()
