"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line {"metric", "value", "unit", "queries", "sf"}.

Each query is timed to a ``count()`` with a warm session, which lets
Spark prune columns the count does not need — it is not a full-result
materialization (``perfbench/run.py`` gives full-result and per-layer
figures). JVM startup is excluded per BASELINE.md. Reported per-query
wall is the best of $SPARK_GRAFT_BENCH_RUNS (default 3) warm runs — single-shot timings on a
shared box swing ±30% with unrelated load. The JSON line carries the
1-minute load average at start and end so a noisy-neighbor run is
recognizable in the recorded artifact.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q_flagship_revenue_cube",
    "q_filter_compound",
    "q_join_inner",
    "q_groupby_multi",
    "q_cube_dense",
    "q_window_moving_avg",
    "q_topk_per_group",
    "q_graph_closure",
    "q_events_session",
    "q_dedup_minhash",
    "q_sim_topk",
    "q_text_tfidf",
    "q_jx_cube",
    "q_skew_salted_agg",
    "q_tpch_shipping_priority",
    "q_token_entropy",
    "q_funnel_conversion",
    "q_dedup_incremental",
    "q_graph_pagerank",
    "q_tpch_local_supplier",
    "q_tpch_volume_shipping",
    "q_scd2_dimension",
    "q_dedup_snm",
    "q_tpch_returned_items",
    "q_tpch_forecast_revenue",
    "q_kmeans_clusters",
    "q_dedup_paragraph",
    "q_heavy_hitters",
    "q_graph_hits",
    # round 6: the two heaviest ranking-family rewrites — trend
    # visibility for the range-partitioned rank/prefix-sum plans
    "q_customer_rfm",
    "q_abc_classification",
    # round 7 (the r6 verdict's bench-refresh list): bounded-exchange
    # quantile trend, agg-vs-window dedup trend, serving-tier ANN trend
    "q_sketch_quantiles",
    "q_dedup_latest_wins",
    "q_sim_topk_quantized",
    # round 8 (the r7 verdict's bench-refresh list): zero-exchange
    # weighted sampling, linear-sketch trend, serving-tier
    # diversification trend
    "q_sample_reservoir_weighted",
    "q_sketch_countmin",
    "q_sim_mmr_rerank",
    # round 9 (the r8 verdict's bench-refresh list): window-free
    # constant-tail ranking-drift trend, iterative-linear-algebra trend
    # beside kmeans/pagerank
    "q_rank_rbo",
    "q_embedding_pca",
    # round 10 (the r9 verdict's bench-refresh pick): iterative-text
    # trend — BPE tokenizer training (8 checkpointed merge rounds), the
    # one expensive family without a trend line beside the
    # iterative-graph and iterative-linear-algebra rows
    "q_bpe_merges",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from modevetl_spark.queries import all_queries
    from modevetl_spark.session import get_spark, quiet_bounded_window_warnings

    spark = get_spark(app_name="modevetl-bench")
    quiet_bounded_window_warnings(spark)
    queries = all_queries()
    names = [n for n in HEADLINE if n in queries] or sorted(queries)

    # warm up the JVM / parquet footer caches on a trivial action
    spark.range(1000).count()

    load_start = round(os.getloadavg()[0], 2)
    timings: dict[str, float] = {}
    # best-of-3 per query: single-shot walls on this shared box swing
    # ±30% with unrelated load (measured 26 s vs 41 s totals minutes
    # apart); the min of three warm runs is the stable throughput figure
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    for name in names:
        fn = queries[name]
        best = None
        for _ in range(n_runs):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            n = df.count()
            elapsed = time.perf_counter() - t0
            best = elapsed if best is None else min(best, elapsed)
        timings[name] = round(best, 3)
        print(f"# {name}: {timings[name]:.3f}s rows={n}", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = None
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "load_1m_start": load_start,
                "load_1m_end": round(os.getloadavg()[0], 2),
                "runs_per_query": n_runs,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
