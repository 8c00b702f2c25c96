"""Headline-query timing at $SPARK_GRAFT_SF_DIR (default sf0.1).

The repo's performance yardstick is ``python3 perfbench/run.py``
(``BENCHMARK.json``). This script is the sf0.1 headline CLI that
``BASELINE.json``'s "BENCH within 2x of BASELINE" check is stated
against.

Methodology: a global warm-up (table footers + one untimed flagship
execution for JVM/codegen startup), then every headline query runs once
untimed (its own plan/codegen warm-up) and ``N_RUNS`` timed runs through
the noop sink — full plan execution, no driver-side collect. The final
stdout line is one JSON object:

    {"metric": "headline_queries_total_sec", "value": N, "unit": "sec",
     "queries": {name: median_sec}, "n_runs": 3, "sf": 0.1}

The test data is regenerated between rounds, so dedup-family medians
move with the data, not only the code: compare against the same parquet
snapshot.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_RUNS = 3

# Headline set: the flagship plus one representative per operator family
# (join, star-broadcast, agg, window, top-k, sessionization, json, dedup,
# similarity, text quality) and the expensive archetypes (multi-join
# TPC-H shapes, transitive near-dup clusters, sequence packing) — the
# queries whose plans matter most at 100 TB.
HEADLINE = [
    "q01_pricing_summary",
    "q04_join_inner",
    "q05_join_star_broadcast",
    "q13_groupby_having",
    "q22_window_rank",
    "q25_topk_per_group",
    "q28_json_extract",
    "q37_sessionize",
    "q39_retention",
    "q40_tumbling_window",
    "x41_exact_dedup",
    "x43_minhash_lsh_neardup",
    "x101_minhash_fast_exact_tier",
    "x45_cosine_topk",
    "x49_quality_score",
    "q79_volume_shipping",
    "q86_supplier_wait",
    "q95_market_share",
    "x96_neardup_clusters",
    # production dedup path: xxhash64 clusters + incremental anti-join —
    # the fast family, not the md5 oracle-pinned x43/x96
    "x115_neardup_clusters_fast",
    "x117_incremental_dedup",
    "x97_sequence_pack",
    "x104_global_shuffle",
    "x111_pii_scrub",
    "x113_token_budget_sample",
    # Zipfian hot-key join (sort-merge pinned): carries the SMJ cost the
    # 100 TB plan pays; AQE skew-split engagement proven in tests/test_skew.py
    "x122_skew_join_zipf",
    # layout + sketch + LM-scoring paths: Morton interleave (codegen'd bit
    # math + one agg exchange), mergeable HLL union, corpus-trained
    # unigram-LM quality scoring
    "x124_zorder_layout",
    "q123_hll_union_contract",
    "x125_unigram_logprob",
    # Q22 archetype: scalar-subquery + anti-join decorrelation
    "q126_sales_opportunity",
    # tokenizer training + graph dataflow: BPE merge-pair counting
    # (vocab-first explode), domain PageRank (3 unrolled iterations over
    # the checkpointed syndication graph)
    "x134_bpe_merge_pairs",
    "x138_domain_pagerank",
    # media seam: the Arrow-batched Python decode path is the engine's
    # ONE deliberate Python hot path — x53 (stdlib raster decode via
    # mapInPandas) and x83 (AVI/MJPEG frame sampling)
    "x53_decode_mapinpandas",
    "x83_frame_sample",
    # histogram-shaped PR curve (x154's PQ recall CONTRACT stays out: a
    # contract pays a brute-force baseline by construction)
    "x155_pr_calibration",
    # BM25: corpus word explode + broadcast stats + TakeOrderedAndProject
    "x158_bm25_search",
    # SemDeDup: broadcast centroid assignment + the per-cell pair join
    "x174_semdedup",
    # Lloyd k-means: array-fold distances vs broadcast centroids,
    # map-side-combinable argmin; 3 assignment passes + 2 updates
    "x178_kmeans_lloyd",
    # real-codec media seam: WAV encode->decode round trip per row
    # through Arrow-batched mapInPandas
    "x180_audio_features",
    # Gopher-style repetition filters (expression-side trigram dedup +
    # one bigram explode) and the transcendental-free word-rarity scorer
    "x188_repetition_signals",
    "x189_word_rarity",
]


def _sf_value(sf_dir: str) -> float | str:
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        return float(sf)
    except ValueError:
        return sf


def final_line(timings: dict[str, float], sf: float | str) -> str:
    """The one JSON line the run ends with; medians at 3 dp (1 ms on
    seconds-scale rows)."""
    return json.dumps(
        {
            "metric": "headline_queries_total_sec",
            "value": round(sum(timings.values()), 4),
            "unit": "sec",
            "queries": {k: round(v, 3) for k, v in timings.items()},
            "n_runs": N_RUNS,
            "sf": sf,
        }
    )


def main() -> None:
    from ua2sql_spark.catalog import load_tables
    from ua2sql_spark.registry import all_queries
    from ua2sql_spark.session import get_spark

    spark = get_spark("ua2sql_spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_queries()
    ghosts = [n for n in HEADLINE if n not in specs]
    if ghosts:
        # A renamed/deleted query must fail loudly: silently dropping it
        # would shrink the headline total and read as a fake speedup.
        raise KeyError(f"HEADLINE lists unregistered queries: {ghosts}")

    def execute(name: str) -> None:
        specs[name].fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()

    # Global warm-up: touch every table (file listing/footers), then run
    # the flagship once untimed — JVM/codegen startup costs ~12 s on the
    # first executed query and would otherwise be billed to it.
    for df in load_tables(spark, SF_DIR).values():
        df.limit(1).count()
    execute(HEADLINE[0])

    timings: dict[str, float] = {}
    for name in HEADLINE:
        execute(name)  # per-query untimed warm-up (plan + codegen)
        runs = []
        for _ in range(N_RUNS):
            t0 = time.perf_counter()
            execute(name)
            runs.append(time.perf_counter() - t0)
        timings[name] = statistics.median(runs)
    spark.stop()
    print(final_line(timings, _sf_value(SF_DIR)))


if __name__ == "__main__":
    main()
