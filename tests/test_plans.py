"""Physical-plan shape assertions (SURVEY §4): the scale properties —
pushdown, pruning, broadcast, bounded shuffles — as tests, so a plan
regression fails here instead of on a cluster.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from ua2sql_spark.catalog import load_table
from ua2sql_spark.registry import all_queries
from tests.conftest import SF_DIR
from tests.helpers import (
    broadcast_join_count,
    formatted_plan,
    pushed_filters,
    reeval_hazards,
    scan_read_schema,
    shuffle_count,
    simple_plan,
    sortmerge_join_count,
    wholestage_codegen_count,
)


def test_filter_pushdown_reaches_scan(spark):
    df = all_queries()["q01_pricing_summary"].fn(spark, SF_DIR)
    filters = pushed_filters(df)
    assert any("l_shipdate" in f for f in filters), filters


def test_column_pruning(spark):
    """A 2-column projection must not read the full 11-column lineitem."""
    li = load_table(spark, SF_DIR, "lineitem")
    df = li.select("l_orderkey", "l_quantity")
    schemas = scan_read_schema(df)
    assert schemas and all(
        "l_extendedprice" not in s and "l_shipdate" not in s for s in schemas
    ), schemas


def test_star_join_broadcasts_dims(spark):
    df = all_queries()["q05_join_star_broadcast"].fn(spark, SF_DIR)
    assert broadcast_join_count(df) >= 2  # nation and region both broadcast


def test_pricing_summary_single_shuffle(spark):
    """Scan → partial agg → exchange → final agg: exactly one shuffle."""
    df = all_queries()["q01_pricing_summary"].fn(spark, SF_DIR)
    assert shuffle_count(df) == 1


def test_order_limit_is_topk_not_global_sort(spark):
    """orderBy+limit must plan TakeOrderedAndProject (distributed top-k),
    never a global sort (reference checkpoint-lookup shape, O1/O2)."""
    df = all_queries()["q26_order_limit"].fn(spark, SF_DIR)
    plan = simple_plan(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_topk_per_group_uses_window_group_limit(spark):
    df = all_queries()["q25_topk_per_group"].fn(spark, SF_DIR)
    assert "WindowGroupLimit" in simple_plan(df)


def test_codegen_covers_flagship(spark):
    # AQE renders plans as non-final (no codegen spans yet); disable it
    # just to materialize the codegen-annotated physical plan.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = all_queries()["q01_pricing_summary"].fn(spark, SF_DIR)
        assert wholestage_codegen_count(df) >= 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_minhash_has_no_cartesian(spark):
    df = all_queries()["x43_minhash_lsh_neardup"].fn(spark, SF_DIR)
    plan = simple_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semi_join_plans_as_semi(spark):
    df = all_queries()["q07_join_semi"].fn(spark, SF_DIR)
    assert "LeftSemi" in simple_plan(df)


def test_ivf_assignment_broadcasts_centroids(spark):
    """IVF assignment must broadcast the centroid table (corpus never
    shuffles for assignment); the probe join must broadcast the query
    side — no shuffle of the full corpus on either step."""
    df = all_queries()["x71_ivf_ann"].fn(spark, SF_DIR)
    plan = simple_plan(df)
    assert "CartesianProduct" not in plan
    assert broadcast_join_count(df) >= 1, plan


def test_doc_chunks_stays_in_codegen(spark):
    """Chunking is pure generate/project — whole-stage codegen, no
    Python boundary, no shuffle."""
    df = all_queries()["x72_doc_chunks"].fn(spark, SF_DIR)
    assert shuffle_count(df) == 0
    assert wholestage_codegen_count(df) >= 1


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Bucketing discipline (SCALE.md §1): co-bucketed tables on the
    join key remove the fact-fact shuffle entirely. The operators don't
    require bucketing; this pins that they benefit when the layout
    provides it (exchange-free sort-merge join)."""
    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    spark.sql("DROP TABLE IF EXISTS b_li")
    spark.sql("DROP TABLE IF EXISTS b_o")
    (li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", str(tmp_path / "b_li")).saveAsTable("b_li"))
    (o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", str(tmp_path / "b_o")).saveAsTable("b_o"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # At sf0.01 orders fits the broadcast threshold, which hides the
        # bucketing effect; at 100 TB neither side broadcasts, so pin
        # the fact-fact shape the test is about.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_li").join(
            spark.table("b_o"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = simple_plan(joined)
        assert "Exchange" not in plan, plan
        assert sortmerge_join_count(joined) == 1, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_li")
        spark.sql("DROP TABLE IF EXISTS b_o")


def test_partition_pruning(spark, tmp_path):
    """Raw-zone layout discipline (SCALE.md §4): a date predicate over a
    jobType/date-partitioned zone must prune partitions at planning
    time, not filter rows after a full scan."""
    events = load_table(spark, SF_DIR, "events").withColumn(
        "ingest_date", F.to_date("ts")
    )
    path = str(tmp_path / "raw_zone")
    events.write.partitionBy("ingest_date").parquet(path)

    df = spark.read.parquet(path).filter(F.col("ingest_date") == "2024-01-02")
    plan = formatted_plan(df)
    m = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert m and any("ingest_date" in ln for ln in m), plan


def test_no_query_plans_cartesian_or_row_python(spark):
    """Sweep every registered query: no CartesianProduct outside the
    intentionally-cross q10, and no row-wise Python eval anywhere
    (Python only ever appears Arrow-batched). Plan-only — no execution."""
    allowed_cartesian = {"q10_join_cross", "x45_cosine_topk"}
    for name, spec in all_queries().items():
        plan = simple_plan(spec.fn(spark, SF_DIR))
        if name not in allowed_cartesian:
            assert "CartesianProduct" not in plan, f"{name} plans a cartesian"
        assert "BatchEvalPython" not in plan, f"{name} uses row-wise Python"


def test_supplier_wait_decorrelates_to_hash_joins(spark):
    """q86's EXISTS/NOT EXISTS must plan as hash-based LeftSemi/LeftAnti
    on the order key (inequality riding as a join condition) — never a
    nested-loop join."""
    plan = simple_plan(all_queries()["q86_supplier_wait"].fn(spark, SF_DIR))
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan


def test_min_cost_supplier_prunes_and_broadcasts(spark):
    """q87: the part filter reaches the parquet scan; part/supplier/
    nation all broadcast (the cost relation alone gets shuffled)."""
    df = all_queries()["q87_min_cost_supplier"].fn(spark, SF_DIR)
    assert any("p_partkey" in f for f in pushed_filters(df)), pushed_filters(df)
    assert broadcast_join_count(df) >= 3


def test_label_centroids_single_shuffle(spark):
    """x88: posexplode + partial agg → exactly one exchange; the shuffle
    carries at most |labels|·dims rows per input partition."""
    df = all_queries()["x88_label_centroids"].fn(spark, SF_DIR)
    assert shuffle_count(df) == 1


def test_disjunctive_bands_pushes_or_predicate(spark):
    """q93: the OR-of-ANDs predicate must split per side — brand/size
    disjuncts pushed into the part scan, quantity disjuncts into the
    lineitem scan — so neither side scans rows no band can match."""
    df = all_queries()["q93_disjunctive_bands"].fn(spark, SF_DIR)
    filters = pushed_filters(df)
    assert any("p_brand" in f and "Or" in f for f in filters), filters
    assert any("l_quantity" in f and "Or" in f for f in filters), filters


def test_priority_exists_plans_semi_with_residual(spark):
    """q94: EXISTS decorrelates to one hash LeftSemi on the order key
    (the non-equi shipdate conjunct rides as residual) — never a
    nested-loop."""
    plan = simple_plan(all_queries()["q94_priority_exists"].fn(spark, SF_DIR))
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan


def test_market_share_broadcasts_all_dims(spark):
    """q95: customer, both nation lookups, region, supplier all
    broadcast; the only shuffle joins the two fact tables."""
    df = all_queries()["q95_market_share"].fn(spark, SF_DIR)
    assert broadcast_join_count(df) >= 5


def test_sequence_pack_expansion_is_exchange_free(spark):
    """x97: past the checkpointed bucketed-cumsum (whose window clustering
    is the operator's single data exchange), the boundary-crossing
    expansion is pure Generate/Project — zero further exchanges."""
    df = all_queries()["x97_sequence_pack"].fn(spark, SF_DIR)
    assert shuffle_count(df) == 0, df._jdf.queryExecution().simpleString()


def test_contamination_joins_on_gram_no_cartesian(spark):
    """x106: eval-vs-train gram overlap must plan hash joins keyed on the
    gram string — never a nested-loop/cartesian comparison of documents."""
    df = all_queries()["x106_contamination"].fn(spark, SF_DIR)
    plan = simple_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_vocab_oov_broadcasts_vocabulary(spark):
    """x108: the top-N vocabulary (tiny by construction) must broadcast;
    the token-occurrence side never shuffles for the membership probe."""
    df = all_queries()["x108_vocab_oov"].fn(spark, SF_DIR)
    assert broadcast_join_count(df) >= 1


def test_train_shuffle_is_topk_not_global_sort(spark):
    """x109: the deterministic shuffle-order preview must plan
    TakeOrderedAndProject (per-partition top-k), never a global sort."""
    df = all_queries()["x109_train_shuffle"].fn(spark, SF_DIR)
    assert "TakeOrderedAndProject" in simple_plan(df)


def test_dup_ngram_fraction_is_map_only(spark):
    """x110: repetition scoring is projection arithmetic — zero shuffles,
    inside whole-stage codegen."""
    df = all_queries()["x110_dup_ngram_fraction"].fn(spark, SF_DIR)
    assert shuffle_count(df) == 0


def test_global_shuffle_windows_are_bucket_partitioned(spark):
    """x104: full epoch-order assignment must never sort the corpus in
    one partition — the per-row row_number window is partitioned by the
    hash-prefix bucket, and the bucket-offset table (256 rows) joins
    back via broadcast."""
    df = all_queries()["x104_global_shuffle"].fn(spark, SF_DIR)
    plan = simple_plan(df)
    assert "windowspecdefinition(__b" in plan, plan
    assert broadcast_join_count(df) >= 1


def test_minhash_fast_family_has_no_md5(spark):
    """x101: the xxhash64 production family must keep signature/band
    hashing inside codegen'd 64-bit ops — no md5 (and so no hex-string
    materialization) anywhere in its plan."""
    df = all_queries()["x101_minhash_fast_exact_tier"].fn(spark, SF_DIR)
    plan = simple_plan(df).lower()
    assert "xxhash64" in plan, plan
    assert "md5" not in plan, plan


def test_incremental_dedup_is_anti_join_on_fingerprint(spark):
    """x117: the batch-vs-index dedup must plan a hash-keyed LeftAnti
    join (never a nested-loop), and no text column may survive past the
    fingerprint projection into the join."""
    df = all_queries()["x117_incremental_dedup"].fn(spark, SF_DIR)
    plan = simple_plan(df)
    assert "LeftAnti" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_full_outer_joins_preaggregated_sides(spark):
    """q116: both inputs collapse to one row per customer BEFORE the
    full-outer join — the plan must show partial aggregates below the
    join, and an equi full-outer (no nested loop)."""
    df = all_queries()["q116_join_full_outer"].fn(spark, SF_DIR)
    plan = simple_plan(df)
    assert "FullOuter" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan
    # aggregates feed the join, not the other way round
    assert plan.index("HashAggregate") > plan.index("FullOuter"), plan


def test_zorder_layout_is_projection_plus_one_agg(spark):
    """x124: Morton interleave is map-only codegen'd bit math; the only
    exchange is the final per-bucket aggregate."""
    df = all_queries()["x124_zorder_layout"].fn(spark, SF_DIR)
    assert shuffle_count(df) == 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hybrid_search_uses_topk_not_global_sort(spark):
    """x130: each retriever's top-N is TakeOrderedAndProject (bounded,
    scale-safe), never a global Sort of the corpus; fusion windows rank
    only the tiny top-N sets."""
    df = all_queries()["x130_hybrid_search_rrf"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("TakeOrderedAndProject") >= 2, plan


def test_unigram_logprob_joins_model_no_cartesian(spark):
    """x125: the LM 'model' joins on word (equi), the corpus total is a
    broadcast one-row cross join, and nothing falls back to Python
    eval or a cartesian product."""
    df = all_queries()["x125_unigram_logprob"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan
    assert broadcast_join_count(df) >= 1  # the 1-row total (and/or vocab)


def test_sales_opportunity_decorrelates_to_anti_join(spark):
    """q126: the scalar subquery is a broadcast join, NOT EXISTS is a
    left-anti hash join over the recency-filtered orders — no per-row
    subquery shape survives, and the date filter reaches the orders
    scan."""
    df = all_queries()["q126_sales_opportunity"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan
    assert any("o_orderdate" in f for f in pushed_filters(df)), pushed_filters(df)


def test_temperature_resample_sampling_is_integer_comparison(spark):
    """x131: the keep/drop pass is codegen'd string/integer comparison
    joined against a broadcast 5-row cutoff table — no Python eval, no
    cartesian."""
    df = all_queries()["x131_temperature_resample"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert broadcast_join_count(df) >= 1  # the cutoff table


def test_embedding_outliers_broadcasts_centroids_and_thresholds(spark):
    """x132: centroid and threshold tables broadcast (bounded by
    |labels|·d and |labels|); the corpus explodes map-side and joins
    without a cartesian."""
    df = all_queries()["x132_embedding_outliers"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert broadcast_join_count(df) >= 2, plan


def test_bloom_runtime_filter_injects(spark):
    """q135: with the size thresholds scaled down to test-data sizes
    (production defaults — creation ≤10 MB, application scan ≥10 GB —
    are tuned for cluster scale), InjectRuntimeFilter builds a bloom
    filter over the filtered o_orderkey set and pushes
    `might_contain(xxhash64(l_orderkey))` into the lineitem side, so
    the fact shuffle carries only rows that can join. Result values
    are injection-invariant (pure pre-filter), which q135's oracle row
    in CORRECTNESS pins separately."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # SMJ: the shape that pays the shuffle
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = all_queries()["q135_bloom_semijoin_reduction"].fn(spark, SF_DIR)
        plan = formatted_plan(df)
        assert "might_contain" in plan, plan[:4000]
        assert "bloom_filter_agg" in plan, plan[:4000]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_bpe_merge_pairs_explodes_vocab_not_corpus(spark):
    """x134: the pair explode must run over the distinct-word
    DICTIONARY (post-aggregation), not the corpus scan — the Sennrich
    trick that makes BPE training linear in corpus size. Plan shape:
    word-count aggregate BEFORE the generate, and the final top-k is a
    TakeOrderedAndProject, not a global sort."""
    df = all_queries()["x134_bpe_merge_pairs"].fn(spark, SF_DIR)
    plan = simple_plan(df)
    gen_pos = plan.find("Generate")
    # Two Generate nodes: corpus word split + vocab pair expansion.
    # The vocab-side Generate must sit ABOVE (earlier in the string
    # than) the word-count HashAggregate pair, which itself consumes
    # the corpus-side Generate.
    assert gen_pos != -1, plan
    assert "TakeOrderedAndProject" in plan, plan
    # The aggregate over words appears between the two generates:
    # corpus split (bottom) -> agg -> pair explode (top).
    segments = plan.split("Generate")
    assert len(segments) == 3, f"expected exactly 2 Generate nodes\n{plan}"
    assert "HashAggregate" in segments[1], plan


def test_pagerank_reuses_materialized_edges(spark):
    """x138: every PageRank iteration must read the ONE materialized
    (localCheckpoint'd) edge list — the shingle self-join appears zero
    times in the final plan (it ran once, eagerly) and each of the 3
    iterations scans the checkpoint RDD instead of re-deriving edges."""
    df = all_queries()["x138_domain_pagerank"].fn(spark, SF_DIR)
    plan = simple_plan(df)
    # 3 iterations × (contribution join + outdeg) + final outdeg join
    # all source from the checkpoint scan:
    assert plan.count("ExistingRDD") >= 3, plan
    assert "CartesianProduct" not in plan


def test_pagerank_fanin_cap_bounds_stop_gram_explode(spark):
    """x138 stress (VERDICT r5 wrong-#1): ONE synthetic stop-gram shared
    by every source must NOT explode |sources|^2 pair structs — the
    fan-in cap drops it before the pair expansion, so every surviving
    per-gram source set (hence every explode) is <= cap (cap^2 structs).
    Pairwise-shared grams below the cap still produce their edges."""
    from ua2sql_spark.queries.corpus_ops import (
        pagerank_edges,
        pagerank_shared_grams,
    )

    stop = "the quick brown fox jumps over lazy dogs"  # one 8-word gram
    n, cap = 100, 16
    rows = []
    for i in range(n):
        # every source carries the stop-gram; sources 2k and 2k+1
        # additionally share a pair-unique 8-gram
        pair = " ".join(f"p{i // 2}w{j}" for j in range(8))
        rows.append((f"src{i:03d}", stop + " xx " + pair))
    d = spark.createDataFrame(rows, "source string, text string")

    shared = pagerank_shared_grams(d, cap=cap)
    sizes = [r[0] for r in shared.select(F.size("ss")).collect()]
    assert sizes, "pair grams must survive the cap"
    # the explode is flatten(transform(ss, transform(ss, ...))) —
    # exactly size(ss)^2 structs per gram row; bounding size bounds it
    assert max(sizes) <= cap, f"a gram above the cap survived: {max(sizes)}"

    edges = pagerank_edges(d, cap=cap).collect()
    # without the cap the stop-gram alone yields n*(n-1) = 9900 edges;
    # with it, only the 50 pairs (both directions) remain
    assert len(edges) == n, len(edges)
    assert all(
        int(e.src[3:]) // 2 == int(e.dst[3:]) // 2 for e in edges
    ), "an edge crossed a pair boundary — stop-gram leaked through the cap"


def test_pq_encode_runs_once_behind_checkpoint(spark):
    """x154: the PQ encode (K·M argmin per corpus row) must be
    materialized ONCE — the checkpoint barrier appears as an
    ExistingRDD scan, so ADC scoring and the shortlist window read
    codes instead of re-running the argmin per (candidate, query)
    pair (x138's materialize-once discipline)."""
    df = all_queries()["x154_pq_recall_contract"].fn(spark, SF_DIR)
    plan = simple_plan(df)
    assert "ExistingRDD" in plan, plan
    assert "CartesianProduct" not in plan


def test_pr_curve_windows_run_on_aggregated_bins_only(spark):
    """x155: the cumulative precision/recall window must consume the
    ≤100-row bin HISTOGRAM, never the raw corpus — the HashAggregate
    sits BELOW the Window in the plan, and the only global sort is of
    bin rows (after aggregation), so corpus-side work is one scan +
    one bounded exchange at any N."""
    df = all_queries()["x155_pr_calibration"].fn(spark, SF_DIR)
    plan = simple_plan(df)
    w = plan.find("Window")
    agg = plan.rfind("HashAggregate")
    assert w != -1 and agg != -1
    # tree prints top-down: the aggregate (deeper) appears AFTER the
    # window in the string, i.e. the window reads aggregated rows
    assert agg > w, plan
    # no sort below the aggregate (the corpus is never globally sorted)
    assert "Sort" not in plan[agg:], plan[agg:]


def test_bm25_broadcasts_stats_and_takes_topk(spark):
    """x158: the df/idf/corpus-total sides are broadcast (no shuffled
    join against per-term stats), and the final top-k is
    TakeOrderedAndProject, never a global sort."""
    df = all_queries()["x158_bm25_search"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert broadcast_join_count(df) >= 2, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_sliding_actives_has_no_range_self_join(spark):
    """q159: the rolling distinct is the coverage explode (Generate) +
    one partial-aggregated distinct — NOT a range self-join of days x
    activity (no non-broadcast join at all)."""
    df = all_queries()["q159_sliding_active_users"].fn(spark, SF_DIR)
    plan = simple_plan(df)
    assert "Generate explode" in plan, plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan, plan


def test_semdedup_cell_join_is_equi_over_checkpointed_assignment(spark):
    """x174: the intra-cell pair join is an EQUI join keyed on cell
    (never a cartesian), and both its sides read the ONE
    localCheckpointed assignment (Scan ExistingRDD barriers in the
    plan) — the centroid crossJoin + top-1 window runs once, not once
    per consumer."""
    df = all_queries()["x174_semdedup"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("Scan ExistingRDD") >= 2, plan


def test_reeval_tripwire_catches_both_regression_shapes(spark):
    """VERDICT r8 #2: the sweep must be RED on the two shipped defect
    shapes — (a) the r8 x155 form, a HOF lambda over a literal edge
    array referencing an expensive outer expression (Catalyst inlines
    split/array_distinct into the lambda: 99x per-element, interpreted;
    bench went 0.44s -> 11.13s), and (b) the pre-d6e803c x188 form, an
    explode sharing its projection with non-cheap array expressions
    (codegen re-evaluates them per generated row: measured 10x) — and
    GREEN on the legitimate explode-then-process-the-element pattern."""
    import math

    d = load_table(spark, SF_DIR, "documents")
    ws = F.split(F.col("text"), " ")

    # (a) r8 x155 regression fixture
    edges = F.array(*[F.lit(math.log(k / (100 - k))) for k in range(1, 100)])
    nw = F.size(ws).cast("double")
    uq = F.size(F.array_distinct(ws)).cast("double")
    z = 0.02 * nw + 1.5 * (uq / nw) - 0.5
    fix_a = d.select(
        F.size(F.filter(edges, lambda e: z >= e)).alias("bin")
    ).groupBy("bin").count()
    assert any("lambda body" in f for f in reeval_hazards(fix_a))

    # (b) pre-fix x188 regression fixture
    base = d.select("doc_id", ws.alias("ws"))
    g2 = F.transform(
        F.slice(F.col("ws"), 1, F.greatest(F.size("ws") - 1, F.lit(0))),
        lambda w, i: F.concat_ws(" ", F.get("ws", i), F.get("ws", i + 1)),
    )
    g3 = F.transform(
        F.slice(F.col("ws"), 1, F.greatest(F.size("ws") - 2, F.lit(0))),
        lambda w, i: F.concat_ws(
            " ", F.get("ws", i), F.get("ws", i + 1), F.get("ws", i + 2)
        ),
    )
    fix_b = (
        base.select(
            "doc_id",
            (F.size(g3) - F.size(F.array_distinct(g3))).alias("nd3"),
            F.explode(g2).alias("gram"),
        )
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c"), F.min("nd3").alias("nd"))
    )
    assert any("Project above Generate" in f for f in reeval_hazards(fix_b))

    # legitimate: heavy work on the GENERATED element is per-element by
    # intent, not a re-evaluation
    legit = d.select(F.explode(ws).alias("w")).select(
        F.split(F.col("w"), "a").alias("parts")
    )
    assert reeval_hazards(legit) == []

    # the let-binding neutralizes shape (a): same feature math, bound
    # variable instead of an inlined expression
    from ua2sql_spark.functions.arrays import let

    bound = let(
        ws,
        lambda w: F.size(
            F.filter(edges, lambda e: 0.02 * F.size(w).cast("double") >= e)
        ),
    )
    assert reeval_hazards(d.select(bound.alias("bin"))) == []


def test_no_query_reevaluates_expensive_exprs(spark):
    """Sweep every registered query's optimized plan for the
    re-evaluation defect class (VERDICT r8 #2): no expensive call
    inlined into a lambda body, no heavy expression in a Project
    directly above a Generate. Exception, documented: x154's query-side
    norm is recomputed per PQ subspace (8x) — on the NQ-bounded query
    rows only, never the corpus side (which is localCheckpoint-
    barriered); restructuring would change FP summation order in a
    hash-checked query."""
    allowed = {"x154_pq_recall_contract"}
    bad = {}
    for name, spec in all_queries().items():
        if name in allowed:
            continue
        finds = reeval_hazards(spec.fn(spark, SF_DIR))
        if finds:
            bad[name] = sorted(set(finds))
    assert not bad, bad


def test_lateral_topk_decorrelates_to_window_group_limit(spark):
    """q155: the correlated LATERAL subquery with ORDER BY + LIMIT must
    decorrelate into a hash join + WindowGroupLimit (per-partition
    top-k BEFORE the shuffle) — never a per-outer-row nested loop."""
    plan = simple_plan(all_queries()["q155_lateral_topk"].fn(spark, SF_DIR))
    assert "WindowGroupLimit" in plan, plan
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan, plan


def test_bench_headline_registered_and_final_line_fits():
    """bench.py's headline names are all registered queries, and its
    final line stays one short JSON object with exactly the six keys,
    even with every median at a worst-case 99.999 s."""
    import json

    import bench

    specs = all_queries()
    assert [n for n in bench.HEADLINE if n not in specs] == []

    line = bench.final_line({name: 99.999 for name in bench.HEADLINE}, 0.1)
    assert len(line) < 1800, len(line)
    parsed = json.loads(line)
    assert set(parsed) == {"metric", "value", "unit", "queries", "n_runs", "sf"}
    assert parsed["queries"] == {name: 99.999 for name in bench.HEADLINE}


def test_lsh_index_probe_prunes_band_partitions(spark, tmp_path):
    """x194 / VERDICT r9 #6: probing the persisted LSH band index must
    push (band_no, band_bucket) as PartitionFilters on the lists scan —
    the probe's read cost is the batch's buckets, never the corpus."""
    from ua2sql_spark.operators.dedup import probe_lsh_index, save_lsh_index
    docs = load_table(spark, SF_DIR, "documents")
    path = str(tmp_path / "lsh_index")
    save_lsh_index(docs.filter(F.col("doc_id") % 4 != 0), path)
    cand = probe_lsh_index(spark, path, docs.filter(F.col("doc_id") % 4 == 0))
    plan = formatted_plan(cand)
    m = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert m and any("band_no" in ln and "band_bucket" in ln for ln in m), plan


def test_kendall_tau_grid_join_broadcasts_and_scans_rows_once(spark):
    """x209: the only non-broadcast work is the one row-scan into cell
    counts; the cell-pair concordance join and all three margin frames
    broadcast (the value grid is config-sized), and nothing falls back
    to Python eval."""
    df = all_queries()["x209_kendall_tau"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    # grid self-join + tot/mx/my margins: >= 4 broadcast exchanges
    # (BroadcastNestedLoopJoin for the cross joins counts here too)
    assert plan.count("Broadcast") >= 4, plan
    # the row domain is materialized ONCE by the cells checkpoint —
    # every lineitem access in the final plan goes through it
    assert plan.count("Scan ExistingRDD") >= 1, plan


def test_benford_audit_pushes_price_filter_and_stays_jvm(spark):
    """x210: the l_extendedprice >= 1 filter reaches the parquet scan,
    the expected-ppm table broadcasts, and the digit extraction is
    expression-only (no Python)."""
    df = all_queries()["x210_benford_digit_audit"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert broadcast_join_count(df) >= 1, plan
    assert any(
        "l_extendedprice" in f for f in pushed_filters(df)
    ), pushed_filters(df)


def test_repair_convergence_residual_plan_is_one_keyed_diff(spark):
    """x208's RETURNED frame (the residual audit) must be the reconcile
    shape: one full-outer sort-merge join on the key and map-side
    compares — no Python, no cartesian. (The repair itself runs eagerly
    inside the query; this pins the plan of what the driver hashes.)"""
    df = all_queries()["x208_repair_convergence"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "FullOuter" in plan or "full_outer" in plan.lower(), plan


def test_mann_kendall_pair_grid_broadcasts_and_folds_months_once(spark):
    """x213: the only corpus-sized work is the one month groupBy (orders
    scan pruned to o_orderdate); the pair grid, tie fold and median
    window all run over the checkpointed month frame (months²-bounded),
    the non-equi grid join broadcasts, and nothing falls back to
    Python eval."""
    df = all_queries()["x213_mann_kendall_trend"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    # month-grid self-join (BNLJ) + s/ties/med single-row cross joins
    assert plan.count("Broadcast") >= 4, plan
    # the month domain materializes ONCE (localCheckpoint); every later
    # access reads the checkpoint, so orders is never re-scanned for
    # pairs/ties/median
    assert plan.count("Scan ExistingRDD") >= 1, plan
    assert "CartesianProduct" not in plan, plan
    # column pruning: the orders scan reads only the date column
    scans = [ln for ln in plan.splitlines() if "Scan parquet" in ln or "FileScan" in ln]
    assert all("o_totalprice" not in ln for ln in scans), scans


def test_split_leakage_audit_is_pair_free_single_shuffle(spark):
    """x214: the audit never materializes duplicate pairs — no join of
    any kind in the plan (pair counts are per-fingerprint arithmetic),
    one fingerprint-keyed exchange plus the final single-partition
    fold, all expression-side."""
    df = all_queries()["x214_split_leakage_audit"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan
    # exactly two non-broadcast exchanges: fingerprint hashpartitioning
    # + the SinglePartition final fold
    exchanges = [
        ln for ln in plan.splitlines()
        if "Exchange" in ln and "Broadcast" not in ln
    ]
    assert len(exchanges) == 2, plan


def test_ohlc_downsample_reuses_one_bucket_exchange(spark):
    """x215: the ranking windows partition on the SAME projected
    (event_type, day) columns the aggregate groups on — exactly one
    non-broadcast exchange in the whole plan, no joins, no Python."""
    df = all_queries()["x215_ohlc_downsample"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "Join" not in plan, plan
    # exactly ONE corpus-sized hash exchange (window + aggregate share
    # it); the only other exchange is the output sort's range partition
    # over the |buckets|-row aggregate
    hash_ex = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
    ]
    assert len(hash_ex) == 1, plan


def test_retention_cohorts_is_join_free_on_the_corpus_side(spark):
    """x216: cohorting is a min-over-user window (no user-keyed join of
    the activity frame); the only join in the plan is the broadcast of
    the matrix's own offset-0 cells back onto the matrix."""
    df = all_queries()["x216_retention_cohorts"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # corpus exchanges: the distinct + the user window repartition (the
    # cell-sized matrix aggregate may add a third post-checkpoint)
    exchanges = [
        ln for ln in plan.splitlines()
        if "Exchange" in ln and "Broadcast" not in ln
    ]
    assert len(exchanges) <= 3, plan


def test_cidr_route_enrich_is_two_broadcast_joins(spark):
    """x218: CIDR longest-prefix-match is NOT a theta join — each
    fixed-length tier resolves to one integer grid cell, so the probe is
    exactly two BROADCAST hash joins (route dims are K-bounded) and the
    corpus never shuffles before the final label rollup. No nested-loop
    containment, no Python."""
    df = all_queries()["x218_cidr_route_enrich"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 2, plan
    # the events scan reads only what the ip derivation + rollup need
    assert "user_id" in plan


def test_column_profile_no_expand(spark):
    """x175: five exact COUNT(DISTINCT)s must NOT plan as one
    multi-distinct aggregate (a 6x Expand row multiplication) — each
    distinct count runs as its own narrow two-level hash aggregate and
    the 1-row results recombine through broadcast nested-loop joins."""
    df = all_queries()["x175_column_profile"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan, plan
    assert "BatchEvalPython" not in plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    # every distinct branch aggregates a single pruned column
    assert plan.count("partial_count(distinct") >= 5, plan


def test_weighted_median_two_level_prefix_sum(spark):
    """x219: the cumulative pass is a two-level prefix sum over the
    distinct (flag, value) CELL frame, never the corpus — the
    corpus-sized shuffle moves cell partials (partial_sum below the
    cell pre-aggregate's hashpartitioning), the local cumulative
    window is keyed by (flag, bucket) so no single task ever sorts a
    whole flag, and the bucket offsets come back through broadcast
    joins only (no shuffled join of any kind). No Python."""
    df = all_queries()["x219_weighted_median"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert "partial_sum" in plan, plan  # map-side combine under the cell agg
    # the big-side cumulative window partitions by (flag, bucket):
    assert re.search(r"windowspecdefinition\(flag#\d+, b#\d+, v#\d+ ASC", plan), plan
    # offsets are rolled up over the tiny bucket-total frame and
    # broadcast back onto the cells:
    assert "BroadcastHashJoin" in plan, plan
    # window ordering key is the pre-aggregated cell frame's value col:
    # the Window operator must sit ABOVE a HashAggregate in the tree
    lines = plan.splitlines()
    w_idx = min(i for i, ln in enumerate(lines) if "Window" in ln)
    agg_below = any("HashAggregate" in ln for ln in lines[w_idx:])
    assert agg_below, plan


def test_x176_edge_derivation_shape(spark):
    """r15 / VERDICT r14 #3 closure: the edge derivation stays the r14
    shape — collect_set + slice expansion + plain distinct, exactly two
    exchanges and no join — after the partition-pin experiment was
    measured 1.47x WORSE and rejected (tpch_style._x176_edges records
    the numbers). Guards against the pin silently reappearing AND
    against the derivation regressing to the pre-r14 self-join."""
    from ua2sql_spark.queries.tpch_style import _x176_edges

    edges = _x176_edges(spark, SF_DIR)
    plan = formatted_plan(edges)
    assert "REPARTITION_BY_NUM" not in plan, plan
    assert "Join" not in plan, plan
    # collect_set exchange + distinct exchange (scan rebalance is off
    # at sf0.001's sub-floor layout)
    assert shuffle_count(edges) == 2, plan
