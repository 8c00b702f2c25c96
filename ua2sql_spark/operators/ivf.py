"""IVF-style approximate nearest-neighbor search (SURVEY §2.11 X5 scale
path).

The classic inverted-file (IVF) index: partition the vector space into
coarse cells, assign every vector to its nearest centroid, and answer a
query by scanning only its own cell instead of the whole corpus.

Spark-first shape (no UDFs anywhere):

* **Centroids** are a deterministic coarse sample (``vec_id % stride``)
  rather than trained k-means — keeps the operator oracle-checkable and
  seed-free; swap in ``ml.clustering.KMeans`` centroids for production
  recall without touching the query path.
* **Assignment** is a broadcast nested-loop over N×K pairs (the small
  centroid table broadcasts; the corpus never shuffles) followed by a
  per-vector argmax window. At 100 TB this is the scan-shaped, linear
  pass you want: each executor assigns its own partition's vectors
  against the broadcast centroids — zero shuffle until the tiny
  ROW_NUMBER window over K rows per vector.
* **Probe** is an equi-join on cell id — candidate volume shrinks ~K×
  versus the brute-force cross join (x45).

Cosines round to 6 decimals *before* ranking so Spark's and the
oracle's float ties resolve identically (tie-break on id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ua2sql_spark.functions.arrays import cosine, dot, sq_norm


def ivf_assign(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_stride: int = 25,
) -> DataFrame:
    """Assign every vector to its nearest coarse centroid (centroids =
    the stride-sampled subset of ``emb`` itself).

    Returns the input columns plus ``cell`` (centroid id). Deterministic:
    scores round to 6 decimals, ties break on centroid id.
    """
    cent = emb.filter(F.col(id_col) % centroid_stride == 0).select(
        F.col(id_col).alias("__cid"), F.col(vec_col).alias("__cemb")
    )
    return assign_to_centroids(emb, cent, id_col, vec_col)


def assign_to_centroids(
    emb: DataFrame,
    cent: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest centroid from a GIVEN
    centroid set (columns ``__cid``, ``__cemb``) — the primitive both
    index builds and incremental index appends share (an append must
    route new vectors through the index's FROZEN centroids, never
    re-derive them, or old and new lists would disagree about cell
    boundaries)."""
    # Norms are precomputed ONCE per vector and per centroid instead of
    # inside the |V| x K score expression: the arithmetic is the exact
    # same float ops in the same order (dot / (sqrt(na2) * sqrt(nb2))),
    # so scores stay bit-identical to the oracle's per-pair formula,
    # but the interpreted higher-order-function work per pair drops
    # from 3 array folds to 1.
    cent = cent.select(
        "__cid",
        "__cemb",
        F.sqrt(sq_norm(F.col("__cemb"))).alias("__cnorm"),
    )
    scored = (
        emb.withColumn("__vnorm", F.sqrt(sq_norm(F.col(vec_col))))
        .crossJoin(F.broadcast(cent))
        .select(
            id_col,
            vec_col,
            F.col("__cid"),
            F.round(
                dot(F.col(vec_col), F.col("__cemb"))
                / (F.col("__vnorm") * F.col("__cnorm")),
                6,
            ).alias("__score"),
        )
    )
    # top-1 as a partial-aggregable max_by, not a row_number window:
    # the |V| x K scored relation combines map-side to one row per
    # vector BEFORE any shuffle, where the window phrasing would
    # shuffle-and-sort all |V| x K rows. Ordering is identical:
    # max score, ties to the LOWEST centroid id (max of -cid).
    return scored.groupBy(id_col, vec_col).agg(
        F.max_by(
            F.col("__cid"), F.struct(F.col("__score"), (-F.col("__cid")).alias("__t"))
        ).alias("cell")
    )


def ivf_probe_topk(
    emb: DataFrame,
    query_ids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_stride: int = 25,
    nprobe: int = 1,
    k: int = 5,
) -> DataFrame:
    """Multi-probe IVF top-k: rank every cell per query by centroid
    cosine and scan the union of the top ``nprobe`` cells.

    This is the production recall knob (FAISS's ``nprobe``): recall
    rises monotonically with the number of probed cells while the scan
    stays an equi-join on cell id — each neighbor lives in exactly one
    cell, so the probe union needs no dedup and candidate volume is
    exactly the probed cells' population. The corpus never shuffles:
    centroids and the (bounded) probe set broadcast; the only wide ops
    are the tiny per-query windows.

    Deterministic mirror of the oracle: scores round to 6 decimals
    before every ranking; ties break on centroid / neighbor id.
    """
    cent = emb.filter(F.col(id_col) % centroid_stride == 0).select(
        F.col(id_col).alias("__cid"), F.col(vec_col).alias("__cemb")
    )
    assigned = ivf_assign(emb, id_col, vec_col, centroid_stride)
    q = emb.join(F.broadcast(query_ids), id_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qemb")
    )
    qscore = q.crossJoin(F.broadcast(cent)).withColumn(
        "__score", F.round(cosine(F.col("__qemb"), F.col("__cemb")), 6)
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("__score"), F.asc("__cid"))
    probe = (
        qscore.withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= nprobe)
        .select("query_id", "__qemb", F.col("__cid").alias("__qcell"))
    )
    n = assigned.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__nemb"), "cell"
    )
    pairs = F.broadcast(probe).join(
        n,
        (F.col("__qcell") == F.col("cell"))
        & (F.col("query_id") != F.col("neighbor_id")),
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("__qemb"), F.col("__nemb")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def ivf_topk(
    assigned: DataFrame,
    query_ids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Top-k neighbors per query, probing only the query's own cell
    (nprobe=1). ``query_ids`` is a one-column DataFrame of ``id_col``
    values; the probe side broadcasts."""
    q = assigned.join(F.broadcast(query_ids), id_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qemb"),
        F.col("cell").alias("__qcell"),
    )
    n = assigned.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__nemb"),
        "cell",
    )
    pairs = F.broadcast(q).join(
        n,
        (F.col("__qcell") == F.col("cell"))
        & (F.col("query_id") != F.col("neighbor_id")),
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("__qemb"), F.col("__nemb")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


# ---------------------------------------------------------------------------
# Persisted index: the production IVF deployment shape. Build once,
# write the inverted lists as cell-partitioned parquet, fold later
# batches in against the frozen centroids and report per-cell drift
# (x198). No registered query searches a saved index, so there is no
# probe over it here; ``ivf_probe_topk`` is the search path.
# ---------------------------------------------------------------------------
def save_ivf_index(
    emb: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_stride: int = 25,
) -> None:
    """Materialize the IVF index at ``path``: ``centroids/`` (small) and
    ``lists/`` (the corpus, hive-partitioned by cell id). Index build is
    the one-time assign pass."""
    cent = emb.filter(F.col(id_col) % centroid_stride == 0).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cemb")
    )
    cent.write.mode("overwrite").parquet(path + "/centroids")
    assigned = ivf_assign(emb, id_col, vec_col, centroid_stride)
    (
        assigned.withColumnRenamed(id_col, "neighbor_id")
        .withColumnRenamed(vec_col, "nemb")
        .withColumn("generation", F.lit(0))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path + "/lists")
    )


def append_ivf_index(
    spark,
    emb: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Fold new vectors into a saved IVF index: assign them to the
    index's FROZEN centroids (broadcast, map-side — never re-derived,
    so old and new inverted lists agree about every cell boundary) and
    append into the same cell-partitioned layout. The daily-ingest
    shape for embeddings, symmetric with ``dedup.append_lsh_index``:
    append work scales with the batch. Centroid
    drift (a corpus whose distribution walks away from the frozen
    centroids) is a REBUILD decision, deliberately not hidden here —
    same operating contract as FAISS's add() vs retrain; the number
    that decision needs comes from :func:`ivf_health_report`.

    Appended rows carry ``generation`` = 1 (build rows carry 0) so the
    health report can compare the two populations per cell."""
    cent = spark.read.parquet(path + "/centroids").select(
        F.col("cid").alias("__cid"), F.col("cemb").alias("__cemb")
    )
    assigned = assign_to_centroids(emb, cent, id_col, vec_col)
    (
        assigned.withColumnRenamed(id_col, "neighbor_id")
        .withColumnRenamed(vec_col, "nemb")
        .withColumn("generation", F.lit(1))
        .write.mode("append")
        .partitionBy("cell")
        .parquet(path + "/lists")
    )


def ivf_health_report(
    spark,
    path: str,
) -> DataFrame:
    """The number the rebuild decision needs (VERDICT r10 #5): a
    per-cell comparison of the BUILT population (generation 0) against
    everything APPENDED since (generation >= 1, frozen-centroid
    assignment).

    Per cell: ``n_built`` / ``n_appended`` row counts, ``appended_pct``
    (integer percent of appended vs built — the size-skew signal: a
    cell whose appends dwarf its built population is where frozen
    centroids are stretched thinnest), mean rounded cosine of each
    population to the cell centroid (``mean_cos_built`` /
    ``mean_cos_appended`` — assignment quality at build time vs now),
    and ``drift_flag`` = 1 when the appended population sits more than
    0.05 cosine below the built one (both means are bit-identical
    deterministic doubles — exact decimal sums of rounded-6 per-row
    cosines, one final division — so the flag compare is
    engine-stable).

    Shape: one broadcast join of the lists against the (small)
    centroid table + one groupBy on cell — scan-speed at any corpus
    size, no all-pairs anywhere. Indexes written before the
    ``generation`` column existed read as all-built (report still
    valid: n_appended = 0 everywhere)."""
    DEC = "decimal(28,8)"
    cent = spark.read.parquet(path + "/centroids")
    lists = spark.read.parquet(path + "/lists")
    if "generation" not in lists.columns:
        lists = lists.withColumn("generation", F.lit(0))
    rows = lists.join(F.broadcast(cent), F.col("cell") == F.col("cid")).select(
        "cell",
        (F.col("generation") == 0).alias("__built"),
        F.round(cosine(F.col("nemb"), F.col("cemb")), 6).alias("__cos"),
    )
    agg = rows.groupBy("cell").agg(
        F.sum(F.when(F.col("__built"), 1).otherwise(0)).cast("bigint").alias("n_built"),
        F.sum(F.when(~F.col("__built"), 1).otherwise(0)).cast("bigint").alias("n_appended"),
        F.sum(F.when(F.col("__built"), F.col("__cos")).otherwise(0.0).cast(DEC)).alias("__sb"),
        F.sum(F.when(~F.col("__built"), F.col("__cos")).otherwise(0.0).cast(DEC)).alias("__sa"),
    )
    mean_b = F.when(
        F.col("n_built") > 0, F.col("__sb").cast("double") / F.col("n_built")
    )
    mean_a = F.when(
        F.col("n_appended") > 0, F.col("__sa").cast("double") / F.col("n_appended")
    )
    return agg.select(
        F.col("cell").cast("bigint").alias("cell"),
        "n_built",
        "n_appended",
        F.expr("(100 * n_appended) DIV greatest(n_built, 1)")
        .cast("bigint")
        .alias("appended_pct"),
        mean_b.alias("mean_cos_built"),
        mean_a.alias("mean_cos_appended"),
        F.when(
            (F.col("n_built") > 0)
            & (F.col("n_appended") > 0)
            & (mean_a < mean_b - F.lit(0.05)),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("drift_flag"),
    )
