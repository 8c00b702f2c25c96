"""Generic dedup operators (SURVEY §2.11 X1/X2) over caller tables.

``exact_dedup`` — content-hash dedup with deterministic survivor pick.
``minhash_lsh_pairs`` — near-duplicate pair detection (tokenizer-
pluggable: word sets by default, character n-grams via
``functions.text.char_shingles``): md5-minhash →
banded LSH candidates via bucket grouping → exact Jaccard verify with
an adaptive set representation (64-bit bitmask popcount when the
dictionary fits, array intersection otherwise).

Physical shape (the 100 TB argument): minhash signatures, band hashes
and verify bitmasks are all **pure projections** (array higher-order
functions — no explode, no shuffle, no self-join). The only shuffles
are (1) the groupBy on (band_no, band_hash) that buckets candidates
and (2) the pair ``distinct``. Candidate pairs are generated inside
each bucket from a sorted id list, so there is no join at all on the
LSH side; candidate volume is governed by bands×rows and the optional
``max_bucket_size`` guard (degenerate mega-buckets — boilerplate spam
clusters — are the classic quadratic blowup at scale).

In the small-vocabulary (bitmask) verify branch the doc's 64-bit set
mask rides through the bucket shuffle (8 bytes/doc), so verification
is a projection on the pair rows themselves — no join, no second
corpus scan — and the jaccard filter runs *before* the pair distinct,
shrinking that shuffle to the surviving pairs. The general branch
joins the candidate pairs against the word-set table (never shuffling
raw text through the LSH side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ua2sql_spark.functions.text import (
    minhash_array_columns,
    token_hash_int,
    token_hash_int_fast,
    word_set,
)


def exact_dedup(
    df: DataFrame,
    content_cols: list[str],
    id_col: str,
    keep: str = "min",
) -> DataFrame:
    """One survivor row per distinct content (sha256 over the
    ``content_cols``); deterministic via min/max id. Returns the original
    columns of the surviving rows.

    The hash input is an INJECTIVE encoding: each column is rendered as
    ``length ':' value`` with an explicit NULL token. Plain concat_ws
    would be lossy twice over — it SKIPS null columns (so ('x', NULL)
    and (NULL, 'x') collide) and a value containing the separator
    shifts column boundaries (('a\\x1fb', NULL) vs ('a','b')) — and a
    hash collision here silently DELETES a genuinely distinct row."""
    pick = F.min(id_col) if keep == "min" else F.max(id_col)

    def enc(c: str) -> F.Column:
        v = F.col(c).cast("string")
        return F.when(v.isNull(), F.lit("\x00N")).otherwise(
            F.concat(F.length(v).cast("string"), F.lit(":"), v)
        )

    hashed = df.withColumn(
        "__sha", F.sha2(F.concat_ws("\x1f", *[enc(c) for c in content_cols]), 256)
    )
    survivors = hashed.groupBy("__sha").agg(pick.alias(id_col)).select(id_col)
    return df.join(survivors, id_col, "left_semi")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    band_size: int = 8,
    threshold: float = 0.9,
    bitmask_max_vocab: int = 64,
    tokenizer=None,
    max_bucket_size: int | None = None,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs (id_a < id_b, jaccard ≥ threshold) among documents,
    candidates from banded minhash LSH.

    ``max_bucket_size``: optional scale guard — LSH buckets larger than
    this are skipped (their pairs are quadratic in bucket size; at
    100 TB a boilerplate cluster of 10^6 docs would otherwise emit
    5·10^11 pairs). ``None`` (default) keeps exact LSH semantics for
    oracle parity.

    ``hash_family``: ``"xxhash64"`` (default — single codegen'd mixing
    pass per token/band, the production choice) or ``"md5"`` (an order
    of magnitude more per-row work, but reproducible in DuckDB — the
    oracle-checked queries pin this). The exact-Jaccard verify stage is
    hash-independent, so false positives are impossible under either
    family; only which true pairs LSH *surfaces* varies, and only for
    jaccard < 1 (identical token sets collide in every band under any
    hash).

    ``tokenizer`` must emit DISTINCT-element arrays (the built-ins —
    ``word_set``, ``char_shingles`` — do): the verify stage computes
    |A∪B| as |A|+|B|−|A∩B|, which is exact only for sets."""
    assert num_hashes % band_size == 0
    assert hash_family in ("md5", "xxhash64")
    tokenizer = tokenizer or word_set
    num_bands = num_hashes // band_size
    th_fn = token_hash_int if hash_family == "md5" else token_hash_int_fast

    # Verify-representation probe (AQE-style runtime choice). Jaccard is
    # invariant under dictionary encoding, so either branch yields
    # identical results — which also means the *probe* that picks the
    # branch may be arbitrarily cheap without risking correctness.
    # Two-tier probe: (1) the vocabulary of a small document sample is a
    # lower bound on the corpus vocabulary, so if the sample alone
    # exceeds the bitmask capacity the corpus-wide distinct is skipped
    # entirely — at 100 TB (vocab ≫ capacity, always) the probe costs
    # one 256-document scan, not a full-corpus explode+distinct.
    # (2) Only when the sample stays within capacity do we pay the exact
    # corpus-wide distinct — still capped at max_vocab+1 rows — because
    # the bitmask map must cover *every* token to be correct.
    # The sample's distinct runs driver-side over the collected 4096
    # tokens (≤ ~40 KB of strings): a CollectLimit executeTake with NO
    # exchange, one job instead of a shuffle stage pair — the decision
    # (|sample vocab| > capacity) is identical to the former
    # limit(4096).distinct().limit(cap+1) form because both distinct
    # the same first-4096-token sample — assuming STRING tokens (the
    # built-ins emit strings; a custom tokenizer emitting e.g. NaN
    # floats could make Python-set and Spark-distinct counts differ by
    # one, ADVICE r14 — harmless here because both verify branches are
    # result-identical either way, but noted against the over-claim).
    sample_vocab = {
        r["__tok"]
        for r in df.select(F.explode(tokenizer(F.col(text_col))).alias("__tok"))
        .limit(4096)
        .collect()
    }
    if len(sample_vocab) > bitmask_max_vocab:
        vocab = [None] * (bitmask_max_vocab + 1)  # force the array branch
    else:
        tokens = df.select(F.explode(tokenizer(F.col(text_col))).alias("__tok"))
        vocab = [
            r["__tok"]
            for r in tokens.distinct().limit(bitmask_max_vocab + 1).collect()
        ]
    # empty vocab (empty or all-null corpus) must take the generic
    # branch: F.create_map() with zero args types as map<void,void> and
    # fails analysis — and there is nothing to bitmask anyway
    use_bitmask = 0 < len(vocab) <= bitmask_max_vocab

    # Signatures as a pure projection: one md5 per distinct token
    # (CollapseProject keeps the 16-reference __th alias un-inlined
    # because it is non-cheap and multiply referenced — plan-pinned in
    # tests/test_plans.py), then num_hashes xor'd array_mins. In the
    # bitmask branch the doc's 64-bit set mask rides along from the same
    # scan-side projection: 8 bytes per doc through the bucket shuffle
    # buys a join-free verify stage.
    proj = [
        F.col(id_col),
        F.transform(tokenizer(F.col(text_col)), th_fn).alias("__th"),
    ]
    if use_bitmask:
        bit_of = F.create_map(
            *[
                x
                for i, t in enumerate(sorted(vocab))
                for x in (F.lit(t), F.lit(1 << i).cast("bigint"))
            ]
        )
        mask = F.aggregate(
            tokenizer(F.col(text_col)),
            F.lit(0).cast("bigint"),
            lambda acc, t: acc.bitwiseOR(bit_of[t]),
        )
        proj.append(mask.alias("__mask"))
    hashed = df.select(*proj)
    # In the general branch the token-set size rides the band shuffle
    # (4 bytes/doc, like the bitmask branch's 8-byte __mask) so the
    # verify tier can drop size-incompatible candidates BEFORE the pair
    # distinct and the sets join (guide §2.3: shuffle metadata, decide
    # early). |__th| = |token set| because the tokenizers emit distinct
    # arrays (documented precondition above).
    carry = [F.col(id_col)] + (
        [F.col("__mask")] if use_bitmask else [F.size("__th").alias("__sz")]
    )
    mh = hashed.select(*carry, *minhash_array_columns(F.col("__th"), num_hashes))
    if hash_family == "md5":
        band_hash = [
            F.md5(
                F.concat_ws(
                    "|", *[f"h{j}" for j in range(b * band_size, (b + 1) * band_size)]
                )
            )
            for b in range(num_bands)
        ]
    else:
        # One codegen'd multi-column xxhash64 per band — no hex string
        # ever materializes. 8-byte band keys also halve the bucket
        # shuffle's key width vs 32-char md5 hex.
        band_hash = [
            F.xxhash64(*[F.col(f"h{j}") for j in range(b * band_size, (b + 1) * band_size)])
            for b in range(num_bands)
        ]
    member = (
        F.struct(F.col(id_col).alias("i"), F.col("__mask").alias("m"))
        if use_bitmask
        # ids are unique, so adding the size field never changes the
        # struct sort order (first-field compare decides)
        else F.struct(F.col(id_col).alias("i"), F.col("__sz").alias("s"))
    )
    bands = mh.select(
        member.alias("__member"),
        F.posexplode(F.array(*band_hash)).alias("__band_no", "__band_hash"),
    )

    # Bucket-local pair generation: ONE shuffle on the band key, then
    # sorted-id pair expansion inside each bucket — no self-join.
    # sort_array over the member structs orders by id (ids are unique),
    # preserving the id_a < id_b invariant.
    buckets = (
        bands.groupBy("__band_no", "__band_hash")
        .agg(F.sort_array(F.collect_set("__member")).alias("__ids"))
        .filter(F.size("__ids") > 1)
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("__ids") <= max_bucket_size)
    # Two-step expansion defeats bucket skew: first explode one row per
    # (member, later-members-slice) — linear in bucket size — then
    # round-robin repartition so the quadratic partner explosion of a
    # mega-bucket is spread across the cluster instead of landing in the
    # single task that owns the bucket's shuffle partition.
    ids = F.col("__ids")
    members = (
        buckets.select(F.posexplode(ids).alias("__i", "__a"), ids.alias("__all"))
        .select(
            F.col("__a"),
            F.slice(
                F.col("__all"), F.col("__i") + F.lit(2), F.size("__all")
            ).alias("__partners"),
        )
        .repartition(F.col("__a.i"))
    )
    pairs = members.select(
        F.col("__a.i").alias("id_a"),
        *(
            [F.col("__a.m").alias("__mask_a")]
            if use_bitmask
            else [F.col("__a.s").alias("__sz_a")]
        ),
        F.explode("__partners").alias("__b"),
    )

    if use_bitmask:
        # Join-free verify: Jaccard = popcount arithmetic over the two
        # masks already present on the pair row. Filtering BEFORE the
        # distinct shrinks that shuffle to the surviving pairs only.
        inter = F.bit_count(F.col("__mask_a").bitwiseAND(F.col("__b.m")))
        union = F.bit_count(F.col("__mask_a").bitwiseOR(F.col("__b.m")))
        jaccard = inter.cast("double") / union
        return (
            pairs.select(
                "id_a", F.col("__b.i").alias("id_b"), jaccard.alias("jaccard")
            )
            .filter(F.col("jaccard") >= threshold)
            .distinct()
        )

    # General (large-vocabulary) branch: candidates join the word-set
    # table twice. No join-strategy hint on purpose: the set table spans
    # the corpus (a static broadcast of it would OOM at scale), while
    # the pair side's size is only known at runtime (bounded output, but
    # a plan-time estimate can't see that). Unhinted, Catalyst
    # broadcasts the sets when their estimate is genuinely small (test
    # scale), and at corpus scale AQE's runtime stats broadcast-convert
    # the small candidate side instead — the decision this join needs is
    # exactly the one AQE makes from real sizes.
    #
    # Size gate (r15, guide §1.2 step 2): |A∩B| ≤ min(|A|,|B|) and
    # |A|+|B|−min = max, so exact jaccard ≤ min/max. Division of
    # exactly-representable ints is correctly rounded, hence monotone:
    # fl(i/(sa+sb−i)) ≥ t implies fl(min/max) ≥ t, so dropping
    # fl(min/max) < t candidates here — before the pair distinct and
    # the sets join — removes ONLY pairs the final jaccard filter
    # provably rejects, for any double threshold. (At threshold 1.0 —
    # the x101/x115 exact tier — the gate degenerates to |A| = |B|.)
    cand = (
        pairs.filter(
            F.least(F.col("__sz_a"), F.col("__b.s")).cast("double")
            / F.greatest(F.col("__sz_a"), F.col("__b.s"))
            >= F.lit(threshold)
        )
        .select("id_a", F.col("__b.i").alias("id_b"))
        .distinct()
    )
    sets = df.select(F.col(id_col), tokenizer(F.col(text_col)).alias("__ws"))
    x = sets.select(F.col(id_col).alias("__xid"), F.col("__ws").alias("__ws_a"))
    y = sets.select(F.col(id_col).alias("__yid"), F.col("__ws").alias("__ws_b"))
    # |A∪B| = |A| + |B| - |A∩B| exactly (word_set/char_shingles emit
    # DISTINCT arrays), so the per-pair array_union — a second hash-set
    # build plus a materialized up-to-|A|+|B| array on every candidate —
    # is replaced by two cheap size() calls. The division operands are
    # the same integers, so the emitted jaccard double is bit-identical
    # (the threshold stays a double-division compare on purpose: an
    # integer rearrangement of a FLOAT threshold could flip boundary
    # rows vs the oracle). Catalyst pushes the filter into the join
    # condition, inlining the aliases, so the condition evaluates the
    # intersect twice and the survivor projection once — still strictly
    # fewer hash-set builds than the union form (2 intersects vs
    # intersect+union per pruned candidate) and no union-array copy.
    inter = F.size(F.array_intersect("__ws_a", "__ws_b"))
    return (
        cand.join(x, F.col("id_a") == F.col("__xid"))
        .join(y, F.col("id_b") == F.col("__yid"))
        .select(
            "id_a",
            "id_b",
            inter.alias("__i"),
            (F.size("__ws_a") + F.size("__ws_b")).alias("__s"),
        )
        .select(
            "id_a",
            "id_b",
            (F.col("__i").cast("double") / (F.col("__s") - F.col("__i"))).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def lsh_band_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    band_size: int = 8,
    tokenizer=None,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Per-document LSH band rows: ``(id, band_no, band_hash, sig)``.

    ``band_no`` is 1-based (matching the oracle replay in
    queries/dedup.py), ``band_hash`` is a string under either family
    (md5 hex, or the decimal rendering of the per-band xxhash64), and
    ``sig`` carries the full minhash signature so an index built from
    these rows can estimate jaccard without re-reading text. Pure
    projection + one posexplode — no shuffle."""
    assert num_hashes % band_size == 0
    assert hash_family in ("md5", "xxhash64")
    tokenizer = tokenizer or word_set
    num_bands = num_hashes // band_size
    th_fn = token_hash_int if hash_family == "md5" else token_hash_int_fast
    hashed = df.select(
        F.col(id_col),
        F.transform(tokenizer(F.col(text_col)), th_fn).alias("__th"),
    )
    mh = hashed.select(
        F.col(id_col), *minhash_array_columns(F.col("__th"), num_hashes)
    )
    if hash_family == "md5":
        band_hash = [
            F.md5(
                F.concat_ws(
                    "|", *[f"h{j}" for j in range(b * band_size, (b + 1) * band_size)]
                )
            )
            for b in range(num_bands)
        ]
    else:
        band_hash = [
            F.xxhash64(
                *[F.col(f"h{j}") for j in range(b * band_size, (b + 1) * band_size)]
            ).cast("string")
            for b in range(num_bands)
        ]
    sig = F.array(*[F.col(f"h{j}") for j in range(num_hashes)])
    rows = mh.select(
        F.col(id_col),
        sig.alias("sig"),
        F.posexplode(F.array(*band_hash)).alias("__b0", "band_hash"),
    )
    return rows.select(
        F.col(id_col),
        (F.col("__b0") + 1).cast("int").alias("band_no"),
        "band_hash",
        "sig",
    )


# ---------------------------------------------------------------------------
# Persisted LSH band index (VERDICT r9 #6) — the near-dup analog of
# operators/ivf.py's save_ivf_index: mint signatures for
# the historical corpus ONCE, lay the band rows out partitioned by
# (band_no, band_bucket), and let every later ingest batch probe only
# the partitions its own band keys hash into. Without this, daily
# near-dup ingest re-minted signatures for the WHOLE corpus every run
# (x117 is exact-fingerprint-only); with it, the probe's work scales
# with the batch: |batch| x num_bands band keys -> at most
# num_bands x num_buckets partitions scanned (partition-pruned at the
# parquet source, plan-pinned in tests/test_plans.py), one equi-join on
# (band_no, band_hash), then the caller's verify tier over the
# candidate pairs only.
# ---------------------------------------------------------------------------
LSH_INDEX_BUCKETS = 64

# Probe batches at or below this many band rows broadcast into the
# candidate join (a daily-ingest batch: |batch| x num_bands rows, each
# carrying the full minhash signature). Larger "batches" — backfills —
# fall through to an unhinted join so AQE picks the strategy from real
# runtime sizes; a forced multi-GB broadcast there is an OOM, not a
# speedup (ADVICE r10).
PROBE_BROADCAST_MAX_ROWS = 1_000_000

# Canonical sample input for the tokenizer digest: exercises case,
# repeats, digits, punctuation and whitespace variants so two
# tokenizers that differ on any of them digest differently.
_TOK_CANON = "The quick brown Fox fox jumps-over the lazy dog dog 123 a.b\tc\nd  e"


def _tokenizer_digest(spark, tokenizer) -> str:
    """sha256 over the tokenizer's canonical-sample output (sorted —
    minhash consumes tokens as a SET, so order-only differences are
    semantically equal). Persisted in the index params and compared on
    append/probe: the __name__ fail-fast alone lets two different
    lambdas (both named '<lambda>') or partials silently mix
    tokenizations in one index (ADVICE r10)."""
    tokenizer = tokenizer or word_set
    return spark.range(1).select(
        F.sha2(
            F.concat_ws(
                "\x1f", F.array_sort(F.array_distinct(tokenizer(F.lit(_TOK_CANON))))
            ),
            256,
        ).alias("d")
    ).collect()[0]["d"]


def _check_tokenizer(spark, params, tokenizer, path: str, verb: str) -> None:
    """Fail fast when the caller's tokenizer disagrees with the one the
    index was built with — by name, and (for indexes new enough to
    carry it) by canonical-sample digest."""
    tok_name = getattr(tokenizer or word_set, "__name__", "custom")
    if tok_name != params["tokenizer"]:
        raise ValueError(
            f"{verb} tokenizer {tok_name!r} != index tokenizer"
            f" {params['tokenizer']!r} at {path}"
        )
    saved_digest = params.asDict().get("tok_digest")
    if saved_digest is not None:
        digest = _tokenizer_digest(spark, tokenizer)
        if digest != saved_digest:
            raise ValueError(
                f"{verb} tokenizer {tok_name!r} produces different tokens"
                f" than the index tokenizer at {path} (canonical-sample"
                f" digest {digest[:12]}… != {saved_digest[:12]}…)"
            )


def save_lsh_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    band_size: int = 8,
    tokenizer=None,
    hash_family: str = "xxhash64",
    num_buckets: int = LSH_INDEX_BUCKETS,
) -> None:
    """Materialize the band index at ``path``: ``lists/`` hive-partitioned
    by (band_no, band_bucket) with rows (band_hash, <id_col>, sig), and
    ``params/`` (a one-row parquet pinning the signature geometry so a
    probe can never silently mix hash families or band layouts).

    ``band_bucket`` = pmod(xxhash64(band_hash), num_buckets): a pure
    partitioning detail — every band_hash lands wholly inside one
    bucket, so pruning to the batch's buckets loses no candidate. The
    tokenizer is code, not data; callers must probe with the same one
    they built with (params records its __name__ for a fail-fast)."""
    spark = df.sparkSession
    rows = lsh_band_rows(
        df, id_col, text_col, num_hashes, band_size, tokenizer, hash_family
    )
    (
        rows.withColumn(
            "band_bucket",
            F.pmod(F.xxhash64(F.col("band_hash")), F.lit(num_buckets)).cast("int"),
        )
        .write.mode("overwrite")
        .partitionBy("band_no", "band_bucket")
        .parquet(path + "/lists")
    )
    tok_name = getattr(tokenizer or word_set, "__name__", "custom")
    tok_digest = _tokenizer_digest(spark, tokenizer)
    spark.createDataFrame(
        [(num_hashes, band_size, hash_family, num_buckets, tok_name, tok_digest)],
        "num_hashes int, band_size int, hash_family string, num_buckets int,"
        " tokenizer string, tok_digest string",
    ).coalesce(1).write.mode("overwrite").parquet(path + "/params")


def append_lsh_index(
    batch: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokenizer=None,
) -> None:
    """Fold a new batch into a saved index: mint the BATCH's band rows
    under the index's own persisted geometry (params sidecar — a probe
    tomorrow can never see a mixed-family index) and append them into
    the same (band_no, band_bucket) layout. This is the compounding
    daily-ingest shape: index work per day is the day's batch, and
    ``append(build(A), B)`` holds exactly the band rows of
    ``build(A ∪ B)`` (bucketing is a pure function of band_hash, so
    appended rows land in the partitions probes already prune to).

    Replay tolerance: appending the same batch twice duplicates its
    band rows, which only duplicates probe CANDIDATES — and
    ``probe_lsh_index`` collapses those via its pair groupBy — so an
    at-least-once ingest loop (table commit first, index append after,
    crash replays the batch) converges without an index transaction."""
    spark = batch.sparkSession
    params = spark.read.parquet(path + "/params").collect()[0]
    _check_tokenizer(spark, params, tokenizer, path, "append")
    rows = lsh_band_rows(
        batch,
        id_col,
        text_col,
        params["num_hashes"],
        params["band_size"],
        tokenizer,
        params["hash_family"],
    )
    (
        rows.withColumn(
            "band_bucket",
            F.pmod(F.xxhash64(F.col("band_hash")), F.lit(params["num_buckets"]))
            .cast("int"),
        )
        .write.mode("append")
        .partitionBy("band_no", "band_bucket")
        .parquet(path + "/lists")
    )


def probe_lsh_index(
    spark,
    path: str,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokenizer=None,
    broadcast_max_rows: int = PROBE_BROADCAST_MAX_ROWS,
) -> DataFrame:
    """LSH candidates between a new batch and the saved index:
    ``(index_id, batch_id, sig_agree, n_bands)`` — distinct pairs whose
    band rows collide, with ``sig_agree`` = number of matching minhash
    components and ``n_bands`` = number of DISTINCT bands that collided
    (callers can pre-rank or pre-filter candidates before their exact
    verify tier without touching the historical text).

    The probed (band_no, band_bucket) keys are collected driver-side —
    bounded by num_bands x num_buckets (a config-sized set, NOT the
    batch or corpus) — and pushed as ONE ``isin`` over the injective
    combined key band_no*num_buckets+band_bucket (both partition
    columns, so the scan prunes to exactly the probed pairs, never the
    cross product of the band and bucket sets — a batch touching
    (1, k1) and (2, k2) must not scan (1, k2)/(2, k1), ADVICE r10; the
    single-expression form replaces r11's O(pairs) OR-chain, VERDICT
    r11 note).

    Join strategy: a daily-ingest batch (≤ ``broadcast_max_rows`` band
    rows) broadcasts into the candidate join; a backfill-sized batch
    does not — its band rows carry full signatures and a forced
    multi-GB broadcast would OOM where AQE's runtime choice is safe.
    The row count is free (the probe frame is already checkpointed for
    the key collection). Candidates are identical either way."""
    params = spark.read.parquet(path + "/params").collect()[0]
    _check_tokenizer(spark, params, tokenizer, path, "probe")
    rows = lsh_band_rows(
        batch,
        id_col,
        text_col,
        params["num_hashes"],
        params["band_size"],
        tokenizer,
        params["hash_family"],
    )
    probe = rows.select(
        F.col(id_col).alias("batch_id"),
        "band_no",
        "band_hash",
        F.col("sig").alias("__bsig"),
        F.pmod(F.xxhash64(F.col("band_hash")), F.lit(params["num_buckets"]))
        .cast("int")
        .alias("band_bucket"),
    ).localCheckpoint()
    keys = {
        (r["band_no"], r["band_bucket"])
        for r in probe.select("band_no", "band_bucket").distinct().collect()
    }
    # Exact (band_no, band_bucket) pairs as ONE isin over a combined
    # key expression — band_no*num_buckets+band_bucket is injective, so
    # this is exactly the pair set, and both operands are partition
    # columns so the scan still prunes to precisely the probed
    # partitions. A per-pair OR-chain would be semantically identical
    # but O(bands x buckets) expression nodes deep (~1-4k at plausible
    # geometry) — Catalyst analysis cost for no extra pruning (VERDICT
    # r11 note). An empty batch has no keys: prune everything.
    nb = int(params["num_buckets"])
    combined = F.col("band_no") * F.lit(nb) + F.col("band_bucket")
    pair_keys = sorted(b * nb + k for b, k in keys)
    pair_pred = combined.isin(pair_keys) if pair_keys else F.lit(False)
    lists = spark.read.parquet(path + "/lists").filter(pair_pred)
    probe_side = probe.drop("band_bucket")
    if probe.count() <= broadcast_max_rows:
        probe_side = F.broadcast(probe_side)
    cand = lists.join(probe_side, ["band_no", "band_hash"])
    agree = F.size(
        F.filter(
            F.zip_with("sig", "__bsig", lambda a, b: (a == b).cast("int")),
            lambda x: x == 1,
        )
    )
    return (
        cand.select(
            F.col(id_col).alias("index_id"),
            "batch_id",
            "band_no",
            agree.alias("sig_agree"),
        )
        .groupBy("index_id", "batch_id")
        .agg(
            F.max("sig_agree").alias("sig_agree"),
            F.countDistinct("band_no").alias("n_bands"),
        )
    )


def neardup_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    band_size: int = 8,
    threshold: float = 0.9,
    tokenizer=None,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Near-dup *deduplication* (vs. pair listing): greedy min-id
    survivorship — a row is dropped iff a verified near-duplicate with a
    smaller id exists. This is the 100 TB default (SCALE.md §2): the
    pair list is quadratic in cluster size, the dropped-id set is
    linear. Not a transitive closure (A~B~C with A≁C keeps A and C's
    fate independent of each other) — same greedy contract as most
    production MinHash dedup passes."""
    pairs = minhash_lsh_pairs(
        df,
        id_col=id_col,
        text_col=text_col,
        num_hashes=num_hashes,
        band_size=band_size,
        threshold=threshold,
        tokenizer=tokenizer,
        hash_family=hash_family,
    )
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(dropped, id_col, "left_anti")


def compact_lsh_index(spark, src_path: str, dst_path: str) -> dict:
    """Maintenance rewrite of a persisted band index into ``dst_path``:
    drop the full-row duplicates that at-least-once appends accumulate
    (a replayed batch re-appends its band rows verbatim — harmless to
    probes, which collapse candidates, but each replay re-inflates
    every later probe's join input) and coalesce each (band_no,
    band_bucket) partition's small append files into one.

    Produces a NEW index rather than rewriting in place: the index has
    no version manifest, so an in-place swap would have a crash window
    in which probes see a half-compacted layout — writing to a fresh
    path is crash-safe by construction (an incomplete dst is simply
    never adopted; the src keeps serving). The caller swaps paths when
    the returned counts look right — same explicit-adoption contract
    as a FAISS index rebuild. Returns row/duplicate counts.

    Shape: one distinct + one shuffle on the partition keys (one task
    per (band_no, band_bucket) — bucket hashing keeps them uniform),
    then the same hive layout probes already prune. The report counts
    ride the rewrite itself as Observations (VERDICT r11 note: the
    original paid two extra full scans purely for the report), so the
    index is read exactly once. Params (geometry + tokenizer digest)
    are copied verbatim, so existing probe/append callers work against
    dst unchanged."""
    from pyspark.sql import Observation

    jvm = spark.sparkContext._jvm
    dst_p = jvm.org.apache.hadoop.fs.Path(dst_path)
    fs = dst_p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if fs.exists(dst_p):
        raise ValueError(f"{dst_path} exists; compact into a fresh path")
    obs_in = Observation("compact_lsh_in")
    obs_out = Observation("compact_lsh_out")
    lists = spark.read.parquet(src_path + "/lists").observe(
        obs_in, F.count(F.lit(1)).alias("rows")
    )
    deduped = (
        lists.dropDuplicates()
        .repartition("band_no", "band_bucket")
        .observe(obs_out, F.count(F.lit(1)).alias("rows"))
    )
    (
        deduped.write.mode("overwrite")
        .partitionBy("band_no", "band_bucket")
        .parquet(dst_path + "/lists")
    )
    spark.read.parquet(src_path + "/params").coalesce(1).write.mode(
        "overwrite"
    ).parquet(dst_path + "/params")
    n_rows = int(obs_in.get["rows"])
    n_kept = int(obs_out.get["rows"])
    return {
        "n_rows": n_rows,
        "n_kept": n_kept,
        "n_duplicates_dropped": n_rows - n_kept,
    }


def lsh_index_health(spark, path: str) -> DataFrame:
    """Per-band health report of a persisted band index — the number
    the compact/rebuild decision needs (the ivf_health_report
    discipline applied to the near-dup index). Reports, per band:

    * ``n_rows`` / ``n_distinct_rows`` / ``n_dup_rows`` — how much
      replay debris at-least-once appends have accumulated;
      ``n_dup_rows`` is EXACTLY what :func:`compact_lsh_index` would
      drop (both define a duplicate as a full-row repeat), so the
      operator's output is the compaction trigger, not a proxy.
    * ``n_buckets_used`` / ``n_hash_groups`` — bucket-geometry fill
      (a band whose hashes all land in a few buckets loses the
      partition-pruned probe's parallelism).
    * ``max_hash_group`` — distinct docs in the hottest band_hash
      group: the mega-bucket hazard that turns a probe's candidate
      join quadratic for that key.

    Shape: one scan of ``lists/``, a full-row groupBy (partial-agg
    shuffles on the natural keys), one (band_no, band_hash) fold, one
    per-band fold. Output is num_bands rows; nothing collects."""
    lists = spark.read.parquet(path + "/lists")
    grouped = lists.groupBy(*lists.columns).agg(F.count(F.lit(1)).alias("__n"))
    g2 = grouped.groupBy("band_no", "band_bucket", "band_hash").agg(
        F.sum("__n").alias("rows_in_group"),
        F.count(F.lit(1)).alias("distinct_in_group"),
    )
    return (
        g2.groupBy("band_no")
        .agg(
            F.sum("rows_in_group").cast("bigint").alias("n_rows"),
            F.sum("distinct_in_group").cast("bigint").alias("n_distinct_rows"),
            (F.sum("rows_in_group") - F.sum("distinct_in_group"))
            .cast("bigint")
            .alias("n_dup_rows"),
            F.countDistinct("band_bucket").cast("bigint").alias("n_buckets_used"),
            F.count(F.lit(1)).cast("bigint").alias("n_hash_groups"),
            F.max("distinct_in_group").cast("bigint").alias("max_hash_group"),
        )
        .orderBy("band_no")
    )
