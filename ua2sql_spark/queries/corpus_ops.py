"""Corpus-curation operators a production training-data pipeline runs
between raw crawl and tokenizer: benchmark-contamination checks, corpus
heavy hitters, vocabulary/OOV coverage, deterministic training-order
shuffle, and within-document repetition scoring (the Gopher-rules
repetition signal). All over the ``documents`` table; extends the
SURVEY.md §2.11 X-series (reference provenance: the landed analytics
surface, /root/reference/README.md:2; these ops are `[EXT]` — north-star
extensions, not reference features).

Scale shape at 100 TB (SCALE.md §5b):

* n-gram construction is a pure projection (``transform`` over
  ``sequence`` — no explode until the op genuinely needs one row per
  gram, and the exploded gram rows carry only (doc_id, gram)).
* contamination joins shuffle on the gram string — the natural shuffle
  key; the train side is pre-aggregated to distinct grams so the join
  input is the gram vocabulary, not the corpus.
* vocabulary/OOV uses aggregate-then-broadcast: the top-N vocab is by
  construction tiny (N rows after one agg shuffle), so the per-token
  membership probe is a broadcast hash join against every token
  occurrence — no second corpus shuffle.
* the shuffle-order op is ``ORDER BY md5(seed|id) LIMIT k`` —
  TakeOrderedAndProject (per-partition top-k, merge on driver), never a
  global sort; writing a full shuffled corpus instead uses
  ``repartitionByRange`` on the same key.
* repetition scoring is map-only (projection arithmetic on the gram
  array) — zero shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ua2sql_spark.catalog import load_table
from ua2sql_spark.registry import query

# Eval-set membership for the contamination check: a deterministic
# id-hash split would be the production choice (operators/split.py);
# the modulus keeps the oracle a one-liner while exercising the same
# plan shape.
_EVAL_MOD = 97
_SHUFFLE_SEED = "shuf42|"


def word_ngrams(text: Column, n: int) -> Column:
    """Word n-grams of a space-tokenized text column, as an array of
    space-joined strings. Pure projection: ``transform`` over
    ``sequence`` + ``slice`` — no explode, no shuffle. Short documents
    (< n words) yield an empty array (``sequence`` would otherwise
    descend for negative bounds).

    The word array is ``let``-bound: the per-position lambda references
    a lambda VARIABLE, never the ``split`` expression itself — the
    naive form re-ran split once per n-gram position per row, O(W^2)
    per document (the r9 tripwire's lambda-inlining class)."""
    from ua2sql_spark.functions.arrays import let

    return let(
        F.split(text, " "),
        lambda words: F.when(
            F.size(words) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(words) - n),
                lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )


def _duck_ngrams(n: int) -> str:
    """DuckDB mirror of :func:`word_ngrams` (1-based inclusive slices)."""
    return (
        f"list_transform(range(1, greatest(len(string_split(text, ' ')) - {n - 2}, 1)), "
        f"i -> array_to_string((string_split(text, ' '))[i:i+{n - 1}], ' '))"
    )


# ---------------------------------------------------------------------------
# Benchmark contamination: for each eval document, the fraction of its
# distinct word 3-grams that also occur anywhere in the train split.
# The real-world use is decontaminating a crawl against eval benchmarks
# before training; at 100 TB the train side is the corpus and the eval
# side is small, so the distinct-gram pre-aggregation plus a gram-keyed
# shuffle join is the scalable shape (the eval side could additionally
# be broadcast when the benchmark suite is small).
# ---------------------------------------------------------------------------
@query(
    "x106_contamination",
    oracle=f"""
    WITH g AS (
        SELECT doc_id, list_distinct({_duck_ngrams(3)}) AS grams
        FROM documents
    ),
    ev AS (
        SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % {_EVAL_MOD} = 0
    ),
    tr AS (
        SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % {_EVAL_MOD} <> 0
    )
    SELECT ev.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(count(tr.gram) AS BIGINT) AS n_contaminated,
           ROUND(CAST(count(tr.gram) AS DOUBLE) / count(*), 6) AS contamination_rate
    FROM ev LEFT JOIN tr USING (gram)
    GROUP BY ev.doc_id
    """,
)
def x106_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    grams = d.select(
        "doc_id", F.array_distinct(word_ngrams(F.col("text"), 3)).alias("__grams")
    )
    is_eval = F.col("doc_id") % _EVAL_MOD == 0
    ev = grams.filter(is_eval).select("doc_id", F.explode("__grams").alias("gram"))
    tr = (
        grams.filter(~is_eval)
        .select(F.explode("__grams").alias("gram"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    n_hit = F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
    return (
        ev.join(tr, "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            n_hit.cast("long").alias("n_contaminated"),
            F.round(n_hit.cast("double") / F.count(F.lit(1)), 6).alias(
                "contamination_rate"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Corpus heavy hitters: top-20 tokens by occurrence count. One agg
# shuffle on the token (partial aggregation collapses each partition to
# its local vocabulary first), then TakeOrderedAndProject for the top-k
# — the count-min-sketch use case solved exactly, which Spark's partial
# agg makes affordable because the shuffle carries (token, partial
# count) not raw occurrences.
# ---------------------------------------------------------------------------
@query(
    "x107_heavy_hitters",
    oracle="""
    SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    ORDER BY n_occurrences DESC, token
    LIMIT 20
    """,
)
def x107_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "token")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Vocabulary coverage / OOV rate: build the top-100 token vocabulary,
# then measure per-language what fraction of token occurrences fall
# outside it — the go/no-go signal for tokenizer vocabulary sizing.
# Aggregate-then-broadcast: the vocab is 100 rows after one agg
# shuffle; membership is a broadcast join probed by every occurrence.
# ---------------------------------------------------------------------------
@query(
    "x108_vocab_oov",
    oracle="""
    WITH tok AS (
        SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    vocab AS (
        SELECT token FROM tok GROUP BY token
        ORDER BY count(*) DESC, token LIMIT 100
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(*) - count(vocab.token) AS BIGINT) AS n_oov,
           ROUND(CAST(count(*) - count(vocab.token) AS DOUBLE) / count(*), 6)
               AS oov_rate
    FROM tok LEFT JOIN vocab USING (token)
    GROUP BY lang
    """,
)
def x108_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("lang", F.explode(F.split(F.col("text"), " ")).alias("token"))
    vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("__n"))
        .orderBy(F.desc("__n"), "token")
        .limit(100)
        .select("token", F.lit(1).alias("__in_vocab"))
    )
    n_tok = F.count(F.lit(1))
    n_oov = n_tok - F.sum(F.coalesce(F.col("__in_vocab"), F.lit(0)))
    return (
        tok.join(F.broadcast(vocab), "token", "left")
        .groupBy("lang")
        .agg(
            n_tok.cast("long").alias("n_tokens"),
            n_oov.cast("long").alias("n_oov"),
            F.round(n_oov.cast("double") / n_tok, 6).alias("oov_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic training-order shuffle: md5(seed|id) is an
# engine-independent, rerun-stable pseudorandom total order (the same
# trick as x90's stratified sampler and x99's mixture coin). The query
# surfaces the first 100 docs of that order via TakeOrderedAndProject;
# materializing the full shuffled corpus at 100 TB uses
# repartitionByRange + sortWithinPartitions on the same key, which
# plans one range-exchange and no global sort.
# ---------------------------------------------------------------------------
@query(
    "x109_train_shuffle",
    oracle=f"""
    SELECT doc_id, md5('{_SHUFFLE_SEED}' || CAST(doc_id AS VARCHAR)) AS shuffle_key
    FROM documents
    ORDER BY shuffle_key
    LIMIT 100
    """,
)
def x109_train_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit(_SHUFFLE_SEED), F.col("doc_id").cast("string")))
    return (
        d.select("doc_id", key.alias("shuffle_key"))
        .orderBy("shuffle_key")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Within-document repetition (Gopher-rules repetition signal): the
# fraction of a document's word 2-gram occurrences that are repeats of
# an earlier 2-gram in the same document. Map-only — the gram array,
# its distinct count, and the flag are projection arithmetic inside
# whole-stage codegen; nothing shuffles.
# ---------------------------------------------------------------------------
@query(
    "x110_dup_ngram_fraction",
    oracle=f"""
    WITH g AS (SELECT doc_id, {_duck_ngrams(2)} AS grams FROM documents)
    SELECT doc_id,
           CAST(len(grams) AS BIGINT) AS n_2grams,
           ROUND(CASE WHEN len(grams) = 0 THEN 0
                      ELSE CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE)
                           / len(grams) END, 6) AS dup_2gram_frac,
           (len(grams) > 0 AND
            CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE) / len(grams)
                > 0.2) AS flagged_repetitive
    FROM g
    """,
)
def x110_dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ua2sql_spark.functions.arrays import let

    d = load_table(spark, sf_dir, "documents")

    def metrics(grams):
        total = F.size(grams)
        dups = (total - F.size(F.array_distinct(grams))).cast("double")
        frac = F.when(total == 0, F.lit(0.0)).otherwise(dups / total)
        return F.struct(
            total.cast("long").alias("n_2grams"),
            F.round(frac, 6).alias("dup_2gram_frac"),
            ((total > 0) & (frac > 0.2)).alias("flagged_repetitive"),
        )

    # let-bound: the gram array builds ONCE per row; the multi-field
    # struct is a single child-projection column (multi-referenced, so
    # CollapseProject keeps it), not three re-evaluations
    return d.select(
        "doc_id", let(word_ngrams(F.col("text"), 2), metrics).alias("__m")
    ).select("doc_id", "__m.*")


# ---------------------------------------------------------------------------
# PII scrubbing (x111): redact emails/phone numbers before training.
# The synthetic corpus contains no PII, so both engines first INJECT a
# deterministic contact line per document and then scrub it — the
# redaction is exercised on real matches, and the md5 of the scrubbed
# text proves both engines produced byte-identical redacted output.
# Map-only (regexp projection inside codegen): zero shuffles, the shape
# is scan-speed at any corpus size.
# ---------------------------------------------------------------------------
_EMAIL_RE = "[a-z]+[0-9]+@example\\.com"
_PHONE_RE = "\\+1-555-[0-9]{4}"


@query(
    "x111_pii_scrub",
    oracle=f"""
    WITH injected AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com or +1-555-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(raw, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(raw, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
           md5(regexp_replace(regexp_replace(raw, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{_PHONE_RE}', '<PHONE>', 'g')) AS clean_md5
    FROM injected
    """,
)
def x111_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(raw, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(raw, F.lit(_EMAIL_RE), 0)).cast("bigint").alias("n_emails"),
        F.size(F.regexp_extract_all(raw, F.lit(_PHONE_RE), 0)).cast("bigint").alias("n_phones"),
        F.md5(scrubbed).alias("clean_md5"),
    )


# ---------------------------------------------------------------------------
# Token-budget sampling (x113): take documents in deterministic-shuffle
# order until a global token budget is exhausted — how a sized training
# mix is actually drawn from an oversized corpus. The running total
# comes from the same hash-prefix-bucketed prefix sum as x104 (one
# parallel window per bucket + a broadcast offset cumsum), so nothing
# ever sorts or scans the corpus in one partition; the oracle is the
# plain global running-SUM window.
# ---------------------------------------------------------------------------
_TOKEN_BUDGET = 2000


@query(
    "x113_token_budget_sample",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               md5('7|' || CAST(doc_id AS VARCHAR)) AS h
        FROM documents
    )
    SELECT doc_id, n_tokens, pos, cum_tokens FROM (
        SELECT doc_id, n_tokens,
               CAST(row_number() OVER (ORDER BY h, doc_id) AS BIGINT) AS pos,
               CAST(SUM(n_tokens) OVER (
                   ORDER BY h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_tokens
        FROM t
    ) WHERE cum_tokens <= {_TOKEN_BUDGET}
    """,
)
def x113_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ua2sql_spark.operators.ordering import hash_ordered

    d = load_table(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    ranked = hash_ordered(
        docs, "doc_id", weight_col="n_tokens", seed="7", cum_col="cum_tokens"
    )
    return ranked.filter(F.col("cum_tokens") <= _TOKEN_BUDGET).select(
        "doc_id", "n_tokens", "pos", F.col("cum_tokens").cast("bigint").alias("cum_tokens")
    )


# ---------------------------------------------------------------------------
# x128: length-bucketed inference batching — the padding-waste
# optimization every batched-inference / training pipeline runs: group
# documents into length buckets so each batch pads to its own bucket's
# max instead of the corpus max. Buckets cut at the exact length
# quartiles; the output is the padding audit (rows, bucket max, wasted
# padding tokens) that justifies the layout. At 100 TB the quartiles
# come from the mergeable percentile sketch (q114's contract pins
# sketch-vs-exact); the driver-checked tier uses exact percentiles so
# DuckDB agrees bit-for-bit. One quantile pass (broadcast 1 row) + one
# bucket aggregate; integer arithmetic throughout.
# ---------------------------------------------------------------------------
@query(
    "x128_length_bucket_batching",
    oracle="""
    WITH lens AS (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    cuts AS (
        SELECT CAST(QUANTILE_CONT(n_tokens, 0.25) AS DOUBLE) AS q1,
               CAST(QUANTILE_CONT(n_tokens, 0.50) AS DOUBLE) AS q2,
               CAST(QUANTILE_CONT(n_tokens, 0.75) AS DOUBLE) AS q3
        FROM lens
    ),
    bucketed AS (
        SELECT n_tokens,
               CASE WHEN n_tokens <= q1 THEN 0
                    WHEN n_tokens <= q2 THEN 1
                    WHEN n_tokens <= q3 THEN 2
                    ELSE 3 END AS bucket
        FROM lens CROSS JOIN cuts
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(n_tokens) AS min_len,
           MAX(n_tokens) AS max_len,
           CAST(COUNT(*) * MAX(n_tokens) - SUM(n_tokens) AS BIGINT)
               AS padding_waste
    FROM bucketed
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def x128_length_bucket_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    lens = d.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens")
    )
    cuts = lens.agg(
        F.percentile("n_tokens", F.lit(0.25)).alias("q1"),
        F.percentile("n_tokens", F.lit(0.50)).alias("q2"),
        F.percentile("n_tokens", F.lit(0.75)).alias("q3"),
    )
    bucketed = lens.crossJoin(F.broadcast(cuts)).select(
        "n_tokens",
        F.when(F.col("n_tokens") <= F.col("q1"), 0)
        .when(F.col("n_tokens") <= F.col("q2"), 1)
        .when(F.col("n_tokens") <= F.col("q3"), 2)
        .otherwise(3)
        .alias("bucket"),
    )
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_tokens").alias("min_len"),
            F.max("n_tokens").alias("max_len"),
            (F.count(F.lit(1)) * F.max("n_tokens") - F.sum("n_tokens"))
            .cast("bigint")
            .alias("padding_waste"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# x129: per-domain document caps — the anti-domination guard: no source
# (here: language) may contribute more than K documents, and which K
# survive is a deterministic content-hash order, not arrival order —
# rerun/partitioning/engine-stable, the same reproducibility contract as
# x90/x99. One window per group (hash order), map-side everything else.
# ---------------------------------------------------------------------------
_DOMAIN_CAP = 150


@query(
    "x129_domain_cap",
    oracle=f"""
    SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5('cap|' || CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn
        FROM documents
    ) WHERE rn <= {_DOMAIN_CAP}
    """,
)
def x129_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    coin = F.md5(F.concat_ws("|", F.lit("cap"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(coin, "doc_id")
    return (
        d.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= _DOMAIN_CAP)
        .select("doc_id", "lang")
    )


# ---------------------------------------------------------------------------
# x138: domain-authority PageRank over the content-syndication graph —
# the web-corpus quality signal (domain-level PageRank is a standard
# feature in crawl-quality scoring, e.g. Common-Crawl-derived corpora
# weight domains by harmonic/PageRank centrality). Everything derives
# from the corpus itself:
#
# * EDGES: source A links to source B when they share an 8-word
#   shingle (content syndication). Scale-safely built from the
#   per-(source, gram) DISTINCT projection with a HARD per-gram
#   fan-in cap (_PR_FANIN_CAP): grams shared by more than K sources
#   are stop-grams and are dropped, so the pair explode is bounded at
#   K² structs per gram — never |domains|² from one viral gram; the
#   resulting edge list is sparse in practice, so it's materialized
#   once with localCheckpoint (the components.py discipline) and
#   reused by every iteration instead of re-deriving the shingle join
#   K times.
# * RANKS: K=3 synchronous iterations of
#   r'(v) = (1-d)/N + d·Σ_{u→v} r(u)/outdeg(u), d = 0.85. Each
#   iteration is ONE shuffle (contribution aggregate on dst) plus a
#   broadcast-joined node table; K is fixed, so the whole query is a
#   statically-unrolled 3-stage dataflow — no driver-side loop state.
# * DETERMINISM: contributions are per-row double divisions (identical
#   operands both engines); the per-dst sum uses the exact
#   DECIMAL(28,12) interior; each iteration rounds to 12 decimals so
#   accumulated ranks stay bit-identical across engines and
#   partitionings. Dangling nodes (outdeg 0) contribute only teleport
#   mass — the no-redistribution PageRank variant, identical in both
#   engines by construction.
# ---------------------------------------------------------------------------
_PR_D = 0.85
_PR_ITERS = 3
_PR_GRAM = 8
# Per-gram fan-in cap: a gram shared by more than K sources is a
# stop-gram (boilerplate, navigation chrome) that carries no syndication
# signal — and without a cap, ONE such gram at crawl scale materializes
# |domains|² pair structs from a single row in a single task (VERDICT r5
# wrong-#1). Dropping it bounds the per-gram explode at K² structs.
_PR_FANIN_CAP = 64

_SQL_DSUM12 = "CAST(CAST(SUM(CAST(({expr}) AS DECIMAL(28,12))) AS VARCHAR) AS DOUBLE)"


def _pr_iter_sql(prev: str, out: str) -> str:
    contrib = _SQL_DSUM12.format(expr="p.r / od.deg")
    return f"""
    {out} AS (
        SELECT n.source,
               ROUND((1 - {_PR_D}) / nn.n + {_PR_D} * COALESCE(c.s, 0.0), 12) AS r
        FROM nodes n CROSS JOIN ncount nn
        LEFT JOIN (
            SELECT e.dst AS source, {contrib} AS s
            FROM {prev} p
            JOIN outdeg od ON od.source = p.source
            JOIN edges e ON e.src = p.source
            GROUP BY e.dst
        ) c ON c.source = n.source
    )"""


def pagerank_shared_grams(
    d: DataFrame, gram: int = _PR_GRAM, cap: int = _PR_FANIN_CAP
) -> DataFrame:
    """(gram, source-set) rows for linking grams — fan-in HARD-capped.

    Edge derivation is ONE gram shuffle, and the shuffle KEY is the
    16-hex-char md5 prefix of the gram, not the ~50-char gram string
    (the compact-shuffle-key discipline; replayed VERBATIM by the
    oracle, so even a prefix collision yields the same edge in both
    engines). collect_set dedups sources per gram map-side +
    reduce-side (no separate pre-distinct, no self-join); the pair
    expansion runs over the per-gram source SETS, HARD-capped at
    ``cap`` sources: a stop-gram shared by most domains would
    otherwise put |domains| sources in ONE row and explode |domains|²
    structs inside one task (straggler/OOM at crawl scale). Grams
    above the cap are boilerplate with no linkage signal, so they are
    dropped, bounding the explode at cap² structs per gram. The oracle
    mirrors the cap with HAVING COUNT(*) BETWEEN 2 AND K; this is the
    plan you'd want at 100 TB, where shuffling each (source, gram)
    pair twice more for a join would double the largest exchange.
    """
    w = F.split(F.col("text"), " ")
    grams = d.filter(F.size(w) >= gram).select(
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(w) - (gram - 1)),
                lambda i: F.substring(
                    F.md5(F.array_join(F.slice(w, i, gram), " ")), 1, 16
                ),
            )
        ).alias("g"),
    )
    return (
        grams.groupBy("g")
        .agg(F.collect_set("source").alias("ss"))
        .filter(F.size("ss").between(2, cap))
    )


def pagerank_edges(
    d: DataFrame, gram: int = _PR_GRAM, cap: int = _PR_FANIN_CAP
) -> DataFrame:
    """Distinct directed (src, dst) syndication edges with capped fan-in."""
    return (
        pagerank_shared_grams(d, gram, cap)
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("ss"),
                        lambda a: F.transform(
                            F.col("ss"),
                            lambda b: F.struct(a.alias("src"), b.alias("dst")),
                        ),
                    )
                )
            ).alias("e")
        )
        .select(F.col("e.src").alias("src"), F.col("e.dst").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


@query(
    "x138_domain_pagerank",
    oracle=f"""
    WITH words AS (
        SELECT source, string_split(text, ' ') AS w FROM documents
    ),
    grams AS (
        SELECT DISTINCT source,
               substr(md5(array_to_string(w[i:i+{_PR_GRAM - 1}], ' ')), 1, 16) AS g
        FROM words, unnest(range(1, len(w) - {_PR_GRAM - 2})) AS t(i)
        WHERE len(w) >= {_PR_GRAM}
    ),
    linking_grams AS (
        -- mirror of the Spark-side fan-in cap: grams shared by 2..K
        -- sources link; stop-grams (> K sources) are dropped
        SELECT g FROM grams
        GROUP BY g HAVING COUNT(*) BETWEEN 2 AND {_PR_FANIN_CAP}
    ),
    edges AS (
        SELECT DISTINCT a.source AS src, b.source AS dst
        FROM grams a
        JOIN linking_grams lg ON a.g = lg.g
        JOIN grams b ON a.g = b.g AND a.source <> b.source
    ),
    nodes AS (SELECT DISTINCT source FROM documents),
    ncount AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    outdeg AS (
        SELECT src AS source, CAST(COUNT(*) AS DOUBLE) AS deg
        FROM edges GROUP BY src
    ),
    r0 AS (
        SELECT n.source, ROUND(1.0 / nn.n, 12) AS r
        FROM nodes n CROSS JOIN ncount nn
    ),
    {_pr_iter_sql('r0', 'r1')},
    {_pr_iter_sql('r1', 'r2')},
    {_pr_iter_sql('r2', 'r3')}
    SELECT r3.source,
           ROUND(r3.r, 6) AS pagerank,
           CAST(COALESCE(od.deg, 0) AS BIGINT) AS n_out
    FROM r3 LEFT JOIN outdeg od ON od.source = r3.source
    """,
)
def x138_domain_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", rebalance=True)
    # |domains|-bounded; materialize once, every iteration reuses it.
    edges = pagerank_edges(d).localCheckpoint()
    # |domains| rows; materialized once so the 3 iterations (plus the
    # teleport count) don't each re-run the corpus-wide distinct.
    nodes = d.select("source").distinct().localCheckpoint()
    ncount = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    outdeg = edges.groupBy(F.col("src").alias("source")).agg(
        F.count(F.lit(1)).cast("double").alias("deg")
    )

    ranks = nodes.crossJoin(F.broadcast(ncount)).select(
        "source", F.round(F.lit(1.0) / F.col("n"), 12).alias("r")
    )
    for _ in range(_PR_ITERS):
        contrib = (
            ranks.join(outdeg, "source")
            .join(edges, ranks.source == edges.src)
            .groupBy(F.col("dst").alias("source"))
            .agg(
                F.sum((F.col("r") / F.col("deg")).cast("decimal(28,12)"))
                .cast("double")
                .alias("s")
            )
        )
        ranks = (
            nodes.crossJoin(F.broadcast(ncount))
            .join(contrib, "source", "left")
            .select(
                "source",
                F.round(
                    (1 - _PR_D) / F.col("n")
                    + _PR_D * F.coalesce(F.col("s"), F.lit(0.0)),
                    12,
                ).alias("r"),
            )
        )
    return (
        ranks.join(outdeg.withColumnRenamed("deg", "od"), "source", "left")
        .select(
            "source",
            F.round(F.col("r"), 6).alias("pagerank"),
            F.coalesce(F.col("od"), F.lit(0.0)).cast("bigint").alias("n_out"),
        )
    )


# ---------------------------------------------------------------------------
# x143: Unicode NFC normalization — the first transform every real
# crawl pipeline applies: visually-identical strings with different
# codepoint sequences (composed U+00E9 vs e + combining U+0301) break
# exact dedup, shingle matching, and tokenizer vocab lookup unless the
# corpus is canonicalized first. The synthetic corpus is ASCII, so the
# query INJECTS composed/decomposed suffixes deterministically by
# doc_id in BOTH engines (the x111 PII-injection pattern) — the
# normalizer provably fires (changed=true rows exist) and its output
# digests are hash-checked byte-for-byte against DuckDB's
# nfc_normalize. Spark side runs stdlib unicodedata inside one
# Arrow-batched mapInPandas (no JVM NFC builtin) — map-only, no
# shuffle; at 100 TB this rides the same scan as the rest of the
# cleaning pass.
# ---------------------------------------------------------------------------
@query(
    "x143_unicode_normalize",
    oracle="""
    WITH injected AS (
        SELECT doc_id,
               text || CASE
                   WHEN doc_id % 3 = 0 THEN ' caf' || chr(101) || chr(769)
                   WHEN doc_id % 3 = 1 THEN ' caf' || chr(233)
                   ELSE ''
               END AS raw
        FROM documents
    )
    SELECT doc_id,
           nfc_normalize(raw) <> raw AS changed,
           CAST(len(raw) AS BIGINT) AS n_chars_raw,
           CAST(len(nfc_normalize(raw)) AS BIGINT) AS n_chars_norm,
           md5(nfc_normalize(raw)) AS norm_md5
    FROM injected
    """,
)
def x143_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import unicodedata
    from collections.abc import Iterator

    import pandas as pd

    d = load_table(spark, sf_dir, "documents")
    # Two literals that RENDER identically but are different codepoint
    # sequences: branch 0 decomposed (e U+0065 + combining acute U+0301,
    # which NFC composes), branch 1 precomposed (U+00E9, an NFC
    # fixpoint). Written as escapes so no editor/tool can silently
    # recompose them; mirrors the oracle's chr(101)||chr(769) / chr(233).
    suffix = (
        F.when(F.col("doc_id") % 3 == 0, F.lit(" caf\u0065\u0301"))
        .when(F.col("doc_id") % 3 == 1, F.lit(" caf\u00e9"))
        .otherwise(F.lit(""))
    )
    injected = d.select(
        "doc_id", F.concat(F.col("text"), suffix).alias("raw")
    )

    def normalize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            norm = pdf["raw"].map(lambda s: unicodedata.normalize("NFC", s))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "changed": norm != pdf["raw"],
                    "n_chars_raw": pdf["raw"].str.len().astype("int64"),
                    "n_chars_norm": norm.str.len().astype("int64"),
                    "norm_md5": norm.map(
                        lambda s: hashlib.md5(s.encode("utf-8")).hexdigest()
                    ),
                }
            )

    return injected.mapInPandas(
        normalize,
        schema="doc_id bigint, changed boolean, n_chars_raw bigint, "
        "n_chars_norm bigint, norm_md5 string",
    )


# ---------------------------------------------------------------------------
# x148: DSIR-style importance weighting — Data Selection with
# Importance Resampling (Xie et al., 2023), the production recipe for
# "find raw-corpus documents that look like the target domain":
# featurize text into HASHED n-gram buckets (md5-mod here, the
# cross-engine hash_bucket discipline), estimate smoothed bucket
# distributions for the TARGET slice and the RAW corpus, and score
# every document by its total log-likelihood ratio
# Σ count_b(doc)·ln(p̂_target[b]/p̂_raw[b]). Positive = more
# target-like than the corpus average (the selection gate).
# Determinism: each bucket's log-ratio is rounded to 4 decimals before
# any aggregation (the x125 libm quantization), and the per-doc sum
# runs the exact decimal interior.
# Scale shape: the two distribution estimates are B-bounded aggregates
# (B=256 rows) broadcast back; scoring is one word-explode joined to
# the broadcast weights plus ONE per-doc aggregate shuffle — corpus
# passes: exactly two (estimate + score), both linear.
# ---------------------------------------------------------------------------
_DSIR_B = 256
_DSIR_TARGET_LANG = "en"

_DSIR_BUCKET_SQL = (
    "(('0x' || substring(md5(word), 1, 15))::BIGINT % {b})"
)


@query(
    "x148_dsir_importance",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
        FROM documents
    ),
    bucketed AS (
        SELECT doc_id, lang, {_DSIR_BUCKET_SQL.format(b=_DSIR_B)} AS b
        FROM words
    ),
    tcnt AS (
        SELECT b, CAST(COUNT(*) AS DOUBLE) AS n FROM bucketed
        WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY b
    ),
    rcnt AS (
        SELECT b, CAST(COUNT(*) AS DOUBLE) AS n FROM bucketed GROUP BY b
    ),
    tot AS (
        SELECT (SELECT SUM(n) FROM tcnt) AS tt, (SELECT SUM(n) FROM rcnt) AS rt
    ),
    weights AS (
        SELECT r.b,
               ROUND(LN(((COALESCE(t.n, 0) + 1) / (tot.tt + {_DSIR_B}))
                        / ((r.n + 1) / (tot.rt + {_DSIR_B}))), 4) AS w
        FROM rcnt r LEFT JOIN tcnt t ON t.b = r.b CROSS JOIN tot
    )
    SELECT doc_id,
           any_value(lang) AS lang,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           ROUND(CAST(CAST(SUM(CAST(w AS DECIMAL(28,8))) AS STRING) AS DOUBLE), 4)
               AS importance,
           CAST(SUM(CAST(w AS DECIMAL(28,8))) AS STRING)::DOUBLE > 0 AS selected
    FROM bucketed JOIN weights USING (b)
    GROUP BY doc_id
    """,
)
def x148_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ua2sql_spark.operators.split import hash_bucket
    from ua2sql_spark.queries.common import DEC

    d = load_table(spark, sf_dir, "documents")
    bucketed = d.select(
        "doc_id", "lang", F.explode(F.split(F.col("text"), " ")).alias("word")
    ).select("doc_id", "lang", hash_bucket(F.col("word"), _DSIR_B).alias("b"))
    tcnt = (
        bucketed.filter(F.col("lang") == _DSIR_TARGET_LANG)
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("double").alias("tn"))
    )
    rcnt = bucketed.groupBy("b").agg(
        F.count(F.lit(1)).cast("double").alias("rn")
    )
    tot = rcnt.join(tcnt, "b", "left").agg(
        F.sum(F.coalesce("tn", F.lit(0.0))).alias("tt"),
        F.sum("rn").alias("rt"),
    )
    weights = (
        rcnt.join(tcnt, "b", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            F.round(
                F.log(
                    ((F.coalesce(F.col("tn"), F.lit(0.0)) + 1) / (F.col("tt") + _DSIR_B))
                    / ((F.col("rn") + 1) / (F.col("rt") + _DSIR_B))
                ),
                4,
            ).alias("w"),
        )
    )
    imp = F.sum(F.col("w").cast(DEC)).cast("double")
    return (
        bucketed.join(F.broadcast(weights), "b")
        .groupBy("doc_id")
        .agg(
            F.any_value(F.col("lang")).alias("lang"),
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.round(imp, 4).alias("importance"),
            (imp > 0).alias("selected"),
        )
    )


# ---------------------------------------------------------------------------
# x150: epoch up-sampling — the complement of x131's rate-based
# DOWN-sampling: low-resource slices are repeated an integral number
# of times per training epoch (how mixture weights above 1.0 are
# actually realized in sharded corpora: repeat factors, not sampling
# with replacement, so every epoch sees identical data). Factors are
# TRAINED from corpus counts: k_lang = ceil((max_n / n_lang)^alpha),
# capped — a deterministic integer per lang, broadcast back. The
# expansion is explode(sequence(1, k)) with a copy_id, so downstream
# shuffles can still dedup exact repeats by (doc_id, copy_id) and the
# pack/shuffle ops treat copies as ordinary rows. Map-only after one
# |langs|-row aggregate. Cross-libm exposure: POW inside the factor is
# quantized by CEIL to an integer (the x131 discipline) — a mismatch
# would need the ratio^alpha within one double ulp of an integer,
# across |langs| values.
# ---------------------------------------------------------------------------
_UPSAMPLE_ALPHA = 0.5
_UPSAMPLE_CAP = 4


@query(
    "x150_epoch_upsample",
    oracle=f"""
    WITH counts AS (
        SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n FROM documents GROUP BY lang
    ),
    factors AS (
        SELECT lang,
               LEAST(CAST(CEIL(POW((SELECT MAX(n) FROM counts) / n,
                                   {_UPSAMPLE_ALPHA})) AS BIGINT),
                     {_UPSAMPLE_CAP}) AS k
        FROM counts
    )
    SELECT d.doc_id, d.lang, t.copy_id, f.k AS n_copies
    FROM documents d
    JOIN factors f USING (lang)
    CROSS JOIN LATERAL unnest(range(1, CAST(f.k AS INTEGER) + 1)) AS t(copy_id)
    """,
)
def x150_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).cast("double").alias("n"))
    max_n = counts.agg(F.max("n").alias("mx"))
    factors = counts.crossJoin(F.broadcast(max_n)).select(
        "lang",
        F.least(
            F.ceil(F.pow(F.col("mx") / F.col("n"), _UPSAMPLE_ALPHA)).cast("bigint"),
            F.lit(_UPSAMPLE_CAP).cast("bigint"),
        ).alias("k"),
    )
    return (
        d.select("doc_id", "lang")
        .join(F.broadcast(factors), "lang")
        .select(
            "doc_id",
            "lang",
            F.explode(F.sequence(F.lit(1), F.col("k").cast("int"))).alias("copy_id"),
            F.col("k").alias("n_copies"),
        )
        .select("doc_id", "lang", F.col("copy_id").cast("bigint").alias("copy_id"), "n_copies")
    )


# ---------------------------------------------------------------------------
# X9: URL canonicalization — the first pass of every crawl-derived
# pipeline (CCNet/C4 lineage): lowercase scheme+authority, strip the
# default port and the www. prefix, drop utm_* tracking params and the
# fragment, then roll up by canonical host. Raw URLs are derived
# deterministically from doc_id in BOTH engines (the x153 EXIF pattern:
# the driver tables carry no real URLs, so the op's input is synthesized
# identically on each side and the TRANSFORM is what's verified).
#
# Scale shape: pure per-row expression work (regexp chains, no UDF, no
# join) followed by ONE host-grouped aggregate — map-only until a
# |hosts|-sized shuffle. Regexes avoid lookaround and backreferences so
# Java regex (Spark) and RE2 (DuckDB) agree byte-for-byte.
# ---------------------------------------------------------------------------


@query(
    "x160_url_canonicalize",
    oracle="""
    WITH raw AS (
        SELECT doc_id,
               'HTTPS://WWW.Example' || CAST(doc_id % 7 AS VARCHAR)
               || '.COM:443/docs/' || CAST(doc_id AS VARCHAR)
               || CASE WHEN doc_id % 3 = 0
                       THEN '?utm_source=feed&utm_medium=rss&id=' || CAST(doc_id AS VARCHAR)
                       ELSE '?id=' || CAST(doc_id AS VARCHAR) END
               || CASE WHEN doc_id % 5 = 0 THEN '#section' ELSE '' END AS url
        FROM documents
    ),
    canon AS (
        SELECT doc_id, url,
               regexp_replace(
                   regexp_replace(
                       lower(regexp_extract(regexp_replace(url, '#.*$', ''),
                                            '^[^/]*//[^/]*')),
                       ':443$', ''),
                   '//www\\.', '//')
               || regexp_replace(
                      regexp_replace(
                          regexp_replace(
                              regexp_replace(url, '#.*$', ''),
                              '^[^/]*//[^/]*', ''),
                          'utm_[^&#]*&', '', 'g'),
                      '[?&]utm_[^&#]*$', '') AS curl
        FROM raw
    )
    SELECT regexp_extract(curl, '//([^/:]*)', 1) AS host,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN curl <> url THEN 1 ELSE 0 END) AS BIGINT)
               AS n_changed,
           MIN(curl) AS sample_url
    FROM canon
    GROUP BY 1
    ORDER BY host
    """,
)
def x160_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    url = F.concat(
        F.lit("HTTPS://WWW.Example"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".COM:443/docs/"),
        sid,
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("?utm_source=feed&utm_medium=rss&id="), sid),
        ).otherwise(F.concat(F.lit("?id="), sid)),
        F.when(F.col("doc_id") % 5 == 0, F.lit("#section")).otherwise(F.lit("")),
    )
    raw = d.select("doc_id", url.alias("url"))
    no_frag = F.regexp_replace(F.col("url"), r"#.*$", "")
    authority = F.regexp_replace(
        F.regexp_replace(
            F.lower(F.regexp_extract(no_frag, r"^[^/]*//[^/]*", 0)),
            r":443$",
            "",
        ),
        r"//www\.",
        "//",
    )
    # Spark regexp_replace is replace-ALL; the oracle passes the 'g'
    # option so DuckDB (replace-FIRST by default) agrees. The second
    # rule strips a trailing utm param that has no following '&'.
    rest = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(no_frag, r"^[^/]*//[^/]*", ""),
            r"utm_[^&#]*&",
            "",
        ),
        r"[?&]utm_[^&#]*$",
        "",
    )
    canon = raw.select(
        "doc_id", "url", F.concat(authority, rest).alias("curl")
    )
    return (
        canon.groupBy(
            F.regexp_extract(F.col("curl"), r"//([^/:]*)", 1).alias("host")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("curl") != F.col("url"), 1).otherwise(0)
            ).alias("n_changed"),
            F.min("curl").alias("sample_url"),
        )
        .orderBy("host")
    )


# ---------------------------------------------------------------------------
# X10: per-source language-mix diversity — Shannon entropy of each
# source's language distribution (plus the normalized evenness ratio
# H / ln(k)). The mixture-diversity dashboard number a curation
# pipeline watches when rebalancing sources: a source collapsing to
# one language shows up as evenness -> 0 long before raw counts move.
#
# Scale shape: two stacked aggregates — (source, lang) counts, then a
# per-source fold — both partial-aggregated map-side; the second
# groupBy state is |sources| x |langs| rows. Determinism: ln is
# rounded at 4dp and each p*ln(p) term at 8dp before a decimal-interior
# sum (the x125 pattern), so Spark and DuckDB hash-match.
# ---------------------------------------------------------------------------


@query(
    "x161_source_diversity",
    oracle="""
    WITH cl AS (
        SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
        FROM documents GROUP BY source, lang
    ),
    tot AS (
        SELECT source, CAST(SUM(c) AS BIGINT) AS t,
               CAST(COUNT(*) AS BIGINT) AS n_langs
        FROM cl GROUP BY source
    ),
    terms AS (
        SELECT cl.source, tot.t, tot.n_langs,
               ROUND((CAST(cl.c AS DOUBLE) / tot.t)
                     * ROUND(LN(CAST(cl.c AS DOUBLE) / tot.t), 4), 8) AS pl
        FROM cl JOIN tot USING (source)
    )
    SELECT source,
           MAX(t) AS n_docs,
           MAX(n_langs) AS n_langs,
           CAST(-SUM(CAST(pl AS DECIMAL(28, 10))) AS DOUBLE) AS entropy,
           CASE WHEN MAX(n_langs) > 1
                THEN ROUND(CAST(-SUM(CAST(pl AS DECIMAL(28, 10))) AS DOUBLE)
                           / ROUND(LN(MAX(n_langs)), 4), 6)
                ELSE NULL END AS evenness
    FROM terms
    GROUP BY source
    ORDER BY source
    """,
)
def x161_source_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # bounded |sources|x|langs| rows, reused twice — materialize once
    cl = (
        d.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    tot = cl.groupBy("source").agg(
        F.sum("c").alias("t"), F.count(F.lit(1)).alias("n_langs")
    )
    p = F.col("c").cast("double") / F.col("t")
    terms = cl.join(tot, "source").select(
        "source",
        "t",
        "n_langs",
        F.round(p * F.round(F.log(p), 4), 8).alias("pl"),
    )
    neg_h = (-F.sum(F.col("pl").cast("decimal(28,10)"))).cast("double")
    return (
        terms.groupBy("source")
        .agg(
            F.max("t").alias("n_docs"),
            F.max("n_langs").alias("n_langs"),
            neg_h.alias("entropy"),
            # a monolingual source has ln(n_langs)=0: ANSI mode makes
            # 0/0 THROW (not NaN), and the oracle returns NULL — evenness
            # is undefined at k=1, so emit NULL in both engines
            F.when(
                F.max("n_langs") > 1,
                F.round(
                    neg_h
                    / F.round(F.log(F.max("n_langs").cast("double")), 4),
                    6,
                ),
            ).alias("evenness"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# X11: categorical association — mutual information and the chi-square
# statistic between two categorical columns (lang x source). The
# leakage/bias audit: MI near zero says the split/source carries no
# language signal; a spike says one source is secretly monolingual (or
# an eval split leaks a domain). Complements q137 (numeric-numeric
# covariance) and q145 (mean difference) with the categorical-
# categorical cell of the stats matrix.
#
# Scale shape: ONE contingency aggregate over the corpus
# (|langs| x |sources| cells), then marginals derived FROM the cells
# (window sums over the tiny cell table — the corpus is scanned once);
# every later step runs on cell-count-bounded data. Determinism:
# rounded-log terms, decimal-interior sums.
# ---------------------------------------------------------------------------


@query(
    "x163_lang_source_mi",
    oracle="""
    WITH cells AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
        FROM documents GROUP BY lang, source
    ),
    m AS (
        SELECT lang, source, o,
               CAST(SUM(o) OVER (PARTITION BY lang) AS BIGINT) AS rl,
               CAST(SUM(o) OVER (PARTITION BY source) AS BIGINT) AS rs,
               CAST(SUM(o) OVER () AS BIGINT) AS n
        FROM cells
    ),
    terms AS (
        SELECT
            ROUND((CAST(o AS DOUBLE) / n)
                  * ROUND(LN((CAST(o AS DOUBLE) * n)
                             / (CAST(rl AS DOUBLE) * rs)), 6), 10) AS mi_term,
            ROUND(POW(CAST(o AS DOUBLE) - (CAST(rl AS DOUBLE) * rs) / n, 2)
                  / ((CAST(rl AS DOUBLE) * rs) / n), 8) AS chi_term,
            o
        FROM m
    )
    SELECT CAST(SUM(CAST(mi_term AS DECIMAL(28, 12))) AS DOUBLE) AS mi_nats,
           CAST(SUM(CAST(chi_term AS DECIMAL(28, 10))) AS DOUBLE) AS chi2,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(o) AS BIGINT) AS n_docs
    FROM terms
    """,
)
def x163_lang_source_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("o"))
    m = cells.select(
        "lang",
        "source",
        "o",
        F.sum("o").over(Window.partitionBy("lang")).alias("rl"),
        F.sum("o").over(Window.partitionBy("source")).alias("rs"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    od, rld, rsd, nd = (
        F.col("o").cast("double"),
        F.col("rl").cast("double"),
        F.col("rs").cast("double"),
        F.col("n"),
    )
    e = (rld * F.col("rs")) / nd
    terms = m.select(
        F.round(
            (od / nd) * F.round(F.log((od * F.col("n")) / (rld * F.col("rs"))), 6),
            10,
        ).alias("mi_term"),
        F.round(F.pow(od - e, 2) / e, 8).alias("chi_term"),
        "o",
    )
    return terms.agg(
        F.sum(F.col("mi_term").cast("decimal(28,12)")).cast("double").alias("mi_nats"),
        F.sum(F.col("chi_term").cast("decimal(28,10)")).cast("double").alias("chi2"),
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("o").alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# X12: cross-source duplication matrix — shingle-set Jaccard between
# SOURCES (not documents): which feeds copy from each other, the
# provenance audit that decides dedup ORDER (dedupe the syndicated copy,
# keep the origin). Same banded-pair discipline as x138: a shingle
# shared by more than K sources carries no provenance signal and would
# explode K^2 pairs from one row, so it is dropped BEFORE the pair
# expansion (here |sources| is small; at crawl scale source=domain and
# the cap is what keeps the explode bounded).
#
# Scale shape: distinct (source, shingle) is one shuffle; per-source
# set sizes broadcast back; the capped self-join on shingle produces
# <= K^2 pairs per shingle; one |source-pairs|-bounded aggregate
# finishes. Jaccard is an exact integer ratio rounded at 6dp.
# ---------------------------------------------------------------------------
_SO_N = 12          # character-shingle width
_SO_CAP = 16        # max sources sharing a shingle before it's dropped


@query(
    "x172_source_overlap",
    oracle=f"""
    WITH ss AS (
        SELECT DISTINCT source,
               substring(text, i, {_SO_N}) AS g
        FROM documents,
             unnest(range(1, len(text) - {_SO_N} + 2)) AS t(i)
        WHERE len(text) >= {_SO_N}
    ),
    capped AS (
        SELECT g FROM ss GROUP BY g
        HAVING COUNT(*) BETWEEN 2 AND {_SO_CAP}
    ),
    sizes AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS sz FROM ss GROUP BY source
    ),
    pairs AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(COUNT(*) AS BIGINT) AS inter
        FROM ss a JOIN ss b ON a.g = b.g AND a.source < b.source
        JOIN capped c ON c.g = a.g
        GROUP BY a.source, b.source
    )
    SELECT src_a, src_b, inter,
           ROUND(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.source = pairs.src_a
    JOIN sizes sb ON sb.source = pairs.src_b
    WHERE inter >= 5
    ORDER BY src_a, src_b
    """,
)
def x172_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ua2sql_spark.functions.text import char_shingles

    d = load_table(spark, sf_dir, "documents", rebalance=True).filter(F.length("text") >= _SO_N)
    # ONE corpus-sized shuffle (r14: replaces distinct + capped
    # self-join, which shuffled the same (source, shingle) rows three
    # times — measured 2.2 s -> 1.1 s at sf0.1): collect_set dedups the
    # repeated (source, shingle) observations map-side AND reduce-side,
    # so the per-shingle source SET lands in one exchange; the cap
    # bounds the pair expansion at C(CAP,2) structs per shingle (the
    # LSH bucket discipline, operators/dedup.py); per-source set sizes
    # fall out of the SAME materialized frame by re-exploding it —
    # shingle strings never shuffle a second time.
    gs = (
        d.select("source", F.explode(char_shingles(F.col("text"), _SO_N)).alias("g"))
        .groupBy("g")
        .agg(F.collect_set("source").alias("ss"))
        .localCheckpoint(eager=False)
    )
    sizes = (
        gs.select(F.explode("ss").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    # sorted-set slice expansion keeps the src_a < src_b invariant
    # without a filter (sort_array on distinct sources is total)
    members = (
        gs.filter(F.size("ss").between(2, _SO_CAP))
        .select(F.posexplode(F.array_sort("ss")).alias("__i", "__a"),
                F.array_sort("ss").alias("__all"))
        .select(
            F.col("__a"),
            F.slice(F.col("__all"), F.col("__i") + F.lit(2), F.size("__all")).alias(
                "__ps"
            ),
        )
    )
    pairs = (
        members.select(F.col("__a").alias("src_a"), F.explode("__ps").alias("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("inter"))
        .filter(F.col("inter") >= 5)
    )
    sa = F.broadcast(sizes.select(F.col("source").alias("src_a"), F.col("sz").alias("sza")))
    sb = F.broadcast(sizes.select(F.col("source").alias("src_b"), F.col("sz").alias("szb")))
    return (
        pairs.join(sa, "src_a")
        .join(sb, "src_b")
        .select(
            "src_a",
            "src_b",
            "inter",
            F.round(
                F.col("inter").cast("double")
                / (F.col("sza") + F.col("szb") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


# ---------------------------------------------------------------------------
# x182: annotator agreement (Cohen's kappa) — the statistic every
# LLM-labeling pipeline computes before trusting labels: two annotators
# (here deterministic md5-derived pseudo-annotators; in production, two
# model judges or judge-vs-human) label every document into 3 classes,
# annotator B independently re-deriving A's label 70% of the time and
# flipping otherwise, so kappa lands mid-scale where the chance
# correction actually matters (independent annotators would pin it ~0,
# perfect copies at 1 — neither exercises the formula).
#
# Everything is exact integer counts until three final divisions:
# po = agree/n, pe = Σ_k ra_k·rb_k / n², kappa = (po-pe)/(1-pe) —
# identical operands in both engines, rounded at 6dp.
#
# Scale: ONE corpus pass builds (la, lb) map-only from md5 bits; the
# agreement sum folds into the same aggregate; marginals are two
# 3-row aggregates joined on class. Nothing exceeds |classes| rows
# after the first shuffle.
# ---------------------------------------------------------------------------
_AGREE_CLASSES = 3


@query(
    "x182_annotator_agreement",
    oracle=f"""
    WITH lab AS (
        SELECT doc_id,
               (('0x' || substring(md5('a|' || text), 1, 8))::BIGINT
                   % {_AGREE_CLASSES}) AS la,
               (('0x' || substring(md5('c|' || CAST(doc_id AS VARCHAR) || '|' || text), 1, 8))::BIGINT
                   % 10) AS coin,
               (('0x' || substring(md5('f|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   % {_AGREE_CLASSES - 1}) AS flip
        FROM documents
    ),
    ab AS (
        SELECT doc_id, la,
               CASE WHEN coin < 7 THEN la
                    ELSE (la + 1 + flip) % {_AGREE_CLASSES} END AS lb
        FROM lab
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(CASE WHEN la = lb THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
        FROM ab
    ),
    ma AS (SELECT la AS k, COUNT(*) AS ra FROM ab GROUP BY la),
    mb AS (SELECT lb AS k, COUNT(*) AS rb FROM ab GROUP BY lb),
    pe_num AS (
        SELECT CAST(SUM(ma.ra * mb.rb) AS BIGINT) AS chance_pairs
        FROM ma JOIN mb USING (k)
    )
    SELECT n_items, n_agree,
           ROUND(CAST(n_agree AS DOUBLE) / n_items, 6) AS po,
           ROUND(CAST(chance_pairs AS DOUBLE) / (n_items * n_items), 6) AS pe,
           ROUND(
               (CAST(n_agree AS DOUBLE) / n_items
                - CAST(chance_pairs AS DOUBLE) / (n_items * n_items))
               / (1 - CAST(chance_pairs AS DOUBLE) / (n_items * n_items)),
               6) AS kappa
    FROM tot, pe_num
    """,
)
def x182_annotator_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    def hex8_int(col):
        return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")

    d = load_table(spark, sf_dir, "documents")
    la = hex8_int(F.concat(F.lit("a|"), F.col("text"))) % _AGREE_CLASSES
    coin = (
        hex8_int(
            F.concat(
                F.lit("c|"), F.col("doc_id").cast("string"), F.lit("|"), F.col("text")
            )
        )
        % 10
    )
    flip = hex8_int(F.concat(F.lit("f|"), F.col("doc_id").cast("string"))) % (
        _AGREE_CLASSES - 1
    )
    ab = d.select(
        la.alias("la"),
        F.when(coin < 7, la).otherwise((la + 1 + flip) % _AGREE_CLASSES).alias("lb"),
    ).localCheckpoint(eager=False)
    tot = ab.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum(F.when(F.col("la") == F.col("lb"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_agree"),
    )
    ma = ab.groupBy(F.col("la").alias("k")).agg(F.count(F.lit(1)).alias("ra"))
    mb = ab.groupBy(F.col("lb").alias("k")).agg(F.count(F.lit(1)).alias("rb"))
    pe_num = (
        ma.join(mb, "k")
        .agg(F.sum(F.col("ra") * F.col("rb")).cast("bigint").alias("chance_pairs"))
    )
    po = F.col("n_agree").cast("double") / F.col("n_items")
    pe = F.col("chance_pairs").cast("double") / (F.col("n_items") * F.col("n_items"))
    return (
        tot.crossJoin(F.broadcast(pe_num))
        .select(
            "n_items",
            "n_agree",
            F.round(po, 6).alias("po"),
            F.round(pe, 6).alias("pe"),
            F.round((po - pe) / (F.lit(1) - pe), 6).alias("kappa"),
        )
    )


# ---------------------------------------------------------------------------
# Structured-PII scrub with checksum validation (x199, VERDICT r10 #6):
# the C4/CCNet-pipeline upgrade of x111 from pattern-shaped regexes to
# VALIDATED identifiers — a 16-digit string is redacted only when its
# Luhn checksum holds, an IPv4 only when every octet is <= 255, so
# random digit runs (order ids, hashes) survive where x111's
# email/phone cousins would false-positive. Both the injected
# identifiers AND the validators are pure integer arithmetic (the x153
# derive-in-both-engines discipline): each document gets a Luhn-VALID
# card (check digit computed from doc_id's base-15 digits), a
# Luhn-INVALID twin (check+5 — proves the validator rejects), a valid
# IP and a 999-octet invalid one. Map-only: regexp extraction + a
# per-candidate digit fold + a fold of exact-substring replaces, all
# inside one projection — scan-speed at any corpus size, no shuffle,
# no UDF. The md5 of the scrubbed text pins byte-identical redaction
# in both engines.
# ---------------------------------------------------------------------------
_CARD_RE = "\\b[0-9]{16}\\b"
_IPV4_RE = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

# DuckDB-side Luhn digit term at left-position i of string s (final
# length n: doubling at odd i when n is even — rightmost digit r=n-i+1
# is never doubled)
def _sql_luhn_sum(s: str, n: int) -> str:
    d = f"CAST(substring({s}, CAST(i AS INT), 1) AS INT)"
    return (
        f"list_sum(list_transform(range(1, {n + 1}), i -> "
        f"CASE WHEN i % 2 = 1 THEN 2 * {d} - CASE WHEN {d} >= 5 THEN 9 ELSE 0 END "
        f"ELSE {d} END))"
    )


@query(
    "x199_pii_structured_scrub",
    oracle=f"""
    WITH staged AS (
        SELECT doc_id, text,
               '4' || lpad(CAST(doc_id % 100000000 AS VARCHAR), 14, '0') AS b15
        FROM documents
    ),
    chk AS (
        SELECT doc_id, text, b15,
               (10 - {_sql_luhn_sum('b15', 15)} % 10) % 10 AS c
        FROM staged
    ),
    raws AS (
        SELECT doc_id,
               text || ' card ' || b15 || CAST(c AS VARCHAR)
                    || ' or ' || b15 || CAST((c + 5) % 10 AS VARCHAR)
                    || ' ip ' || CAST(doc_id % 256 AS VARCHAR) || '.'
                    || CAST((doc_id // 7) % 256 AS VARCHAR) || '.8.'
                    || CAST(doc_id % 100 AS VARCHAR)
                    || ' bad 999.' || CAST(doc_id % 256 AS VARCHAR) || '.1.2'
                   AS raw
        FROM chk
    ),
    cand AS (
        SELECT doc_id, raw,
               regexp_extract_all(raw, '{_CARD_RE}') AS cards,
               regexp_extract_all(raw, '{_IPV4_RE}') AS ips
        FROM raws
    ),
    valid AS (
        SELECT doc_id, raw, cards, ips,
               list_filter(cards, s -> {_sql_luhn_sum('s', 16)} % 10 = 0)
                   AS vcards,
               list_filter(ips, p ->
                   CAST(split_part(p, '.', 1) AS INT) <= 255
                   AND CAST(split_part(p, '.', 2) AS INT) <= 255
                   AND CAST(split_part(p, '.', 3) AS INT) <= 255
                   AND CAST(split_part(p, '.', 4) AS INT) <= 255) AS vips
        FROM cand
    )
    SELECT doc_id,
           CAST(len(vcards) AS BIGINT) AS n_cards,
           CAST(len(cards) - len(vcards) AS BIGINT) AS n_card_rejects,
           CAST(len(vips) AS BIGINT) AS n_ips,
           CAST(len(ips) - len(vips) AS BIGINT) AS n_ip_rejects,
           md5(list_reduce(list_prepend(
                   list_reduce(list_prepend(raw, vcards),
                               (a, v) -> replace(a, v, '<CARD>')),
                   vips), (a, v) -> replace(a, v, '<IP>'))) AS clean_md5
    FROM valid
    """,
)
def x199_pii_structured_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    def luhn_sum(s, n: int):
        # digit fold over left-positions 1..n: doubling at odd i (n is
        # 15 at injection — the future check digit makes length 16 — or
        # 16 at validation; both double the same physical digits)
        def term(acc, i):
            d = F.substring(s, i, F.lit(1)).cast("int")
            dbl = d * 2 - F.when(d >= 5, F.lit(9)).otherwise(F.lit(0))
            return acc + F.when(i % 2 == 1, dbl).otherwise(d)

        return F.aggregate(F.sequence(F.lit(1), F.lit(n)), F.lit(0), term)

    d = load_table(spark, sf_dir, "documents")
    staged = d.select(
        "doc_id",
        "text",
        F.concat(
            F.lit("4"),
            F.lpad((F.col("doc_id") % 100000000).cast("string"), 14, "0"),
        ).alias("__b15"),
    )
    staged = staged.withColumn(
        "__c", (10 - luhn_sum(F.col("__b15"), 15) % 10) % 10
    )
    raw = F.concat(
        F.col("text"),
        F.lit(" card "),
        F.col("__b15"),
        F.col("__c").cast("string"),
        F.lit(" or "),
        F.col("__b15"),
        ((F.col("__c") + 5) % 10).cast("string"),
        F.lit(" ip "),
        (F.col("doc_id") % 256).cast("string"),
        F.lit("."),
        F.expr("(doc_id DIV 7) % 256").cast("string"),
        F.lit(".8."),
        (F.col("doc_id") % 100).cast("string"),
        F.lit(" bad 999."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".1.2"),
    )
    cand = staged.select("doc_id", raw.alias("__raw")).select(
        "doc_id",
        "__raw",
        F.regexp_extract_all(F.col("__raw"), F.lit(_CARD_RE), 0).alias("__cards"),
        F.regexp_extract_all(F.col("__raw"), F.lit(_IPV4_RE), 0).alias("__ips"),
    )
    octet_ok = lambda p, i: F.split_part(p, F.lit("."), F.lit(i)).cast("int") <= 255
    valid = cand.select(
        "doc_id",
        "__raw",
        "__cards",
        "__ips",
        F.filter(
            F.col("__cards"), lambda s: luhn_sum(s, 16) % 10 == 0
        ).alias("__vc"),
        F.filter(
            F.col("__ips"),
            lambda p: octet_ok(p, 1) & octet_ok(p, 2) & octet_ok(p, 3)
            & octet_ok(p, 4),
        ).alias("__vip"),
    )
    scrub_cards = F.aggregate(
        F.col("__vc"),
        F.col("__raw"),
        lambda acc, v: F.replace(acc, v, F.lit("<CARD>")),
    )
    scrubbed = F.aggregate(
        F.col("__vip"),
        scrub_cards,
        lambda acc, v: F.replace(acc, v, F.lit("<IP>")),
    )
    return valid.select(
        "doc_id",
        F.size("__vc").cast("bigint").alias("n_cards"),
        (F.size("__cards") - F.size("__vc")).cast("bigint").alias("n_card_rejects"),
        F.size("__vip").cast("bigint").alias("n_ips"),
        (F.size("__ips") - F.size("__vip")).cast("bigint").alias("n_ip_rejects"),
        F.md5(scrubbed).alias("clean_md5"),
    )


# ---------------------------------------------------------------------------
# x202: cross-table reconciliation (round 11) — the keyed diff of two
# independent tables (operators/reconcile.py), under the hard gate via
# the deterministic-perturbation trick: the "migrated" right table is
# derived from `documents` arithmetically (drop doc_id%13=0, append
# ' v2' to text where %7=0, bump n_chars where %9=0, add synthetic
# keys +2e9 for %17=0), so DuckDB replays the per-source audit report
# with modular arithmetic alone — no join needed on the oracle side,
# which is exactly what makes the hash a proof of the JOIN side: the
# full-outer presence logic, the null-safe per-column comparison, and
# the changed_cols assembly must all agree with closed-form counts.
# Scale shape: ONE full-outer shuffle join on doc_id, map-side column
# compares, one partial-agg shuffle for the report. No collect, no UDF.
# ---------------------------------------------------------------------------
@query(
    "x202_table_reconcile",
    oracle="""
    WITH base AS (
        SELECT doc_id, source,
               doc_id % 13 = 0 AS dropped,
               doc_id % 7 = 0 AS text_mod,
               doc_id % 9 = 0 AS chars_mod
        FROM documents
    ),
    matched AS (
        SELECT source,
               COUNT(*) FILTER (WHERE dropped) AS only_left,
               COUNT(*) FILTER (WHERE NOT dropped AND (text_mod OR chars_mod))
                   AS changed,
               COUNT(*) FILTER (WHERE NOT dropped AND NOT text_mod
                                  AND NOT chars_mod) AS unchanged,
               COUNT(*) FILTER (WHERE NOT dropped AND text_mod)
                   AS text_changed,
               COUNT(*) FILTER (WHERE NOT dropped AND chars_mod)
                   AS nchars_changed
        FROM base GROUP BY source
    ),
    extra AS (
        SELECT source, COUNT(*) AS only_right
        FROM base WHERE doc_id % 17 = 0 GROUP BY source
    )
    SELECT m.source,
           CAST(m.only_left AS BIGINT) AS only_left,
           CAST(COALESCE(e.only_right, 0) AS BIGINT) AS only_right,
           CAST(m.changed AS BIGINT) AS changed,
           CAST(m.unchanged AS BIGINT) AS unchanged,
           CAST(m.text_changed AS BIGINT) AS text_changed,
           CAST(m.nchars_changed AS BIGINT) AS nchars_changed
    FROM matched m LEFT JOIN extra e USING (source)
    ORDER BY m.source
    """,
)
def x202_table_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Migration-validation audit: reconcile `documents` against a
    deterministically perturbed twin and report, per source, how many
    rows vanished, appeared, changed (and in which columns), or
    survived bit-identical."""
    from ua2sql_spark.operators.reconcile import reconcile_tables

    d = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    # coalesce before perturbing: concat/+1 are NULL-propagating, so a
    # NULL text/n_chars would otherwise "change" to NULL — unchanged
    # under eqNullSafe — while the oracle counts it changed by modular
    # arithmetic alone (ADVICE r11 #2).
    right = (
        d.filter(did % 13 != 0)
        .withColumn(
            "text",
            F.when(
                did % 7 == 0,
                F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(" v2")),
            ).otherwise(F.col("text")),
        )
        .withColumn(
            "n_chars",
            F.when(
                did % 9 == 0, F.coalesce(F.col("n_chars"), F.lit(0)) + 1
            ).otherwise(F.col("n_chars")),
        )
        .unionByName(
            d.filter(did % 17 == 0).withColumn("doc_id", did + 2_000_000_000)
        )
    )
    rec = reconcile_tables(
        d,
        right,
        key_cols=["doc_id"],
        compare_cols=["text", "lang", "n_chars"],
        carry_cols=["source"],
    )
    return (
        rec.groupBy("source")
        .agg(
            F.sum(F.when(F.col("status") == "only_left", 1).otherwise(0))
            .cast("bigint")
            .alias("only_left"),
            F.sum(F.when(F.col("status") == "only_right", 1).otherwise(0))
            .cast("bigint")
            .alias("only_right"),
            F.sum(F.when(F.col("status") == "changed", 1).otherwise(0))
            .cast("bigint")
            .alias("changed"),
            F.sum(F.when(F.col("status") == "unchanged", 1).otherwise(0))
            .cast("bigint")
            .alias("unchanged"),
            F.sum(
                F.when(F.array_contains(F.col("changed_cols"), "text"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("text_changed"),
            F.sum(
                F.when(
                    F.array_contains(F.col("changed_cols"), "n_chars"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("nchars_changed"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# x206: incremental reconciliation (round 11) — the churn-proportional
# follow-up to x202's full diff: a CoW snapshot takes an update commit
# (text || ' v2' where doc_id%7=0) and an erasure commit (doc_id%10=1),
# then reconcile_snapshot_changes audits ONLY the touched keys against
# a reference that already carries the expected text update but a
# deviating n_chars (+1 where doc_id%9=0) and no deletes. Touched =
# %7=0 ∪ %10=1, so the per-source report is closed-form: deleted keys
# read only_right, updated keys match on text and split changed/
# unchanged on the %9 n_chars deviation, and only_left is pinned 0.
# One hash covers change-feed key extraction, both semi-join slices,
# and the keyed diff. Scale shape: feed → distinct keys (checkpointed
# once) → two semi-joins → churn-sized full-outer diff; the un-churned
# corpus is never scanned.
# ---------------------------------------------------------------------------
@query(
    "x206_incremental_reconcile",
    oracle="""
    WITH t AS (
        SELECT doc_id, source,
               doc_id % 10 = 1 AS deleted,
               doc_id % 9 = 0 AS chars_dev
        FROM documents
        WHERE doc_id % 7 = 0 OR doc_id % 10 = 1
    )
    SELECT source,
           CAST(0 AS BIGINT) AS only_left,
           CAST(COUNT(*) FILTER (WHERE deleted) AS BIGINT) AS only_right,
           CAST(COUNT(*) FILTER (WHERE NOT deleted AND chars_dev)
               AS BIGINT) AS changed,
           CAST(COUNT(*) FILTER (WHERE NOT deleted AND NOT chars_dev)
               AS BIGINT) AS unchanged,
           CAST(COUNT(*) AS BIGINT) AS touched
    FROM t GROUP BY source ORDER BY source
    """,
)
def x206_incremental_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit only what changed: the snapshot's churn keys (from its own
    change feed) reconciled against a reference table, per source."""
    from ua2sql_spark.operators.reconcile import reconcile_snapshot_changes
    from ua2sql_spark.operators.snapshot import delete_cow, upsert_cow
    from ua2sql_spark.queries.common import fixture_artifact

    d = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")

    def build(path: str) -> None:
        upsert_cow(d, path, ["doc_id"], "source")  # v0: opening corpus
        updates = d.filter(did % 7 == 0).withColumn(
            "text",
            F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(" v2")),
        )
        upsert_cow(updates, path, ["doc_id"], "source")  # v1: updates
        delete_cow(
            spark,
            path,
            d.filter(did % 10 == 1).select("doc_id"),
            "source",
            key_cols=["doc_id"],
        )  # v2: erasure

    path = fixture_artifact(spark, sf_dir, "x206tbl", "documents", build)

    # same NULL-guard as x202: perturbations must register as changes
    # under eqNullSafe even for NULL inputs (ADVICE r11 #2)
    reference = d.withColumn(
        "text",
        F.when(
            did % 7 == 0,
            F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(" v2")),
        ).otherwise(F.col("text")),
    ).withColumn(
        "n_chars",
        F.when(
            did % 9 == 0, F.coalesce(F.col("n_chars"), F.lit(0)) + 1
        ).otherwise(F.col("n_chars")),
    )
    rec = reconcile_snapshot_changes(
        spark,
        path,
        reference,
        key_cols=["doc_id"],
        from_version=0,
        compare_cols=["text", "lang", "n_chars"],
        carry_cols=["source"],
    )
    count_of = lambda cond: F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")  # noqa: E731
    return (
        rec.groupBy(F.col("source").cast("string").alias("source"))
        .agg(
            count_of(F.col("status") == "only_left").alias("only_left"),
            count_of(F.col("status") == "only_right").alias("only_right"),
            count_of(F.col("status") == "changed").alias("changed"),
            count_of(F.col("status") == "unchanged").alias("unchanged"),
            F.count(F.lit(1)).cast("bigint").alias("touched"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# x208: repair convergence (round 12, VERDICT r11 #5) — the reconcile
# family's WRITE half under the driver gate. A perturbed twin of
# `documents` becomes a CoW snapshot (three deterministic divergence
# modes: %13 rows missing, %7 rows text-drifted, %17 rows extra under
# shifted ids), repair_from_reference converges it onto the original
# (diff-first bounds the rewrite; one upsert commit + one delete
# commit), and the hash covers {upserted, deleted} plus the RESIDUAL
# reconcile's status counts — which must read "every row unchanged,
# nothing else" for the convergence claim to be a checked bit rather
# than prose. All columns integer (the x202 discipline). The snapshot
# builds fresh per call (one upsert_cow of the sf's documents) so the
# row is idempotent — repair mutates its table, and a cached fixture
# would make the second run's upserted count read 0.
# Scale shape: diff = ONE full-outer join + map-side compares
# (operators/reconcile.py); repair rewrites only partitions holding
# diverged keys; residual audit is a second keyed diff + one fold.
# ---------------------------------------------------------------------------
@query(
    "x208_repair_convergence",
    oracle="""
    SELECT
        CAST(COUNT(*) FILTER (WHERE doc_id % 13 = 0
                                 OR doc_id % 7 = 0) AS BIGINT) AS n_upserted,
        CAST(COUNT(*) FILTER (WHERE doc_id % 17 = 0) AS BIGINT) AS n_deleted,
        CAST(0 AS BIGINT) AS n_only_left,
        CAST(0 AS BIGINT) AS n_only_right,
        CAST(0 AS BIGINT) AS n_changed,
        CAST(COUNT(*) AS BIGINT) AS n_unchanged
    FROM documents
    """,
)
def x208_repair_convergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Converge a diverged snapshot onto the reference corpus and prove
    it: repair counts + a residual keyed diff that must read all-unchanged."""
    from ua2sql_spark.operators.reconcile import (
        reconcile_tables,
        repair_from_reference,
    )
    from ua2sql_spark.operators.snapshot import read_snapshot, upsert_cow
    from ua2sql_spark.queries.common import fresh_artifact

    # a coarse 4-bucket partition column: repair's cost is CoW COMMITS
    # (3 of them: build, upsert, delete), and each commit's fixed cost
    # scales with touched partition count — 20 source partitions made
    # the bench row pay ~22 s/run in pure small-file overhead at sf0.1.
    # The operator contract is partition-count-agnostic; 4 buckets
    # keeps the same code path at a bench-honest constant.
    d = load_table(spark, sf_dir, "documents").withColumn(
        "grp", (F.col("doc_id") % 4).cast("string")
    )
    did = F.col("doc_id")
    # the diverged table: drop %13, drift %7 text (NULL-guarded like
    # x202), add %17 extras under collision-free shifted ids
    diverged = (
        d.filter(did % 13 != 0)
        .withColumn(
            "text",
            F.when(
                did % 7 == 0,
                F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(" drift")),
            ).otherwise(F.col("text")),
        )
        .unionByName(
            d.filter(did % 17 == 0).withColumn("doc_id", did + 2_000_000_000)
        )
    )
    # fresh dir per call (per-call rebuild IS the idempotence harness),
    # named so the fixture sweep reclaims prior runs (ADVICE r12 #3)
    path = fresh_artifact(spark, "x208repair") + "/tbl"
    # materialize the perturbed plan once: upsert_cow's commit runs
    # several actions (touched-partition listing, constraint check,
    # per-partition writes), each of which would otherwise recompute
    # the filter+union+withColumn chain from the parquet scan
    diverged = diverged.localCheckpoint(eager=True)
    upsert_cow(diverged, path, ["doc_id"], "grp")

    stats = repair_from_reference(
        spark,
        path,
        d,
        key_cols=["doc_id"],
        partition_col="grp",
        compare_cols=["text", "lang", "n_chars"],
        delete_extra=True,
    )

    residual = reconcile_tables(
        read_snapshot(spark, path),
        d,
        key_cols=["doc_id"],
        compare_cols=["text", "lang", "n_chars"],
    )
    count_of = lambda s: F.sum(  # noqa: E731
        F.when(F.col("status") == s, 1).otherwise(0)
    ).cast("bigint")
    return residual.agg(
        F.lit(stats["upserted"]).cast("bigint").alias("n_upserted"),
        F.lit(stats["deleted"]).cast("bigint").alias("n_deleted"),
        count_of("only_left").alias("n_only_left"),
        count_of("only_right").alias("n_only_right"),
        count_of("changed").alias("n_changed"),
        count_of("unchanged").alias("n_unchanged"),
    )
