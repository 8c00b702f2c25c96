"""The full Python-execution surface of SURVEY §2.10, one oracle-checked
query per API: scalar ``pandas_udf`` (x73), grouped-agg ``pandas_udf``
(x74), ``mapInArrow`` (x75), Python UDTF (x76), grouped-map
``applyInPandas`` (x77). ``mapInPandas`` is x53 (multimodal).

Engine policy (SURVEY §2.10): the *hot path* is always native column
expressions — every query here deliberately computes something that is
also SQL-expressible so DuckDB can verify the Python plumbing
end-to-end (Arrow batch transfer, schema negotiation, group iteration).
In production these APIs are reserved for logic Spark genuinely cannot
express (codecs, model scoring, tokenizers).

All UDF objects are created *inside* the query functions: worker
processes unpickle them by value, so importing this module never has to
construct a UDF outside an active driver (and the registry stays
import-light).

Determinism: x73 uses Gini impurity (pure rational arithmetic — counts
and one division — so both engines produce bit-identical doubles; a
Shannon-entropy variant would hinge on cross-libm log2 ulps); x77 feeds
exact integer sums into the identical float expression in both engines.
"""

from __future__ import annotations

import math
from collections import Counter
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ua2sql_spark.catalog import load_table
from ua2sql_spark.registry import query


# ---------------------------------------------------------------------------
# x73: scalar pandas_udf — per-document character Gini impurity
# (1 - Σ p², a diversity/quality signal needing a per-row frequency map).
# ---------------------------------------------------------------------------
@query(
    "x73_gini_pandas_udf",
    oracle="""
    WITH freq AS (
        SELECT doc_id, c, COUNT(*) AS n
        FROM (SELECT doc_id, unnest(split(text, '')) AS c
              FROM documents WHERE len(text) > 0)
        GROUP BY doc_id, c
    )
    SELECT doc_id,
           1.0 - CAST(SUM(n * n) AS DOUBLE)
                 / (CAST(SUM(n) AS DOUBLE) * CAST(SUM(n) AS DOUBLE))
               AS char_gini
    FROM freq GROUP BY doc_id
    """,
)
def x73_gini_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def char_gini(texts: pd.Series) -> pd.Series:
        def gini(s):
            if s is None or len(s) == 0:
                return None
            sumsq = sum(n * n for n in Counter(s).values())
            t = float(len(s))
            return 1.0 - float(sumsq) / (t * t)

        return texts.map(gini)

    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    return d.select("doc_id", char_gini(F.col("text")).alias("char_gini"))


# ---------------------------------------------------------------------------
# x74: grouped-agg pandas_udf — median absolute deviation of document
# length per language (robust stat Spark has no builtin for; DuckDB
# verifies with its native mad()).
# ---------------------------------------------------------------------------
@query(
    "x74_mad_grouped_agg",
    oracle="""
    SELECT lang, CAST(mad(n_chars) AS DOUBLE) AS mad_chars
    FROM documents GROUP BY lang
    """,
)
def x74_mad_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def mad(v: pd.Series) -> float:
        return float((v - v.median()).abs().median())

    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(mad(F.col("n_chars")).alias("mad_chars"))


# ---------------------------------------------------------------------------
# x75: mapInArrow — byte-level payload stats straight off Arrow record
# batches (no pandas materialization; the shape a binary-media scanner
# uses at scale).
# ---------------------------------------------------------------------------
@query(
    "x75_arrow_bytestats",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes,
           CAST(len(text) - len(replace(text, ' ', '')) AS BIGINT) AS n_space,
           substring(hex(encode(text)), 1, 8) AS head_hex
    FROM documents
    """,
)
def x75_arrow_bytestats(spark: SparkSession, sf_dir: str) -> DataFrame:
    def bytestats(batches):
        import pyarrow as pa

        for batch in batches:
            payloads = batch.column("payload").to_pylist()
            yield pa.RecordBatch.from_pydict(
                {
                    "doc_id": batch.column("doc_id").to_pylist(),
                    "payload_bytes": [len(p) for p in payloads],
                    "n_space": [p.count(b" ") for p in payloads],
                    "head_hex": [p.hex()[:8].upper() for p in payloads],
                }
            )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )
    return d.mapInArrow(
        bytestats,
        schema="doc_id bigint, payload_bytes bigint, n_space bigint, head_hex string",
    )


# ---------------------------------------------------------------------------
# x76: Python UDTF — sentence splitter as a table function consumed via
# LATERAL join. API demo: the production path for this particular job is
# native split+posexplode (q63).
# ---------------------------------------------------------------------------
@query(
    "x76_udtf_sentences",
    oracle="""
    SELECT doc_id,
           CAST(unnest(range(1, len(parts) + 1)) AS BIGINT) - 1 AS sentence_no,
           unnest(parts) AS sentence
    FROM (SELECT doc_id, string_split(text, '. ') AS parts FROM documents)
    """,
)
def x76_udtf_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    # useArrow: plans as ArrowEvalPythonUDTF (batched transfer), not the
    # row-pickling BatchEvalPython — enforced by the plan sweep test.
    @udtf(returnType="sentence_no bigint, sentence string", useArrow=True)
    class SplitSentences:
        def eval(self, text: str):
            for i, s in enumerate(text.split(". ")):
                yield i, s

    spark.udtf.register("split_sentences", SplitSentences)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("v_docs_udtf")
    return spark.sql(
        """
        SELECT d.doc_id, s.sentence_no, s.sentence
        FROM v_docs_udtf d, LATERAL split_sentences(d.text) s
        """
    )


# ---------------------------------------------------------------------------
# x77: grouped-map applyInPandas — per-language z-score of document
# length. Exact integer sums feed an identical float expression in both
# engines (see module docstring).
# ---------------------------------------------------------------------------
@query(
    "x77_zscore_applyinpandas",
    oracle="""
    WITH stats AS (
        SELECT lang, COUNT(*) AS n,
               CAST(SUM(n_chars) AS DOUBLE) AS s,
               CAST(SUM(n_chars * n_chars) AS DOUBLE) AS ss
        FROM documents GROUP BY lang
    )
    SELECT doc_id, d.lang,
           ROUND((n_chars - s / n) / NULLIF(SQRT((ss - s * s / n) / n), 0), 6)
               AS z_chars
    FROM documents d JOIN stats USING (lang)
    """,
)
def x77_zscore_applyinpandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    def zscore_group(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        s = float(int(pdf["n_chars"].sum()))
        ss = float(int((pdf["n_chars"] * pdf["n_chars"]).sum()))
        mean = s / n
        var = (ss - s * s / n) / n
        std = math.sqrt(var)
        x = pdf["n_chars"].astype("float64")
        if std > 0:
            z = ((x - mean) / std).round(6)
        else:
            z = pd.Series([None] * n, dtype="float64")
        return pd.DataFrame(
            {"doc_id": pdf["doc_id"], "lang": pdf["lang"], "z_chars": z}
        )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return d.groupBy("lang").applyInPandas(
        zscore_group, schema="doc_id bigint, lang string, z_chars double"
    )


# ---------------------------------------------------------------------------
# x127: the batch-inference seam — what "run a quality classifier over
# the corpus" compiles to on Spark. The model (here a fixed-weight
# logistic over x49's features, deterministic so DuckDB can replay it)
# ships inside the mapInPandas closure exactly the way a fastText /
# sklearn / torch model object does in production: serialized once,
# deserialized per executor, applied to Arrow-sized record batches.
# Swapping in a real model changes ONLY the closure body — schema,
# batching, partitioning, and the keep/score contract stay fixed.
# Scale: map-only (zero shuffle), inference cost scales with executors;
# the keep boolean is the downstream filter, so the classifier prunes
# the corpus in the same pass that scores it.
# Determinism: z is plain left-associated float64 arithmetic on exact
# counts (identical in numpy / Spark / DuckDB); only the sigmoid needs
# a 4-decimal round (cross-libm exp ulps, the q33 policy).
# ---------------------------------------------------------------------------
_CLS_STOPWORDS = ("the", "a")  # mirrors text_analysis.STOPWORDS


@query(
    "x127_classifier_scores",
    oracle="""
    WITH feats AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS DOUBLE) AS nw,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS uq,
               CAST(len(list_filter(string_split(text, ' '),
                                    w -> w IN ('the', 'a'))) AS DOUBLE) AS st
        FROM documents
    )
    SELECT doc_id,
           0.02 * nw + 1.5 * (uq / nw) - 0.8 * (st / nw) - 0.5 AS z,
           ROUND(1.0 / (1.0 + EXP(-(0.02 * nw + 1.5 * (uq / nw)
                                    - 0.8 * (st / nw) - 0.5))), 4) AS prob,
           (0.02 * nw + 1.5 * (uq / nw) - 0.8 * (st / nw) - 0.5) > 0.0 AS keep
    FROM feats
    """,
)
def x127_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def infer(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        # "model load" happens here once per task, not per row
        w_len, w_uniq, w_stop, bias = 0.02, 1.5, -0.8, -0.5
        stop = set(_CLS_STOPWORDS)
        for pdf in batches:
            words = pdf["text"].str.split(" ")
            nw = words.map(len).astype("float64")
            uq = words.map(lambda ws: len(set(ws))).astype("float64")
            st = words.map(lambda ws: sum(x in stop for x in ws)).astype("float64")
            z = w_len * nw + w_uniq * (uq / nw) + w_stop * (st / nw) + bias
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "z": z,
                    "prob": (1.0 / (1.0 + np.exp(-z))).round(4),
                    "keep": z > 0.0,
                }
            )

    return d.mapInPandas(
        infer, schema="doc_id bigint, z double, prob double, keep boolean"
    )


# ---------------------------------------------------------------------------
# x136: grouped-map via applyInArrow — the zero-copy sibling of x77's
# applyInPandas (Spark 4 API surface). The function receives each
# group as a pyarrow.Table straight off the shuffle's Arrow batches —
# no pandas materialization, no numpy conversion — which matters when
# the per-group payload is large binary/text (the multimodal columns):
# pandas would copy every buffer, Arrow slices them. Statistics are
# integer-exact (sum, discrete median = lower-middle of the sorted
# values, max) so the oracle is engine-independent.
# ---------------------------------------------------------------------------
@query(
    "x136_lang_stats_applyinarrow",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(list_sort(list(n_chars))[CAST((COUNT(*) - 1) // 2 AS INTEGER) + 1]
                AS BIGINT) AS median_lo_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY lang
    """,
)
def x136_lang_stats_applyinarrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa
    import pyarrow.compute as pc

    def lang_stats(tbl: "pa.Table") -> "pa.Table":
        n = tbl.num_rows
        chars = tbl.column("n_chars").combine_chunks()
        sorted_chars = chars.take(pc.sort_indices(chars))
        return pa.table(
            {
                "lang": pa.array([tbl.column("lang")[0].as_py()], pa.string()),
                "n_docs": pa.array([n], pa.int64()),
                "total_chars": pa.array([pc.sum(chars).as_py()], pa.int64()),
                "median_lo_chars": pa.array(
                    [sorted_chars[(n - 1) // 2].as_py()], pa.int64()
                ),
                "max_chars": pa.array([pc.max(chars).as_py()], pa.int64()),
            }
        )

    d = load_table(spark, sf_dir, "documents").select("lang", "n_chars")
    return d.groupBy("lang").applyInArrow(
        lang_stats,
        schema="lang string, n_docs bigint, total_chars bigint, "
        "median_lo_chars bigint, max_chars bigint",
    )


# ---------------------------------------------------------------------------
# x149: POLYMORPHIC Python UDTF — the Spark 4 `analyze()` static
# method: the UDTF's output schema is computed at PLAN time from its
# literal arguments (here: which JSON keys to surface as columns), so
# one registered function serves any projection without code changes —
# the dynamic-schema escape hatch for semi-structured feeds that
# `from_json`'s fixed schema can't give. The eval path stays simple
# (stdlib json per row inside the UDTF's own batching); the fixed
# per-query key list keeps the result SQL-expressible for the oracle.
# ---------------------------------------------------------------------------
_UDTF_KEYS = ("k", "absent_key")  # one present, one missing -> NULL column


@query(
    "x149_udtf_polymorphic",
    oracle=f"""
    SELECT event_id,
           json_extract_string(props, '$.{_UDTF_KEYS[0]}') AS {_UDTF_KEYS[0]},
           json_extract_string(props, '$.{_UDTF_KEYS[1]}') AS {_UDTF_KEYS[1]}
    FROM events
    WHERE event_id % 11 = 0
    """,
)
def x149_udtf_polymorphic(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json

    from pyspark.sql.functions import udtf
    from pyspark.sql.types import StringType, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class ExtractKeys:
        @staticmethod
        def analyze(payload: AnalyzeArgument, *keys: AnalyzeArgument) -> AnalyzeResult:
            # schema derived from the LITERAL key arguments at plan time
            out = StructType()
            for k in keys:
                if not k.isConstantExpression:
                    raise ValueError("keys must be literal strings")
                out = out.add(str(k.value), StringType())
            return AnalyzeResult(schema=out)

        def eval(self, payload: str, *keys: str):
            try:
                rec = _json.loads(payload) if payload else {}
            except ValueError:
                rec = {}
            yield tuple(
                str(rec[k]) if k in rec and rec[k] is not None else None
                for k in keys
            )

    spark.udtf.register("extract_keys", udtf(ExtractKeys, useArrow=True))
    e = load_table(spark, sf_dir, "events")
    e.filter(F.col("event_id") % 11 == 0).createOrReplaceTempView("v_events_udtf")
    keys_sql = ", ".join(f"'{k}'" for k in _UDTF_KEYS)
    return spark.sql(
        f"""
        SELECT e.event_id, x.{_UDTF_KEYS[0]}, x.{_UDTF_KEYS[1]}
        FROM v_events_udtf e, LATERAL extract_keys(e.props, {keys_sql}) x
        """
    )
