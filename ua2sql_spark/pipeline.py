"""End-to-end corpus pipeline: the composed artifact, not just parts.

Every stage exists (and is driver-gated) individually; this module
wires the production path a training-data build actually runs — the
shape the reference's users chain by hand (ingest ``ua2sql.py:96``,
normalize/filter, dedup, export) — as ONE lazy Spark plan chain:

    read → NFC normalize → quality gate → exact dedup → near dedup
         → sequence packing → WebDataset export

Scale design (the 100 TB argument, stage by stage):

* NFC runs in Arrow-batched ``mapInPandas`` (the engine's deliberate
  Python seam — stdlib ``unicodedata``; there is no JVM builtin) and is
  the ONLY Python hop in the pipeline.
* The gated+normalized corpus is persisted before the dedup tiers: it
  is consumed 4× (exact-dedup group + semi-join, near-dup pair-gen +
  anti-join); recomputing the Python normalize per consumer would
  quadruple the one deliberately slow stage. On a cluster this persist
  is MEMORY_AND_DISK — churn-bounded, never driver-side.
* Exact dedup is one sha256 shuffle; near-dup is banded MinHash (one
  band-key shuffle, no all-pairs — ``operators/dedup.py``).
* Packing is a bucketed prefix-sum (``operators/pack.py``) — integer
  arithmetic, one range exchange.
* Export shards by xxhash64(key) mod n_shards; each shard is ONE task
  writing one tar (atomic publish via rename), manifest returned as a
  DataFrame so the caller can assert row conservation.

Row-conservation invariant (tested): every document that survives
dedup is exported exactly once — sum(manifest.n_samples) equals the
survivor count.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ua2sql_spark.catalog import load_table
from ua2sql_spark.operators.dedup import exact_dedup, neardup_dedup
from ua2sql_spark.operators.pack import pack_sequences
from ua2sql_spark.sources.corpus_export import write_webdataset


def nfc_normalize_text(df: DataFrame, text_col: str = "text") -> DataFrame:
    """NFC-normalize ``text_col`` in place via Arrow-batched
    mapInPandas (same seam as x143; stdlib unicodedata)."""
    import unicodedata

    import pandas as pd

    fields = df.schema
    idx = df.columns.index(text_col)

    def norm(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf.iloc[:, idx] = pdf.iloc[:, idx].map(
                lambda s: unicodedata.normalize("NFC", s) if s is not None else None
            )
            yield pdf

    return df.mapInPandas(norm, schema=fields)


def quality_gate(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep documents passing the x49 filter: >= 20 words and a
    unique-word ratio >= 0.2 (boilerplate/spam floor)."""
    words = F.split(F.col(text_col), " ")
    n_words = F.size(words).cast("double")
    uniq_ratio = F.size(F.array_distinct(words)).cast("double") / n_words
    return df.filter((n_words >= 20) & (uniq_ratio >= 0.2))


def corpus_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    *,
    n_shards: int = 16,
    max_len: int = 2048,
    neardup_threshold: float = 0.9,
) -> dict:
    """Run the full pipeline; returns stage counts + the export
    manifest rows. Materializing the export IS the run — callers time
    this function for the e2e number."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target as itt

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    gated = quality_gate(nfc_normalize_text(docs))
    # persisted: 4 downstream consumers, one Python normalize pass
    gated = gated.persist()
    try:
        # Independent jobs are only sequential because driver code calls
        # their actions sequentially (guide §2.6): submit them from a
        # small pool so the next job's tasks back-fill executors freed
        # by the current job's stragglers. Every job computes exactly
        # what it did before — the persist's per-partition block locks
        # make concurrent materialization compute each partition once —
        # so all counts and the export are byte-identical; only the
        # wall-clock overlaps.
        with ThreadPoolExecutor(max_workers=3) as pool:
            # raw count: an independent parquet scan, fully overlapped
            f_raw = pool.submit(itt(docs.count))
            # gated count materializes the persist while the LSH probe
            # job (plan-time, inside neardup_dedup below) and the
            # survivor chain start against the same persist
            f_gated = pool.submit(itt(gated.count))

            exact = exact_dedup(gated, ["text"], "doc_id")
            survivors = neardup_dedup(
                exact,
                id_col="doc_id",
                text_col="text",
                threshold=neardup_threshold,
            ).persist()
            # all three survivor consumers — the count, the packing
            # plan, the export — race the persist's first
            # materialization together; block locks compute each
            # partition exactly once whichever job gets there first
            f_surv = pool.submit(itt(survivors.count))

            # token accounting + packing plan (how many max_len
            # sequences the surviving corpus fills — the number a
            # training run needs): independent of the export, overlapped
            ntok = survivors.select(
                "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
            )
            packed = pack_sequences(ntok, "doc_id", "n_tokens", max_len)
            f_seq = pool.submit(
                itt(packed.select("seq_id").distinct().count)
            )

            manifest = write_webdataset(
                survivors.select("doc_id", "text"), out_dir, n_shards
            ).collect()
            n_exported = sum(r["n_samples"] for r in manifest)
            n_survivors = f_surv.result()
            n_sequences = f_seq.result()
            n_gated = f_gated.result()
            n_raw = f_raw.result()
    finally:
        gated.unpersist()
        try:
            survivors.unpersist()
        except NameError:
            pass

    return {
        "n_raw": n_raw,
        "n_gated": n_gated,
        "n_survivors": n_survivors,
        "n_sequences": n_sequences,
        "n_exported": n_exported,
        "n_shards": len(manifest),
        "manifest": [r.asDict() for r in manifest],
    }
