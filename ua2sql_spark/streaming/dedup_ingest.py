"""Continuous dedup ingest: the composed streaming sink a corpus build
actually runs — every micro-batch is deduplicated within itself, then
against the WHOLE historical corpus, and only the survivors commit to
the versioned table.

Composes three proven layers instead of inventing a fourth:

* in-batch dedup = one fingerprint ``groupBy`` (``x41``'s exact tier,
  injective content encoding from ``operators/dedup.exact_dedup``);
* cross-corpus dedup = one anti-join against a FINGERPRINT INDEX
  (``x117``'s daily-path design: hash + survivor id only, ~50 B/doc —
  the day's batch drives the join, never the 100 TB history);
* the commit = ``operators/snapshot.upsert_cow`` (CoW versions, so
  every training run can pin the exact corpus version it read).

Crash ordering (at-least-once by construction): the TABLE commits
before the index appends. A crash between the two replays the batch —
``upsert_cow`` is key-idempotent, so the table converges and the index
catches up. The reverse order would be data LOSS: fingerprints
claiming documents the table never received, silently dropping them
from every future batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _fingerprint(text_col: str) -> F.Column:
    # length-prefixed (injective) like exact_dedup: NULL text must not
    # collide with the empty string
    v = F.col(text_col).cast("string")
    return F.sha2(
        F.when(v.isNull(), F.lit("\x00N")).otherwise(
            F.concat(F.length(v).cast("string"), F.lit(":"), v)
        ),
        256,
    )


def _index_exists(spark: SparkSession, index_path: str) -> bool:
    from ua2sql_spark.operators.snapshot import _jfs

    jvm, fs, p = _jfs(spark, index_path)
    return fs.exists(p)


def dedup_ingest_batch(
    batch: DataFrame,
    table_path: str,
    index_path: str,
    id_col: str,
    partition_col: str,
    text_col: str = "text",
    bloom_path: str | None = None,
    bloom_shards: int | None = None,
    bloom_m_bits: int | None = None,
    bloom_k: int | None = None,
) -> dict:
    """Apply one batch; returns stage counts. Survivor = smallest id
    per new fingerprint (deterministic under replay).

    ``bloom_path`` (optional) maintains a persisted OR-mergeable Bloom
    sidecar (``operators/bloom.py``) over the index's fingerprints: the
    batch probes the bloom first and only the "maybe" slice pays the
    exact anti-join against the fingerprint store — for a typical
    mostly-new batch, nearly all rows skip the join (x196's measured
    shape). ``bloom_shards``/``bloom_m_bits``/``bloom_k`` control the
    BOOTSTRAP geometry (later batches read it from the params sidecar);
    left ``None``, shards are sized from the existing index's row count
    at ~10 bits per fingerprint so a large pre-existing corpus can't
    silently saturate the filter into pure overhead (ADVICE r10).
    CORRECTNESS INVARIANT: the bloom must always be a SUPERSET
    of the index (an fp in the index but not the bloom would read
    "definitely new", skip the join, and silently re-commit a
    duplicate). The commit order below maintains it through any crash:
    table → bloom append → index append. A crash after the bloom but
    before the index append leaves extra bloom bits — harmless: those
    fps flag "maybe", the exact join against the index decides, and the
    replay converges (upsert_cow is key-idempotent, the bloom append
    just re-ORs set bits). The reverse order would be the data-loss
    window."""
    spark = batch.sparkSession
    fp = batch.withColumn("__fp", _fingerprint(text_col))
    # within-batch: one row per fingerprint, smallest id wins
    pick = fp.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    in_batch = fp.join(pick, [id_col, "__fp"], "left_semi")
    # cross-corpus: drop fingerprints the index already holds
    n_skipped_join = 0
    if _index_exists(spark, index_path):
        seen = spark.read.parquet(index_path).select("__fp")
        if bloom_path is not None and _index_exists(spark, bloom_path + "/params"):
            from ua2sql_spark.operators.bloom import bloom_maybe, load_bloom_words

            words, p = load_bloom_words(spark, bloom_path)
            maybe = bloom_maybe(
                in_batch.select("__fp").distinct(),
                words,
                "__fp",
                n_shards=p["n_shards"],
                m_bits=p["m_bits"],
                k=p["k"],
            ).localCheckpoint(eager=True)
            definite_new = in_batch.join(maybe, "__fp", "left_anti")
            n_skipped_join = definite_new.count()
            checked = in_batch.join(maybe, "__fp", "left_semi").join(
                seen, "__fp", "left_anti"
            )
            fresh = definite_new.unionByName(checked)
        else:
            fresh = in_batch.join(seen, "__fp", "left_anti")
    else:
        fresh = in_batch
    # the anti-join output feeds BOTH the table upsert and the index
    # append — materialize the churn-bounded survivors once
    fresh = fresh.localCheckpoint(eager=True)
    n_in = batch.count()
    n_fresh = fresh.count()
    bloom_existed = bloom_path is not None and _index_exists(
        spark, bloom_path + "/params"
    )
    if n_fresh:
        from ua2sql_spark.operators.snapshot import upsert_cow

        # TABLE FIRST (see module docstring crash-ordering contract),
        # then bloom (superset invariant), then the fingerprint index.
        version, _rows = upsert_cow(
            fresh.drop("__fp"), table_path, [id_col], partition_col
        )
        if bloom_existed:
            from ua2sql_spark.operators.bloom import append_bloom_index

            append_bloom_index(fresh.select("__fp"), bloom_path, "__fp")
        fresh.select("__fp", F.col(id_col).alias("survivor_id")).write.mode(
            "append"
        ).parquet(index_path)
    else:
        version = None
    if (
        bloom_path is not None
        and not bloom_existed
        and _index_exists(spark, index_path)
    ):
        # BOOTSTRAP: first bloom-enabled run over a table whose index
        # may already hold history — seed from the FULL index content,
        # never from this batch alone, or every pre-existing fp would
        # read "definitely new" next batch and silently re-admit its
        # duplicates (the exact violation the superset invariant
        # forbids). Runs AFTER the index append so the new bloom covers
        # this batch too; a crash before this line leaves no bloom, and
        # the probe path above falls back to the plain anti-join until
        # a later batch completes the bootstrap.
        from ua2sql_spark.operators.bloom import save_bloom_index

        all_fps = spark.read.parquet(index_path).select("__fp")
        m_bits = bloom_m_bits if bloom_m_bits is not None else 1 << 14
        k = bloom_k if bloom_k is not None else 3
        if bloom_shards is not None:
            n_shards = bloom_shards
        else:
            # ~10 bits per fingerprint: FP rate ≈ 0.9% at k=3. Sizing
            # by shard COUNT (fixed small per-shard bitmaps) keeps
            # every shard broadcast-friendly while capacity scales
            # linearly with the corpus.
            n_fps = all_fps.count()
            n_shards = max(4, -(-10 * n_fps // m_bits))
        save_bloom_index(
            all_fps, bloom_path, "__fp", n_shards=int(n_shards), m_bits=m_bits, k=k
        )
    return {
        "n_in": n_in,
        "n_fresh": n_fresh,
        "version": version,
        "n_skipped_join": n_skipped_join,
    }


def dedup_ingest_sink(
    table_path: str,
    index_path: str,
    id_col: str,
    partition_col: str,
    text_col: str = "text",
    **kwargs,
):
    """``foreachBatch`` closure over :func:`dedup_ingest_batch` — wire
    it to any stream: ``stream.writeStream.foreachBatch(sink)``."""

    def _sink(df: DataFrame, epoch_id: int) -> None:
        dedup_ingest_batch(
            df,
            table_path,
            index_path,
            id_col,
            partition_col,
            text_col,
            **kwargs,
        )

    return _sink


def neardup_ingest_batch(
    batch: DataFrame,
    table_path: str,
    index_path: str,
    id_col: str,
    partition_col: str,
    text_col: str = "text",
    num_hashes: int = 16,
    band_size: int = 8,
    threshold_num: int = 9,
    threshold_den: int = 10,
    verify: str = "signature",
    tokenizer=None,
) -> dict:
    """One micro-batch of continuous NEAR-dup ingest — the upgrade of
    :func:`dedup_ingest_batch` from exact fingerprints to MinHash-LSH,
    built on the persisted band index (``operators/dedup.save_lsh_index``
    family, VERDICT r9 #6):

    1. within-batch near-dup: banded-LSH pairs + greedy min-id
       survivorship (a J≥threshold duplicate of a smaller-id batch row
       is dropped; identical token sets collide in every band under
       any hash family, so this tier subsumes exact dedup);
    2. cross-history: the batch PROBES the saved index — signatures are
       minted for the batch only, the scan touches only the batch's
       (band_no, band_bucket) partitions, and the day's work scales
       with the batch, never the accumulated corpus;
    3. candidates verify under ``verify``:
       - ``"signature"`` (default, the index-only scale path): drop a
         batch row when den·sig_agree ≥ num·num_hashes for some
         historical candidate — the minhash estimate of J≥threshold,
         no historical TEXT is ever read (granularity 1/num_hashes:
         raise num_hashes if the drop boundary must be finer);
       - ``"exact"``: join the candidates (bounded, broadcastable)
         against the table's text and verify true Jaccard with integer
         cross-multiplication — precise, but pays one corpus text scan
         per batch;
    4. survivors commit TABLE FIRST via ``upsert_cow``, then their band
       rows append into the index (``append_lsh_index``). Crash between
       the two replays the batch: the table upsert is key-idempotent
       and a double-appended batch only duplicates probe candidates,
       which the probe's pair groupBy collapses — at-least-once
       converges without an index transaction (same ordering contract
       as the exact tier; the reverse order would silently drop
       documents the table never received). A crash *inside* the index
       append can leave a doc PARTIAL band rows; replay still converges
       because a self-match (``index_id == batch_id``) counts as drop
       evidence only when it proves a COMPLETE replay (all bands
       present, full signature agreement) — a partially-appended or
       updated doc survives to the re-append, whose full band rows
       complete the partial set (ADVICE r10).

    Precondition: ``tokenizer`` (default ``word_set``) emits arrays of
    DISTINCT tokens, as ``minhash_lsh_pairs`` also requires. The exact
    verify computes |A∪B| as |A|+|B|−|A∩B|, which is exact only when
    neither array repeats an element; a tokenizer with repeats would
    inflate the union and under-count the Jaccard.
    """
    assert verify in ("signature", "exact")
    from ua2sql_spark.operators.dedup import (
        append_lsh_index,
        minhash_lsh_pairs,
        probe_lsh_index,
        save_lsh_index,
    )

    spark = batch.sparkSession
    threshold = threshold_num / threshold_den

    pairs = minhash_lsh_pairs(
        batch,
        id_col=id_col,
        text_col=text_col,
        num_hashes=num_hashes,
        band_size=band_size,
        threshold=threshold,
        tokenizer=tokenizer,
        hash_family="xxhash64",
    )
    dropped_in_batch = pairs.select(F.col("id_b").alias(id_col)).distinct()
    survivors = batch.join(dropped_in_batch, id_col, "left_anti")

    n_dropped_hist = 0
    if _index_exists(spark, index_path + "/params"):
        # Fail fast on geometry drift: probe/append take their minhash
        # geometry from the params sidecar, but the signature-verify
        # inequality below uses THIS call's num_hashes — a caller whose
        # num_hashes disagrees with the index would silently make the
        # threshold unsatisfiable (never dropping any historical
        # near-dup) or far too loose, with no error anywhere.
        p = spark.read.parquet(index_path + "/params").collect()[0]
        if (p["num_hashes"], p["band_size"]) != (num_hashes, band_size):
            raise ValueError(
                f"index at {index_path} was built with num_hashes="
                f"{p['num_hashes']}, band_size={p['band_size']}; caller"
                f" passed ({num_hashes}, {band_size}) — rebuild the index"
                " or match its geometry"
            )
        cand = probe_lsh_index(
            spark,
            index_path,
            survivors,
            id_col=id_col,
            text_col=text_col,
            tokenizer=tokenizer,
        )
        # Self-matches (a batch row colliding with ITS OWN id in the
        # index) count as drop evidence ONLY when they prove a COMPLETE
        # replay: every band present (n_bands == num_bands — a crash
        # mid append_lsh_index leaves fewer) AND the full signature
        # agreeing (sig_agree == num_hashes — an updated text differs).
        # Unconditional self-dropping would (a) leave a crash-truncated
        # partial append incomplete forever — the replayed doc matches
        # itself via its partial bands, is dropped, and its missing
        # bands are never written (a permanent probe-recall hole,
        # ADVICE r10) — and (b) pin the table at stale text whenever an
        # UPDATE to an existing id is near-identical to its previous
        # version. With the completeness gate, a partial or updated doc
        # survives to the re-upsert + re-append below (whose full band
        # rows complete the partial set), while a fully-indexed replay
        # still drops without a redundant table version. Granularity
        # caveat: an update whose minhash signature is IDENTICAL to the
        # old version's (token-set change below 1/num_hashes
        # resolution) reads as a replay — raise num_hashes if that
        # boundary must be finer.
        num_bands = num_hashes // band_size
        cand = cand.filter(
            (F.col("index_id") != F.col("batch_id"))
            | (
                (F.col("n_bands") == F.lit(num_bands))
                & (F.col("sig_agree") == F.lit(num_hashes))
            )
        )
        if verify == "signature":
            hits = cand.filter(
                F.lit(threshold_den) * F.col("sig_agree")
                >= F.lit(threshold_num) * F.lit(num_hashes)
            )
        else:
            from ua2sql_spark.functions.text import word_set
            from ua2sql_spark.operators.snapshot import read_snapshot

            tok = tokenizer or word_set
            hist = read_snapshot(spark, table_path).select(
                F.col(id_col).alias("index_id"),
                tok(F.col(text_col)).alias("__hs"),
            )
            bset = survivors.select(
                F.col(id_col).alias("batch_id"),
                tok(F.col(text_col)).alias("__bs"),
            )
            # |A∪B| = |A|+|B|−|A∩B| exactly — tokenizers emit DISTINCT
            # arrays (the minhash_lsh_pairs precondition; this path
            # feeds the same tokenizer into the index's signatures), so
            # den·i ≥ num·u rearranges to (den+num)·i ≥ num·(|A|+|B|)
            # with no per-pair union array. The leading size gate
            # (i ≤ min ⇒ den·min ≥ num·max is necessary) short-circuits
            # the intersect for size-incompatible candidates —
            # integer-exact, drops only pairs the intersect conjunct
            # provably rejects (r15, the x179/x194 treatment).
            sa, sb = F.size("__hs"), F.size("__bs")
            hits = (
                cand.join(hist, "index_id")
                .join(bset, "batch_id")
                .filter(
                    (
                        F.lit(threshold_den) * F.least(sa, sb)
                        >= F.lit(threshold_num) * F.greatest(sa, sb)
                    )
                    & (
                        F.lit(threshold_den + threshold_num)
                        * F.size(F.array_intersect("__hs", "__bs"))
                        >= F.lit(threshold_num) * (sa + sb)
                    )
                )
            )
        # Checkpoint BEFORE counting: the count and the anti-join below
        # both consume this frame, and without the checkpoint the whole
        # probe + verify subtree would execute twice (once for the
        # count, again inside fresh's own checkpoint).
        dropped_hist = (
            hits.select(F.col("batch_id").alias(id_col))
            .distinct()
            .localCheckpoint(eager=True)
        )
        n_dropped_hist = dropped_hist.count()
        survivors = survivors.join(dropped_hist, id_col, "left_anti")

    fresh = survivors.localCheckpoint(eager=True)
    n_in = batch.count()
    n_fresh = fresh.count()
    version = None
    if n_fresh:
        from ua2sql_spark.operators.snapshot import upsert_cow

        # TABLE FIRST (crash-ordering contract, see docstring)
        version, _rows = upsert_cow(fresh, table_path, [id_col], partition_col)
        if _index_exists(spark, index_path + "/params"):
            append_lsh_index(
                fresh, index_path, id_col, text_col, tokenizer=tokenizer
            )
        else:
            save_lsh_index(
                fresh,
                index_path,
                id_col=id_col,
                text_col=text_col,
                num_hashes=num_hashes,
                band_size=band_size,
                tokenizer=tokenizer,
                hash_family="xxhash64",
            )
    return {
        "n_in": n_in,
        "n_fresh": n_fresh,
        "n_dropped_hist": n_dropped_hist,
        "version": version,
    }


def neardup_ingest_sink(
    table_path: str,
    index_path: str,
    id_col: str,
    partition_col: str,
    text_col: str = "text",
    **kwargs,
):
    """``foreachBatch`` closure over :func:`neardup_ingest_batch`."""

    def _sink(df: DataFrame, epoch_id: int) -> None:
        neardup_ingest_batch(
            df, table_path, index_path, id_col, partition_col, text_col, **kwargs
        )

    return _sink


def tombstone_sink(table_path: str, key_col: str, partition_col: str):
    """``foreachBatch`` closure turning a stream of tombstones (rows
    carrying ``key_col`` values to forget) into :func:`delete_cow`
    commits — the streaming half of the compliance path: a deletion-
    request topic drains continuously into versioned erasure commits,
    and every downstream CDF consumer (SCD2, IVM, cursors) observes
    them as delete events. Replay-safe: deleting an already-deleted
    key matches nothing and commits nothing.

    The tombstone keys flow into :func:`delete_cow` as a DataFrame
    (semi-join deletion), never as a driver-collected ``isin`` literal:
    a backfilled deletion topic delivering millions of keys in one
    micro-batch stays executor-side (ADVICE r8 low)."""

    def _sink(df: DataFrame, epoch_id: int) -> None:
        from ua2sql_spark.operators.snapshot import delete_cow

        keys = df.select(key_col).distinct()
        if keys.limit(1).count() > 0:
            delete_cow(
                df.sparkSession,
                table_path,
                keys,
                partition_col,
                key_cols=[key_col],
            )

    return _sink
