"""Streaming corpus curation (SURVEY §2.9 extension): the two curation
ops that make sense on a live document feed.

- ``streaming_content_dedup`` — exact content dedup over a stream with
  BOUNDED state: keys are 16-byte md5 digests of normalized text and
  ``dropDuplicatesWithinWatermark`` evicts seen-keys once the watermark
  passes, so state is O(docs per watermark window), not O(stream
  lifetime). Plain ``dropDuplicates`` (used for keyed event dedup
  elsewhere) would grow its seen-set forever on an unbounded crawl.
- ``streaming_decontaminate`` — benchmark n-gram decontamination via
  ``foreachBatch`` + the verified BATCH operator
  (operators/decontaminate.py). Contamination is row-local given the
  static eval set (no cross-batch state), so per-micro-batch execution
  is semantically exact, and the batch operator's broadcast-semi-join
  plan (corpus rows never shuffle) is reused unchanged — the same
  production idiom as streaming/joins.write_stream_upsert.

No reference analogue (its pipelines are scheduled batches); these are
the stream flavors of the dedup-before-load and quality-gate contracts
(mongo_to_postgres_replication.py:35-39, 205-215).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.decontaminate import ngram_decontaminate


def _null_safe_key(stream: DataFrame, src_col: str, key: F.Column) -> F.Column:
    """Dedup key with a per-row fallback for NULL ``src_col``: the
    fallback hashes the WHOLE row (to_json of every column), so two
    distinct malformed rows get distinct keys and pass through, while
    bit-identical rows still dedup — NULL keys must never make
    unrelated rows "duplicates" of each other."""
    fallback = F.concat(
        F.lit("__null__:"),
        F.md5(F.to_json(F.struct(*[F.col(c) for c in stream.columns]))),
    )
    return F.when(F.col(src_col).isNull(), fallback).otherwise(key)


def streaming_content_dedup(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Keep the first-seen document per normalized content hash within
    the watermark horizon. Emits the input columns unchanged.

    NULL text must not become a shared dedup key (md5(NULL) is NULL
    and the dedup treats NULL keys as equal — unrelated malformed rows
    would collapse to one); such rows key on a hash of their full row
    content instead, so only bit-identical NULL-text rows ever dedup
    against each other."""
    return (
        stream.withColumn("__content_key", _null_safe_key(stream, text_col,
            F.md5(F.lower(F.trim(F.col(text_col))))))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["__content_key"])
        .drop("__content_key")
    )


def streaming_url_dedup(
    stream: DataFrame,
    url_col: str = "url",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Keep the first-seen page per CANONICAL URL within the watermark
    horizon — the live-crawl twin of operators/url_curation.
    dedup_canonical_url (there keep-min-id over the full corpus; here
    keep-first-arrival with watermark-bounded state, the only contract
    an unbounded stream can offer). Canonicalization is the same
    row-local expression, so a re-crawled page whose URL differs only
    in tracking params / case / default port / fragment never reaches
    the sink twice inside the horizon. State keys are the canonical
    strings; for long horizons over hot crawls substitute
    ``F.md5(canonical)`` to fix the per-key state size. NULL urls take
    the same full-row-hash fallback key as streaming_content_dedup —
    never one shared NULL bucket."""
    from ..functions.url import canonicalize_url

    return (
        stream.withColumn("__canon", _null_safe_key(stream, url_col,
            canonicalize_url(F.col(url_col))))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["__canon"])
        .drop("__canon")
    )


def streaming_near_dedup_ingest(
    stream: DataFrame,
    corpus_path: str,
    checkpoint: str,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
    trigger_available_now: bool = True,
    keys_path: str | None = None,
    on_batch_stats=None,
    **lsh_kwargs,
):
    """Start a query that near-dedups each micro-batch against the
    ACCUMULATED corpus at ``corpus_path`` (parquet) and appends only
    the survivors — the streaming flavor of the per-crawl-snapshot
    ingest loop (operators/text_dedup.py: minhash_ingest_step).

    Cross-batch state is the corpus plus its MATERIALIZED banded-key
    table (default ``corpus_path + "_keys"``): every batch sees all
    previous batches' survivors because text and keys were appended
    before the checkpoint committed, and per-batch signature work is
    O(batch) — the batch signatures itself, probes the key table, and
    corpus TEXT is only touched by the candidate-bounded verification
    semi-join (never re-signatured; the keyless form measured 64.6s of
    corpus re-signature at the 400k-vs-1M scale check). Cache hygiene
    is handled inside the step (cached intermediates are unpersisted
    per batch, so a long-running ingest does not accumulate blocks).

    ``on_batch_stats``, if given, receives the step's stats dict per
    batch ({"n_kept", "corpus_text_scans"}) — the test seam for the
    O(batch) claim.

    Returns the StreamingQuery.
    """
    from ..operators.text_dedup import minhash_ingest_step

    kpath = keys_path if keys_path is not None else corpus_path + "_keys"

    def _ingest(batch: DataFrame, _epoch: int) -> None:
        stats = minhash_ingest_step(
            batch,
            corpus_path,
            kpath,
            threshold=threshold,
            id_col=id_col,
            text_col=text_col,
            **lsh_kwargs,
        )
        if on_batch_stats is not None:
            on_batch_stats(stats)

    writer = (
        stream.writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_crawl_ingest(
    stream: DataFrame,
    corpus_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    url_col: str = "url",
    html_col: str = "html",
    ts_col: str = "ts",
    watermark: str = "1 hour",
    max_link_density_bp: int = 3000,
    min_text_chars: int = 25,
    trigger_available_now: bool = True,
    on_batch_stats=None,
):
    """The streaming crawl-ingestion flagship (r11 verdict task #4) —
    the live twin of the curation_pipeline_v5 shape, composing four
    individually stream-pinned stages into one query over a raw page
    feed (id, url, html, ts):

      canonical-URL dedup (watermark-bounded state, streaming_url_dedup)
        -> within-page boilerplate extraction (extract_main_content,
           row-local, stateless)
        -> drop pages whose main content came out empty
        -> exact content dedup against the ACCUMULATED on-disk corpus
           (incremental_dedup: corpus digests probe a broadcast of the
           batch's digests — the corpus never shuffles), survivors
           append to ``corpus_path``.

    State story: the only streaming state is the URL-dedup seen-set,
    evicted by the watermark (O(pages per horizon)); cross-batch
    content memory is the corpus itself, exactly the
    minhash_ingest_step design. foreachBatch is AT-LEAST-ONCE: a crash
    between the corpus append and the checkpoint commit replays the
    batch, whose rows then digest-match their OWN earlier append and
    drop — the blind append is naturally idempotent for dedup-ingest
    (same contract as minhash_ingest_step; no epoch partitioning
    needed because the operator reads what it wrote).

    ``on_batch_stats``, if given, receives
    ``{"n_in", "n_extracted", "n_kept"}`` per batch (the test seam).
    Returns the StreamingQuery.
    """
    from ..operators.html_extract import extract_main_content
    from ..operators.text_dedup import exact_dedup, incremental_dedup
    from ..sources.sinks import _hadoop_fs

    fresh_urls = streaming_url_dedup(stream, url_col, ts_col, watermark)

    def _ingest(batch: DataFrame, _epoch: int) -> None:
        spark = batch.sparkSession
        docs = (
            extract_main_content(
                batch, html_col, max_link_density_bp, min_text_chars
            )
            .where(F.length("content") > 0)
            .drop(html_col)
        )
        fs, jcorpus = _hadoop_fs(spark, corpus_path)
        if fs.exists(jcorpus):
            corpus = spark.read.parquet(corpus_path).select(*docs.columns)
            kept = incremental_dedup(
                docs, corpus, id_col=id_col, text_col="content"
            )
        else:  # bootstrap: within-batch dedup only
            kept = exact_dedup(docs, text_col="content", id_col=id_col)
        kept = kept.persist()
        try:
            # count BEFORE the append: writing to corpus_path triggers
            # recacheByPath on every cached plan reading it, so a
            # count afterwards re-evaluates against the post-append
            # corpus and the batch self-dedups to 0 (measured)
            n_kept = kept.count()
            kept.write.mode("append").parquet(corpus_path)
            if on_batch_stats is not None:
                on_batch_stats(
                    {
                        "n_in": batch.count(),
                        "n_extracted": docs.count(),
                        "n_kept": n_kept,
                    }
                )
        finally:
            kept.unpersist()

    writer = (
        fresh_urls.writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_decontaminate(
    stream: DataFrame,
    eval_df: DataFrame,
    out_path: str,
    checkpoint: str,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    trigger_available_now: bool = True,
):
    """Start a query appending eval-clean documents to ``out_path``
    (parquet, partitioned by ``batch_epoch``). Returns the
    StreamingQuery.

    foreachBatch is AT-LEAST-ONCE: a crash between the parquet write
    and the checkpoint commit replays the batch, so a blind append
    would duplicate every row of the replayed batch. Each batch
    therefore replaces its own ``batch_epoch=<id>`` partition
    (sources/sinks.overwrite_window) — a replay rewrites the identical
    partition instead of appending a second copy, which is the
    standard idempotent-by-epoch foreachBatch sink idiom (the
    exactly-once guarantee is the PAIR checkpoint + idempotent
    write, never the checkpoint alone)."""
    from ..sources.sinks import overwrite_window

    def _clean(batch: DataFrame, epoch: int) -> None:
        cleaned = ngram_decontaminate(
            batch, eval_df, n=n, id_col=id_col, text_col=text_col
        ).withColumn("batch_epoch", F.lit(epoch))
        overwrite_window(batch.sparkSession, cleaned, out_path, "batch_epoch")

    writer = (
        stream.writeStream.foreachBatch(_clean)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
