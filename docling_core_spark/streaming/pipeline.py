"""Structured Streaming ingestion: continuous corpus -> chunk stream.

The reference has no streaming surface (single-process library); this
is the engine's scale-out ingestion front end: a file stream over the
documents table feeds the SAME stateless chunking stage used in batch
(one mapInArrow, no shuffle, no state store), with exactly-once file
progress tracked by the streaming checkpoint. Late/re-delivered files
are deduplicated by the source's file log, so restarts resume where
they left off - the streaming analogue of io/checkpoint.py's bucket
protocol.

At production scale the source is an Iceberg/Kafka stream; file-stream
semantics are identical for this engine's purposes (append-only doc
batches). Chunking is stateless per document, so no watermarks are
needed; downstream stateful aggs (e.g. rolling chunk counts) would add
``withWatermark`` on an event-time column.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from docling_core_spark.engine import DOCUMENTS_SCHEMA, chunk_documents


def _file_stream(spark: SparkSession, schema, input_dir: str,
                 max_files_per_trigger: Optional[int] = None
                 ) -> DataFrame:
    """Parquet file stream over ``input_dir``; ``max_files_per_trigger``
    caps the files per micro-batch, so one drain runs several."""
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger",
                               str(max_files_per_trigger))
    return reader.load(input_dir)


def _parquet_sink(df: DataFrame, output_dir: str, checkpoint_dir: str):
    """Start the availableNow append of ``df`` to parquet and return
    the query. The sink's file log keeps output exactly-once."""
    return (df.writeStream
            .format("parquet")
            .option("path", output_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start())


def stream_chunk_documents(
    spark: SparkSession,
    input_dir: str,
    mode: str = "hier",
    max_tokens: int = 64,
    max_files_per_trigger: Optional[int] = None,
) -> DataFrame:
    """Streaming DataFrame of chunks from a parquet file stream.

    The chunking transform is the exact batch operator - stateless
    mapInArrow stages are streaming-compatible as-is."""
    docs = _file_stream(spark, DOCUMENTS_SCHEMA, input_dir,
                        max_files_per_trigger)
    return chunk_documents(docs, mode=mode, max_tokens=max_tokens)


def stream_once(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    mode: str = "hier",
    max_tokens: int = 64,
) -> None:
    """Drain everything currently available (Trigger.AvailableNow),
    append chunk parquet to ``output_dir``, then stop. Re-invoking after
    new files land processes ONLY the new files (checkpointed file
    log) - the micro-batch resume contract."""
    chunks = stream_chunk_documents(spark, input_dir, mode=mode,
                                    max_tokens=max_tokens)
    _parquet_sink(chunks, output_dir, checkpoint_dir).awaitTermination()


def stream_chunk_metrics(
    spark: SparkSession,
    input_dir: str,
    mode: str = "hier",
    max_tokens: int = 64,
    window_duration: str = "10 seconds",
    watermark_delay: str = "30 seconds",
) -> DataFrame:
    """Stateful streaming rollup: chunk/doc counts per event-time
    window, with a watermark bounding state.

    Event time is the ingestion timestamp (the file-stream analogue of
    a Kafka record timestamp); the watermark lets Spark finalize and
    evict windows older than ``watermark_delay``, so state stays O(open
    windows) no matter how long the stream runs - the monitoring
    counterpart of the per-bucket lineage rows in io/checkpoint.py.
    Late files (re-delivered beyond the delay) are dropped from the
    rollup but never from the chunk output, which is stateless."""
    chunks = stream_chunk_documents(spark, input_dir, mode=mode,
                                    max_tokens=max_tokens)
    stamped = chunks.withColumn("ingest_ts", F.current_timestamp())
    return (stamped
            .withWatermark("ingest_ts", watermark_delay)
            .groupBy(F.window("ingest_ts", window_duration).alias("win"))
            .agg(F.count(F.lit(1)).alias("n_chunks"),
                 F.approx_count_distinct("doc_id").alias("n_docs_approx"))
            .select(F.col("win.start").alias("window_start"),
                    F.col("win.end").alias("window_end"),
                    "n_chunks", "n_docs_approx"))


def run_metrics_once(
    spark: SparkSession,
    input_dir: str,
    table_name: str = "chunk_metrics",
    mode: str = "hier",
    max_tokens: int = 64,
    window_duration: str = "10 seconds",
    watermark_delay: str = "30 seconds",
) -> DataFrame:
    """Drain available files through the windowed rollup into an
    in-memory table (complete mode - open windows included) and return
    it. Production would writeStream the update stream to a metrics
    sink instead; this is the inspectable one-shot form."""
    metrics = stream_chunk_metrics(
        spark, input_dir, mode=mode, max_tokens=max_tokens,
        window_duration=window_duration, watermark_delay=watermark_delay)
    q = (metrics.writeStream
         .format("memory")
         .queryName(table_name)
         .outputMode("complete")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return spark.table(table_name)


# ----------------------------------------------------------------------
# streaming main-content extraction (the north rule's ingestion front
# end: crawled pages land continuously; extraction is stateless per
# page, so the batch operator is streaming-compatible as-is)
# ----------------------------------------------------------------------

PAGES_STREAM_SCHEMA = "doc_id string, html string"


def stream_extract_pages(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: Optional[int] = None,
) -> DataFrame:
    """Streaming DataFrame of extracted span rows from a parquet
    page-file stream ((doc_id, html) rows)."""
    from docling_core_spark.extraction.spark import extract_pages

    return extract_pages(_file_stream(spark, PAGES_STREAM_SCHEMA,
                                      input_dir, max_files_per_trigger))


def stream_extract_once(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> None:
    """Drain currently-available page files through extraction
    (Trigger.AvailableNow), append span parquet, stop. Re-invocation
    processes only newly-landed pages (checkpointed file log)."""
    spans = stream_extract_pages(spark, input_dir)
    _parquet_sink(spans, output_dir, checkpoint_dir).awaitTermination()


def stream_extract_cells_once(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: Optional[int] = None,
) -> None:
    """Streaming PDF/layout-parse: drain currently-available packed
    cell files (layout_spark.CELLS_SCHEMA parquet), parse each
    micro-batch, stop. Re-invocation processes only new files.

    Unlike the HTML tier (one page row = one complete document,
    row-stateless, so the batch operator streams as-is), the layout
    parse is a GROUPED operator - a document's pages must be
    co-located and sorted, which Structured Streaming only allows
    with batch semantics inside ``foreachBatch``. Correctness rests
    on the print writer's invariant that a document never spans
    files: the file source assigns whole files to micro-batches, so
    every micro-batch holds complete documents.

    Exactly-once: the sink writes each micro-batch to
    ``output_dir/batch=<batchId>`` with overwrite, so a batch retried
    after a crash replaces its own partial output instead of
    appending duplicates (the foreachBatch idempotence pattern; the
    parquet-sink file log used by the stateless tiers is unavailable
    here). Read the result back with ``spark.read.parquet(output_dir)``
    - ``batch`` surfaces as a partition column."""
    import os

    from docling_core_spark.extraction.layout_spark import (
        CELLS_SCHEMA,
        extract_layout,
    )

    cells = _file_stream(spark, CELLS_SCHEMA, input_dir,
                         max_files_per_trigger)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (extract_layout(batch_df)
         .write.mode("overwrite")
         .parquet(os.path.join(output_dir, f"batch={batch_id}")))

    q = (cells.writeStream
         .foreachBatch(sink)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()


# ----------------------------------------------------------------------
# streaming exact dedup: the training-data tier's stateful operator
# (first occurrence of each content fingerprint wins, across
# micro-batches and across restarts)
# ----------------------------------------------------------------------

DEDUP_OUT_SCHEMA = "fp string, doc_id string"


def _first_wins(keyed: DataFrame, out_schema: str,
                ttl_ms: Optional[int] = None) -> DataFrame:
    """First-fingerprint-wins admission: one state key per ``fp``.

    ``keyed`` has the columns of ``out_schema``, in its order, ``fp``
    and ``doc_id`` among them. The FIRST micro-batch that carries a
    fingerprint emits one row: the one with the least ``doc_id``
    (compared in the column's own type, so long ids sort numerically
    and string ids lexically), with ``doc_id`` written as a string.
    Later batches, re-delivered files and restarts emit nothing for
    that fingerprint.

    State is only the seen flag and the survivor id, persisted in the
    streaming checkpoint: one small row per distinct fingerprint,
    never a payload or the survivor's other columns, so the state
    store stays fingerprint-sized however wide the admitted rows are.

    With ``ttl_ms`` the admission list is a sliding window
    (ProcessingTimeTimeout): each sighting re-arms the timeout, and a
    fingerprint unseen for ``ttl_ms`` has its state removed on the next
    trigger, so a later re-occurrence is admitted again. The re-arm
    is needed because Spark clears the timeout on every invocation
    that has data; without it the state never expires."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs, state):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        pdfs = [pdf for pdf in pdfs if len(pdf)]
        if state.exists or not pdfs:
            if state.exists and ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
            return
        best = (pd.concat(pdfs).sort_values("doc_id").head(1)
                .astype({"doc_id": str}))
        state.update((True, best["doc_id"].iloc[0]))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        yield best

    timeout = (GroupStateTimeout.NoTimeout if ttl_ms is None
               else GroupStateTimeout.ProcessingTimeTimeout)
    return (keyed.groupBy("fp")
            .applyInPandasWithState(
                fn,
                outputStructType=out_schema,
                stateStructType="seen boolean, first_doc_id string",
                outputMode="append",
                timeoutConf=timeout))


def stream_dedup_documents(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: Optional[int] = None,
    ttl_ms: Optional[int] = None,
) -> DataFrame:
    """Streaming exact dedup over the documents stream.

    The key is a JVM-side content fingerprint (md5 over the
    offset-ordered span texts - the same content identity
    textops.q_doc_fingerprints exposes in batch); only (fp, doc_id)
    enters the stateful operator, so the shuffle and the state store
    carry fingerprints, never span payloads. Survivors are joined back
    to payloads downstream (or used as an admission list).

    Scale shape: state is one boolean+string per DISTINCT fingerprint,
    partitioned by fp hash across executors - the streaming analogue
    of the batch hash-groupBy exact dedup. Production knobs, both
    TESTED (tests/test_streaming.py): the RocksDB state-store provider
    (spark.sql.streaming.stateStore.providerClass) keeps 10^9+ keys
    off-heap with checkpointed snapshots; ``ttl_ms`` turns the
    admission list into a sliding window via ProcessingTimeTimeout so
    state size tracks the window, not the stream's lifetime."""
    docs = _file_stream(spark, DOCUMENTS_SCHEMA, input_dir,
                        max_files_per_trigger)
    keyed = docs.select(
        F.md5(F.expr(
            "array_join(transform(array_sort(spans, (a, b) -> "
            "a.offset - b.offset), s -> s.text), '\\u001f')"
        )).alias("fp"),
        "doc_id")
    return _first_wins(keyed, DEDUP_OUT_SCHEMA, ttl_ms)


def stream_dedup_once(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: Optional[int] = None,
    ttl_ms: Optional[int] = None,
) -> None:
    """Drain available files through the stateful dedup into a parquet
    sink. Re-running with the same checkpoint resumes: already-seen
    fingerprints stay deduplicated across runs (state lives in the
    checkpoint), and the parquet sink's file log keeps output
    exactly-once."""
    survivors = stream_dedup_documents(
        spark, input_dir, max_files_per_trigger=max_files_per_trigger,
        ttl_ms=ttl_ms)
    q = _parquet_sink(survivors, output_dir, checkpoint_dir)
    if ttl_ms is None:
        q.awaitTermination()
    else:
        # with ProcessingTimeTimeout the microbatch engine keeps
        # scheduling no-data batches while timers are pending, so an
        # availableNow query never self-terminates (observed: the
        # batch counter spins; processAllAvailable blocks the same
        # way). Poll until the available data is drained and no
        # trigger is mid-flight, then stop. Pending timers fire in a
        # later run's batch - exactly the expiry semantics a periodic
        # drain pipeline wants.
        #
        # A timer-only zero-input batch can complete BEFORE the data
        # batch under load, so "first zero-input batch" alone is not
        # proof the data drained - only accept it after some batch
        # actually consumed rows; when the drain genuinely has no new
        # files, fall back to a sustained-idle check + deadline.
        import time as _time

        t0 = _time.monotonic()
        saw_data = False
        idle_polls = 0
        while q.isActive:
            prog = q.recentProgress
            if any(p["numInputRows"] > 0 for p in prog):
                saw_data = True
            lp = q.lastProgress
            s = q.status
            engine_idle = (bool(prog) and not s["isDataAvailable"]
                           and not s["isTriggerActive"])
            if saw_data and ((lp is not None
                              and lp["numInputRows"] == 0)
                             or engine_idle):
                break
            idle_polls = idle_polls + 1 if engine_idle else 0
            if idle_polls >= 25 or _time.monotonic() - t0 > 90.0:
                break
            _time.sleep(0.2)
        q.stop()
        q.awaitTermination()


# ----------------------------------------------------------------------
# Event-time windowed rate with late-data drop (the watermark contract)
# ----------------------------------------------------------------------

def stream_doc_rate(
    spark: SparkSession,
    input_dir: str,
    window_duration: str = "10 seconds",
    watermark_delay: str = "5 seconds",
    max_files_per_trigger: Optional[int] = None,
) -> DataFrame:
    """Docs-per-window over a DATA-CARRIED event time - the late-data
    contract stream_chunk_metrics (processing-time stamps) cannot
    exercise: here the watermark is driven by the events themselves,
    so in append mode a window only emits once the stream's event time
    passes window_end + delay, and events arriving LATER than the
    delay are dropped from their (already finalized) window instead of
    mutating emitted results. State stays O(open windows).

    Source schema: (doc_id long, event_ts timestamp) - the ingestion
    log of a crawl pipeline (Kafka record time at production scale;
    the parquet file stream has identical semantics for append-only
    batches)."""
    # a per-trigger file cap makes one drain run several micro-batches,
    # each judged against the watermark the previous one advanced
    return (_file_stream(spark, "doc_id long, event_ts timestamp",
                         input_dir, max_files_per_trigger)
            .withWatermark("event_ts", watermark_delay)
            .groupBy(F.window("event_ts", window_duration).alias("win"))
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .select(F.col("win.start").alias("window_start"),
                    F.col("win.end").alias("window_end"), "n_docs"))


def stream_doc_rate_once(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window_duration: str = "10 seconds",
    watermark_delay: str = "5 seconds",
    max_files_per_trigger: Optional[int] = None,
) -> None:
    """Drain available files through the event-time rollup into a
    parquet sink (append mode: only FINALIZED windows are written,
    exactly once). Re-running with the same checkpoint resumes the
    watermark, so lateness is judged across runs, not per run - drop
    a file of old events into ``input_dir`` after the watermark has
    advanced and they never appear in the sink."""
    rate = stream_doc_rate(spark, input_dir,
                           window_duration=window_duration,
                           watermark_delay=watermark_delay,
                           max_files_per_trigger=max_files_per_trigger)
    _parquet_sink(rate, output_dir, checkpoint_dir).awaitTermination()


# ----------------------------------------------------------------------
# Hygiene-gated streaming ingest (the streaming twin of the batch
# incremental_ingest / clean_corpus admission path)
# ----------------------------------------------------------------------

TEXT_DOCS_SCHEMA = "doc_id long, text string, source string"

INGEST_OUT_SCHEMA = ("fp string, doc_id string, pred_lang string, "
                     "n_words long, n_pii long")


def stream_ingest_documents(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: Optional[int] = None,
) -> DataFrame:
    """Streaming corpus admission: hygiene gate -> stateful exact
    dedup, over a (doc_id, text, source) document stream.

    The hygiene stage is textops.hygiene_over - the SAME scrub ->
    language-ID -> quality-gate projection the batch pipeline and
    jobs/build_training_corpus.py run (stateless, so it streams
    unchanged); documents failing the gate never reach the stateful
    operator. Dedup keys on md5(clean_text) (the batch pipeline's
    content identity); only (fp, doc_id, statistic columns) enter
    the state shuffle, never text. Output is the ADMISSION LIST with
    per-doc hygiene metadata - downstream joins it to payloads at
    consumption, the same contract as stream_dedup_documents.

    Scale shape: state is one row per distinct content hash; the
    hygiene projection is whole-stage codegen per micro-batch with
    zero extra shuffle."""
    from docling_core_spark.textops import hygiene_over

    docs = _file_stream(spark, TEXT_DOCS_SCHEMA, input_dir,
                        max_files_per_trigger)
    hyg = (hygiene_over(docs)
           .filter(F.col("keep"))
           .select(F.md5("clean_text").alias("fp"), "doc_id",
                   "pred_lang", "n_words", "n_pii"))
    return _first_wins(hyg, INGEST_OUT_SCHEMA)


def stream_ingest_once(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: Optional[int] = None,
) -> None:
    """Drain available files through the hygiene-gated ingest into a
    parquet sink; re-running with the same checkpoint resumes (state
    carries admitted fingerprints across restarts, the sink's file
    log keeps output exactly-once)."""
    admitted = stream_ingest_documents(
        spark, input_dir, max_files_per_trigger=max_files_per_trigger)
    _parquet_sink(admitted, output_dir, checkpoint_dir).awaitTermination()
