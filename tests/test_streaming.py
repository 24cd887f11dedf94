"""Streaming ingestion: availableNow drains, checkpointed resume."""

from __future__ import annotations

import os

import pytest

from docling_core_spark.engine import chunk_documents, synth_documents
from docling_core_spark.streaming import stream_once


def _land(spark, tmp, lo, hi, batch):
    docs = synth_documents(spark, hi, seed=42).filter(
        f"doc_id >= 'doc_{lo:012d}' AND doc_id < 'doc_{hi:012d}'")
    docs.write.mode("append").parquet(os.path.join(tmp, "in"))
    return docs


def test_stream_matches_batch_and_resumes(spark, tmp_path):
    tmp = str(tmp_path)
    in_dir = os.path.join(tmp, "in")
    out_dir = os.path.join(tmp, "out")
    ckpt = os.path.join(tmp, "ckpt")

    _land(spark, tmp, 0, 12, 1)
    stream_once(spark, in_dir, out_dir, ckpt)
    got1 = spark.read.parquet(out_dir)
    n_docs1 = got1.select("doc_id").distinct().count()
    assert n_docs1 == 12

    # second batch of files -> only the new docs are processed
    _land(spark, tmp, 12, 20, 2)
    stream_once(spark, in_dir, out_dir, ckpt)
    got2 = spark.read.parquet(out_dir)
    assert got2.select("doc_id").distinct().count() == 20
    # no duplicates from reprocessing batch 1
    assert got2.count() == got2.dropDuplicates(
        ["doc_id", "chunk_idx"]).count()

    # content identical to the batch pipeline
    batch = chunk_documents(synth_documents(spark, 20, seed=42),
                            mode="hier")
    a = sorted((r["doc_id"], r["chunk_idx"], r["text"])
               for r in got2.collect())
    b = sorted((r["doc_id"], r["chunk_idx"], r["text"])
               for r in batch.collect())
    assert a == b


def test_rerun_without_new_files_is_noop(spark, tmp_path):
    tmp = str(tmp_path)
    in_dir = os.path.join(tmp, "in")
    out_dir = os.path.join(tmp, "out")
    ckpt = os.path.join(tmp, "ckpt")
    _land(spark, tmp, 0, 8, 1)
    stream_once(spark, in_dir, out_dir, ckpt)
    n1 = spark.read.parquet(out_dir).count()
    stream_once(spark, in_dir, out_dir, ckpt)
    assert spark.read.parquet(out_dir).count() == n1


def test_windowed_metrics_rollup(spark, tmp_path):
    """Watermarked window agg over the chunk stream: totals equal the
    batch chunk count (one drain = all chunks land in open windows,
    visible in complete mode)."""
    from docling_core_spark.streaming import run_metrics_once

    tmp = str(tmp_path)
    _land(spark, tmp, 0, 24, 0)
    in_dir = os.path.join(tmp, "in")

    metrics = run_metrics_once(spark, in_dir, table_name="m_test",
                               window_duration="1 hour",
                               watermark_delay="2 hours").collect()
    expected = chunk_documents(
        spark.read.parquet(in_dir), mode="hier").count()
    assert sum(r.n_chunks for r in metrics) == expected
    assert all(r.window_end > r.window_start for r in metrics)
    # one drain lands inside one (or two, across a boundary) windows
    assert 1 <= len(metrics) <= 2
    n_docs = sum(r.n_docs_approx for r in metrics)
    assert 0 < n_docs  # approx distinct, sanity only


def test_stream_extraction_matches_projection(spark, tmp_path):
    """Streaming extraction: pages land in two batches; the drained
    span rows equal the independent projection of the source spans,
    and resume processes only the new files."""
    from docling_core_spark.corpus import gen_doc_spans
    from docling_core_spark.extraction.projection import project_for_html
    from docling_core_spark.extraction.spark import render_pages
    from docling_core_spark.streaming import stream_extract_once

    tmp = str(tmp_path)
    in_dir = os.path.join(tmp, "pages")
    out_dir = os.path.join(tmp, "spans")
    ckpt = os.path.join(tmp, "ckpt")

    def land(lo, hi):
        docs = synth_documents(spark, hi, seed=42).filter(
            f"doc_id >= 'doc_{lo:012d}' AND doc_id < 'doc_{hi:012d}'")
        render_pages(docs).write.mode("append").parquet(in_dir)

    land(0, 8)
    stream_extract_once(spark, in_dir, out_dir, ckpt)
    assert spark.read.parquet(out_dir) \
        .select("doc_id").distinct().count() == 8

    land(8, 14)
    stream_extract_once(spark, in_dir, out_dir, ckpt)
    got = spark.read.parquet(out_dir)
    assert got.select("doc_id").distinct().count() == 14
    assert got.count() == got.dropDuplicates(["doc_id", "ord"]).count()

    rows = sorted((r["doc_id"], r["ord"], r["kind"], r["text"],
                   r["media_ref"]) for r in got.collect())
    want = sorted(
        (f"doc_{i:012d}", p["offset"], p["kind"], p["text"],
         p["media_ref"])
        for i in range(14)
        for p in project_for_html(gen_doc_spans(i, seed=42)))
    assert rows == want


def test_stream_layout_extraction_matches_projection(spark, tmp_path):
    """Streaming PDF/layout-parse (foreachBatch, grouped parse per
    micro-batch): cell files land in two batches; drained span rows
    equal the independent projection; resume parses only new files
    and a re-drain appends nothing."""
    from docling_core_spark.corpus import gen_doc_spans
    from docling_core_spark.extraction.layout import project_for_layout
    from docling_core_spark.extraction.layout_spark import render_layout
    from docling_core_spark.streaming import stream_extract_cells_once

    tmp = str(tmp_path)
    in_dir = os.path.join(tmp, "cells")
    out_dir = os.path.join(tmp, "spans")
    ckpt = os.path.join(tmp, "ckpt")

    def land(lo, hi):
        docs = synth_documents(spark, hi, seed=42).filter(
            f"doc_id >= 'doc_{lo:012d}' AND doc_id < 'doc_{hi:012d}'")
        render_layout(docs).write.mode("append").parquet(in_dir)

    land(0, 8)
    stream_extract_cells_once(spark, in_dir, out_dir, ckpt)
    assert spark.read.parquet(out_dir) \
        .select("doc_id").distinct().count() == 8

    land(8, 14)
    stream_extract_cells_once(spark, in_dir, out_dir, ckpt)
    got = spark.read.parquet(out_dir)
    assert got.select("doc_id").distinct().count() == 14
    assert got.count() == got.dropDuplicates(["doc_id", "ord"]).count()
    n_before = got.count()

    # no new files -> idempotent no-op drain
    stream_extract_cells_once(spark, in_dir, out_dir, ckpt)
    assert spark.read.parquet(out_dir).count() == n_before

    rows = sorted((r["doc_id"], r["ord"], r["kind"], r["text"],
                   r["media_ref"]) for r in got.collect())
    want = sorted(
        (f"doc_{i:012d}", p["offset"], p["kind"], p["text"],
         p["media_ref"])
        for i in range(14)
        for p in project_for_layout(gen_doc_spans(i, seed=42)))
    assert rows == want


def test_stream_dedup_first_occurrence_wins(spark, tmp_path):
    """Stateful streaming exact dedup: duplicates planted across
    micro-batches AND across separate runs are admitted exactly once;
    the survivor is the smallest doc_id of the first batch that
    carried the fingerprint."""
    import pyspark.sql.functions as F

    from docling_core_spark.engine import DOCUMENTS_SCHEMA
    from docling_core_spark.streaming import stream_dedup_once

    tmp = str(tmp_path)
    in_dir = os.path.join(tmp, "in")
    out_dir = os.path.join(tmp, "out")
    ckpt = os.path.join(tmp, "ckpt")

    def doc(doc_id, text):
        return (doc_id, [("text", text, "", 0)])

    # file 1: unique A, B + an intra-batch duplicate pair of C
    spark.createDataFrame(
        [doc("d01", "alpha"), doc("d02", "beta"),
         doc("d03", "gamma"), doc("d09", "gamma")],
        DOCUMENTS_SCHEMA).coalesce(1).write.mode("append").parquet(in_dir)
    # file 2: duplicate of A (cross-batch) + unique D
    spark.createDataFrame(
        [doc("d05", "alpha"), doc("d06", "delta")],
        DOCUMENTS_SCHEMA).coalesce(1).write.mode("append").parquet(in_dir)

    # one file per trigger -> the two files land in separate
    # micro-batches within one availableNow drain
    stream_dedup_once(spark, in_dir, out_dir, ckpt,
                      max_files_per_trigger=1)
    got = {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
    assert got == {"d01", "d02", "d03", "d06"}  # d03 < d09, d01 first

    # a later run re-delivers alpha and adds a new doc: only the new
    # fingerprint passes (state survived in the checkpoint)
    spark.createDataFrame(
        [doc("d07", "alpha"), doc("d08", "epsilon")],
        DOCUMENTS_SCHEMA).coalesce(1).write.mode("append").parquet(in_dir)
    stream_dedup_once(spark, in_dir, out_dir, ckpt,
                      max_files_per_trigger=1)
    got2 = spark.read.parquet(out_dir)
    assert {r["doc_id"] for r in got2.collect()} == {
        "d01", "d02", "d03", "d06", "d08"}
    # one row per fingerprint, ever
    assert got2.count() == got2.select("fp").distinct().count()

    # matches the batch-side fingerprint identity (same md5 key)
    batch_fp = (spark.read.parquet(in_dir)
                .select(F.md5(F.expr(
                    "array_join(transform(array_sort(spans, (a, b) -> "
                    "a.offset - b.offset), s -> s.text), '\\u001f')"
                )).alias("fp")).distinct().count())
    assert batch_fp == got2.count()


def test_stream_dedup_rocksdb_provider_restart(spark, tmp_path):
    """r3 verdict item 6: the 10^9-key scale note must be tested, not
    asserted - run the stateful dedup on the RocksDB state-store
    provider, restart from the checkpoint, and verify (a) first
    occurrence still wins across the restart and (b) the checkpoint
    actually contains RocksDB artifacts (the provider ran)."""
    import glob as _glob

    from docling_core_spark.engine import DOCUMENTS_SCHEMA
    from docling_core_spark.streaming import stream_dedup_once

    tmp = str(tmp_path)
    in_dir = os.path.join(tmp, "in")
    out_dir = os.path.join(tmp, "out")
    ckpt = os.path.join(tmp, "ckpt")

    def doc(doc_id, text):
        return (doc_id, [("text", text, "", 0)])

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key, "org.apache.spark.sql.execution.streaming.state."
             "RocksDBStateStoreProvider")
    try:
        spark.createDataFrame(
            [doc("r01", "alpha"), doc("r02", "beta"),
             doc("r03", "alpha")],
            DOCUMENTS_SCHEMA).coalesce(1).write.mode("append") \
            .parquet(in_dir)
        stream_dedup_once(spark, in_dir, out_dir, ckpt)
        got = {r["doc_id"]
               for r in spark.read.parquet(out_dir).collect()}
        assert got == {"r01", "r02"}

        # restart: re-delivered alpha stays dead, new gamma admitted
        spark.createDataFrame(
            [doc("r04", "alpha"), doc("r05", "gamma")],
            DOCUMENTS_SCHEMA).coalesce(1).write.mode("append") \
            .parquet(in_dir)
        stream_dedup_once(spark, in_dir, out_dir, ckpt)
        got2 = {r["doc_id"]
                for r in spark.read.parquet(out_dir).collect()}
        assert got2 == {"r01", "r02", "r05"}

        # the state checkpoint must carry RocksDB files (.zip
        # snapshots / .changelog), not HDFS-provider .delta files
        state_files = _glob.glob(os.path.join(ckpt, "state", "**"),
                                 recursive=True)
        assert any(f.endswith((".zip", ".changelog"))
                   for f in state_files), state_files[:20]
        assert not any(f.endswith(".delta") for f in state_files)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_stream_dedup_ttl_readmits_after_expiry(spark, tmp_path):
    """ttl_ms turns the admission list into a sliding window: a
    fingerprint idle past the TTL has its state reclaimed on the next
    trigger and a later re-occurrence is admitted again; inside the
    window duplicates still die."""
    import time

    from docling_core_spark.engine import DOCUMENTS_SCHEMA
    from docling_core_spark.streaming import stream_dedup_once

    tmp = str(tmp_path)
    in_dir = os.path.join(tmp, "in")
    out_dir = os.path.join(tmp, "out")
    ckpt = os.path.join(tmp, "ckpt")
    TTL = 1500

    def doc(doc_id, text):
        return (doc_id, [("text", text, "", 0)])

    def add(*docs):
        spark.createDataFrame(list(docs), DOCUMENTS_SCHEMA) \
            .coalesce(1).write.mode("append").parquet(in_dir)

    # run 1: admit alpha (+ an in-window duplicate dies)
    add(doc("t01", "alpha"), doc("t02", "alpha"))
    stream_dedup_once(spark, in_dir, out_dir, ckpt, ttl_ms=TTL)
    got = {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
    assert got == {"t01"}

    # run 2 after the TTL, data only for beta: the trigger processes
    # alpha's timeout and reclaims its state
    time.sleep((TTL + 1200) / 1000.0)
    add(doc("t03", "beta"))
    stream_dedup_once(spark, in_dir, out_dir, ckpt, ttl_ms=TTL)

    # run 3: alpha re-occurs after expiry -> admitted again
    add(doc("t04", "alpha"))
    stream_dedup_once(spark, in_dir, out_dir, ckpt, ttl_ms=TTL)
    got3 = {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
    assert got3 == {"t01", "t03", "t04"}


def test_stream_doc_rate_drops_late_events(spark, tmp_path):
    """Event-time watermark contract: a window emits once the stream's
    event time passes window_end + delay, and events arriving after
    that (late data) are dropped instead of mutating emitted windows -
    judged ACROSS runs because the checkpoint carries the watermark."""
    import datetime as dt
    import os

    from docling_core_spark.streaming import stream_doc_rate_once

    in_dir = os.path.join(str(tmp_path), "in")
    out_dir = os.path.join(str(tmp_path), "out")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    os.makedirs(in_dir)

    def ts(sec):
        return dt.datetime(2026, 1, 1, 0, 0, sec)

    def put(name, rows):
        # one FLAT file per batch (the file-stream source does not
        # recurse into subdirectories)
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        df = pd.DataFrame(rows, columns=["doc_id", "event_ts"])
        df["event_ts"] = pd.to_datetime(df["event_ts"])
        pq.write_table(pa.Table.from_pandas(df),
                       os.path.join(in_dir, name + ".parquet"),
                       coerce_timestamps="us",
                       allow_truncated_timestamps=True)

    # run 1: window [0,10) gets 3 docs; an event at t=23 pushes the
    # watermark to 18 so [0,10) finalizes
    put("b0", [(1, ts(1)), (2, ts(2)), (3, ts(3)), (4, ts(23))])
    stream_doc_rate_once(spark, in_dir, out_dir, ckpt)

    # run 2: doc 99 is LATE (t=2 < watermark 18; its window already
    # emitted) and must be dropped; t=41 advances the watermark to 36
    # so [20,30) finalizes at n=1
    put("b1", [(99, ts(2)), (5, ts(41))])
    stream_doc_rate_once(spark, in_dir, out_dir, ckpt)

    # run 3: fresh events flush any watermark-only final batch
    put("b2", [(6, ts(55))])
    stream_doc_rate_once(spark, in_dir, out_dir, ckpt)

    got = {(r["window_start"].second,
            r["window_end"].second if r["window_end"].minute == 0
            else 60): r["n_docs"]
           for r in spark.read.parquet(out_dir).collect()}
    # [0,10) finalized at 3 - late doc 99 was dropped, not added; the
    # late event also created no window of its own; run 3's t=55
    # finalized [40,50) and left [50,60) open (not in the sink)
    assert got == {(0, 10): 3, (20, 30): 1, (40, 50): 1}


def test_stream_ingest_hygiene_gate_and_dedup(spark, tmp_path):
    """The streaming twin of the batch admission path: documents
    failing the hygiene gate never enter state; duplicates across
    micro-batches and across RUNS admit exactly once; admitted rows
    carry the hygiene metadata of the winning doc."""
    from docling_core_spark.streaming.pipeline import (
        TEXT_DOCS_SCHEMA,
        stream_ingest_once,
    )

    tmp = str(tmp_path)
    in_dir = os.path.join(tmp, "in")
    out_dir = os.path.join(tmp, "out")
    ckpt = os.path.join(tmp, "ckpt")

    good = ("the analysis of the data pipeline is a document "
            "with plenty of english stopword mass")
    # file 1: a good doc, an identical duplicate (higher id), a
    # too-short doc (quality gate), a no-stopword doc (lang gate)
    spark.createDataFrame(
        [(1, good, "srcA"), (9, good, "srcA"),
         (2, "tiny text", "srcA"),
         (3, "zzz qqq xxx vvv kkk mmm nnn ppp", "srcB")],
        TEXT_DOCS_SCHEMA).coalesce(1).write.mode("append").parquet(in_dir)
    # file 2 (second micro-batch): cross-batch duplicate + a doc with
    # PII that scrubs to a NEW clean text
    spark.createDataFrame(
        [(5, good, "srcB"),
         (6, "please contact me for the data at bob@example.com "
             "before the end of the week", "srcB")],
        TEXT_DOCS_SCHEMA).coalesce(1).write.mode("append").parquet(in_dir)

    stream_ingest_once(spark, in_dir, out_dir, ckpt,
                       max_files_per_trigger=1)
    got = {r["doc_id"]: r for r in spark.read.parquet(out_dir).collect()}
    assert set(got) == {"1", "6"}
    assert got["1"]["pred_lang"] == "en" and got["1"]["n_pii"] == 0
    assert got["6"]["n_pii"] == 1  # the email was counted + scrubbed

    # restart run: re-delivered duplicate stays out, new doc admits
    spark.createDataFrame(
        [(7, good, "srcC"),
         (8, "a completely different document about the spark engine "
             "and the table of data", "srcC")],
        TEXT_DOCS_SCHEMA).coalesce(1).write.mode("append").parquet(in_dir)
    stream_ingest_once(spark, in_dir, out_dir, ckpt,
                       max_files_per_trigger=1)
    got2 = spark.read.parquet(out_dir)
    assert {r["doc_id"] for r in got2.collect()} == {"1", "6", "8"}
    assert got2.count() == got2.select("fp").distinct().count()

    # the gate is the BATCH hygiene definition: same keep set
    from pyspark.sql import functions as F

    from docling_core_spark.textops import hygiene_over

    batch_keep = (hygiene_over(spark.read.parquet(in_dir))
                  .filter(F.col("keep"))
                  .select(F.md5("clean_text").alias("fp"))
                  .distinct().count())
    assert batch_keep == got2.count()


@pytest.mark.parametrize("stream", ["ingest", "documents"])
def test_survivor_is_least_doc_id_in_the_column_type(spark, tmp_path,
                                                     stream):
    """Both first-wins streams keep the least doc_id of the batch,
    compared in the input column's type: the ingest stream's long ids
    in numeric order (9 < 10), the documents stream's string ids in
    string order ("d10" < "d9"). The survivor is written as a
    string."""
    from docling_core_spark.engine import DOCUMENTS_SCHEMA
    from docling_core_spark.streaming.pipeline import (
        TEXT_DOCS_SCHEMA,
        stream_dedup_once,
        stream_ingest_once,
    )

    in_dir = os.path.join(str(tmp_path), "in")
    out_dir = os.path.join(str(tmp_path), "out")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    if stream == "ingest":
        text = ("the analysis of the data pipeline is a document "
                "with plenty of english stopword mass")
        rows, schema = [(10, text, "s"), (9, text, "s")], TEXT_DOCS_SCHEMA
        run, want = stream_ingest_once, "9"
    else:
        rows = [("d10", [("text", "alpha", "", 0)]),
                ("d9", [("text", "alpha", "", 0)])]
        schema, run, want = DOCUMENTS_SCHEMA, stream_dedup_once, "d10"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(in_dir)
    run(spark, in_dir, out_dir, ckpt)
    assert [r["doc_id"] for r in spark.read.parquet(out_dir).collect()] \
        == [want]


def test_one_reader_one_sink_one_state_operator():
    """streaming/pipeline.py opens file streams only in _file_stream,
    calls applyInPandasWithState only in _first_wins, and starts
    streaming writes only in _parquet_sink and the two sinks that are
    not a parquet append (the foreachBatch layout sink and the memory
    metrics table). An allowed site that disappears fails too."""
    import ast
    from pathlib import Path

    rel = "docling_core_spark/streaming/pipeline.py"
    path = Path(__file__).resolve().parents[1] / rel
    allowed = {("_file_stream", "readStream"),
               ("_first_wins", "applyInPandasWithState"),
               ("_parquet_sink", "writeStream"),
               ("stream_extract_cells_once", "writeStream"),
               ("run_metrics_once", "writeStream")}
    sites, kept = [], set()
    for top in ast.parse(path.read_text(), rel).body:
        for node in ast.walk(top):
            if not (isinstance(node, ast.Attribute) and node.attr in (
                    "readStream", "writeStream",
                    "applyInPandasWithState")):
                continue
            site = (getattr(top, "name", None), node.attr)
            if site in allowed:
                kept.add(site)
            else:
                sites.append(f"{rel}:{node.lineno} {site[0]} {node.attr}")
    assert not sites, sites
    assert kept == allowed, allowed - kept
