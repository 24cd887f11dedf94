"""Spark pipeline tests: the distributed path must equal the pure-Python
path row for row (Arrow round-trip + mapInPandas fusion), and corpus
generation must be deterministic under any partitioning."""

from __future__ import annotations

import pytest

from docling_core_spark.chunking.hierarchical import hierarchical_chunk
from docling_core_spark.chunking.hybrid import hybrid_chunk
from docling_core_spark.chunking.tokenizer import RegexTokenizer
from docling_core_spark.corpus import gen_doc_spans
from docling_core_spark.engine import (
    chunk_documents,
    doc_stats,
    export_documents,
    parse_and_chunk,
    synth_documents,
)
from docling_core_spark.model.spans import doc_from_spans
from docling_core_spark.serializers.markdown import export_to_markdown

N = 24


def _local_doc(i):
    spans = gen_doc_spans(i, seed=42)
    return doc_from_spans(f"doc_{i:012d}",
                          [(s["kind"], s["text"], s["media_ref"],
                            s["offset"]) for s in spans])


def test_synth_deterministic_across_partitionings(spark):
    a = synth_documents(spark, N, seed=42, partitions=1).collect()
    b = synth_documents(spark, N, seed=42, partitions=7).collect()
    ka = {r.doc_id: [tuple(s) for s in r.spans] for r in a}
    kb = {r.doc_id: [tuple(s) for s in r.spans] for r in b}
    assert ka == kb
    assert len(ka) == N


@pytest.mark.parametrize("mode", ["hybrid", "hier"])
def test_spark_chunks_equal_local(spark, mode):
    docs = synth_documents(spark, N, seed=42, partitions=5)
    rows = chunk_documents(docs, mode=mode, max_tokens=64).collect()
    got = {}
    for r in rows:
        got.setdefault(r.doc_id, []).append(
            (r.chunk_idx, r.text,
             list(r.headings) if r.headings is not None else None,
             list(r.span_refs)))
    for v in got.values():
        v.sort()
    for i in range(N):
        doc = _local_doc(i)
        if mode == "hybrid":
            chunks = hybrid_chunk(doc, tokenizer=RegexTokenizer(64))
        else:
            chunks = hierarchical_chunk(doc)
        expected = [(ci, c.text, c.headings, c.offsets)
                    for ci, c in enumerate(chunks)]
        assert got.get(f"doc_{i:012d}", []) == expected


def test_spark_export_equal_local(spark):
    docs = synth_documents(spark, N, seed=42, partitions=3)
    rows = {r.doc_id: r.text
            for r in export_documents(docs, fmt="md").collect()}
    for i in range(N):
        assert rows[f"doc_{i:012d}"] == export_to_markdown(_local_doc(i))


def test_doc_stats(spark):
    docs = synth_documents(spark, N, seed=42, partitions=3)
    stats = {r.doc_id: r for r in doc_stats(docs).collect()}
    assert len(stats) == N
    for r in stats.values():
        assert r.n_spans > 0 and r.n_chunks >= 0

@pytest.mark.parametrize("mode", ["hier", "hybrid"])
def test_fused_doctags_parse_chunk_equals_chained(spark, mode):
    """parse_and_chunk_doctags (one Arrow stage) must emit exactly what
    the chained parse -> chunk composition emits."""
    from docling_core_spark.sources.doctags import (
        parse_and_chunk_doctags,
        parse_doctags_documents,
    )

    docs = synth_documents(spark, N, seed=42, partitions=4)
    dt = (export_documents(docs, fmt="dt")
          .withColumnRenamed("text", "doctags"))

    def keyed(rows):
        out = {}
        for r in rows:
            out.setdefault(r.doc_id, []).append(
                (r.chunk_idx, r.text,
                 list(r.headings) if r.headings is not None else None,
                 list(r.span_refs)))
        for v in out.values():
            v.sort()
        return out

    chained = keyed(chunk_documents(
        parse_doctags_documents(dt, doctags_col="doctags"),
        mode=mode, max_tokens=64).collect())
    fused = keyed(parse_and_chunk_doctags(
        dt, doctags_col="doctags", mode=mode, max_tokens=64).collect())
    assert fused == chained
    assert len(fused) == N


def test_fused_docjson_parse_chunk_equals_chained(spark):
    from docling_core_spark.sources.docjson import (
        load_docjson_documents,
        parse_and_chunk_docjson,
    )

    docs = synth_documents(spark, N, seed=42, partitions=4)
    js = (export_documents(docs, fmt="json")
          .withColumnRenamed("text", "doc_json"))

    def keyed(rows):
        out = {}
        for r in rows:
            out.setdefault(r.doc_id, []).append(
                (r.chunk_idx, r.text,
                 list(r.headings) if r.headings is not None else None,
                 list(r.span_refs)))
        for v in out.values():
            v.sort()
        return out

    chained = keyed(chunk_documents(
        load_docjson_documents(js), mode="hier").collect())
    fused = keyed(parse_and_chunk_docjson(js, mode="hier").collect())
    assert fused == chained
    assert len(fused) == N


def test_null_and_empty_spans_rows(spark):
    """Null / empty spans arrays must flow through chunk + export as
    empty documents, never crash the Arrow stage (at 10^12 docs,
    malformed rows are routine)."""
    rows = [("d1", [("title", "T", "", 0), ("text", "body", "", 1)]),
            ("d2", None), ("d3", [])]
    df = spark.createDataFrame(
        rows, schema=("doc_id string, spans array<struct<kind:string,"
                      "text:string,media_ref:string,offset:int>>"))
    chunks = chunk_documents(df, mode="hier").collect()
    assert {r.doc_id for r in chunks} == {"d1"}
    assert chunks[0].text == "body" and chunks[0].headings == ["T"]
    exports = {r.doc_id: r.text for r in
               export_documents(df, fmt="md").collect()}
    assert exports["d1"] == "# T\n\nbody"
    assert exports["d2"] == "" and exports["d3"] == ""


def test_hybrid_budget_below_one_fails_at_stage_build(spark):
    """A hybrid stage with max_tokens < 1 raises while it is built on
    the driver, before any Spark job runs; hier and page ignore
    max_tokens and still build."""
    from docling_core_spark.sources.doctags import doctags_to_spans

    sc = spark.sparkContext
    group = "hybrid-budget-check"
    sc.setJobGroup(group, "stage builds only")
    try:
        docs = synth_documents(spark, 4, seed=42, partitions=1)
        text = docs.selectExpr("doc_id", "'' AS doctags")
        builds = [
            lambda mode: chunk_documents(docs, mode=mode, max_tokens=0),
            lambda mode: parse_and_chunk(text, doctags_to_spans, "doctags",
                                         mode=mode, max_tokens=0),
            lambda mode: doc_stats(docs, mode=mode, max_tokens=0),
        ]
        for build in builds:
            with pytest.raises(ValueError, match="got 0"):
                build("hybrid")
            for mode in ("hier", "page"):
                build(mode)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setJobGroup(None, None)
