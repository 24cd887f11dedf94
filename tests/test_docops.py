"""Concatenate / range-extraction parity and invariants."""

from __future__ import annotations

import warnings

import pytest

from docling_core_spark.corpus import gen_doc_spans
from docling_core_spark.docops import (
    concatenate_documents,
    extract_spans_range,
)
from docling_core_spark.engine import chunk_documents, synth_documents
from docling_core_spark.model.spans import doc_from_spans
from docling_core_spark.serializers.markdown import export_to_markdown
from tests.refstubs import oracle_fn, reference

build_doc = oracle_fn("build_doc")
reference_markdown = oracle_fn("reference_markdown")

warnings.filterwarnings("ignore")

N = 8


def _engine_concat_markdown(spark, n):
    docs = synth_documents(spark, n, seed=42)
    row = concatenate_documents(docs).collect()
    assert len(row) == 1
    spans = [(s["kind"], s["text"], s["media_ref"], s["offset"])
             for s in row[0]["spans"]]
    return row[0], export_to_markdown(doc_from_spans(row[0]["doc_id"],
                                                     spans))


def _distinct_spans(tag):
    """Small docs whose item texts are all globally unique - the regime
    where the reference's concatenate is NOT corrupted by its
    equal-content aliasing bug (see note below)."""
    rows = [
        ("title", f"Title {tag}", "", 0),
        ("section_header:2", f"Section {tag}", "", 1),
        ("paragraph", f"para one {tag}", "", 2),
        ("list_group", "", "", 3),
        ("list_item", f"item a {tag}", "", 4),
        ("list_item", f"item b {tag}", "", 5),
        ("end_group", "", "", 6),
        ("page_break:2", "", "", 7),
        ("text", f"page two text {tag}", "", 8),
    ]
    return [{"kind": k, "text": t, "media_ref": m, "offset": o}
            for k, t, m, o in rows]


def test_concatenate_matches_reference_distinct_docs(spark):
    """Engine span-level concatenation == reference tree-level
    DoclingDocument.concatenate, judged by the serialized output.

    Uses all-distinct item texts: with duplicate-content items the
    reference's _DocIndex re-referencing corrupts the merge (pydantic
    field-based equality aliases equal items during caption/cell
    remapping, document.py:5694-5710 - list items vanish, duplicate
    formulas merge, captions detach). The engine keeps the clean
    order-preserving semantics, which coincides with the reference
    wherever the reference is uncorrupted."""
    reference()
    from docling_core.types.doc.document import DoclingDocument

    span_sets = [_distinct_spans("alpha"), _distinct_spans("beta"),
                 _distinct_spans("gamma")]
    ref_docs = [build_doc(f"d{i}", s) for i, s in enumerate(span_sets)]
    merged = DoclingDocument.concatenate([d for d, _ in ref_docs])
    exp = reference_markdown(merged)

    rows = [{"doc_id": f"d{i}", "spans": s}
            for i, s in enumerate(span_sets)]
    from docling_core_spark.engine import DOCUMENTS_SCHEMA

    docs = spark.createDataFrame(
        [(r["doc_id"], [(s["kind"], s["text"], s["media_ref"],
                         s["offset"]) for s in r["spans"]])
         for r in rows], DOCUMENTS_SCHEMA)
    out = concatenate_documents(docs).collect()[0]
    spans = [(s["kind"], s["text"], s["media_ref"], s["offset"])
             for s in out["spans"]]
    got = export_to_markdown(doc_from_spans(out["doc_id"], spans))
    assert got == exp
    # page renumbering matches the reference merge (pages 1..6)
    merged_pages = sorted(merged.pages.keys())
    eng_pages = sorted({1} | {int(s[0].split(":")[1]) for s in spans
                             if s[0].startswith("page_break")})
    assert eng_pages == merged_pages


def test_concatenate_matches_clean_join(spark):
    """N-doc concatenation == the per-doc serializations joined in
    order (the uncorrupted reference semantics; see note above)."""
    expected = "\n\n".join(
        reference_markdown(build_doc(f"doc_{i:012d}",
                                     gen_doc_spans(i, seed=42))[0])
        for i in range(N))
    _, got = _engine_concat_markdown(spark, N)
    assert got == expected


def test_concatenate_page_renumbering(spark):
    docs = synth_documents(spark, 4, seed=42)
    spans = concatenate_documents(docs).collect()[0]["spans"]
    pages = [int(s["kind"].split(":")[1]) for s in spans
             if s["kind"].startswith("page_break")]
    assert pages == sorted(pages)          # monotone page numbers
    offs = [s["offset"] for s in spans]
    assert offs == sorted(set(offs))       # strictly increasing offsets


def test_concatenate_grouped(spark):
    from pyspark.sql import functions as F

    docs = synth_documents(spark, 6, seed=42)
    out = concatenate_documents(
        docs, group_col=F.expr("substring(doc_id, -1, 1) % 2"))
    assert out.count() == 2
    total = sum(len(r["spans"]) for r in out.collect())
    base = sum(len(r["spans"]) for r in docs.collect())
    assert total == base + 4  # +1 boundary break per non-first doc


def test_concatenated_chunks_flow(spark):
    docs = synth_documents(spark, 4, seed=42)
    merged = concatenate_documents(docs)
    chunks = chunk_documents(merged, mode="hier")
    assert chunks.count() > 0


@pytest.mark.parametrize("start,stop", [(0, 10), (5, 25), (3, 4)])
def test_extract_range(spark, start, stop):
    docs = synth_documents(spark, 6, seed=42)
    out = extract_spans_range(docs, start, stop).collect()
    for r in out:
        offs = [s["offset"] for s in r["spans"]]
        assert offs and min(offs) >= 0 and max(offs) < stop - start
    # full-range extraction is the identity
    full = extract_spans_range(docs, 0, 10 ** 9)
    orig = {r["doc_id"]: r["spans"] for r in docs.collect()}
    for r in full.collect():
        assert r["spans"] == orig[r["doc_id"]]


def test_extract_range_chunks_flow(spark):
    docs = synth_documents(spark, 6, seed=42)
    sub = extract_spans_range(docs, 2, 20)
    assert chunk_documents(sub, mode="hier").count() > 0


def test_split_outlier_documents(spark):
    from pyspark.sql import functions as F

    from docling_core_spark.docops import split_outlier_documents

    docs = synth_documents(spark, 30, seed=42, mega_every=10)
    sizes = {r["doc_id"]: r["n"] for r in
             docs.select("doc_id", F.size("spans").alias("n")).collect()}
    thresh = 1000
    out = split_outlier_documents(docs, span_threshold=thresh)
    rows = out.collect()
    # no sub-document dominates, small docs untouched
    n_big_in = sum(1 for v in sizes.values() if v > thresh)
    assert n_big_in >= 2
    split_ids = [r["doc_id"] for r in rows if "#p" in r["doc_id"]]
    assert split_ids
    orig = {r["doc_id"]: [tuple(s) for s in r["spans"]]
            for r in docs.collect()}
    for r in rows:
        if "#p" not in r["doc_id"]:
            assert [tuple(s) for s in r["spans"]] == orig[r["doc_id"]]
        else:
            offs = [s["offset"] for s in r["spans"]]
            assert offs == sorted(offs)
    # span conservation: every original span of split docs survives
    by_doc: dict = {}
    for r in rows:
        base = r["doc_id"].split("#")[0]
        if "#p" in r["doc_id"]:
            by_doc.setdefault(base, []).extend(
                (s["offset"]) for s in r["spans"])
    for base, offsets in by_doc.items():
        assert sorted(offsets) == [s[3] for s in
                                   sorted(orig[base], key=lambda x: x[3])]
    # the pipeline consumes the split output unchanged
    assert chunk_documents(out, mode="hier",
                           salt_partitions=8).count() > 0
