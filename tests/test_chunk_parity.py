"""Span-sequence parity: this engine vs. the live reference library.

The correctness gate from BASELINE.json: for the same span-encoded
document, chunks must match the reference's output exactly on
(text, headings, doc_item span offsets, order).
"""

from __future__ import annotations

import pytest

from docling_core_spark.chunking.hierarchical import hierarchical_chunk
from docling_core_spark.chunking.hybrid import hybrid_chunk
from docling_core_spark.chunking.tokenizer import RegexTokenizer
from docling_core_spark.corpus import gen_doc_spans
from docling_core_spark.model.spans import doc_from_spans
from tests.refstubs import oracle_fn, reference

build_doc = oracle_fn("build_doc")
reference_hierarchical_chunks = oracle_fn("reference_hierarchical_chunks")
reference_hybrid_chunks = oracle_fn("reference_hybrid_chunks")

N_DOCS = 60


def _engine_hier(doc_id, spans):
    doc = doc_from_spans(doc_id, [(s["kind"], s["text"], s["media_ref"],
                                   s["offset"]) for s in spans])
    return [c.to_row() for c in hierarchical_chunk(doc)]


def _engine_hybrid(doc_id, spans, max_tokens, merge_peers):
    doc = doc_from_spans(doc_id, [(s["kind"], s["text"], s["media_ref"],
                                   s["offset"]) for s in spans])
    tok = RegexTokenizer(max_tokens)
    return [c.to_row() for c in
            hybrid_chunk(doc, tokenizer=tok, merge_peers=merge_peers)]


@pytest.mark.parametrize("i", range(N_DOCS))
def test_hierarchical_parity(i):
    spans = gen_doc_spans(i, seed=42)
    ref_doc, ref_map = build_doc(f"doc_{i}", spans)
    expected = reference_hierarchical_chunks(ref_doc, ref_map)
    actual = _engine_hier(f"doc_{i}", spans)
    assert actual == expected


@pytest.mark.parametrize("i", range(N_DOCS))
@pytest.mark.parametrize("max_tokens,merge", [(64, True), (64, False),
                                              (256, True)])
def test_hybrid_parity(i, max_tokens, merge):
    spans = gen_doc_spans(i, seed=42)
    ref_doc, ref_map = build_doc(f"doc_{i}", spans)
    expected = reference_hybrid_chunks(ref_doc, ref_map,
                                       max_tokens=max_tokens,
                                       merge_peers=merge)
    actual = _engine_hybrid(f"doc_{i}", spans, max_tokens, merge)
    assert actual == expected


@pytest.mark.parametrize("i", range(0, N_DOCS, 3))
def test_contextualize_parity(i):
    """C4: the embed-ready string matches the reference's
    HybridChunker.contextualize chunk-for-chunk."""
    OracleTokenizer = reference().OracleTokenizer

    from docling_core_spark.chunking.hierarchical import contextualize
    from docling_core_spark.chunking.hybrid import hybrid_chunk

    spans = gen_doc_spans(i, seed=42)
    ref_doc, _ = build_doc(f"doc_{i}", spans)
    from docling_core.transforms.chunker.hybrid_chunker import HybridChunker

    chunker = HybridChunker(tokenizer=OracleTokenizer(max_tokens=64))
    exp = [chunker.contextualize(c) for c in chunker.chunk(ref_doc)]
    doc = doc_from_spans(f"doc_{i}", [
        (s["kind"], s["text"], s["media_ref"], s["offset"])
        for s in spans])
    got = [contextualize(c)
           for c in hybrid_chunk(doc, tokenizer=RegexTokenizer(64))]
    assert got == exp


def test_contextualize_dataframe_op(spark):
    """The JVM-side contextualize column equals the Python function."""
    from docling_core_spark.chunking.hierarchical import (
        Chunk,
        contextualize,
    )
    from docling_core_spark.engine import (
        chunk_documents,
        contextualize_chunks,
        synth_documents,
    )

    docs = synth_documents(spark, 20, seed=42)
    rows = contextualize_chunks(
        chunk_documents(docs, mode="hybrid", max_tokens=64)).collect()
    assert rows
    for r in rows:
        chunk = Chunk(r["text"], list(r["headings"]) if r["headings"]
                      else None, [])
        assert r["contextualized"] == contextualize(chunk)
