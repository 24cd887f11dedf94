"""Page-chunker parity vs. the live reference PageChunker."""

from __future__ import annotations

import pytest

from docling_core_spark.chunking.page import page_chunk
from docling_core_spark.corpus import gen_doc_spans
from docling_core_spark.model.spans import doc_from_spans
from tests.refstubs import oracle_fn

build_doc = oracle_fn("build_doc")
reference_page_chunks = oracle_fn("reference_page_chunks")

N_DOCS = 60


@pytest.mark.parametrize("i", range(N_DOCS))
def test_page_chunk_parity(i):
    spans = gen_doc_spans(i, seed=42)
    ref_doc, ref_map = build_doc(f"doc_{i}", spans)
    expected = reference_page_chunks(ref_doc, ref_map)
    doc = doc_from_spans(f"doc_{i}", [
        (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans])
    assert [c.to_row() for c in page_chunk(doc)] == expected
