"""C3 chunk-metadata parity: DocMeta.origin (hierarchical_chunker.py:
85-122 / DocumentOrigin document.py:709-762) must flow span->doc->chunk
rows identically to the reference library."""

from __future__ import annotations

from docling_core_spark.corpus import gen_corpus
from docling_core_spark.model.spans import doc_from_spans, spans_from_doc
from tests.refstubs import oracle_fn, reference, reference_data

build_doc = oracle_fn("build_doc")


def _tuples(spans):
    return [(s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in spans]


def test_corpus_docs_carry_origin():
    rows = gen_corpus(8, seed=42)
    for r in rows:
        doc = doc_from_spans(r["doc_id"], _tuples(r["spans"]))
        assert doc.origin is not None
        assert doc.origin["mimetype"] == "application/pdf"
        assert doc.origin["filename"].endswith(".pdf")
        assert 0 <= doc.origin["binary_hash"] < (1 << 64)
    # at least one corpus hash must exceed int64 (uint64-range check)
    hashes = [doc_from_spans(r["doc_id"], _tuples(r["spans"]))
              .origin["binary_hash"] for r in rows]
    assert any(h >= (1 << 63) for h in hashes)


def test_origin_codec_round_trip():
    rows = gen_corpus(6, seed=42)
    for r in rows:
        doc = doc_from_spans(r["doc_id"], _tuples(r["spans"]))
        back = doc_from_spans(r["doc_id"],
                              _tuples(spans_from_doc(doc)))
        assert back.origin == doc.origin


def test_origin_matches_reference_docmeta():
    """Reference HierarchicalChunker attaches doc.origin to every
    chunk's meta (hierarchical_chunker.py:241-258); ours must agree."""
    reference()
    from docling_core.transforms.chunker.hierarchical_chunker import (
        HierarchicalChunker,
    )

    from docling_core_spark.chunking.hierarchical import hierarchical_chunk

    for r in gen_corpus(5, seed=42):
        spans = r["spans"]
        ref_doc, _ = build_doc(r["doc_id"], spans)
        ours = doc_from_spans(r["doc_id"], _tuples(spans))
        ref_chunks = list(HierarchicalChunker().chunk(ref_doc))
        our_chunks = hierarchical_chunk(ours)
        assert len(ref_chunks) == len(our_chunks)
        assert ours.origin is not None
        for rc in ref_chunks:
            assert rc.meta.origin is not None
            assert rc.meta.origin.mimetype == ours.origin["mimetype"]
            assert rc.meta.origin.binary_hash == \
                ours.origin["binary_hash"]
            assert rc.meta.origin.filename == ours.origin["filename"]


def test_origin_docjson_round_trip():
    """Engine JSON export carries origin; the reference validates it
    and our importer reads it back bit-equal (uint64 hash included)."""
    import json

    reference()
    from docling_core.types.doc.document import DoclingDocument

    from docling_core_spark.serializers.docjson import (
        export_to_docjson_str,
    )
    from docling_core_spark.sources.docjson import docjson_to_spans

    r = gen_corpus(3, seed=42)[2]
    doc = doc_from_spans(r["doc_id"], _tuples(r["spans"]))
    js = export_to_docjson_str(doc)
    # the reference accepts and preserves the origin we emit
    ref = DoclingDocument.model_validate(json.loads(js))
    assert ref.origin is not None
    assert ref.origin.binary_hash == doc.origin["binary_hash"]
    assert ref.origin.filename == doc.origin["filename"]
    # and our own importer round-trips it
    back = doc_from_spans(r["doc_id"], _tuples(docjson_to_spans(js)))
    assert back.origin == doc.origin


def test_reference_fixture_origin_imported():
    """A real reference fixture with origin (2_inp_dl_doc.json) imports
    with the origin intact."""
    import json

    from docling_core_spark.sources.docjson import docjson_to_spans

    raw = json.load(open(
        reference_data("chunker/2_inp_dl_doc.json")))
    spans = docjson_to_spans(raw)
    doc = doc_from_spans("wiki", _tuples(spans))
    assert doc.origin == {
        "mimetype": raw["origin"]["mimetype"],
        "binary_hash": raw["origin"]["binary_hash"],
        "filename": raw["origin"]["filename"],
        "uri": None,
    }
