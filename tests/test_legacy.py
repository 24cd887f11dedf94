"""S11 legacy DsDocument conversion parity vs the LIVE reference
converter (utils/legacy.py:107-632)."""

from __future__ import annotations

import json

import pytest

from docling_core_spark.corpus import gen_doc_spans
from docling_core_spark.legacy import (
    legacy_to_spans,
    spans_to_legacy,
)
from tests.refstubs import oracle_fn, reference, reference_data

build_doc = oracle_fn("build_doc")


def _tuples(spans):
    return [(s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in spans]


def _ref_legacy():
    """The reference's legacy document model and its two converters."""
    reference()
    from docling_core.types.legacy_doc.document import (
        ExportedCCSDocument,
    )
    from docling_core.utils.legacy import (
        docling_document_to_legacy,
        legacy_to_docling_document,
    )

    return (ExportedCCSDocument, docling_document_to_legacy,
            legacy_to_docling_document)


@pytest.mark.parametrize("doc_index", list(range(0, 60)))
def test_to_legacy_dict_equals_reference(doc_index):
    """Engine legacy dict == the reference converter's model_dump for
    the same document - field for field, including table grids, span
    lists, page hashes and provenance."""
    _, docling_document_to_legacy, _ = _ref_legacy()
    spans = gen_doc_spans(doc_index, seed=42)
    doc_id = f"doc_{doc_index:012d}"
    eng = spans_to_legacy(doc_id, _tuples(spans))
    ref_doc, _ = build_doc(doc_id, spans)
    want = docling_document_to_legacy(ref_doc).model_dump(
        mode="json", by_alias=True, exclude_none=True)
    assert eng == want


@pytest.mark.parametrize("doc_index", list(range(0, 40)))
def test_from_legacy_matches_reference(doc_index):
    """legacy -> spans -> reference build renders identically to the
    reference's own legacy_to_docling_document."""
    DsDocument, _, legacy_to_docling_document = _ref_legacy()
    spans = gen_doc_spans(doc_index, seed=42)
    doc_id = f"doc_{doc_index:012d}"
    eng_legacy = spans_to_legacy(doc_id, _tuples(spans))
    ds = DsDocument.model_validate(eng_legacy)
    want = legacy_to_docling_document(ds)
    origin, back = legacy_to_spans(eng_legacy)
    got_doc, _ = build_doc(doc_id, back)
    assert got_doc.export_to_markdown() == want.export_to_markdown()
    # structural: same ordered (class, text) item sequence
    want_seq = [(type(it).__name__, getattr(it, "text", None))
                for it, _ in want.iterate_items(with_groups=True)]
    got_seq = [(type(it).__name__, getattr(it, "text", None))
               for it, _ in got_doc.iterate_items(with_groups=True)]
    assert got_seq == want_seq


def test_reference_accepts_engine_legacy_json():
    DsDocument, _, _ = _ref_legacy()
    spans = gen_doc_spans(7, seed=42)
    eng = spans_to_legacy("doc_7", _tuples(spans))
    ds = DsDocument.model_validate(eng)  # pydantic-valid legacy doc
    assert ds.file_info.document_hash == eng["file-info"]["document-hash"]


def test_committed_reference_fixture_roundtrip():
    """The reference's own committed legacy fixture
    (test/data/legacy_doc/doc-export.json): our inverse conversion
    renders identically to the reference's."""
    DsDocument, _, legacy_to_docling_document = _ref_legacy()
    raw = open(reference_data("legacy_doc/doc-export.json"),
               encoding="utf-8").read()
    leg = DsDocument.model_validate_json(raw)
    want = legacy_to_docling_document(leg)
    legacy_dict = json.loads(
        leg.model_dump_json(by_alias=True, exclude_none=True))
    origin, back = legacy_to_spans(legacy_dict)
    got_doc, _ = build_doc("fixture", back)
    assert got_doc.export_to_markdown() == want.export_to_markdown()
    assert origin["filename"] == leg.file_info.filename


def _strip_cell_padding(legacy_dict: dict) -> dict:
    """OTSL cell payloads cannot carry leading/trailing whitespace
    (the reference's own parser strips them too, utils.py:245); strip
    table cell texts on BOTH sides so markdown column padding agrees."""
    for t in legacy_dict.get("tables") or []:
        for row in t.get("data") or []:
            for cell in row:
                if isinstance(cell.get("text"), str):
                    cell["text"] = cell["text"].strip()
    return legacy_dict


@pytest.mark.parametrize("name", ["doc-1.json", "doc-2.json",
                                  "doc-3.json", "doc-4.json",
                                  "doc-5.json", "doc-6.json",
                                  "doc-7.json"])
def test_more_committed_fixtures(name):
    DsDocument, _, legacy_to_docling_document = _ref_legacy()
    raw = open(reference_data(f"legacy_doc/{name}"),
               encoding="utf-8").read()
    legacy_dict = _strip_cell_padding(json.loads(raw))
    try:
        leg = DsDocument.model_validate(legacy_dict)
    except Exception:
        pytest.skip(f"{name} is not an ExportedCCSDocument")
    want = legacy_to_docling_document(leg)
    _, back = legacy_to_spans(legacy_dict)
    got_doc, _ = build_doc("fixture", back)
    assert got_doc.export_to_markdown() == want.export_to_markdown()


def test_origin_hash_carried():
    spans = gen_doc_spans(3, seed=42)
    eng = spans_to_legacy("doc_3", _tuples(spans))
    origin, _ = legacy_to_spans(eng)
    assert origin["binary_hash"] == eng["file-info"]["document-hash"]
    assert origin["filename"].endswith(".pdf")


def test_spark_legacy_roundtrip(spark):
    import pandas as pd

    from docling_core_spark.engine import synth_documents
    from docling_core_spark.legacy import (
        export_legacy,
        parse_legacy_roundtrip,
    )

    docs = synth_documents(spark, 25, seed=42)
    out = export_legacy(docs).toPandas()
    assert len(out) == 25 and (out["fmt"] == "legacy").all()
    # every payload is valid JSON with the legacy shape
    row = json.loads(out.iloc[0]["text"])
    assert "main-text" in row and "file-info" in row

    rt = (parse_legacy_roundtrip(docs).toPandas()
          .sort_values(["doc_id", "ord"]).reset_index(drop=True))
    exp = []
    for i in range(25):
        spans = gen_doc_spans(i, seed=42)
        d = f"doc_{i:012d}"
        _, back = legacy_to_spans(spans_to_legacy(d, _tuples(spans)))
        for r in back:
            exp.append({"doc_id": d, "ord": r["offset"],
                        "kind": r["kind"], "text": r["text"],
                        "media_ref": r["media_ref"]})
    want = (pd.DataFrame(exp).sort_values(["doc_id", "ord"])
            .reset_index(drop=True))
    pd.testing.assert_frame_equal(rt.astype({"ord": "int64"}),
                                  want.astype({"ord": "int64"}))
