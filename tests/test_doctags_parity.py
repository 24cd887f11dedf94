"""DocTags export parity vs. the live reference library."""

from __future__ import annotations

import pytest

from docling_core_spark.corpus import gen_doc_spans
from docling_core_spark.model.spans import doc_from_spans
from docling_core_spark.serializers.doctags import export_to_doctags
from tests.refstubs import oracle_fn

build_doc = oracle_fn("build_doc")

N_DOCS = 60


def _doc(i):
    spans = gen_doc_spans(i, seed=42)
    engine_doc = doc_from_spans(f"doc_{i}", [
        (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans])
    ref_doc, _ = build_doc(f"doc_{i}", spans)
    return engine_doc, ref_doc


@pytest.mark.parametrize("i", range(N_DOCS))
def test_doctags_parity(i):
    engine_doc, ref_doc = _doc(i)
    assert export_to_doctags(engine_doc) == ref_doc.export_to_doctags()


@pytest.mark.parametrize("i", range(0, N_DOCS, 4))
def test_doctags_minified_parity(i):
    engine_doc, ref_doc = _doc(i)
    assert export_to_doctags(engine_doc, minified=True) == \
        ref_doc.export_to_doctags(minified=True)


@pytest.mark.parametrize("i", range(0, N_DOCS, 6))
def test_doctags_no_location_parity(i):
    engine_doc, ref_doc = _doc(i)
    assert export_to_doctags(engine_doc, add_location=False) == \
        ref_doc.export_to_doctags(add_location=False)


@pytest.mark.parametrize("i", range(0, N_DOCS, 6))
def test_doctags_no_pagebreak_parity(i):
    engine_doc, ref_doc = _doc(i)
    assert export_to_doctags(engine_doc, add_page_break=False) == \
        ref_doc.export_to_doctags(add_page_index=False)
