"""Markdown / text export parity vs. the live reference library."""

from __future__ import annotations

import pytest

from docling_core_spark.corpus import gen_doc_spans
from docling_core_spark.model.spans import doc_from_spans
from docling_core_spark.serializers.markdown import (
    export_to_markdown,
    export_to_text,
)
from tests.refstubs import oracle_fn

build_doc = oracle_fn("build_doc")
reference_html = oracle_fn("reference_html")
reference_markdown = oracle_fn("reference_markdown")
reference_text = oracle_fn("reference_text")

N_DOCS = 60


def _doc(i):
    spans = gen_doc_spans(i, seed=42)
    engine_doc = doc_from_spans(f"doc_{i}", [
        (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans])
    ref_doc, _ = build_doc(f"doc_{i}", spans)
    return engine_doc, ref_doc


@pytest.mark.parametrize("i", range(N_DOCS))
def test_markdown_parity(i):
    engine_doc, ref_doc = _doc(i)
    assert export_to_markdown(engine_doc) == reference_markdown(ref_doc)


@pytest.mark.parametrize("i", range(N_DOCS))
def test_text_parity(i):
    engine_doc, ref_doc = _doc(i)
    assert export_to_text(engine_doc) == reference_text(ref_doc)


@pytest.mark.parametrize("i", range(0, N_DOCS, 3))
def test_paged_markdown_parity(i):
    engine_doc, ref_doc = _doc(i)
    assert export_to_markdown(
        engine_doc, page_break_placeholder="<!-- page break -->"
    ) == reference_markdown(
        ref_doc, page_break_placeholder="<!-- page break -->")


@pytest.mark.parametrize("i", range(0, N_DOCS, 5))
def test_sliced_markdown_parity(i):
    engine_doc, ref_doc = _doc(i)
    assert export_to_markdown(engine_doc, start_idx=3, stop_idx=17) == \
        reference_markdown(ref_doc, from_element=3, to_element=17)


@pytest.mark.parametrize("i", range(0, N_DOCS, 5))
def test_page_filter_markdown_parity(i):
    engine_doc, ref_doc = _doc(i)
    assert export_to_markdown(engine_doc, pages={2}) == \
        reference_markdown(ref_doc, page_no=2)


def test_html_parity_all():
    from docling_core_spark.serializers.html import export_to_html

    for i in range(N_DOCS):
        engine_doc, ref_doc = _doc(i)
        assert export_to_html(engine_doc) == reference_html(ref_doc), i


@pytest.mark.parametrize("i", range(0, N_DOCS, 5))
def test_sliced_html_parity(i):
    from docling_core_spark.serializers.html import export_to_html

    engine_doc, ref_doc = _doc(i)
    assert export_to_html(engine_doc, start_idx=3, stop_idx=17) == \
        reference_html(ref_doc, from_element=3, to_element=17)


@pytest.mark.parametrize("i", range(0, N_DOCS, 5))
def test_page_filter_html_parity(i):
    from docling_core_spark.serializers.html import export_to_html

    engine_doc, ref_doc = _doc(i)
    assert export_to_html(engine_doc, pages={2}) == \
        reference_html(ref_doc, page_no=2)


def test_corpus_exercises_formatting():
    """Guard: the parity corpus actually contains formatted/hyperlinked
    spans, so the E8 parity above is not vacuous."""
    n_fmt = n_href = 0
    for i in range(N_DOCS):
        for s in gen_doc_spans(i, seed=42):
            if "+fmt=" in s["kind"]:
                n_fmt += 1
            if (s["media_ref"] or "").startswith("https://"):
                n_href += 1
    assert n_fmt > 50, n_fmt
    assert n_href > 20, n_href


def test_formatting_renders():
    from docling_core_spark.serializers.html import export_to_html

    found_md = found_html = False
    for i in range(N_DOCS):
        engine_doc, ref_doc = _doc(i)
        md = export_to_markdown(engine_doc)
        if "**" in md or "](https://" in md:
            found_md = True
        if "<strong>" in export_to_html(engine_doc) or found_html:
            found_html = True
        if found_md and found_html:
            break
    assert found_md and found_html


def test_split_page_html_parity():
    """E3 split-page output style (html.py:925-1016): per-page rows with
    the no-image fallback figure, split CSS head - byte equality on the
    whole corpus sample."""
    from docling_core_spark.corpus import gen_doc_spans
    from docling_core_spark.model.spans import doc_from_spans
    from docling_core_spark.serializers.html import export_to_html

    for i in range(0, 60, 5):
        spans = gen_doc_spans(i, seed=42)
        tup = [(s["kind"], s["text"], s["media_ref"], s["offset"])
               for s in spans]
        eng = doc_from_spans(f"doc_{i}", tup)
        ref, _ = build_doc(f"doc_{i}", spans)
        assert export_to_html(eng, split_page_view=True) \
            == ref.export_to_html(split_page_view=True), f"doc {i}"
