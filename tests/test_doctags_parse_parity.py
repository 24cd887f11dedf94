"""DocTags PARSE parity: doctags stream -> document -> chunks/markdown
must match between this engine's parser (sources/doctags.py) and the
reference's load_from_doctags, when fed the same stream.

Charts are excluded from the round-trip corpus: the reference crashes
on <chart> with tabular data and no page image (UnboundLocalError on
pic_title, document.py:5155-5160) - this engine parses them instead
(covered by test_chart_parse_reference_crash).
"""

from __future__ import annotations

import pytest

from docling_core_spark.chunking.hierarchical import hierarchical_chunk
from docling_core_spark.corpus import gen_doc_spans
from docling_core_spark.model.spans import doc_from_spans
from docling_core_spark.serializers.doctags import export_to_doctags
from docling_core_spark.serializers.markdown import export_to_markdown
from docling_core_spark.sources.doctags import doctags_to_spans
from tests.refstubs import reference

N_DOCS = 50


def _doctags_for(i: int) -> str:
    spans = [s for s in gen_doc_spans(i, seed=42)
             if not s["kind"].startswith("chart")
             and not s["kind"].startswith("caption:cht_")]
    doc = doc_from_spans(f"doc_{i}", [
        (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans])
    return export_to_doctags(doc)


def _ref_chunks(doctags: str):
    reference()  # also applies the oracle's add_page pydantic fix
    from docling_core.transforms.chunker.hierarchical_chunker import (
        HierarchicalChunker,
    )
    from docling_core.types.doc.document import (
        DoclingDocument,
        DocTagsDocument,
    )

    dtd = DocTagsDocument.from_multipage_doctags_and_images(doctags, None)
    doc = DoclingDocument.load_from_doctags(dtd)
    return [(c.text, list(c.meta.headings) if c.meta.headings else None)
            for c in HierarchicalChunker().chunk(doc)], doc


def _engine_doc(doctags: str):
    spans = doctags_to_spans(doctags)
    return doc_from_spans("d", [(s["kind"], s["text"], s["media_ref"],
                                 s["offset"]) for s in spans])


@pytest.mark.parametrize("i", range(N_DOCS))
def test_parse_chunk_parity(i):
    doctags = _doctags_for(i)
    expected, ref_doc = _ref_chunks(doctags)
    doc = _engine_doc(doctags)
    actual = [(c.text, c.headings) for c in hierarchical_chunk(doc)]
    assert actual == expected


@pytest.mark.parametrize("i", range(0, N_DOCS, 3))
def test_parse_markdown_parity(i):
    doctags = _doctags_for(i)
    _, ref_doc = _ref_chunks(doctags)
    doc = _engine_doc(doctags)
    assert export_to_markdown(doc) == ref_doc.export_to_markdown()


def test_chart_parse_reference_crash():
    """Document the deviation: reference crashes, this engine parses."""
    reference()
    from docling_core.types.doc.document import (
        DoclingDocument,
        DocTagsDocument,
    )

    dt = ("<doctag><chart><loc_10><loc_10><loc_100><loc_100><bar_chart>"
          "<fcel>a<fcel>b<nl><fcel>1<fcel>2<nl></chart></doctag>")
    dtd = DocTagsDocument.from_multipage_doctags_and_images(dt, None)
    with pytest.raises(Exception):
        DoclingDocument.load_from_doctags(dtd)
    spans = doctags_to_spans(dt)
    assert any(s["kind"].startswith("chart:bar_chart") for s in spans)
    doc = doc_from_spans("d", [(s["kind"], s["text"], s["media_ref"],
                                s["offset"]) for s in spans])
    md = export_to_markdown(doc)
    assert "|   a |   b |" in md  # chart table rendered (header+MIN_PADDING width)
