"""The reference's OWN shipped golden fixtures, driven through this
engine: real documents (the DocLayNet paper, activities, charts,
inline+formatting) imported via the span codec must reproduce the
committed .gt outputs byte-for-byte under the reference's comparator
(file content rstripped - test_docling_doc.py:685-695).

DocTags goldens compare with <loc_N> tokens stripped where noted: the
span schema carries no geometry (synthetic provenance), so quantized
locations are the one surface that cannot round-trip through spans.
Tokenizer-dependent hybrid goldens (2a/2b/2g, MiniLM) are not
reproducible here - the HF tokenizer is absent from this environment
(chunk semantics are covered by tests/test_chunk_parity.py with the
regex tokenizer instead).
"""

from __future__ import annotations

import json
import re

import pytest

from docling_core_spark.chunking.hierarchical import hierarchical_chunk
from docling_core_spark.model.spans import doc_from_spans
from docling_core_spark.serializers.debug import export_to_element_tree
from docling_core_spark.serializers.doctags import export_to_doctags
from docling_core_spark.serializers.html import export_to_html
from docling_core_spark.serializers.markdown import (
    DEFAULT_LABELS,
    export_to_markdown,
)
from docling_core_spark.sources.docjson import (
    docjson_to_spans,
    docyaml_to_spans,
)
from tests.refstubs import REFERENCE_DATA, reference, reference_data

BASE = REFERENCE_DATA
_LOC = re.compile(r"<loc_\d+>")


def _doc_from(path: str, name: str):
    if path.endswith(".yaml"):
        spans = docyaml_to_spans(open(reference_data(path)).read())
    else:
        spans = docjson_to_spans(json.load(open(reference_data(path))))
    return doc_from_spans(name, [(s["kind"], s["text"], s["media_ref"],
                                  s["offset"]) for s in spans])


def _golden(path: str) -> str:
    return open(reference_data(path), encoding="utf-8").read().rstrip()


def test_hierarchical_chunker_golden():
    """0_inp_dl_doc.json -> 0_out_chunks.json
    (test_hierarchical_chunker.py:32-46): 127 chunks, text + heading
    paths identical."""
    doc = _doc_from("chunker/0_inp_dl_doc.json", "0")
    got = [(c.text, c.headings) for c in hierarchical_chunk(doc)]
    exp = [(c["text"], c["meta"].get("headings"))
           for c in json.load(open(f"{BASE}/chunker/0_out_chunks.json"))["root"]]
    assert got == exp
    assert len(got) == 127


def test_2206_01062_export_goldens():
    """The DocLayNet paper (2206.01062.yaml + 6 export goldens,
    test_docling_doc.py:698-743)."""
    doc = _doc_from("doc/2206.01062.yaml", "2206.01062v1")
    assert export_to_markdown(doc) == _golden("doc/2206.01062.yaml.md")
    assert export_to_markdown(doc, page_break_placeholder="<!-- page break -->") \
        == _golden("doc/2206.01062.yaml.paged.md")
    assert export_to_html(doc) == _golden("doc/2206.01062.yaml.html")
    assert _LOC.sub("", export_to_doctags(doc)) \
        == _LOC.sub("", _golden("doc/2206.01062.yaml.dt"))
    assert _LOC.sub("", export_to_doctags(doc, minified=True)) \
        == _LOC.sub("", _golden("doc/2206.01062.yaml.min.dt"))


def test_activities_goldens():
    """Cross-page-list fixtures (test_serialization.py:88-175): page
    break placeholders, page filters, picture-label exclusion."""
    doc = _doc_from("doc/activities.json", "activities")
    nopic = frozenset(DEFAULT_LABELS) - {"picture"}
    assert export_to_markdown(
        doc, labels=nopic, page_break_placeholder="<!-- page break -->") \
        == _golden("doc/activities.gt.md")
    assert export_to_markdown(doc, labels=nopic) \
        == _golden("doc/activities_pb_none.gt.md")
    assert export_to_markdown(doc, labels=nopic, page_break_placeholder="") \
        == _golden("doc/activities_pb_empty.gt.md")
    assert export_to_markdown(
        doc, labels=nopic, page_break_placeholder="<!-- page-break -->") \
        == _golden("doc/activities_pb_non_empty.gt.md")
    assert export_to_markdown(doc, pages={2}) \
        == _golden("doc/activities_p2.gt.md")
    assert export_to_html(doc) == _golden("doc/activities.gt.html")
    assert export_to_html(doc, pages={1}) \
        == _golden("doc/activities_p1.gt.html")
    assert export_to_html(doc, pages={2}) \
        == _golden("doc/activities_p2.gt.html")


def test_barchart_golden():
    """Chart picture with tabular data (test_md_charts)."""
    doc = _doc_from("doc/barchart.json", "barchart")
    assert export_to_markdown(doc) == _golden("doc/barchart.gt.md")


def test_inline_and_formatting_golden():
    """Nested inline groups in headings/list items + formatted code
    (test_md_inline_and_formatting)."""
    doc = _doc_from("doc/inline_and_formatting.yaml", "inline")
    assert export_to_markdown(doc) == _golden("doc/inline_and_formatting.md")


def test_2206_element_tree_full_coverage():
    """.et golden coverage is complete - including picture-children text
    items (traverse_pictures content). Labels/texts must match the
    golden exactly, modulo the running index and group names (which the
    span schema does not carry)."""
    doc = _doc_from("doc/2206.01062.yaml", "2206.01062v1")
    got_lines = export_to_element_tree(doc).splitlines()
    exp_lines = _golden("doc/2206.01062.yaml.et").splitlines()
    strip = re.compile(r"^\s*\d+: ")
    name = re.compile(r" with name=.*$")  # group names not span-carried
    got_set = {name.sub("", strip.sub("", ln)) for ln in got_lines}
    exp_set = {name.sub("", strip.sub("", ln)) for ln in exp_lines}
    assert got_set == exp_set


def test_enriched_doctags_parse_matches_reference_parser():
    """Real doctags INPUT fixture (2408.09869v3_enriched.dt): our
    stream parser (S5) and the reference's load_from_doctags must
    produce identical markdown."""
    from docling_core_spark.sources.doctags import doctags_to_spans

    dt = open(reference_data("doc/2408.09869v3_enriched.dt")).read()
    spans = doctags_to_spans(dt)
    assert len(spans) == 210
    eng = doc_from_spans("d", [(s["kind"], s["text"], s["media_ref"],
                                s["offset"]) for s in spans])
    reference()  # also applies the oracle's add_page patch
    from docling_core.types.doc.document import (
        DocTagsDocument,
        DoclingDocument,
    )

    dtd = DocTagsDocument.from_multipage_doctags_and_images(dt, None)
    ref = DoclingDocument.load_from_doctags(dtd)
    assert export_to_markdown(eng) == ref.export_to_markdown()


@pytest.mark.parametrize("name", ["page_with_pic.dt", "doc_with_kv.dt",
                                  "2206.01062.yaml.dt"])
def test_doctags_load_fixtures_match_reference_parser(name):
    """test_doctags_load fixtures: stream-parse each real doctags file
    and match the reference parser's markdown AND html (doc name
    'Document' = load_from_doctags default)."""
    from docling_core_spark.sources.doctags import doctags_to_spans

    dt = open(reference_data(f"doc/{name}")).read()
    spans = doctags_to_spans(dt)
    eng = doc_from_spans("Document", [(s["kind"], s["text"], s["media_ref"],
                                       s["offset"]) for s in spans])
    reference()
    from docling_core.types.doc.document import (
        DocTagsDocument,
        DoclingDocument,
    )

    dtd = DocTagsDocument.from_multipage_doctags_and_images(dt, None)
    ref = DoclingDocument.load_from_doctags(dtd)
    assert export_to_markdown(eng) == ref.export_to_markdown()
    assert export_to_html(eng) == ref.export_to_html()


def test_constructed_doc_goldens():
    """The reference's Python-API-constructed doc (_construct_doc,
    test_docling_doc.py:763-1102) via its embedded JSON golden:
    placeholder markdown byte-equal; placeholder HTML equal modulo
    formula rendering (the golden embeds latex2mathml output, which is
    not in this environment - the engine emits the reference's own
    <pre> fallback, html.py:298-310)."""
    doc = _doc_from("doc/constructed_doc.embedded.json.gt",
                    "Untitled 1")
    assert export_to_markdown(doc) \
        == _golden("doc/constructed_doc.placeholder.md.gt")
    formula = re.compile(
        r"(<div>)?(<math .*?</math>|<pre>.*?</pre>)(</div>)?", re.DOTALL)
    got = formula.sub("@", export_to_html(doc))
    want = formula.sub("@",
                       _golden("doc/constructed_doc.placeholder.html.gt"))
    assert got == want


def test_page_chunker_golden():
    """cross_page_lists.json -> cross_page_lists_chunks.json
    (test_page_chunker.py): page-1's footers are stored in body order
    AFTER page-2 content - exercises exact (non-monotone) page
    assignment through the span codec."""
    from docling_core_spark.chunking.page import page_chunk

    doc = _doc_from("doc/cross_page_lists.json", "x")
    got = [c.text for c in page_chunk(doc)]
    want = [c["text"] for c in json.load(
        open(f"{BASE}/doc/cross_page_lists_chunks.json"))["root"]]
    assert got == want


# every parseable document fixture in the reference's test data: import
# through the span codec and compare md against the reference loading
# the SAME file directly - any diff is codec loss
_KNOWN_GAPS: set = set()  # every fixture currently imports byte-equal


def _fixture_docs():
    import glob
    import os
    out = []
    for pat in ("*.json", "*.yaml", "*.json.gt", "*.yaml.gt"):
        out += glob.glob(f"{BASE}/doc/{pat}")
    return sorted(os.path.basename(f) for f in out)


@pytest.mark.parametrize("name", _fixture_docs())
def test_import_fidelity_sweep(name):
    import yaml as _yaml

    reference()
    from docling_core.types.doc.document import DoclingDocument

    raw = open(f"{BASE}/doc/{name}", encoding="utf-8").read()
    try:
        d = _yaml.safe_load(raw) if ".yaml" in name else json.loads(raw)
        if not isinstance(d, dict) or "body" not in d:
            pytest.skip("not a document fixture")
        ref = DoclingDocument.model_validate(d)
    except Exception:
        pytest.skip("reference itself cannot load this fixture")
    spans = docjson_to_spans(d)
    eng = doc_from_spans(d.get("name", "x"),
                         [(s["kind"], s["text"], s["media_ref"],
                           s["offset"]) for s in spans])
    equal = export_to_markdown(eng) == ref.export_to_markdown()
    if name in _KNOWN_GAPS:
        assert not equal, "known gap closed - remove from _KNOWN_GAPS"
    else:
        assert equal
