"""Key-value graph cells (GraphData, document.py:1824-1876) carried in
the span grammar: parity vs the reference across doctags/html/docjson,
plus codec round trips. The kv text grammar is the reference's own
doctags cell format (parse_key_value_item, document.py:4827-4914)."""

from __future__ import annotations

from docling_core_spark.model.kv import (
    TO_CHILD,
    TO_VALUE,
    KvCell,
    KvLink,
    encode_kv,
    parse_kv,
)
from docling_core_spark.model.spans import doc_from_spans, spans_from_doc
from docling_core_spark.serializers.docjson import export_to_docjson
from docling_core_spark.serializers.doctags import export_to_doctags
from docling_core_spark.serializers.html import export_to_html
from docling_core_spark.sources.docjson import docjson_to_spans
from docling_core_spark.sources.doctags import doctags_to_spans
from tests.refstubs import oracle_fn, reference

build_doc = oracle_fn("build_doc")
reference_hierarchical_chunks = oracle_fn("reference_hierarchical_chunks")

KV_FLAT = ("<key_0>Name<link_1></key_0><value_1>Alice</value_1>"
           "<key_2>Age<link_3></key_2><value_3>42</value_3>")
KV_DANGLING = "<key_0>Name<link_99></key_0><value_1>Alice</value_1>"
KV_TREE = ("<key_0>Root<childlink_1><childlink_2></key_0>"
           "<key_1>Name<link_3></key_1><value_3>Alice</value_3>"
           "<key_2>City<link_4></key_2><value_4>Oslo</value_4>")
KV_EMPTY = ""


def _doc(kv_text):
    spans = [{"kind": "title", "text": "T", "media_ref": "", "offset": 0},
             {"kind": "key_value_region", "text": kv_text,
              "media_ref": "", "offset": 1},
             {"kind": "text", "text": "after", "media_ref": "", "offset": 2}]
    tup = [(s["kind"], s["text"], s["media_ref"], s["offset"])
           for s in spans]
    return doc_from_spans("d", tup), build_doc("d", spans)[0]


def test_codec_parse_semantics():
    cells, links = parse_kv(KV_DANGLING)
    assert [c.cell_id for c in cells] == [0, 1]
    assert links == []  # link to missing id dropped (document.py:4904)
    cells, links = parse_kv(KV_TREE)
    assert {l.label for l in links} == {TO_VALUE, TO_CHILD}
    assert parse_kv("garbage <key_x>") == ([], [])


def test_codec_fixed_point():
    for t in (KV_FLAT, KV_DANGLING, KV_TREE, KV_EMPTY,
              "<key_0>  spaced <loc_5> text <link_0></key_0>"):
        c1, l1 = parse_kv(t)
        enc = encode_kv(c1, l1)
        c2, l2 = parse_kv(enc)
        assert (c2, l2) == (c1, l1)
        assert encode_kv(c2, l2) == enc


def test_doctags_and_html_parity():
    for kv in (KV_FLAT, KV_DANGLING, KV_TREE, KV_EMPTY):
        eng, ref = _doc(kv)
        assert export_to_doctags(eng) == ref.export_to_doctags()
        assert export_to_html(eng) == ref.export_to_html()


def test_docjson_round_trip_and_reference_load():
    reference()
    from docling_core.types.doc.document import DoclingDocument

    eng, ref = _doc(KV_TREE)
    js = export_to_docjson(eng)
    loaded = DoclingDocument.model_validate(js)  # schema-valid
    g = loaded.key_value_items[0].graph
    assert len(g.cells) == 5 and len(g.links) == 4
    # import back: graph survives (to_child included, via childlink ext)
    spans2 = docjson_to_spans(js)
    kv2 = [s for s in spans2 if s["kind"] == "key_value_region"][0]["text"]
    assert parse_kv(kv2) == parse_kv(KV_TREE)


def test_doctags_parse_flattens_links_like_reference():
    """Round trip through doctags: the reference's parser labels every
    link to_value; ours must match."""
    eng, ref = _doc(KV_TREE)
    spans2 = doctags_to_spans(export_to_doctags(eng))
    kv2 = [s for s in spans2 if s["kind"] == "key_value_region"][0]["text"]
    cells, links = parse_kv(kv2)
    assert len(cells) == 5
    assert links and all(l.label == TO_VALUE for l in links)

    # and the reference parses OUR doctags into the same graph
    reference()
    from docling_core.types.doc.document import (
        DocTagsDocument,
        DoclingDocument,
    )
    dt_doc = DocTagsDocument.from_doctags_and_image_pairs(
        [export_to_doctags(eng)], [None])
    ref_loaded = DoclingDocument.load_from_doctags(dt_doc)
    g = ref_loaded.key_value_items[0].graph
    assert sorted((c.cell_id, c.label.value, c.text) for c in g.cells) \
        == sorted((c.cell_id, c.label, c.text) for c in cells)
    assert sorted((l.source_cell_id, l.target_cell_id) for l in g.links) \
        == sorted((l.source, l.target) for l in links)


def test_span_round_trip_preserves_kv_text():
    eng, _ = _doc(KV_FLAT)
    out = spans_from_doc(eng)
    kv = [s for s in out if s["kind"] == "key_value_region"][0]
    assert kv["text"] == KV_FLAT


# ----------------------------------------------------------------------
# FormItem (document.py:1920-1926): same GraphData, form-specific
# serializer behaviors
# ----------------------------------------------------------------------

def _form_doc(kv_text):
    spans = [{"kind": "title", "text": "T", "media_ref": "", "offset": 0},
             {"kind": "form", "text": kv_text, "media_ref": "",
              "offset": 1},
             {"kind": "text", "text": "after", "media_ref": "",
              "offset": 2}]
    tup = [(s["kind"], s["text"], s["media_ref"], s["offset"])
           for s in spans]
    return doc_from_spans("d", tup), build_doc("d", spans)[0]


def test_form_parity_all_formats():
    from docling_core_spark.serializers.markdown import (
        export_to_markdown,
        export_to_text,
    )

    for kv in (KV_FLAT, KV_TREE, KV_EMPTY):
        eng, ref = _form_doc(kv)
        assert export_to_markdown(eng) == ref.export_to_markdown()
        assert export_to_text(eng) == ref.export_to_text()
        assert export_to_html(eng) == ref.export_to_html()
        assert export_to_doctags(eng) == ref.export_to_doctags()


def test_form_docjson_round_trip():
    reference()
    from docling_core.types.doc.document import DoclingDocument

    eng, _ = _form_doc(KV_TREE)
    js = export_to_docjson(eng)
    loaded = DoclingDocument.model_validate(js)
    assert len(loaded.form_items) == 1
    assert len(loaded.form_items[0].graph.cells) == 5
    spans2 = docjson_to_spans(js)
    fm = [s for s in spans2 if s["kind"] == "form"]
    assert len(fm) == 1 and parse_kv(fm[0]["text"]) == parse_kv(KV_TREE)


def test_form_chunk_parity():
    from docling_core_spark.chunking.hierarchical import hierarchical_chunk

    eng, ref = _form_doc(KV_FLAT)
    got = [(c.text, c.headings) for c in hierarchical_chunk(eng)]
    ref_map = {}
    for ix, (it, _) in enumerate(ref.iterate_items(with_groups=True)):
        ref_map[it.self_ref] = ix
    exp = [(t, h) for t, h, _ in reference_hierarchical_chunks(ref, ref_map)]
    assert got == exp


def test_code_language_parity():
    """code:LANG carries CodeItem.code_language: doctags emits the
    <_LANG_> token and docjson the field, byte-equal to the reference;
    the doctags parser drops it exactly like the reference's."""
    spans = [{"kind": "code:Python", "text": "print(1)", "media_ref": "",
              "offset": 0},
             {"kind": "code", "text": "x=1", "media_ref": "", "offset": 1}]
    tup = [(s["kind"], s["text"], s["media_ref"], s["offset"])
           for s in spans]
    eng = doc_from_spans("d", tup)
    ref = build_doc("d", spans)[0]
    dt = export_to_doctags(eng)
    assert "<_Python_>" in dt and "<_unknown_>" in dt
    assert dt == ref.export_to_doctags()
    js = export_to_docjson(eng)
    assert js["texts"][0]["code_language"] == "Python"
    spans2 = docjson_to_spans(js)
    assert spans2[0]["kind"] == "code:Python"
    assert spans2[1]["kind"] == "code"
    # doctags round trip loses the language, like the reference parser
    spans3 = doctags_to_spans(dt)
    assert [s["kind"] for s in spans3] == ["code", "code"]


def test_picture_annotation_parity():
    """Plain-picture desc/smiles annotations (DescriptionAnnotation /
    PictureMoleculeData, document.py:120-139): md renders the text/SMI
    paragraphs before the placeholder, html puts annotation divs in the
    figcaption, doctags emits only the first <smiles> (descriptions
    dropped), docjson carries both - all byte-equal to the reference."""
    reference()
    from docling_core.types.doc.document import DoclingDocument

    from docling_core_spark.serializers.markdown import export_to_markdown

    spans = [{"kind": "title", "text": "T", "media_ref": "", "offset": 0},
             {"kind": "picture",
              "text": "<desc>a molecule image</desc><smiles>CCO</smiles>",
              "media_ref": "img_0", "offset": 1},
             {"kind": "caption:img_0", "text": "Figure 1: mol",
              "media_ref": "", "offset": 2},
             {"kind": "text", "text": "after", "media_ref": "",
              "offset": 3}]
    tup = [(s["kind"], s["text"], s["media_ref"], s["offset"])
           for s in spans]
    eng = doc_from_spans("d", tup)
    ref = build_doc("d", spans)[0]
    assert export_to_markdown(eng) == ref.export_to_markdown()
    assert export_to_html(eng) == ref.export_to_html()
    dt = export_to_doctags(eng)
    assert dt == ref.export_to_doctags()
    assert "<smiles>CCO</smiles>" in dt and "molecule image" not in dt

    js = export_to_docjson(eng)
    loaded = DoclingDocument.model_validate(js)
    kinds = [a.kind for a in loaded.pictures[0].annotations]
    assert kinds == ["description", "molecule_data"]
    spans2 = docjson_to_spans(js)
    pic = [s for s in spans2 if s["kind"] == "picture"][0]
    assert pic["text"] == "<desc>a molecule image</desc><smiles>CCO</smiles>"


def test_table_annotation_parity():
    """Table DescriptionAnnotation (<desc> after the OTSL stream): md
    renders it between captions and the table (standard mode only -
    triplet/chunking render none), html as a div in <caption>, doctags
    nothing, docjson carries it both ways."""
    reference()
    from docling_core.types.doc.document import DoclingDocument

    from docling_core_spark.chunking.hierarchical import hierarchical_chunk
    from docling_core_spark.serializers.markdown import export_to_markdown

    spans = [{"kind": "table",
              "text": ("<ched>h1<ched>h2<nl><fcel>x<fcel>y<nl>"
                       "<desc>a small table</desc>"),
              "media_ref": "tbl_0", "offset": 0},
             {"kind": "caption:tbl_0", "text": "Table 1", "media_ref": "",
              "offset": 1}]
    tup = [(s["kind"], s["text"], s["media_ref"], s["offset"])
           for s in spans]
    eng = doc_from_spans("d", tup)
    ref = build_doc("d", spans)[0]
    md = export_to_markdown(eng)
    assert "a small table" in md
    assert md == ref.export_to_markdown()
    assert export_to_html(eng) == ref.export_to_html()
    assert export_to_doctags(eng) == ref.export_to_doctags()

    js = export_to_docjson(eng)
    loaded = DoclingDocument.model_validate(js)
    assert [a.kind for a in loaded.tables[0].annotations] == ["description"]
    spans2 = docjson_to_spans(js)
    t2 = [s for s in spans2 if s["kind"] == "table"][0]["text"]
    assert t2.endswith("<desc>a small table</desc>")

    # chunking (triplet mode) must NOT include the annotation
    got = [(c.text, c.headings) for c in hierarchical_chunk(eng)]
    ref_map = {ix: ix for ix in range(10)}
    rm = {}
    for ix, (it, _) in enumerate(ref.iterate_items(with_groups=True)):
        rm[it.self_ref] = ix
    exp = [(t, h) for t, h, _ in reference_hierarchical_chunks(ref, rm)]
    assert got == exp
    assert all("a small table" not in t for t, _ in got)
