"""redact_spans (M5 delete_items) parity vs the live reference.

The reference's delete_items (document.py:2046-2401) removes the
targeted items plus their tree children, rewrites every RefItem with
per-pool index deltas, and leaves body-parented captions of deleted
floating items in place. The engine re-expresses all of that as one
columnar span fold (docops.redact_spans); parity is judged by the
serialized output (markdown byte equality) of engine-redacted spans
vs the reference document after delete_items - the same manipulation
semantics the reference pins in test_docling_doc.py:1570-1943."""

from __future__ import annotations

import warnings

import pytest

from docling_core_spark.corpus import gen_doc_spans
from docling_core_spark.docops import redact_spans
from docling_core_spark.engine import DOCUMENTS_SCHEMA
from docling_core_spark.model.spans import doc_from_spans
from docling_core_spark.serializers.markdown import export_to_markdown
from tests.refstubs import oracle_fn, reference

build_doc = oracle_fn("build_doc")
reference_markdown = oracle_fn("reference_markdown")

warnings.filterwarnings("ignore")

N = 24


def _labels_for(kinds):
    reference()
    from docling_core.types.doc.labels import DocItemLabel

    m = {"code": DocItemLabel.CODE, "formula": DocItemLabel.FORMULA,
         "picture": DocItemLabel.PICTURE, "chart": DocItemLabel.PICTURE,
         "table": DocItemLabel.TABLE,
         "text": DocItemLabel.TEXT, "title": DocItemLabel.TITLE}
    return {m[k] for k in kinds}


def _reference_redacted_md(spans, kinds):
    doc, _ = build_doc("d", spans)
    labels = _labels_for(kinds)
    targets = [it for it, _ in doc.iterate_items(with_groups=True)
               if getattr(it, "label", None) in labels]
    if targets:
        doc.delete_items(node_items=targets)
    return reference_markdown(doc)


def _engine_redacted_md(spark, spans, kinds, **kw):
    df = spark.createDataFrame(
        [("d", [(s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in spans])], DOCUMENTS_SCHEMA)
    out = redact_spans(df, kinds, **kw).collect()[0]
    tuples = [(s["kind"], s["text"], s["media_ref"], s["offset"])
              for s in out["spans"]]
    # dense re-offsets are part of the contract
    assert [t[3] for t in tuples] == list(range(len(tuples)))
    return export_to_markdown(doc_from_spans("d", tuples))


# reference label 'picture' covers chart spans too (PictureItem with
# classification annotations), so the engine kind set pairs them
@pytest.mark.parametrize("kinds", [("code",), ("formula",),
                                   ("picture", "chart"), ("table",),
                                   ("code", "formula", "picture",
                                    "chart")])
def test_redact_leaf_kinds_matches_reference(spark, kinds):
    for seed_doc in range(N):
        spans = gen_doc_spans(seed_doc, seed=42)
        got = _engine_redacted_md(spark, spans, kinds)
        exp = _reference_redacted_md(spans, kinds)
        assert got == exp, f"doc {seed_doc} kinds={kinds}"


def test_redact_group_kind_removes_bracketed_range(spark):
    """Deleting a group deletes its children too (reference:
    delete_items on a GroupItem cascades, document.py:2246-2263).

    Docs containing rich-cell-target groups (list_group:of_prev) are
    skipped: the REFERENCE's delete_items leaves the owning
    RichTableCell's ref dangling there, and its own serializer then
    rejects the document as 'hierarchy inconsistent' - a reference
    limitation, so no parity target exists. The engine handles the
    same delete consistently (the rich cell simply loses its
    sub-item)."""
    reference()
    from docling_core.types.doc.labels import GroupLabel

    checked = 0
    for seed_doc in range(N):
        spans = gen_doc_spans(seed_doc, seed=42)
        if any(s["kind"] == "list_group:of_prev" for s in spans):
            continue
        doc, _ = build_doc("d", spans)
        targets = [it for it, _ in doc.iterate_items(with_groups=True)
                   if getattr(it, "label", None) == GroupLabel.LIST]
        if targets:
            doc.delete_items(node_items=targets)
            checked += 1
        exp = reference_markdown(doc)
        got = _engine_redacted_md(spark, spans, ("list_group",))
        assert got == exp, f"doc {seed_doc}"
    assert checked >= 5  # the skip must not hollow the test out


def test_redact_orphan_caption_modes(spark):
    spans = [
        {"kind": "title", "text": "T", "media_ref": "", "offset": 0},
        {"kind": "picture", "text": "", "media_ref": "m1", "offset": 1},
        {"kind": "caption:m1", "text": "the cap", "media_ref": "",
         "offset": 2},
        {"kind": "text", "text": "keep", "media_ref": "", "offset": 3},
    ]
    # default: reference parity (caption survives, rendered standalone)
    assert _engine_redacted_md(spark, spans, ("picture",)) \
        == _reference_redacted_md(spans, ("picture",)) \
        == "# T\n\nthe cap\n\nkeep"
    # strict: caption dies with its media
    assert _engine_redacted_md(spark, spans, ("picture",),
                               drop_orphan_captions=True) \
        == "# T\n\nkeep"


def test_redact_missing_kind_is_noop(spark):
    spans = gen_doc_spans(3, seed=42)
    got = _engine_redacted_md(spark, spans, ("checkbox_selected",))
    exp = reference_markdown(build_doc("d", spans)[0])
    assert got == exp


def test_redact_leaf_with_of_prev_bracket_cascades(spark):
    """A redacted leaf that OWNS an of_prev child bracket (a list or
    inline group attached to it) takes the bracket down with it - the
    reference's delete_items child cascade. The generator corpus never
    attaches of_prev brackets to redactable kinds, so this shape is
    pinned synthetically."""
    spans = [
        {"kind": "title", "text": "T", "media_ref": "", "offset": 0},
        {"kind": "code:Python", "text": "x = 1", "media_ref": "",
         "offset": 1},
        {"kind": "list_group:of_prev", "text": "", "media_ref": "",
         "offset": 2},
        {"kind": "list_item", "text": "attached to code",
         "media_ref": "", "offset": 3},
        {"kind": "end_group", "text": "", "media_ref": "", "offset": 4},
        {"kind": "text", "text": "tail", "media_ref": "", "offset": 5},
    ]
    got = _engine_redacted_md(spark, spans, ("code",))
    exp = _reference_redacted_md(spans, ("code",))
    assert got == exp == "# T\n\ntail"


def _engine_redacted_spans(spark, spans, kinds, **kw):
    df = spark.createDataFrame(
        [("d", [(s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in spans])], DOCUMENTS_SCHEMA)
    out = redact_spans(df, kinds, **kw).collect()[0]
    return [(s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in out["spans"]]


@pytest.mark.parametrize("bracket", [
    "inline_group:of_prev", "list_group:of_prev",
    "list_group:of_prev:furniture", "inline_group:of_prev:furniture"])
def test_redact_leaf_with_any_of_prev_variant_cascades(spark, bracket):
    """The emitter produces f"{base}:of_prev{flag}" with base in
    {list_group, inline_group} and an optional ':furniture' flag
    (model/spans.py:386) - the delete cascade must cover ALL variants,
    not just the bare list_group shape (r3 latent gap)."""
    inner = ("list_item" if bracket.startswith("list_group")
             else "text")
    spans = [
        {"kind": "title", "text": "T", "media_ref": "", "offset": 0},
        {"kind": "code:Python", "text": "x = 1", "media_ref": "",
         "offset": 1},
        {"kind": bracket, "text": "", "media_ref": "", "offset": 2},
        {"kind": inner, "text": "attached to code",
         "media_ref": "", "offset": 3},
        {"kind": "end_group", "text": "", "media_ref": "", "offset": 4},
        {"kind": "text", "text": "tail", "media_ref": "", "offset": 5},
    ]
    got = _engine_redacted_md(spark, spans, ("code",))
    exp = _reference_redacted_md(spans, ("code",))
    assert got == exp
    # and the bracket is really gone from the span stream
    kept = _engine_redacted_spans(spark, spans, ("code",))
    assert [k for k, *_ in kept] == ["title", "text"]


def test_redact_cascade_carries_across_page_break(spark):
    """A page_break may legally sit between a leaf and its '+child'
    span (the emitter marks '+child' on the first NON-page-break span,
    model/spans.py:390-396). Deleting the leaf must still cascade to
    the child, while the page break itself survives (the reference's
    delete_items never deletes pages - content after the range keeps
    its page)."""
    spans = [
        {"kind": "text", "text": "before", "media_ref": "", "offset": 0},
        {"kind": "table", "text": "A|B&&1|<rich_0>", "media_ref": "",
         "offset": 1},
        {"kind": "page_break:2", "text": "", "media_ref": "",
         "offset": 2},
        {"kind": "text+child", "text": "rich cell body",
         "media_ref": "", "offset": 3},
        {"kind": "text", "text": "after", "media_ref": "", "offset": 4},
    ]
    got = _engine_redacted_md(spark, spans, ("table",))
    exp = _reference_redacted_md(spans, ("table",))
    assert got == exp == "before\n\nafter"
    kept = _engine_redacted_spans(spark, spans, ("table",))
    assert [k for k, *_ in kept] == ["text", "page_break:2", "text"]
    # reference keeps 'after' on page 2 - so must the rebuild
    doc2, _ = build_doc("d", [
        {"kind": k, "text": t, "media_ref": m, "offset": o}
        for k, t, m, o in kept])
    pages = [it.prov[0].page_no
             for it, _ in doc2.iterate_items(with_groups=False)
             if getattr(it, "prov", None)]
    assert pages == [1, 2]


def test_redact_page_break_survives_deleted_bracket_range(spark):
    """A page break INSIDE a deleted group range survives the range
    delete (pages are not items)."""
    spans = [
        {"kind": "text", "text": "before", "media_ref": "", "offset": 0},
        {"kind": "list_group", "text": "", "media_ref": "", "offset": 1},
        {"kind": "list_item", "text": "a", "media_ref": "", "offset": 2},
        {"kind": "page_break:2", "text": "", "media_ref": "",
         "offset": 3},
        {"kind": "list_item", "text": "b", "media_ref": "", "offset": 4},
        {"kind": "end_group", "text": "", "media_ref": "", "offset": 5},
        {"kind": "text", "text": "after", "media_ref": "", "offset": 6},
    ]
    reference()
    from docling_core.types.doc.labels import GroupLabel

    doc, _ = build_doc("d", spans)
    targets = [it for it, _ in doc.iterate_items(with_groups=True)
               if getattr(it, "label", None) == GroupLabel.LIST]
    doc.delete_items(node_items=targets)
    exp = reference_markdown(doc)
    got = _engine_redacted_md(spark, spans, ("list_group",))
    assert got == exp == "before\n\nafter"
    kept = _engine_redacted_spans(spark, spans, ("list_group",))
    assert [k for k, *_ in kept] == ["text", "page_break:2", "text"]
