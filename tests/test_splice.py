"""M4 insert-after-sibling / M6 replace_item / M8 insert_document as
span splices, parity vs the LIVE reference manipulation API.

The anchor correspondence comes from build_doc's self_ref -> span
offset map, so every engine splice is checked against the reference
performing the same mutation on the same tree, judged by markdown
byte equality (the same manipulation semantics test_docling_doc.py
pins with .gt snapshots)."""

from __future__ import annotations

import warnings

import pytest

from docling_core_spark.corpus import gen_doc_spans
from docling_core_spark.docops import (
    graft_documents,
    insert_spans_after,
    py_splice_spans,
)
from docling_core_spark.engine import DOCUMENTS_SCHEMA
from docling_core_spark.model.spans import doc_from_spans
from docling_core_spark.serializers.markdown import export_to_markdown
from tests.refstubs import oracle_fn, reference

build_doc = oracle_fn("build_doc")
reference_markdown = oracle_fn("reference_markdown")

warnings.filterwarnings("ignore")

N = 16
NEW_TEXT = "SPLICED sentinel paragraph"


def _resolve(doc, ref: str):
    reference()
    from docling_core.types.doc.document import RefItem

    return RefItem(cref=ref).resolve(doc)


def _anchors(spans, ref_to_offset):
    """span offsets worth testing: first leaf text, a group opener,
    a table (rich-cell subtree), the last span."""
    by_offset = {v: k for k, v in ref_to_offset.items()}
    offs = sorted(by_offset)
    picks = []
    for want in ("text", "list_group", "table"):
        for s in spans:
            if s["kind"].split(":")[0].split("+")[0] == want \
                    and s["offset"] in by_offset:
                picks.append(s["offset"])
                break
    if offs:
        picks.append(offs[-1])
    return sorted(set(picks)), by_offset


def _engine_md(spans, tuples):
    return export_to_markdown(doc_from_spans("d", tuples))


def test_insert_after_matches_reference(spark):
    checked = 0
    for seed_doc in range(N):
        spans = gen_doc_spans(seed_doc, seed=42)
        doc, r2o = build_doc("d", spans)
        anchors, by_offset = _anchors(spans, r2o)
        for a in anchors:
            doc_m, _ = build_doc("d", spans)
            sib = _resolve(doc_m, by_offset[a])
            doc_m.insert_text(sibling=sib, label="text",
                              text=NEW_TEXT, after=True)
            exp = reference_markdown(doc_m)
            tuples = py_splice_spans(
                [(s["kind"], s["text"], s["media_ref"], s["offset"])
                 for s in spans], a, [("text", NEW_TEXT, "", 0)])
            assert _engine_md(spans, tuples) == exp, (seed_doc, a)
            checked += 1
    assert checked >= 3 * N


def test_replace_matches_reference(spark):
    reference()
    from docling_core.types.doc.document import TextItem

    checked = 0
    for seed_doc in range(N):
        spans = gen_doc_spans(seed_doc, seed=42)
        doc, r2o = build_doc("d", spans)
        anchors, by_offset = _anchors(spans, r2o)
        for a in anchors:
            doc_m, _ = build_doc("d", spans)
            old = _resolve(doc_m, by_offset[a])
            new = TextItem(self_ref="#", label="text", text=NEW_TEXT,
                           orig=NEW_TEXT)
            doc_m.replace_item(new_item=new, old_item=old)
            exp = reference_markdown(doc_m)
            tuples = py_splice_spans(
                [(s["kind"], s["text"], s["media_ref"], s["offset"])
                 for s in spans], a, [("text", NEW_TEXT, "", 0)],
                replace=True)
            assert _engine_md(spans, tuples) == exp, (seed_doc, a)
            checked += 1
    assert checked >= 3 * N


def test_graft_matches_reference_insert_document(spark):
    """M8: splice doc B's body after an anchor subtree in doc A."""
    checked = 0
    for seed_doc in range(0, N, 2):
        spans_a = gen_doc_spans(seed_doc, seed=42)
        # B: a small single-page doc (page renumbering rides M9)
        spans_b = [
            {"kind": "section_header:2", "text": f"Graft {seed_doc}",
             "media_ref": "", "offset": 0},
            {"kind": "text", "text": "grafted body one",
             "media_ref": "", "offset": 1},
            {"kind": "list_group", "text": "", "media_ref": "",
             "offset": 2},
            {"kind": "list_item", "text": "grafted item",
             "media_ref": "", "offset": 3},
            {"kind": "end_group", "text": "", "media_ref": "",
             "offset": 4},
        ]
        doc_a, r2o = build_doc("d", spans_a)
        anchors, by_offset = _anchors(spans_a, r2o)
        for a in anchors[:2]:
            doc_m, _ = build_doc("d", spans_a)
            doc_b, _ = build_doc("b", spans_b)
            sib = _resolve(doc_m, by_offset[a])
            doc_m.insert_document(doc_b, sibling=sib, after=True)
            exp = reference_markdown(doc_m)
            tuples = py_splice_spans(
                [(s["kind"], s["text"], s["media_ref"], s["offset"])
                 for s in spans_a], a,
                [(s["kind"], s["text"], s["media_ref"], s["offset"])
                 for s in spans_b])
            assert _engine_md(spans_a, tuples) == exp, (seed_doc, a)
            checked += 1
    assert checked >= N // 2


def test_graft_full_corpus_doc_matches_reference(spark):
    """M8 with a full generator doc as B (tables, lists, pages) - the
    shape the driver query grafts.

    B is stripped of caption/footnote and rich-cell (``+child``) spans
    first: the reference's insert_document leaves cross-document refs
    DANGLING (_append_item_copies, document.py:4006-4040, deep-copies
    ``children`` but neither the ``captions``/``footnotes``/
    ``references`` RefItem lists nor ``RichTableCell.ref``, so a
    copied picture's caption ref keeps its B-pool index and resolves
    to whatever item sits at that index in the target, and a grafted
    rich-cell table fails validate_tree outright - document.py:
    4052-4057 - making the result unserializable). The engine's
    media_ref linkage is content-addressed and rich cells ride their
    table span, so attachments stay correct through a graft by
    construction - a deliberate divergence from the reference bug,
    pinned here by testing parity on the attachment-free shape."""
    from docling_core_spark.docops import (
        _base_kind_py,
        _subtree_end,
        graft_body,
    )

    def attachment_free(spans):
        """Drop whole table subtrees (their rich cells ref groups) and
        caption/footnote spans - every kind whose reference copy would
        carry a cross-pool RefItem."""
        spans = sorted(spans, key=lambda s: s["offset"])
        kinds = [s["kind"] for s in spans]
        out, i = [], 0
        while i < len(spans):
            if _base_kind_py(kinds[i]) == "table":
                i = _subtree_end(kinds, i)
                continue
            if kinds[i].startswith(("caption", "footnote")):
                i += 1
                continue
            out.append(spans[i])
            i += 1
        return out

    checked = 0
    for seed_doc in range(0, N, 3):
        spans_a = gen_doc_spans(seed_doc, seed=42)
        spans_b = attachment_free(gen_doc_spans(seed_doc + 1, seed=42))
        doc_a, r2o = build_doc("d", spans_a)
        anchors, by_offset = _anchors(spans_a, r2o)
        if not anchors:
            continue
        a = anchors[0]
        doc_m, _ = build_doc("d", spans_a)
        doc_b, _ = build_doc("b", spans_b)
        sib = _resolve(doc_m, by_offset[a])
        doc_m.insert_document(doc_b, sibling=sib, after=True)
        exp = reference_markdown(doc_m)
        tuples = py_splice_spans(
            [(s["kind"], s["text"], s["media_ref"], s["offset"])
             for s in spans_a], a,
            graft_body([(s["kind"], s["text"], s["media_ref"],
                         s["offset"]) for s in spans_b]))
        assert _engine_md(spans_a, tuples) == exp, seed_doc
        checked += 1
    assert checked >= N // 3


def test_kind_anchor_matches_offset_anchor(spark):
    """Base-kind priority anchors resolve to the first standalone item
    of that kind - same result as the explicit offset."""
    from docling_core_spark.docops import _anchor_index

    hits = 0
    for seed_doc in range(N):
        spans = gen_doc_spans(seed_doc, seed=42)
        tuples = sorted(
            [(s["kind"], s["text"], s["media_ref"], s["offset"])
             for s in spans], key=lambda s: s[3])
        for pri in (("table", "code"), ("text", "paragraph", "title")):
            idx = _anchor_index(tuples, pri)
            if idx is None:
                continue
            hits += 1
            off = tuples[idx][3]
            got = py_splice_spans(tuples, pri,
                                  [("text", NEW_TEXT, "", 0)])
            want = py_splice_spans(tuples, off,
                                   [("text", NEW_TEXT, "", 0)])
            assert got == want
            k = tuples[idx][0]
            assert not k.endswith("+child") and k != "end_group"
    assert hits >= N  # most docs resolve both priorities


def test_kind_anchor_missing_passes_doc_through():
    spans = [("origin:1", "", "", 0), ("formula", "e=mc2", "", 1)]
    out = py_splice_spans(spans, ("table", "code"),
                          [("text", NEW_TEXT, "", 0)])
    assert out == [("origin:1", "", "", 0), ("formula", "e=mc2", "", 1)]


def test_spark_wrappers_roundtrip(spark):
    """The Spark ops produce the same rows as the pure splice and
    keep offsets dense."""
    spans = gen_doc_spans(5, seed=42)
    rows = [("d", [(s["kind"], s["text"], s["media_ref"], s["offset"])
                   for s in spans])]
    df = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    out = insert_spans_after(df, 0, [("text", NEW_TEXT, "", 0)]) \
        .collect()[0]
    got = [(s["kind"], s["text"], s["media_ref"], s["offset"])
           for s in out["spans"]]
    want = py_splice_spans(rows[0][1], 0, [("text", NEW_TEXT, "", 0)])
    assert got == want
    assert [t[3] for t in got] == list(range(len(got)))

    b = spark.createDataFrame(
        [("d", [("text", "grafted", "", 0)])], DOCUMENTS_SCHEMA)
    g = graft_documents(df, b, 0).collect()[0]
    gt = [(s["kind"], s["text"], s["media_ref"], s["offset"])
          for s in g["spans"]]
    assert ("text", "grafted", "", 1) == gt[1]


def test_delete_range_matches_reference(spark):
    """M7 deletion half: delete_items_range parity across body-level
    sibling ranges and all four inclusivity combinations."""
    from docling_core_spark.docops import py_delete_spans_range

    checked = 0
    for seed_doc in range(N):
        spans = gen_doc_spans(seed_doc, seed=42)
        doc, r2o = build_doc("d", spans)
        # body-level anchors only (the reference requires a shared
        # parent), in document order
        body_offs = []
        for ref, off in sorted(r2o.items(), key=lambda kv: kv[1]):
            item = _resolve(doc, ref)
            par = item.parent.cref if item.parent else "#/body"
            if par == "#/body":
                body_offs.append(off)
        if len(body_offs) < 4:
            continue
        a, b = body_offs[1], body_offs[3]
        by_offset = {v: k for k, v in r2o.items()}
        for si, ei in ((True, True), (False, True),
                       (True, False), (False, False)):
            doc_m, _ = build_doc("d", spans)
            doc_m.delete_items_range(
                start=_resolve(doc_m, by_offset[a]),
                end=_resolve(doc_m, by_offset[b]),
                start_inclusive=si, end_inclusive=ei)
            exp = reference_markdown(doc_m)
            tuples = py_delete_spans_range(
                [(s["kind"], s["text"], s["media_ref"], s["offset"])
                 for s in spans], a, b,
                start_inclusive=si, end_inclusive=ei)
            assert _engine_md(spans, tuples) == exp, (seed_doc, si, ei)
            checked += 1
    assert checked >= 2 * N


def test_delete_range_spark_wrapper(spark):
    from docling_core_spark.docops import (
        delete_spans_range,
        py_delete_spans_range,
    )

    spans = gen_doc_spans(7, seed=42)
    tuples = [(s["kind"], s["text"], s["media_ref"], s["offset"])
              for s in spans]
    rows = [("d", tuples)]
    df = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    a, b = tuples[2][3], tuples[5][3]
    got = delete_spans_range(df, a, b).collect()[0]
    got_t = [(s["kind"], s["text"], s["media_ref"], s["offset"])
             for s in got["spans"]]
    assert got_t == py_delete_spans_range(tuples, a, b)
    assert [t[3] for t in got_t] == list(range(len(got_t)))


def test_insert_after_every_anchor_exhaustive(spark):
    """Exhaustive sweep: insert after EVERY resolvable item of the
    first few corpus docs - pins subtree-end behaviour for anchor
    shapes the targeted tests don't pick (captions, formulas, nested
    list items, checkboxes, key-value regions, charts...). Since
    round 4 this includes attached-child anchors (rich cells,
    of_prev brackets): the splice runs in the owning leaf's child
    list with the new span +child-marked; NO anchor shape is skipped
    anymore."""
    checked = 0
    for seed_doc in range(4):
        spans = gen_doc_spans(seed_doc, seed=42)
        doc, r2o = build_doc("d", spans)
        for ref, a in sorted(r2o.items(), key=lambda kv: kv[1]):
            doc_m, _ = build_doc("d", spans)
            sib = _resolve(doc_m, ref)
            tuples = py_splice_spans(
                [(s["kind"], s["text"], s["media_ref"], s["offset"])
                 for s in spans], a, [("text", NEW_TEXT, "", 0)])
            try:
                doc_m.insert_text(sibling=sib, label="text",
                                  text=NEW_TEXT, after=True)
            except Exception:
                continue  # reference rejects this sibling shape
            exp = reference_markdown(doc_m)
            assert _engine_md(spans, tuples) == exp, (seed_doc, ref, a)
            checked += 1
    assert checked >= 100


def test_replace_every_anchor_exhaustive(spark):
    """Same exhaustive sweep for M6 replace_item. For attached-child
    anchors the REFERENCE's own replace_item corrupts its tree
    (insert-then-delete leaves the hierarchy inconsistent -
    validate_tree fails inside export); the engine performs the
    substitution the reference intends, so those anchors assert
    engine well-formedness instead of byte parity (documented
    divergence, like the graft RefItem bug)."""
    reference()
    from docling_core.types.doc.document import TextItem

    checked = ref_broken = 0
    for seed_doc in range(4):
        spans = gen_doc_spans(seed_doc, seed=42)
        doc, r2o = build_doc("d", spans)
        for ref, a in sorted(r2o.items(), key=lambda kv: kv[1]):
            doc_m, _ = build_doc("d", spans)
            old = _resolve(doc_m, ref)
            tuples = py_splice_spans(
                [(s["kind"], s["text"], s["media_ref"], s["offset"])
                 for s in spans], a, [("text", NEW_TEXT, "", 0)],
                replace=True)
            new = TextItem(self_ref="#", label="text", text=NEW_TEXT,
                           orig=NEW_TEXT)
            try:
                doc_m.replace_item(new_item=new, old_item=old)
            except Exception:
                continue
            try:
                exp = reference_markdown(doc_m)
            except Exception:
                # reference bug: its own tree is now inconsistent;
                # the engine output must still be well-formed
                assert NEW_TEXT in _engine_md(spans, tuples)
                ref_broken += 1
                continue
            assert _engine_md(spans, tuples) == exp, (seed_doc, ref, a)
            checked += 1
    assert checked >= 100
    assert ref_broken <= checked // 20


_PB_SPANS = [
    {"kind": "text", "text": "before", "media_ref": "", "offset": 0},
    {"kind": "table", "text": "A|B&&1|<rich_0>", "media_ref": "",
     "offset": 1},
    {"kind": "page_break:2", "text": "", "media_ref": "", "offset": 2},
    {"kind": "text+child", "text": "rich cell body", "media_ref": "",
     "offset": 3},
    {"kind": "text", "text": "after", "media_ref": "", "offset": 4},
]


def _pb_tuples():
    return [(s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in _PB_SPANS]


def test_subtree_crosses_page_break_to_attached_child(spark):
    """The emitter marks '+child' on the first NON-page-break span
    (model/spans.py:390-396), so [table, page_break:2, text+child] is
    a legal subtree. Replace must take the child with the table while
    the page break survives; parity vs the live replace_item."""
    reference()
    from docling_core.types.doc.document import TextItem

    doc_m, r2o = build_doc("d", _PB_SPANS)
    by_offset = {v: k for k, v in r2o.items()}
    old = _resolve(doc_m, by_offset[1])
    new = TextItem(self_ref="#", label="text", text=NEW_TEXT,
                   orig=NEW_TEXT)
    doc_m.replace_item(new_item=new, old_item=old)
    exp = reference_markdown(doc_m)
    tuples = py_splice_spans(_pb_tuples(), 1,
                             [("text", NEW_TEXT, "", 0)], replace=True)
    assert _engine_md(_PB_SPANS, tuples) == exp
    assert [t[0] for t in tuples] == [
        "text", "page_break:2", "text", "text"]
    # 'after' stays on page 2 on rebuild, like the reference
    doc2, _ = build_doc("d", [
        {"kind": k, "text": t, "media_ref": m, "offset": o}
        for k, t, m, o in tuples])
    pages = [it.prov[0].page_no
             for it, _ in doc2.iterate_items(with_groups=False)
             if getattr(it, "prov", None)]
    assert pages[-1] == 2


def test_insert_after_subtree_crossing_page_break(spark):
    """Insert-after the same cross-page subtree: the new sibling lands
    after the attached child, parity vs the live insert_text."""
    doc_m, r2o = build_doc("d", _PB_SPANS)
    by_offset = {v: k for k, v in r2o.items()}
    sib = _resolve(doc_m, by_offset[1])
    doc_m.insert_text(sibling=sib, label="text", text=NEW_TEXT,
                      after=True)
    exp = reference_markdown(doc_m)
    tuples = py_splice_spans(_pb_tuples(), 1,
                             [("text", NEW_TEXT, "", 0)])
    assert _engine_md(_PB_SPANS, tuples) == exp
    assert [t[0] for t in tuples] == [
        "text", "table", "page_break:2", "text+child", "text", "text"]


def test_trailing_page_break_not_part_of_subtree(spark):
    """A page_break that precedes the NEXT sibling is that sibling's
    page transition, not part of the anchor subtree: inserting after
    the anchor must land BEFORE the page break (the new item has no
    provenance and belongs to the anchor's page, like the reference's
    insert_text output order)."""
    spans = [
        {"kind": "text", "text": "p1 text", "media_ref": "",
         "offset": 0},
        {"kind": "page_break:2", "text": "", "media_ref": "",
         "offset": 1},
        {"kind": "text", "text": "p2 text", "media_ref": "",
         "offset": 2},
    ]
    tuples = py_splice_spans(
        [(s["kind"], s["text"], s["media_ref"], s["offset"])
         for s in spans], 0, [("text", NEW_TEXT, "", 0)])
    assert [(t[0], t[1]) for t in tuples] == [
        ("text", "p1 text"), ("text", NEW_TEXT),
        ("page_break:2", ""), ("text", "p2 text")]
    # and parity vs the live reference
    doc_m, r2o = build_doc("d", spans)
    by_offset = {v: k for k, v in r2o.items()}
    sib = _resolve(doc_m, by_offset[0])
    doc_m.insert_text(sibling=sib, label="text", text=NEW_TEXT,
                      after=True)
    assert _engine_md(spans, tuples) == reference_markdown(doc_m)


def test_delete_range_keeps_page_breaks(spark):
    """delete_items_range across a page boundary: pages are not items,
    so the page break survives the cut (content after the range keeps
    its page), parity vs the live reference."""
    from docling_core_spark.docops import py_delete_spans_range

    spans = [
        {"kind": "text", "text": "keep head", "media_ref": "",
         "offset": 0},
        {"kind": "text", "text": "cut a", "media_ref": "", "offset": 1},
        {"kind": "page_break:2", "text": "", "media_ref": "",
         "offset": 2},
        {"kind": "text", "text": "cut b", "media_ref": "", "offset": 3},
        {"kind": "text", "text": "keep tail", "media_ref": "",
         "offset": 4},
    ]
    doc_m, r2o = build_doc("d", spans)
    by_offset = {v: k for k, v in r2o.items()}
    doc_m.delete_items_range(start=_resolve(doc_m, by_offset[1]),
                             end=_resolve(doc_m, by_offset[3]))
    exp = reference_markdown(doc_m)
    tuples = py_delete_spans_range(
        [(s["kind"], s["text"], s["media_ref"], s["offset"])
         for s in spans], 1, 3)
    assert _engine_md(spans, tuples) == exp
    assert [t[0] for t in tuples] == ["text", "page_break:2", "text"]
    doc2, _ = build_doc("d", [
        {"kind": k, "text": t, "media_ref": m, "offset": o}
        for k, t, m, o in tuples])
    pages = [it.prov[0].page_no
             for it, _ in doc2.iterate_items(with_groups=False)
             if getattr(it, "prov", None)]
    assert pages == [1, 2]


def test_sql_splice_equals_py_over_corpus(spark):
    """The SQL-fold splice (zero Python) must match py_splice_spans
    over the generator corpus for every driver-query shape: kind
    anchors, replace, graft, delete range."""
    from docling_core_spark.docops import (
        SPLICE_REPLACE_KINDS,
        SPLICE_SENTINEL_SPANS,
        SPLICE_GRAFT_KINDS,
        delete_spans_range,
        graft_body,
        py_delete_spans_range,
    )

    rows = []
    for i in range(24):
        spans = gen_doc_spans(i, seed=42)
        rows.append((f"d{i:03d}",
                     [(s["kind"], s["text"], s["media_ref"],
                       s["offset"]) for s in spans]))
    df = spark.createDataFrame(rows, DOCUMENTS_SCHEMA).cache()
    df.count()

    for replace in (False, True):
        got = {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"],
                              s["offset"]) for s in r["spans"]]
               for r in insert_spans_after(
                   df, SPLICE_REPLACE_KINDS, SPLICE_SENTINEL_SPANS,
                   replace=replace).collect()}
        for did, tup in rows:
            want = py_splice_spans(tup, SPLICE_REPLACE_KINDS,
                                   SPLICE_SENTINEL_SPANS,
                                   replace=replace)
            assert got[did] == want, (did, replace)

    graft_src = [("origin:99", "f", "application/pdf", 0),
                 ("text", "grafted body", "", 1)]
    b = spark.createDataFrame([(did, graft_src) for did, _ in rows],
                              DOCUMENTS_SCHEMA)
    got = {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"],
                          s["offset"]) for s in r["spans"]]
           for r in graft_documents(df, b, SPLICE_GRAFT_KINDS)
           .collect()}
    for did, tup in rows:
        want = py_splice_spans(tup, SPLICE_GRAFT_KINDS,
                               graft_body(graft_src))
        assert got[did] == want, did

    # delete range with kind anchors: restrict to docs where both
    # anchors resolve (the SQL op raises on missing anchors, same as
    # py_delete_spans_range)
    def _resolvable(tup):
        try:
            py_delete_spans_range(tup, ("text",), ("table", "code"),
                                  start_inclusive=True,
                                  end_inclusive=False)
            return True
        except ValueError:
            return False

    ok_rows = [(d, t) for d, t in rows if _resolvable(t)]
    assert len(ok_rows) >= 8
    dfr = spark.createDataFrame(ok_rows, DOCUMENTS_SCHEMA)
    got = {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"],
                          s["offset"]) for s in r["spans"]]
           for r in delete_spans_range(
               dfr, ("text",), ("table", "code"),
               start_inclusive=True, end_inclusive=False).collect()}
    for did, tup in ok_rows:
        want = py_delete_spans_range(tup, ("text",), ("table", "code"),
                                     start_inclusive=True,
                                     end_inclusive=False)
        assert got[did] == want, did
    df.unpersist()


def test_delete_range_skip_unresolvable_over_corpus(spark):
    """Corpus-pipeline mode (the delete_range driver query): docs
    whose anchors do not resolve - or where end precedes start - are
    DROPPED, everything else is cut identically to
    py_delete_spans_range. The mixed DataFrame must not abort (the
    r4 regression: a raise_error branch evaluated on rows the skip
    Filter later drops)."""
    from docling_core_spark.docops import (
        DELETE_RANGE_END,
        DELETE_RANGE_START,
        delete_spans_range,
        py_delete_spans_range,
    )

    rows = []
    for i in range(48):
        spans = gen_doc_spans(i, seed=7)
        rows.append((f"d{i:03d}",
                     [(s["kind"], s["text"], s["media_ref"],
                       s["offset"]) for s in spans]))
    want = {}
    for did, tup in rows:
        try:
            want[did] = py_delete_spans_range(
                tup, DELETE_RANGE_START, DELETE_RANGE_END,
                start_inclusive=True, end_inclusive=False)
        except ValueError:
            pass
    assert 0 < len(want) < len(rows)  # both paths exercised

    df = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    got = {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"],
                          s["offset"]) for s in r["spans"]]
           for r in delete_spans_range(
               df, DELETE_RANGE_START, DELETE_RANGE_END,
               start_inclusive=True, end_inclusive=False,
               skip_unresolvable=True).collect()}
    assert got == want


def test_splice_linear_on_long_doc(spark):
    """Guard against Catalyst inlining a fold into another fold's
    lambda (per-element re-evaluation = O(n^2)): a 100k-span doc must
    splice in seconds, not minutes."""
    import time

    from docling_core_spark.docops import SPLICE_SENTINEL_SPANS

    big = [("text", f"t{i}", "", i) for i in range(100_000)]
    one = spark.createDataFrame([("big", big)],
                                DOCUMENTS_SCHEMA).cache()
    one.count()
    t0 = time.time()
    out = insert_spans_after(one, ("table", "text"),
                             SPLICE_SENTINEL_SPANS).collect()
    dt = time.time() - t0
    assert len(out[0]["spans"]) == 100_002
    assert dt < 60, f"splice on 100k-span doc took {dt:.1f}s"
    one.unpersist()


def test_sql_child_anchor_equals_py(spark):
    """Attached-child offset anchors (rich cells, of_prev brackets)
    through the SQL fold path: identical to py_splice_spans for both
    insert and replace on every attached anchor of the first corpus
    docs."""
    from docling_core_spark.docops import _is_attached_kind

    new = [("text", NEW_TEXT, "", 0)]
    tested = 0
    for i in range(8):
        spans = gen_doc_spans(i, seed=42)
        tuples = [(s["kind"], s["text"], s["media_ref"], s["offset"])
                  for s in spans]
        df = spark.createDataFrame([(f"doc_{i}", tuples)],
                                   DOCUMENTS_SCHEMA)
        for s in sorted(tuples, key=lambda x: x[3]):
            if not _is_attached_kind(s[0]):
                continue
            for rep in (False, True):
                exp = py_splice_spans(tuples, s[3], new, replace=rep)
                got = [tuple(x) for x in insert_spans_after(
                    df, s[3], new, replace=rep).collect()[0]["spans"]]
                assert got == [tuple(x) for x in exp], (i, s[3], rep)
                tested += 1
    assert tested >= 20


def test_child_anchor_requires_flat_leaf_spans():
    """Group brackets cannot become children of a leaf via the child
    splice (they would need of_prev rewriting); the op refuses."""
    spans = [
        ("table", "A|B&&1|<rich_0>", "t0", 0),
        ("text+child", "cell", "", 1),
        ("text", "after", "", 2),
    ]
    with pytest.raises(ValueError, match="flat leaf"):
        py_splice_spans(spans, 1,
                        [("list_group", "", "", 0),
                         ("list_item", "x", "", 0),
                         ("end_group", "", "", 0)])


def test_sql_splice_equals_py_on_malformed_input(spark):
    """The SQL fold state machines must agree with the Python twins on
    MALFORMED span sequences too (unclosed groups, orphan end_groups,
    dangling +child/of_prev, duplicate offsets are excluded - offset
    ties make sort order ambiguous). Deterministic pseudo-random
    grammar soup, one Spark job for all docs and ops."""
    import random

    from docling_core_spark.docops import (
        append_child_spans,
        delete_spans_range,
        py_append_child_span,
        py_delete_spans_range,
        py_splice_spans,
    )

    kinds = [
        "title", "section_header:1", "text", "paragraph", "list_group",
        "inline_group", "end_group", "list_item", "code", "formula",
        "picture", "table", "caption:img_0", "page_break:2",
        "furniture:page_header", "text+child", "table+child",
        "list_group:of_prev", "inline_group:of_prev", "unknown_kind",
    ]
    rng = random.Random(20260819)
    rows = []
    for i in range(60):
        n = rng.randint(0, 24)
        spans = [(rng.choice(kinds), rng.choice(["", "t", "x y z"]),
                  rng.choice(["", "img_0"]), off)
                 for off, _ in enumerate(range(n))]
        rng.shuffle(spans)
        rows.append((f"fz_{i}", spans))
    df = spark.createDataFrame(rows, DOCUMENTS_SCHEMA).cache()
    df.count()
    new = [("text", NEW_TEXT, "", 0)]
    anchors = (("text", "table"), ("list_group",), ("picture", "code"))
    try:
        for anchor in anchors:
            for rep in (False, True):
                got = {r["doc_id"]: [tuple(s) for s in r["spans"]]
                       for r in insert_spans_after(
                           df, anchor, new, replace=rep).collect()}
                for doc_id, spans in rows:
                    exp = py_splice_spans(spans, anchor, new,
                                          replace=rep)
                    assert got[doc_id] == [tuple(x) for x in exp], \
                        (doc_id, anchor, rep)
            got = {r["doc_id"]: [tuple(s) for s in r["spans"]]
                   for r in append_child_spans(
                       df, anchor, new[0]).collect()}
            for doc_id, spans in rows:
                exp = py_append_child_span(spans, anchor, new[0])
                assert got[doc_id] == [tuple(x) for x in exp], \
                    (doc_id, anchor)
        # range delete in skip mode (the raise branches cannot be
        # compared through a full-batch collect)
        got = {r["doc_id"]: [tuple(s) for s in r["spans"]]
               for r in delete_spans_range(
                   df, ("text",), ("table", "code"),
                   skip_unresolvable=True).collect()}
        for doc_id, spans in rows:
            try:
                exp = py_delete_spans_range(spans, ("text",),
                                            ("table", "code"))
            except ValueError:
                assert doc_id not in got, doc_id
                continue
            assert got[doc_id] == [tuple(x) for x in exp], doc_id
    finally:
        df.unpersist()


def test_empty_new_spans_replace_is_subtree_delete(spark):
    """insert_spans_after(..., [], replace=True) = delete the anchor
    subtree (keeping page breaks) - the degenerate splice must resolve
    (regression: the empty-array literal referenced an unbound
    column)."""
    tuples = [("text", "a", "", 0), ("table", "A|B&&1|2", "t0", 1),
              ("page_break:2", "", "", 2), ("text", "b", "", 3)]
    df = spark.createDataFrame([("d0", tuples)], DOCUMENTS_SCHEMA)
    for rep in (False, True):
        got = [tuple(s) for s in insert_spans_after(
            df, ("table",), [], replace=rep).collect()[0]["spans"]]
        exp = py_splice_spans(tuples, ("table",), [], replace=rep)
        assert got == [tuple(x) for x in exp]
    assert [g[0] for g in got] == ["text", "page_break:2", "text"]

def test_multi_span_insert_at_child_anchor_matches_chained_reference(
        spark):
    """Multi-span insert at an attached-child anchor (rich cell /
    of_prev bracket member) == the reference chaining insert_text
    after the anchor, then after each newly created item. Pins that
    py_splice_spans places a BATCH of new spans in order inside the
    owning leaf's child list exactly where repeated single reference
    inserts would land them (document.py:3290 insert_text returns the
    created item, enabling the chain)."""
    from docling_core_spark.docops import _is_attached_kind

    new_texts = [f"{NEW_TEXT} #{i}" for i in range(3)]
    new_spans = [("text", t, "", 0) for t in new_texts]
    tested = 0
    for i in range(10):
        spans = gen_doc_spans(i, seed=42)
        tuples = [(s["kind"], s["text"], s["media_ref"], s["offset"])
                  for s in spans]
        doc, r2o = build_doc("d", spans)
        by_offset = {v: k for k, v in r2o.items()}
        for s in sorted(tuples, key=lambda x: x[3]):
            if not _is_attached_kind(s[0]) or s[3] not in by_offset:
                continue
            doc_m, _ = build_doc("d", spans)
            sib = _resolve(doc_m, by_offset[s[3]])
            try:
                for t in new_texts:
                    sib = doc_m.insert_text(sibling=sib, label="text",
                                            text=t, after=True)
            except Exception:
                continue  # reference rejects this sibling shape
            exp = reference_markdown(doc_m)
            got_tuples = py_splice_spans(tuples, s[3], new_spans)
            assert _engine_md(spans, got_tuples) == exp, (i, s[3])
            tested += 1
    assert tested >= 10

def test_multi_span_insert_at_sibling_anchor_matches_chained_reference(
        spark):
    """Same chained-reference pin for ORDINARY sibling anchors (leaf
    text, group openers, tables with rich-cell subtrees): a 2-span
    batch after the anchor == reference insert_text chained after the
    anchor then after the first new item."""
    new_texts = ["spliced batch head", "spliced batch tail"]
    new_spans = [("text", t, "", 0) for t in new_texts]
    tested = 0
    for i in range(N):
        spans = gen_doc_spans(i, seed=42)
        tuples = [(s["kind"], s["text"], s["media_ref"], s["offset"])
                  for s in spans]
        doc, r2o = build_doc("d", spans)
        anchors, by_offset = _anchors(spans, r2o)
        for a in anchors:
            doc_m, _ = build_doc("d", spans)
            sib = _resolve(doc_m, by_offset[a])
            try:
                sib = doc_m.insert_text(sibling=sib, label="text",
                                        text=new_texts[0], after=True)
                doc_m.insert_text(sibling=sib, label="text",
                                  text=new_texts[1], after=True)
            except Exception:
                continue
            exp = reference_markdown(doc_m)
            got_tuples = py_splice_spans(tuples, a, new_spans)
            assert _engine_md(spans, got_tuples) == exp, (i, a)
            tested += 1
    assert tested >= 3 * N

def test_graft_broadcast_b_same_result_and_plan(spark):
    """broadcast_b=True must not change results, and the physical plan
    must carry a BroadcastHashJoin (A's spans never shuffle) - the
    template-table grafting shape at corpus scale."""
    from docling_core_spark.docops import SPLICE_GRAFT_KINDS

    rows = []
    for i in range(6):
        spans = gen_doc_spans(i, seed=42)
        rows.append((f"d{i:03d}",
                     [(s["kind"], s["text"], s["media_ref"],
                       s["offset"]) for s in spans]))
    a = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    graft_src = [("origin:99", "f", "application/pdf", 0),
                 ("text", "template appendix", "", 1)]
    b = spark.createDataFrame([(did, graft_src) for did, _ in rows],
                              DOCUMENTS_SCHEMA)
    plain = graft_documents(a, b, SPLICE_GRAFT_KINDS)
    bcast = graft_documents(a, b, SPLICE_GRAFT_KINDS, broadcast_b=True)
    assert "BroadcastHashJoin" in bcast._jdf.queryExecution() \
        .executedPlan().toString()
    key = lambda df: sorted(
        (r["doc_id"], [tuple(s) for s in r["spans"]])
        for r in df.collect())
    assert key(plain) == key(bcast)
