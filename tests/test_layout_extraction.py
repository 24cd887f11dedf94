"""PDF/layout-parse extraction: round-trip parity + dialect rules.

Parity contract: ``extract_layout_pages(render_layout_pages(spans))``
rows ``== project_for_layout(spans)`` - the left side prints
the document to page records of positioned word cells
(font/size/indent/margins, paginated with running chrome) and
re-parses them from GEOMETRY ONLY; the right side normalizes the
spans directly. The geometry paths share no logic with the
projection, so agreement validates both. The parser must not depend
on how the records arrive: a shuffled, split and reordered copy of
the printer's records parses to the same result.
"""

from __future__ import annotations

import pytest

from docling_core_spark.corpus import gen_doc_spans
from docling_core_spark.extraction.layout import (
    CHROME_BOT,
    CHROME_TOP,
    FOOTER_BASE,
    HEADER_BASE,
    PAGENUM_BASE,
    extract_layout_pages,
    project_for_layout,
    render_layout_pages,
)


def _triples(rows):
    return [(r["kind"], r["text"], r["media_ref"]) for r in rows]


def _roundtrip(spans):
    pages = render_layout_pages(spans)
    got, stats = extract_layout_pages(pages)
    want = project_for_layout(spans)
    return got, want, stats, pages


def _rt_doc(doc_index: int, seed: int = 42, mega_every=None):
    return _roundtrip(gen_doc_spans(doc_index, seed=seed,
                                    mega_every=mega_every))


S = lambda kind, text="", mref="": {"kind": kind, "text": text,
                                    "media_ref": mref, "offset": 0}


def _kinds(rows):
    return [r["kind"] for r in rows]


# ---------------------------------------------------------------------
# corpus round trip
# ---------------------------------------------------------------------

@pytest.mark.parametrize("doc_index", list(range(0, 300)))
def test_roundtrip_parity(doc_index):
    got, want, _, _ = _rt_doc(doc_index)
    assert _triples(got) == _triples(want)
    assert [r["offset"] for r in got] == list(range(len(got)))


@pytest.mark.parametrize("seed", [7, 99, 12345, 2024])
def test_roundtrip_parity_other_seeds(seed):
    for doc_index in range(60):
        got, want, _, _ = _rt_doc(doc_index, seed=seed)
        assert _triples(got) == _triples(want), (seed, doc_index)


def test_roundtrip_mega_doc():
    got, want, stats, _ = _rt_doc(99, mega_every=100)
    assert _triples(got) == _triples(want)
    assert stats["n_pages"] > 100  # really paginated


# ---------------------------------------------------------------------
# dialect rules, one hostile unit each
# ---------------------------------------------------------------------

def test_furniture_and_chrome_stripped():
    spans = [S("furniture:page_header", "acme corp internal"),
             S("title", "Report"),
             S("text", "body words here"),
             S("page_break:2"),
             S("text", "second page words"),
             S("furniture:page_footer", "confidential")]
    got, want, stats, _ = _roundtrip(spans)
    assert _triples(got) == _triples(want)
    txt = " ".join(str(r["text"]) for r in got)
    assert "acme" not in txt and "confidential" not in txt
    assert stats["n_pages"] == 2
    # chrome printed on BOTH pages (header, footer, page number)
    assert stats["n_chrome_cells"] >= 2 * (3 + 1 + 1)


def test_page_number_chrome_only_doc():
    """A doc whose every item is media prints nothing but chrome."""
    spans = [S("picture", "", "img_x"), S("table", "<fcel>a<nl>", "t1")]
    got, want, stats, _ = _roundtrip(spans)
    assert got == [] and want == []
    assert stats["n_spans"] == 0


def test_heading_levels_survive_as_rank():
    spans = [S("section_header:2", "Alpha"),
             S("text", "p one"),
             S("section_header:5", "Beta"),  # caps to 3
             S("text", "p two"),
             S("section_header:2", "Gamma")]
    got, want, _, _ = _roundtrip(spans)
    assert _triples(got) == _triples(want)
    assert _kinds(got) == ["section_header:1", "text",
                           "section_header:2", "text",
                           "section_header:1"]


def test_empty_heading_merges_of_prev_inline_group():
    spans = [S("section_header:1", ""),
             S("inline_group:of_prev"),
             S("text+fmt=b", "Bold Lead"),
             S("text", "tail words"),
             S("end_group"),
             S("text", "body")]
    got, want, _, _ = _roundtrip(spans)
    assert _triples(got) == _triples(want)
    assert got[0] == {"kind": "section_header:1",
                      "text": "Bold Lead tail words",
                      "media_ref": "", "offset": 0}


def test_of_prev_after_code_stays_standalone():
    spans = [S("code", "x = 1"),
             S("inline_group:of_prev"),
             S("text", "trailing prose"),
             S("end_group")]
    got, want, _, _ = _roundtrip(spans)
    assert _triples(got) == _triples(want)
    assert _kinds(got) == ["code", "text"]


def test_list_nesting_and_markers():
    spans = [S("list_group"),
             S("list_item:enum:(a)", "first"),
             S("list_item:enum", "second"),
             S("list_group"),
             S("list_item:plain:->", "nested"),
             S("end_group"),
             S("list_item", "third"),
             S("end_group")]
    got, want, _, _ = _roundtrip(spans)
    assert _triples(got) == _triples(want)
    assert _kinds(got) == ["list_group", "list_item:enum",
                           "list_item:enum", "list_group", "list_item",
                           "end_group", "list_item", "end_group"]
    # custom markers are not in the text
    assert all("(a)" not in r["text"] and "->" not in r["text"]
               for r in got)


def test_adjacent_sibling_groups_merge_interrupted_split():
    spans = [S("list_group"), S("list_item", "a"), S("end_group"),
             S("list_group"), S("list_item", "b"), S("end_group"),
             S("text", "break"),
             S("list_group"), S("list_item", "c"), S("end_group")]
    got, want, _, _ = _roundtrip(spans)
    assert _triples(got) == _triples(want)
    assert _kinds(got) == ["list_group", "list_item", "list_item",
                           "end_group", "text", "list_group",
                           "list_item", "end_group"]


def test_empty_list_item_survives():
    spans = [S("list_group"), S("list_item", ""),
             S("inline_group:of_prev"), S("text", "merged in"),
             S("code", "cmd_1"), S("end_group"),
             S("list_item", ""), S("end_group")]
    got, want, _, _ = _roundtrip(spans)
    assert _triples(got) == _triples(want)
    assert got[1]["text"] == "merged in cmd_1"
    assert got[2] == {"kind": "list_item", "text": "",
                      "media_ref": "", "offset": 2}


def test_code_indent_blank_lines_trailing_ws():
    code = "def f():   \n\n\tif x:\n        return 2  \n   \n"
    got, want, _, _ = _roundtrip([S("code:Python+fmt=i", code)])
    assert _triples(got) == _triples(want)
    assert got[0]["kind"] == "code"
    assert got[0]["text"] == ("def f():\n        if x:\n"
                              "        return 2")


def test_checkbox_glyphs():
    spans = [S("checkbox_selected", "remember me"),
             S("checkbox_unselected", "subscribe")]
    got, want, _, _ = _roundtrip(spans)
    assert _triples(got) == _triples(want)
    assert _kinds(got) == ["checkbox_selected", "checkbox_unselected"]
    assert got[0]["text"] == "remember me"


def test_caption_survives_media_dropped():
    spans = [S("caption:img_1", "Figure 1: a chart"),
             S("picture", "<desc>desc text</desc>", "img_1"),
             S("chart:bar_chart", "<fcel>x<nl>", "c1"),
             S("caption:c1", "Chart 2: bars"),
             S("key_value_region", "<key_0>k</key_0>"),
             S("form", "<key_0>f</key_0>"),
             S("footnote", "a footnote"),
             S("reference", "a reference")]
    got, want, _, _ = _roundtrip(spans)
    assert _triples(got) == _triples(want)
    assert _kinds(got) == ["caption", "caption", "footnote",
                           "reference"]
    assert all(r["media_ref"] == "" for r in got)


def test_title_wraps_centered_and_mid_doc():
    long_title = " ".join(["chapter"] * 18)  # several centered lines
    spans = [S("text", "pre"), S("title", long_title), S("text", "post")]
    got, want, _, _ = _roundtrip(spans)
    assert _triples(got) == _triples(want)
    assert _kinds(got) == ["text", "title", "text"]
    assert got[1]["text"] == long_title


def test_whitespace_collapses():
    spans = [S("text", "  two\t\twords \n split  ")]
    got, want, _, _ = _roundtrip(spans)
    assert _triples(got) == _triples(want)
    assert got[0]["text"] == "two words split"


def test_formula_and_empty_spans_drop():
    spans = [S("formula", "E = mc^2"),
             S("formula", "", "orig-present"),
             S("text", ""), S("title", ""),
             S("section_header:1", "")]
    got, want, _, _ = _roundtrip(spans)
    assert _triples(got) == _triples(want)
    assert _kinds(got) == ["formula"]


def test_hrefs_and_fmt_flags_drop():
    spans = [S("text+fmt=bi", "linked words", "https://ex.org/p"),
             S("paragraph", "plain para")]
    got, want, _, _ = _roundtrip(spans)
    assert _triples(got) == _triples(want)
    assert _triples(got) == [("text", "linked words", ""),
                             ("text", "plain para", "")]


def test_content_clear_of_chrome_bands():
    """No content baseline may enter the margin chrome bands."""
    _, _, _, pages = _rt_doc(5)
    assert [p for p, *_ in pages] == list(range(1, len(pages) + 1))
    for _p, _texts, _fonts, _x0, y0, _x1, y1 in pages:
        for lo, hi in zip(y0, y1):
            yc = (lo + hi) / 2.0
            in_band = yc >= CHROME_TOP or yc <= CHROME_BOT
            # a cell is in a chrome band iff it sits on a chrome baseline
            assert in_band == (lo in (HEADER_BASE, FOOTER_BASE,
                                      PAGENUM_BASE))


def test_extracted_doc_chunks_cleanly():
    """Layout-extracted spans feed the existing chunk pipeline."""
    from docling_core_spark.chunking.hybrid import hybrid_chunk
    from docling_core_spark.model.spans import doc_from_spans

    for doc_index in (0, 3, 17, 42):
        got, want, _, _ = _rt_doc(doc_index)
        to_t = lambda rows: [(r["kind"], r["text"], r["media_ref"],
                              r["offset"]) for r in rows]
        c_got = [(c.text, c.headings) for c in hybrid_chunk(
            doc_from_spans("d", to_t(got)), max_tokens=64)]
        c_want = [(c.text, c.headings) for c in hybrid_chunk(
            doc_from_spans("d", to_t(want)), max_tokens=64)]
        assert c_got == c_want
        assert c_got


# ---------------------------------------------------------------------
# Spark path == single-process path
# ---------------------------------------------------------------------

def test_spark_layout_extract_matches_projection(spark):
    from docling_core_spark.engine import synth_documents
    from docling_core_spark.extraction.layout_spark import (
        extract_layout,
        render_layout,
    )

    docs = synth_documents(spark, n_docs=60, seed=42)
    cells = render_layout(docs)
    got = {(r["doc_id"], r["ord"]): (r["kind"], r["text"], r["media_ref"])
           for r in extract_layout(cells).collect()}
    want = {}
    for i in range(60):
        for r in project_for_layout(gen_doc_spans(i, seed=42)):
            want[(f"doc_{i:012d}", r["offset"])] = (
                r["kind"], r["text"], r["media_ref"])
    assert got == want


def test_spark_layout_stats_match(spark):
    from docling_core_spark.engine import synth_documents
    from docling_core_spark.extraction.layout_spark import layout_stats

    docs = synth_documents(spark, n_docs=40, seed=42)
    got = {r["doc_id"]: (r["n_pages"], r["n_cells"], r["n_spans"],
                         r["content_chars"])
           for r in layout_stats(docs).collect()}
    assert len(got) == 40
    for i in range(40):
        spans = gen_doc_spans(i, seed=42)
        _, st = extract_layout_pages(render_layout_pages(spans))
        assert got[f"doc_{i:012d}"] == (
            st["n_pages"], st["n_cells"], st["n_spans"],
            st["content_chars"])


def test_spark_extract_carries_doc_across_batches(spark):
    """Small Arrow batches force a document's cells to straddle batch
    boundaries inside a partition - the carry buffer must stitch them."""
    from docling_core_spark.engine import synth_documents
    from docling_core_spark.extraction.layout_spark import (
        extract_layout,
        render_layout,
    )

    docs = synth_documents(spark, n_docs=12, seed=42)
    cells = render_layout(docs).coalesce(1)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch",
                         None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "37")
    try:
        rows = extract_layout(cells).collect()
    finally:
        if old is None:
            spark.conf.unset(
                "spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", old)
    got = {(r["doc_id"], r["ord"]): r["kind"] for r in rows}
    want = {}
    for i in range(12):
        for r in project_for_layout(gen_doc_spans(i, seed=42)):
            want[(f"doc_{i:012d}", r["offset"])] = r["kind"]
    assert got == want

def test_spark_layout_extract_files_plan_matches(spark, tmp_path):
    """The zero-shuffle file-granular plan (tasks pyarrow-read whole
    files of the doc-grouped print table) produces the same spans as
    the single-process projection, including docs split across many
    small Arrow batches inside one file."""
    from docling_core_spark.engine import synth_documents
    from docling_core_spark.extraction.layout_spark import (
        extract_layout_packed_files,
        render_layout,
        unpack_spans_flat,
    )

    docs = synth_documents(spark, n_docs=30, seed=42, partitions=5)
    path = str(tmp_path / "cells")
    render_layout(docs).write.mode("overwrite").parquet(path)
    flat = unpack_spans_flat(extract_layout_packed_files(spark, path))
    got = {(r["doc_id"], r["ord"]): (r["kind"], r["text"],
                                     r["media_ref"])
           for r in flat.collect()}
    want = {}
    for i in range(30):
        for r in project_for_layout(gen_doc_spans(i, seed=42)):
            want[(f"doc_{i:012d}", r["offset"])] = (
                r["kind"], r["text"], r["media_ref"])
    assert got == want


# ----------------------------------------------------------------------
# record arrival order (the Spark parse stitches pages from batches)
# ----------------------------------------------------------------------

def test_parse_ignores_record_split_and_order():
    """Cells shuffled within each page, every page split across two
    records, an empty page added and the records shuffled: the parse
    (rows AND stats) equals the parse of the printer's clean records."""
    import random

    rng = random.Random(7)
    for i in range(0, 40, 3):
        pages = render_layout_pages(gen_doc_spans(i, seed=11))
        want = extract_layout_pages(pages)
        recs = [(999, [], [], [], [], [], [])]
        for p, *cols in pages:
            perm = list(range(len(cols[0])))
            rng.shuffle(perm)
            cols = [[col[j] for j in perm] for col in cols]
            k = len(perm) // 2
            recs.append((p, *(col[:k] for col in cols)))
            recs.append((p, *(col[k:] for col in cols)))
        rng.shuffle(recs)
        assert extract_layout_pages(recs) == want, i


def test_parse_batches_emit_packed_spans_schema(spark):
    """The parse stage's pyarrow output schema is PACKED_SPANS_SCHEMA."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    from docling_core_spark.engine import synth_documents
    from docling_core_spark.extraction.layout_spark import (
        PACKED_SPANS_SCHEMA,
        _parse_cell_batches,
        render_layout,
    )

    cells = render_layout(synth_documents(spark, n_docs=3, seed=42))
    out = list(_parse_cell_batches(iter(cells.toArrow().to_batches())))
    assert sum(b.num_rows for b in out) == 3
    want = to_arrow_schema(_parse_datatype_string(PACKED_SPANS_SCHEMA))
    assert all(b.schema == want for b in out)


# ----------------------------------------------------------------------
# zero-shuffle file dispatch (extract_layout_packed_files)
# ----------------------------------------------------------------------

def test_bin_dispatch_one_task_per_bin_no_exchange(spark, tmp_path):
    """The bin->task placement is a Range-scan contract: partition i
    of range(0, n, 1, n) holds exactly id i, so each bin runs in its
    own task with ZERO exchange and zero extra jobs (the old
    one-row-per-file + repartitionByRange plan paid a sampling job
    plus a range shuffle on every run; an RDD parallelize of the bins
    paid a separate Python-runner scan)."""
    import os

    from docling_core_spark.engine import synth_documents
    from docling_core_spark.extraction.layout_spark import (
        _bin_dispatch,
        _lpt_bins,
        extract_layout_packed_files,
        render_layout,
    )

    rows = [(0, ["a", "b"]), (1, ["c"]), (2, ["d", "e", "f"])]
    base, get_bin = _bin_dispatch(spark, rows)
    parts = base.rdd.glom().collect()
    assert [[r["id"] for r in p] for p in parts] == [[0], [1], [2]]
    assert [get_bin(i) for i in range(3)] == rows

    # broadcast branch above the closure-size threshold
    big = [(i, [f"f{i}_{j}" for j in range(60)]) for i in range(200)]
    _, get_big = _bin_dispatch(spark, big)
    assert get_big(7) == big[7]

    # heaviest bin first, every file in exactly one bin
    sizes = {f"f{i}": sz for i, sz in enumerate(
        [70, 10, 20, 50, 40, 30, 60])}
    bins = _lpt_bins(sorted(sizes), sizes, 3)
    assert [r for r, _ in bins] == [0, 1, 2]
    loads = [sum(sizes[f] for f in b) for _, b in bins]
    assert loads == sorted(loads, reverse=True)
    assert sorted(f for _, b in bins for f in b) == sorted(sizes)

    docs = synth_documents(spark, n_docs=12, seed=3, partitions=3)
    path = str(tmp_path / "cells")
    render_layout(docs).write.mode("overwrite").parquet(path)
    packed = extract_layout_packed_files(spark, path)
    plan = packed._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Range" in plan
    assert packed.count() == 12
