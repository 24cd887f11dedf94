"""PDF/layout-parse extraction: positioned text cells -> span sequence.

The north rule's extraction tier names three parse surfaces: HTML
boilerplate strip, DOM heuristics (both in extract.py), and
**PDF/layout parse** - this module. The document is "printed" to a
table of positioned word cells (the physical layer a PDF parser or OCR
engine yields, cf. the reference's SegmentedPdfPage word cells,
types/doc/page.py:50-1301) and the extractor reconstructs the span
sequence from GEOMETRY ONLY: font + size + position + whitespace - it
never sees the source kinds.

Three independent code paths cross-validate, same architecture as the
HTML tier (extraction/extract.py / render.py / projection.py):

* ``render_layout_pages(spans)`` - layout engine: spans ->
  blocks -> wrapped lines -> word cells with (x, baseline, font, size),
  paginated with running header/footer + page-number chrome, emitted
  as one columnar page record (``PageRec``) per page.
* ``extract_layout_pages(pages)`` - layout parser: strip margin
  chrome, cluster words into lines by baseline, merge lines into
  blocks by leading/indent/font continuity, classify blocks by
  font/size/markers, rebuild list nesting from indent depth.
* ``project_for_layout(spans)`` - ground truth, computed straight
  from the source spans without running either: which spans survive a
  print round trip and in what normal form.

The round-trip invariant (pinned by tests/test_layout_extraction.py
and the driver query ``layout_extract``):

    extract_layout_pages(render_layout_pages(spans))[0]
        == project_for_layout(spans)

**Print dialect** (what the physical layer can and cannot carry):

* kinds map to a font/size ladder: title 24pt Helvetica-Bold centered;
  section headers 18/15/13pt Helvetica-Bold (levels cap at 3 - deeper
  levels print at the same size); body/list 10pt Times-Roman;
  reference 9pt / footnote 8pt Times-Roman; caption 8pt
  Helvetica-Oblique; formula 10pt Times-Italic; code 10pt Courier one
  cell per line with leading spaces encoded as x-offset.
* heading LEVELS survive only as size rank: the extractor maps the
  distinct heading sizes present in a document, largest = level 1 -
  so the projection renumbers capped levels by rank of presence.
* ``furniture:*`` spans print as running header/footer chrome on
  every page (plus a page number) and are stripped by the margin-band
  rule; ``origin:*`` and ``page_break:P`` leave no cells (pagination
  is physical, not logical); all drop from the projection.
* media items (picture/table/chart/key_value_region/form) have no
  text cells - dropped; their captions survive as plain ``caption``
  (the binding MREF is lost). ``+child`` / ``:of_prev`` attachment
  flags and ``+fmt=`` formatting runs are not expressible - stripped.
* ``inline_group`` flattens to one body paragraph (children joined);
  ``inline_group:of_prev`` appends to the preceding block's text
  (the reference's child-merge rule, markdown.py:133-146, in print
  form). List markers normalize (enum -> "N.", plain -> "•");
  custom marker glyphs are lost. Adjacent sibling list groups merge
  (nothing separates them on paper); interrupting blocks split a
  group. Whitespace collapses except inside code, which keeps
  leading indentation (via x) and drops blank lines + trailing
  spaces per line.

Scale shape: printing is one fused mapInArrow stage over the docs
table (zero shuffle), one page row per page record. The parse has two
plans (layout_spark.py): a doc-grouped print table on disk parses with
zero shuffle, each task reading whole files; an arbitrary cell frame
co-locates a document's pages with one hash repartition on doc_id +
a within-partition sort. Both stream doc-at-a-time through
mapInArrow with a cross-batch carry.
"""

from __future__ import annotations

import re
from typing import Dict, List, Optional, Sequence, Tuple

from docling_core_spark.model.spans import span_tuples

# ---------------------------------------------------------------------
# geometry constants (the "printer")
# ---------------------------------------------------------------------

PAGE_W = 612.0
PAGE_H = 792.0
MARGIN = 36.0
CONTENT_W = PAGE_W - 2 * MARGIN          # 540
TOP_Y = 752.0                            # first baseline goes below this
BOT_Y = 40.0                             # no baseline below this
LIST_INDENT = 18.0                       # per nesting level
TITLE_MEASURE = CONTENT_W - 100.0        # titles wrap narrower (centered)

HEADER_BASE = 778.0                      # running header baseline
FOOTER_BASE = 22.0                       # running footer baseline
PAGENUM_BASE = 10.0                      # page number baseline

# extractor margin bands: cells whose vertical CENTER falls outside
# (CHROME_BOT, CHROME_TOP) are page chrome
CHROME_TOP = 762.0
CHROME_BOT = 30.0

F_BOLD = "Helvetica-Bold"
F_BODY = "Times-Roman"
F_ITALIC = "Times-Italic"
F_OBLIQUE = "Helvetica-Oblique"
F_MONO = "Courier"

# the print dialect's font dictionary (PDFs reference fonts by index
# into a per-document resource table; page records do the same)
FONT_TABLE = (F_BOLD, F_BODY, F_ITALIC, F_OBLIQUE, F_MONO)
FONT_INDEX = {f: i for i, f in enumerate(FONT_TABLE)}

# packed-text word delimiter (layout_spark CELLS_SCHEMA v3); words are
# whitespace-split so they can never contain it after `put` sanitizes
TEXT_SEP = "\x1f"

SIZE_TITLE = 24.0
HEADING_SIZES = (18.0, 15.0, 13.0)       # capped level 1..3
SIZE_BODY = 10.0
SIZE_REFERENCE = 9.0
SIZE_FOOTNOTE = 8.0
SIZE_CAPTION = 8.0
SIZE_CODE = 10.0
SIZE_FORMULA = 10.0

MONO_CHAR_W = 6.0                        # Courier: fixed 6pt per char
BULLET = "•"
CB_SEL = "☑"
CB_UNSEL = "☐"

LINE_ADVANCE = 1.2                       # baseline step within a block
BLOCK_GAP = 6.0                          # extra gap between blocks

Row = Dict[str, object]    # kind, text, media_ref, offset
# one printed page: (page_no, word texts, font indexes into FONT_TABLE,
# x0s, y0s, x1s, y1s) - the printer's output, the parser's input and
# the shape layout_spark's cell batches arrive in, so the parse never
# materializes per-cell Python objects
PageRec = Tuple[int, List[str], Sequence, Sequence, Sequence,
                Sequence, Sequence]


def _char_w(size: float) -> float:
    return 0.5 * size


def _word_w(word: str, size: float, font: str) -> float:
    if font == F_MONO:
        return MONO_CHAR_W * len(word)
    return _char_w(size) * len(word)


def _gap_w(size: float) -> float:
    return 0.25 * size


def _ws(text: str) -> str:
    return " ".join((text or "").split())


# ---------------------------------------------------------------------
# kind grammar helpers (FIXTURES.md §1)
# ---------------------------------------------------------------------

def split_flags(kind: str) -> Tuple[str, bool]:
    """kind -> (base kind without +fmt=/+child flags, had_child)."""
    parts = (kind or "").split("+")
    base = parts[0]
    child = any(p == "child" for p in parts[1:])
    return base, child


_MEDIA_BASES = ("picture", "table", "chart", "key_value_region", "form")


def _is_media(base: str) -> bool:
    head = base.split(":", 1)[0]
    return head in _MEDIA_BASES


# block classes (internal, shared vocabulary of all three paths)
B_TITLE = "title"
B_HEADING = "heading"          # + level (capped 1..3)
B_TEXT = "text"
B_ITEM = "item"                # + depth, enum flag
B_CODE = "code"
B_FORMULA = "formula"
B_CAPTION = "caption"
B_FOOTNOTE = "footnote"
B_CB_SEL = "cb_sel"
B_CB_UNSEL = "cb_unsel"
B_REFERENCE = "reference"
B_PAGEBREAK = "pagebreak"      # renderer-only marker

# an inline_group:of_prev can continue these in print; code/formula
# blocks cannot flow into prose (distinct font runs)
_MERGEABLE = (B_TITLE, B_HEADING, B_TEXT, B_ITEM, B_CAPTION,
              B_FOOTNOTE, B_REFERENCE, B_CB_SEL, B_CB_UNSEL)


class Block:
    __slots__ = ("cls", "text", "depth", "level", "enum", "marker_no")

    def __init__(self, cls: str, text: str = "", depth: int = 0,
                 level: int = 0, enum: bool = False,
                 marker_no: int = 0) -> None:
        self.cls = cls
        self.text = text
        self.depth = depth
        self.level = level
        self.enum = enum
        self.marker_no = marker_no


def _code_lines(text: str) -> List[str]:
    """Code span text -> printed lines: tabs expand, trailing
    whitespace drops, blank lines drop (nothing to print)."""
    out = []
    for ln in (text or "").expandtabs(8).split("\n"):
        ln = ln.rstrip()
        if ln.strip():
            out.append(ln)
    return out


def _flatten_inline(spans: Sequence[Tuple[str, str, str, int]],
                    i: int) -> Tuple[str, int]:
    """Flatten an inline group starting at spans[i] (the group-open
    span) into prose: ws-collapsed child texts joined by single
    spaces, nested groups flattened recursively, media children
    skipped. Returns (text, index past the matching end_group)."""
    parts: List[str] = []
    depth = 1
    i += 1
    n = len(spans)
    while i < n and depth > 0:
        base, _child = split_flags(spans[i][0])
        head = base.split(":", 1)[0]
        if head in ("inline_group", "list_group"):
            depth += 1
        elif base == "end_group":
            depth -= 1
        elif not _is_media(base):
            t = _ws(spans[i][1])
            if t:
                parts.append(t)
        i += 1
    return " ".join(parts), i


# ---------------------------------------------------------------------
# phase A (renderer): spans -> blocks
# ---------------------------------------------------------------------

def _spans_to_blocks(spans: Sequence[Tuple[str, str, str, int]]
                     ) -> Tuple[List[Block], List[str], List[str]]:
    """The renderer's logical front half. Returns (body blocks,
    header texts, footer texts). Furniture spans become running
    chrome; page_break spans become pagination markers."""
    headers: List[str] = []
    footers: List[str] = []
    blocks: List[Block] = []
    # group stack: list of dicts(kind, enum_count) for open list groups
    list_depth = 0
    enum_counters: List[int] = []
    prev_block: Optional[Block] = None

    i = 0
    n = len(spans)
    while i < n:
        kind, text, _mref, _off = spans[i]
        base, _child = split_flags(kind)
        head = base.split(":", 1)[0]
        parts = base.split(":")

        if head == "origin" or head == "end_group":
            if head == "end_group":
                if list_depth > 0:
                    list_depth -= 1
                    enum_counters.pop()
            prev_block = None
            i += 1
            continue
        if head == "furniture":
            t = _ws(text)
            if t:
                (headers if base.endswith("page_header")
                 else footers).append(t)
            prev_block = None
            i += 1
            continue
        if head == "page_break":
            blocks.append(Block(B_PAGEBREAK))
            prev_block = None
            i += 1
            continue
        if head == "inline_group":
            flags = parts[1:]
            if "furniture" in flags:
                # furniture-layer group: page chrome, skip subtree
                _t, i = _flatten_inline(spans, i)
                prev_block = None
                continue
            flat, i = _flatten_inline(spans, i)
            if ("of_prev" in flags and prev_block is not None
                    and prev_block.cls in _MERGEABLE):
                if flat:
                    prev_block.text = (prev_block.text + " " + flat
                                       if prev_block.text else flat)
                # prev_block stays mergeable for a further group
                continue
            if flat:
                b = Block(B_TEXT, flat)
                blocks.append(b)
                prev_block = b
            else:
                prev_block = None
            continue
        if head == "list_group":
            flags = parts[1:]
            if "furniture" in flags:
                # skip the whole furniture subtree
                depth = 1
                i += 1
                while i < n and depth > 0:
                    b2, _c2 = split_flags(spans[i][0])
                    h2 = b2.split(":", 1)[0]
                    if h2 in ("list_group", "inline_group"):
                        depth += 1
                    elif b2 == "end_group":
                        depth -= 1
                    i += 1
                prev_block = None
                continue
            list_depth += 1
            enum_counters.append(0)
            prev_block = None
            i += 1
            continue
        if _is_media(base):
            prev_block = None
            i += 1
            continue

        t = _ws(text)
        if head == "title":
            b = Block(B_TITLE, t)
        elif head == "section_header":
            lvl = 1
            if len(parts) > 1:
                try:
                    lvl = int(parts[1])
                except ValueError:
                    lvl = 1
            b = Block(B_HEADING, t, level=min(max(lvl, 1), 3))
        elif head == "list_item":
            depth = max(list_depth, 1)
            enum = len(parts) > 1 and parts[1] == "enum"
            no = 0
            if enum and enum_counters:
                enum_counters[-1] += 1
                no = enum_counters[-1]
            elif enum:
                no = 1
            b = Block(B_ITEM, t, depth=depth, enum=enum, marker_no=no)
        elif head == "code":
            b = Block(B_CODE, text or "")
        elif head == "formula":
            b = Block(B_FORMULA, t)
        elif head == "caption":
            b = Block(B_CAPTION, t)
        elif head == "footnote":
            b = Block(B_FOOTNOTE, t)
        elif head == "reference":
            b = Block(B_REFERENCE, t)
        elif head == "checkbox_selected":
            b = Block(B_CB_SEL, t)
        elif head == "checkbox_unselected":
            b = Block(B_CB_UNSEL, t)
        else:  # text / paragraph / unknown textual
            b = Block(B_TEXT, t)
        blocks.append(b)
        prev_block = b
        i += 1

    # drop blocks that ended up with nothing to print (e.g. an empty
    # heading whose of_prev group flattened to nothing)
    out = []
    for b in blocks:
        if b.cls in (B_ITEM, B_CB_SEL, B_CB_UNSEL, B_PAGEBREAK):
            out.append(b)
        elif b.cls == B_CODE:
            if _code_lines(b.text):
                out.append(b)
        elif b.text:
            out.append(b)
    return out, headers, footers


# ---------------------------------------------------------------------
# phase B (renderer): blocks -> cells
# ---------------------------------------------------------------------

def _block_style(b: Block) -> Tuple[str, float]:
    if b.cls == B_TITLE:
        return F_BOLD, SIZE_TITLE
    if b.cls == B_HEADING:
        return F_BOLD, HEADING_SIZES[b.level - 1]
    if b.cls == B_CODE:
        return F_MONO, SIZE_CODE
    if b.cls == B_FORMULA:
        return F_ITALIC, SIZE_FORMULA
    if b.cls == B_CAPTION:
        return F_OBLIQUE, SIZE_CAPTION
    if b.cls == B_FOOTNOTE:
        return F_BODY, SIZE_FOOTNOTE
    if b.cls == B_REFERENCE:
        return F_BODY, SIZE_REFERENCE
    return F_BODY, SIZE_BODY


def _wrap_words(words: List[str], size: float, font: str,
                measure: float) -> List[List[str]]:
    """Greedy wrap; a word wider than the measure stands alone."""
    lines: List[List[str]] = []
    cur: List[str] = []
    w = 0.0
    gap = _gap_w(size)
    for word in words:
        ww = _word_w(word, size, font)
        if cur and w + gap + ww > measure:
            lines.append(cur)
            cur, w = [], 0.0
        if cur:
            w += gap
        cur.append(word)
        w += ww
    if cur:
        lines.append(cur)
    return lines


def _marker_text(b: Block) -> str:
    if b.cls == B_ITEM:
        return f"{b.marker_no}." if b.enum else BULLET
    if b.cls == B_CB_SEL:
        return CB_SEL
    return CB_UNSEL


def render_layout_pages(spans: Sequence[Tuple[str, str, str, int]]
                        ) -> List[PageRec]:
    """Print the document: one record per page, in page order, holding
    one word cell per word (code: one cell per line), chrome on every
    page. Pure function of its inputs."""
    tup = span_tuples(spans)
    blocks, headers, footers = _spans_to_blocks(tup)
    pages: List[PageRec] = []
    y = BOT_Y  # forces a new page for the first block

    def put(text: str, x: float, base_y: float, size: float,
            font: str) -> None:
        if TEXT_SEP in text:  # keep the packed encoding reversible
            text = text.replace(TEXT_SEP, " ")
        _p, texts, fonts, x0, y0, x1, y1 = pages[-1]
        texts.append(text)
        fonts.append(FONT_INDEX[font])
        x0.append(x)
        y0.append(base_y)
        x1.append(x + _word_w(text, size, font))
        y1.append(base_y + size)

    def chrome() -> None:
        if headers:
            x = MARGIN
            for wd in " ".join(headers).split():
                put(wd, x, HEADER_BASE, 8.0, F_BODY)
                x += _word_w(wd, 8.0, F_BODY) + _gap_w(8.0)
        if footers:
            x = MARGIN
            for wd in " ".join(footers).split():
                put(wd, x, FOOTER_BASE, 8.0, F_BODY)
                x += _word_w(wd, 8.0, F_BODY) + _gap_w(8.0)
        num = str(len(pages))
        w = _word_w(num, 8.0, F_BODY)
        put(num, MARGIN + (CONTENT_W - w) / 2.0, PAGENUM_BASE, 8.0,
            F_BODY)

    def new_page() -> None:
        nonlocal y
        pages.append((len(pages) + 1, [], [], [], [], [], []))
        y = TOP_Y
        chrome()

    for b in blocks:
        if b.cls == B_PAGEBREAK:
            new_page()
            continue
        font, size = _block_style(b)
        x_left = MARGIN
        centered = b.cls == B_TITLE
        marker = ""
        if b.cls in (B_ITEM, B_CB_SEL, B_CB_UNSEL):
            marker = _marker_text(b)
            if b.cls == B_ITEM:
                x_left = MARGIN + LIST_INDENT * (b.depth - 1)

        if b.cls == B_CODE:
            raw_lines = _code_lines(b.text)
            lines: List[Tuple[float, List[str]]] = []
            for ln in raw_lines:
                stripped = ln.lstrip(" ")
                lead = len(ln) - len(stripped)
                lines.append((MARGIN + MONO_CHAR_W * lead, [stripped]))
        else:
            words = ([marker] if marker else []) + b.text.split()
            measure = (TITLE_MEASURE if centered
                       else PAGE_W - MARGIN - x_left)
            wrapped = _wrap_words(words, size, font, measure)
            lines = []
            for wl in wrapped:
                if centered:
                    lw = (sum(_word_w(w, size, font) for w in wl)
                          + _gap_w(size) * (len(wl) - 1))
                    lines.append((MARGIN + (CONTENT_W - lw) / 2.0, wl))
                else:
                    lines.append((x_left, wl))

        assert len(lines) <= 55, "block taller than a page (corpus bug)"
        need = LINE_ADVANCE * size * len(lines)
        if not pages or y - need < BOT_Y:
            new_page()
        for lx, wl in lines:
            y -= LINE_ADVANCE * size
            x = lx
            for wd in wl:
                put(wd, x, y, size, font)
                x += _word_w(wd, size, font) + _gap_w(size)
        y -= BLOCK_GAP
    return pages


# ---------------------------------------------------------------------
# the layout parser: page records -> lines -> blocks -> rows
# ---------------------------------------------------------------------

_ENUM_RE = re.compile(r"^\d+\.$")


def _blocks_to_rows(blocks: List[Block],
                    heading_level_of: Dict[int, int]) -> List[Row]:
    """Shared finalizer: regroup list items by depth, emit the span
    rows with dense offsets. ``heading_level_of`` maps a B_HEADING
    block's recorded level key to its final rank level."""
    rows: List[Row] = []

    def emit(kind: str, text: str = "") -> None:
        rows.append({"kind": kind, "text": text, "media_ref": "",
                     "offset": len(rows)})

    depth = 0
    for b in blocks:
        d = b.depth if b.cls == B_ITEM else 0
        while depth > d:
            emit("end_group")
            depth -= 1
        while depth < d:
            emit("list_group")
            depth += 1
        if b.cls == B_ITEM:
            emit("list_item:enum" if b.enum else "list_item", b.text)
        elif b.cls == B_TITLE:
            emit("title", b.text)
        elif b.cls == B_HEADING:
            emit(f"section_header:{heading_level_of[b.level]}", b.text)
        elif b.cls == B_CODE:
            emit("code", b.text)
        elif b.cls == B_FORMULA:
            emit("formula", b.text)
        elif b.cls == B_CAPTION:
            emit("caption", b.text)
        elif b.cls == B_FOOTNOTE:
            emit("footnote", b.text)
        elif b.cls == B_REFERENCE:
            emit("reference", b.text)
        elif b.cls == B_CB_SEL:
            emit("checkbox_selected", b.text)
        elif b.cls == B_CB_UNSEL:
            emit("checkbox_unselected", b.text)
        else:
            emit("text", b.text)
    while depth > 0:
        emit("end_group")
        depth -= 1
    return rows


def _lines_to_result(lines: List[Dict[str, object]], n_pages: int,
                     n_cells: int, n_chrome: int
                     ) -> Tuple[List[Row], Dict[str, int]]:
    """Parse tail: reading-ordered line records -> block merge ->
    classification -> span rows + stats."""
    # blocks: merge consecutive lines with same style + alignment and
    # a within-block leading (gap <= 1.4 * size)
    merged: List[Dict[str, object]] = []
    for ln in lines:
        prev = merged[-1] if merged else None
        if (prev is not None
                and ln["page"] == prev["page"]
                and ln["font"] == prev["font"]
                and abs(ln["size"] - prev["size"]) < 0.5
                and (abs(ln["x_left"] - prev["x_left"]) <= 1.0
                     or (ln["centered"] and prev["centered"])
                     or ln["font"] == F_MONO)  # code indent is content
                and 0.0 < (prev["last_y"] - ln["y"])
                <= 1.4 * ln["size"]):
            prev["rows"].append(ln)
            prev["last_y"] = ln["y"]
        else:
            merged.append({"page": ln["page"], "font": ln["font"],
                           "size": ln["size"], "x_left": ln["x_left"],
                           "centered": ln["centered"], "last_y": ln["y"],
                           "rows": [ln]})

    # classify
    blocks: List[Block] = []
    heading_sizes = set()
    for m in merged:
        font = m["font"]
        size = int(round(float(m["size"])))
        if font == F_MONO:
            text = "\n".join(r["code_text"] for r in m["rows"])
            blocks.append(Block(B_CODE, text))
            continue
        words: List[str] = []
        for r in m["rows"]:
            words.extend(r["words"])
        text = " ".join(words)
        if font == F_ITALIC:
            blocks.append(Block(B_FORMULA, text))
        elif font == F_OBLIQUE:
            blocks.append(Block(B_CAPTION, text))
        elif font == F_BOLD:
            if all(r["centered"] for r in m["rows"]):
                blocks.append(Block(B_TITLE, text))
            else:
                heading_sizes.add(size)
                blocks.append(Block(B_HEADING, text, level=size))
        elif size == int(SIZE_FOOTNOTE):
            blocks.append(Block(B_FOOTNOTE, text))
        elif size == int(SIZE_REFERENCE):
            blocks.append(Block(B_REFERENCE, text))
        else:
            tok = words[0] if words else ""
            rest = " ".join(words[1:])
            if tok == BULLET or _ENUM_RE.match(tok):
                depth = int(round(
                    (float(m["x_left"]) - MARGIN) / LIST_INDENT)) + 1
                blocks.append(Block(B_ITEM, rest, depth=max(depth, 1),
                                    enum=tok != BULLET))
            elif tok == CB_SEL:
                blocks.append(Block(B_CB_SEL, rest))
            elif tok == CB_UNSEL:
                blocks.append(Block(B_CB_UNSEL, rest))
            else:
                blocks.append(Block(B_TEXT, text))

    # heading sizes -> levels (largest size = level 1)
    ranked = sorted(heading_sizes, reverse=True)
    level_of = {s: i + 1 for i, s in enumerate(ranked)}
    rows = _blocks_to_rows(blocks, level_of)
    stats = {"n_pages": n_pages, "n_cells": n_cells,
             "n_chrome_cells": n_chrome, "n_lines": len(lines),
             "n_blocks": len(blocks), "n_spans": len(rows),
             "content_chars": sum(len(str(r["text"])) for r in rows)}
    return rows, stats


def _mk_line_idx(page: int, sel, texts: List[str], fonts,
                 x0, y0, x1, y1) -> Dict[str, object]:
    """Cells of one baseline -> line record: ``sel`` holds the line's
    cell indexes into the page arrays, in (-y0, x0) order."""
    f0 = sel[0]
    x_left = float(x0[f0])
    x_right = float(x1[sel[-1]])
    size = float(y1[f0] - y0[f0])
    font = FONT_TABLE[int(fonts[f0])]
    left_gap = x_left - MARGIN
    right_gap = (PAGE_W - MARGIN) - x_right
    centered = left_gap > 20.0 and abs(left_gap - right_gap) < 3.0
    words = [texts[i] for i in sel]
    code_text = ""
    if font == F_MONO:
        lead = int(round((x_left - MARGIN) / MONO_CHAR_W))
        code_text = " " * max(lead, 0) + " ".join(words)
    return {"page": page, "y": float(y0[f0]), "x_left": x_left,
            "x_right": x_right, "size": size, "font": font,
            "centered": centered, "words": words,
            "code_text": code_text}


def extract_layout_pages(pages: List[PageRec]
                         ) -> Tuple[List[Row], Dict[str, int]]:
    """Reconstruct the span sequence from geometry alone.

    Stages: margin-band chrome strip -> baseline clustering into lines
    -> leading/indent block merge -> font/size/marker classification ->
    indent-depth list regrouping. Returns (rows, stats).

    Records may arrive in any order; a page may be split across
    several records (concatenated in arrival order) and its cells may
    come in any order - the reading order is re-derived from geometry.
    Cells stay in per-page arrays (the chrome strip and reading-order
    sort run as numpy masks/lexsorts over page slices), so the parse
    never builds a Python object per cell."""
    import numpy as np

    by_page: Dict[int, List[PageRec]] = {}
    for rec in pages:
        by_page.setdefault(rec[0], []).append(rec)

    n_cells = 0
    n_chrome = 0
    n_pages = 0
    lines: List[Dict[str, object]] = []
    for page in sorted(by_page):
        recs = by_page[page]
        if len(recs) == 1:
            _, texts, fonts, x0, y0, x1, y1 = recs[0]
            x0 = np.asarray(x0, dtype=np.float64)
            y0 = np.asarray(y0, dtype=np.float64)
            x1 = np.asarray(x1, dtype=np.float64)
            y1 = np.asarray(y1, dtype=np.float64)
        else:  # same page split across records: concatenate in order
            texts = [t for r in recs for t in r[1]]
            fonts = np.concatenate([np.asarray(r[2]) for r in recs])
            x0, y0, x1, y1 = (np.concatenate(
                [np.asarray(r[k], dtype=np.float64) for r in recs])
                for k in (3, 4, 5, 6))
        n = len(texts)
        n_cells += n
        if not n:
            continue
        yc = (y0 + y1) * 0.5
        keep = (yc < CHROME_TOP) & (yc > CHROME_BOT)
        kept = int(keep.sum())
        n_chrome += n - kept
        if not kept:
            continue
        n_pages += 1
        idx = np.flatnonzero(keep)
        order = idx[np.lexsort((x0[idx], -y0[idx]))]
        ys = y0[order]
        start = 0
        anchor = ys[0]
        for i in range(1, len(ys)):
            yi = ys[i]
            if abs(yi - anchor) > 2.0:
                lines.append(_mk_line_idx(page, order[start:i], texts,
                                          fonts, x0, y0, x1, y1))
                start, anchor = i, yi
        lines.append(_mk_line_idx(page, order[start:], texts, fonts,
                                  x0, y0, x1, y1))
    return _lines_to_result(lines, n_pages, n_cells, n_chrome)


# ---------------------------------------------------------------------
# ground truth: spans -> expected rows (independent of both above)
# ---------------------------------------------------------------------

def project_for_layout(spans: Sequence) -> List[Row]:
    """Which spans survive the print round trip, in normal form -
    computed straight from the source sequence. Accepts span dicts or
    tuples."""
    tup = span_tuples(spans)

    blocks: List[Block] = []
    stack_depth = 0
    prev: Optional[Block] = None
    i, n = 0, len(tup)
    while i < n:
        kind, text, _mref, _off = tup[i]
        base, _child = split_flags(kind)
        parts = base.split(":")
        head = parts[0]

        if head in ("origin", "furniture", "page_break"):
            prev = None
            i += 1
            continue
        if head == "end_group":
            if stack_depth > 0:
                stack_depth -= 1
            prev = None
            i += 1
            continue
        if head == "inline_group":
            flags = parts[1:]
            flat, i = _flatten_inline(tup, i)
            if "furniture" in flags:
                prev = None
                continue
            if ("of_prev" in flags and prev is not None
                    and prev.cls in _MERGEABLE):
                if flat:
                    prev.text = (prev.text + " " + flat
                                 if prev.text else flat)
                continue
            if flat:
                b = Block(B_TEXT, flat)
                blocks.append(b)
                prev = b
            else:
                prev = None
            continue
        if head == "list_group":
            flags = parts[1:]
            if "furniture" in flags:
                depth = 1
                i += 1
                while i < n and depth > 0:
                    b2, _c2 = split_flags(tup[i][0])
                    h2 = b2.split(":", 1)[0]
                    if h2 in ("list_group", "inline_group"):
                        depth += 1
                    elif b2 == "end_group":
                        depth -= 1
                    i += 1
                prev = None
                continue
            stack_depth += 1
            prev = None
            i += 1
            continue
        if _is_media(base):
            prev = None
            i += 1
            continue

        t = _ws(text)
        b: Optional[Block] = None
        if head == "title":
            b = Block(B_TITLE, t)
        elif head == "section_header":
            lvl = 1
            if len(parts) > 1:
                try:
                    lvl = int(parts[1])
                except ValueError:
                    lvl = 1
            b = Block(B_HEADING, t, level=min(max(lvl, 1), 3))
        elif head == "list_item":
            b = Block(B_ITEM, t, depth=max(stack_depth, 1),
                      enum=len(parts) > 1 and parts[1] == "enum")
        elif head == "code":
            b = Block(B_CODE, "\n".join(_code_lines(text)))
        elif head == "formula":
            b = Block(B_FORMULA, t)
        elif head == "caption":
            b = Block(B_CAPTION, t)
        elif head == "footnote":
            b = Block(B_FOOTNOTE, t)
        elif head == "reference":
            b = Block(B_REFERENCE, t)
        elif head == "checkbox_selected":
            b = Block(B_CB_SEL, t)
        elif head == "checkbox_unselected":
            b = Block(B_CB_UNSEL, t)
        else:
            b = Block(B_TEXT, t)
        blocks.append(b)
        prev = b
        i += 1

    # drop blocks the printer would skip (nothing to put on paper)
    kept: List[Block] = []
    for b in blocks:
        if b.cls in (B_ITEM, B_CB_SEL, B_CB_UNSEL):
            kept.append(b)
        elif b.text:
            kept.append(b)

    # heading levels -> rank of presence (level 1 = largest size)
    present = sorted({b.level for b in kept if b.cls == B_HEADING})
    level_of = {lv: i + 1 for i, lv in enumerate(present)}
    return _blocks_to_rows(kept, level_of)
