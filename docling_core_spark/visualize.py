"""E11 visualization - as DATA, not pixels.

The reference's visualizers (transforms/visualizer/*.py) draw layout
boxes, reading-order arrows and labels onto PIL page images. Pixel
rendering needs an image codec the executors don't ship - and at scale
nobody materializes 10^12 PNGs anyway; front-ends render overlays from
a draw-command stream. So the engine emits the DRAW COMMANDS the
reference would issue, as rows:

    (doc_id, page_no, seq, op, coords(json), fill, outline, width, text)

* ``layout_draw_rows`` mirrors LayoutVisualizer._draw_doc_layout /
  _draw_clusters (layout_visualizer.py:60-200): per-page cluster
  rectangles with the label color map (labels.py:43-70) at alpha 70
  fill / 255 outline, plus the "<LABEL> (1.00)" tag with its padded
  white backdrop; pages flush on page change exactly like the
  reference loop (dips revisit a page and append a second batch).
* ``reading_order_rows`` mirrors ReadingOrderVisualizer
  (reading_order_visualizer.py:40-205): red width-2 arrow shafts +
  arrowhead polygons between successive provenance centres (roots
  reset per page run), optional numbered orange ellipses.

Text metrics are font-dependent in the reference (PIL textbbox); the
data layer fixes a deterministic 7x11-per-char cell so the backdrop
geometry is reproducible anywhere. The live-parity test drives the
REAL reference visualizers through a recording PIL shim using the same
metric and compares call-for-call (tests/test_visualize.py).
"""

from __future__ import annotations

import json
from typing import Dict, List, Optional, Tuple

from docling_core_spark.model.doc import (
    LAYER_BODY,
    LAYER_FURNITURE,
    PAGE_H,
    PAGE_W,
    K_CAPTION,
    K_CODE,
    K_FORM,
    K_FORMULA,
    K_KEY_VALUE,
    K_LIST_ITEM,
    K_PICTURE,
    K_SECTION_HEADER,
    K_TABLE,
    K_TEXT,
    K_TITLE,
    Doc,
    Node,
    node_bbox,
)
from docling_core_spark.model.spans import doc_from_spans, span_tuples

# DocItemLabel.get_color (labels.py:43-70)
LABEL_COLORS: Dict[str, Tuple[int, int, int]] = {
    "CAPTION": (255, 204, 153),
    "FOOTNOTE": (200, 200, 255),
    "FORMULA": (192, 192, 192),
    "LIST_ITEM": (153, 153, 255),
    "PAGE_FOOTER": (204, 255, 204),
    "PAGE_HEADER": (204, 255, 204),
    "PICTURE": (255, 204, 164),
    "CHART": (255, 204, 164),
    "SECTION_HEADER": (255, 153, 153),
    "TABLE": (255, 204, 204),
    "TEXT": (255, 255, 153),
    "TITLE": (255, 153, 153),
    "DOCUMENT_INDEX": (220, 220, 220),
    "CODE": (125, 125, 125),
    "CHECKBOX_SELECTED": (255, 182, 193),
    "CHECKBOX_UNSELECTED": (255, 182, 193),
    "FORM": (200, 255, 255),
    "KEY_VALUE_REGION": (183, 65, 14),
    "PARAGRAPH": (255, 255, 153),
    "REFERENCE": (176, 224, 230),
}

# deterministic text metric (see module docstring)
CHAR_W, CHAR_H = 7, 11


def text_bbox(x: float, y: float, text: str) -> Tuple[float, float,
                                                      float, float]:
    return (x, y, x + CHAR_W * len(text), y + CHAR_H)


def _label_name(node: Node) -> str:
    if node.kind == K_TITLE:
        return "TITLE"
    if node.kind == K_SECTION_HEADER:
        return "SECTION_HEADER"
    if node.kind == K_LIST_ITEM:
        return "LIST_ITEM"
    if node.kind == K_CODE:
        return "CODE"
    if node.kind == K_FORMULA:
        return "FORMULA"
    if node.kind == K_CAPTION:
        return "CAPTION"
    if node.kind == K_TABLE:
        return "TABLE"
    if node.kind == K_PICTURE:
        return "PICTURE"
    if node.kind == K_KEY_VALUE:
        return "KEY_VALUE_REGION"
    if node.kind == K_FORM:
        return "FORM"
    return (node.label or "text").upper()


_LAYERS_ALL = (LAYER_BODY, LAYER_FURNITURE)


def _items_with_prov(doc: Doc, traverse_pictures: bool):
    for node, _lvl in doc.iterate_items(layers=_LAYERS_ALL,
                                        traverse_pictures=traverse_pictures):
        if node.is_group:
            continue
        yield node


def _make_emitter(doc_id: str, rows: List[dict]):
    """The one definition of the draw-row contract (shape, coord
    rounding, per-page seq counter) shared by all four visualizers."""
    seq_by_page: Dict[int, int] = {}

    def emit(page_no: int, op: str, coords, fill: str = "",
             outline: str = "", width: int = 0, text: str = "") -> None:
        seq = seq_by_page.get(page_no, 0)
        seq_by_page[page_no] = seq + 1
        rows.append({"doc_id": doc_id, "page_no": page_no, "seq": seq,
                     "op": op,
                     "coords": json.dumps([round(c, 6) for c in coords]),
                     "fill": fill, "outline": outline, "width": width,
                     "text": text})

    return emit


def layout_draw_rows(doc_id: str, spans, show_label: bool = True
                     ) -> List[dict]:
    """LayoutVisualizer draw commands for one document."""
    doc = doc_from_spans(doc_id, span_tuples(spans))
    rows: List[dict] = []
    emit = _make_emitter(doc_id, rows)

    def flush(page_no: int, clusters: List[Node]) -> None:
        for c in clusters:
            x0, y0, x1, y1 = node_bbox(c.offset)
            color = LABEL_COLORS.get(_label_name(c), (0, 0, 0))
            emit(page_no, "rect", (x0, y0, x1, y1),
                 fill=f"rgba{(*color, 70)}",
                 outline=f"rgba{(*color, 255)}")
            if show_label:
                label_text = f"{_label_name(c)} (1.00)"
                tb = text_bbox(x0, y0, label_text)
                pad = 2
                emit(page_no, "rect",
                     (tb[0] - pad, tb[1] - pad, tb[2] + pad, tb[3] + pad),
                     fill="rgba(255, 255, 255, 180)")
                emit(page_no, "text", (x0, y0),
                     fill="rgba(0, 0, 0, 255)", text=label_text)

    clusters: List[Node] = []
    prev_page: Optional[int] = None
    for node in _items_with_prov(doc, traverse_pictures=True):
        if prev_page is not None and node.page_no != prev_page \
                and clusters:
            flush(prev_page, clusters)
            clusters = []
        clusters.append(node)
        prev_page = node.page_no
    if prev_page is not None and clusters:
        flush(prev_page, clusters)
    return rows


def reading_order_rows(doc_id: str, spans,
                       show_branch_numbering: bool = False
                       ) -> List[dict]:
    """ReadingOrderVisualizer draw commands for one document."""
    doc = doc_from_spans(doc_id, span_tuples(spans))
    rows: List[dict] = []
    emit = _make_emitter(doc_id, rows)

    numbers: Dict[int, List[Tuple[float, float, str]]] = {}
    x0 = y0 = None
    prev_page: Optional[int] = None
    i = 0
    for node in _items_with_prov(doc, traverse_pictures=False):
        page_no = node.page_no
        bl, bt, br, bb = node_bbox(node.offset)
        # normalized -> scaled back to the (same-size) image, rounded
        # to pixels exactly as the reference (round of l/W*W etc.)
        rl = round(bl / PAGE_W * PAGE_W)
        rr = round(br / PAGE_W * PAGE_W)
        rt = round(bt / PAGE_H * PAGE_H)
        rb = round(bb / PAGE_H * PAGE_H)
        if rb > rt:
            rb, rt = rt, rb
        if prev_page is None or page_no != prev_page:
            prev_page = page_no
            x0 = (rl + rr) / 2.0
            y0 = (rb + rt) / 2.0
            numbers.setdefault(page_no, []).append((x0, y0, f"{i}"))
            i += 1
            continue
        x1 = (rl + rr) / 2.0
        y1 = (rb + rt) / 2.0
        # arrow shaft + head (reading_order_visualizer.py:44-77)
        emit(page_no, "line", (x0, y0, x1, y1), fill="red", width=2)
        dx, dy = x1 - x0, y1 - y0
        length = (dx ** 2 + dy ** 2) ** 0.5 + 0.01
        ux, uy = dx / length, dy / length
        base_x = x1 - ux * 20
        base_y = y1 - uy * 20
        left = (base_x - uy * 10, base_y + ux * 10)
        right = (base_x + uy * 10, base_y - ux * 10)
        emit(page_no, "polygon",
             (x1, y1, left[0], left[1], right[0], right[1]), fill="red")
        x0, y0 = x1, y1
    if show_branch_numbering:
        for page_no in numbers:
            for nx, ny, ntext in numbers[page_no]:
                tb = text_bbox(nx, ny, ntext)
                pad = 5
                emit(page_no, "ellipse",
                     (tb[0] - pad, tb[1] - pad, tb[2] + pad, tb[3] + pad),
                     fill="orange")
                emit(page_no, "text", (nx, ny), fill="black", text=ntext)
    return rows


# ----------------------------------------------------------------------
# Spark surface + registry queries
# ----------------------------------------------------------------------

_VIZ_SCHEMA = ("doc_id string, page_no int, seq int, op string, "
               "coords string, fill string, outline string, "
               "width int, text string")


def _viz_op(docs, row_fn):
    from docling_core_spark.engine import map_rows

    def task():
        # draw rows are dicts in _VIZ_SCHEMA column order (_make_emitter)
        return lambda did, spans: [tuple(r.values())
                                   for r in row_fn(did, spans)]

    return map_rows(docs, ("doc_id", "spans"), _VIZ_SCHEMA, task)


def visualize_layout(docs):
    return _viz_op(docs, layout_draw_rows)


def visualize_reading_order(docs):
    return _viz_op(docs, lambda d, s: reading_order_rows(
        d, s, show_branch_numbering=True))


# ----------------------------------------------------------------------
# table visualizer (table_visualizer.py:18-240)
# ----------------------------------------------------------------------

# TableVisualizer.Params defaults (table_visualizer.py:22-42); the
# reference uses out-of-range 256 components verbatim
TABLE_CELL_FILL = "rgba(256, 0, 0, 32)"
TABLE_CELL_OUTLINE = "rgba(256, 0, 0, 128)"
TABLE_ROWHEAD_FILL = "rgba(0, 256, 0, 32)"
TABLE_ROWHEAD_OUTLINE = "rgba(0, 256, 0, 128)"
TABLE_COLHEAD_FILL = "rgba(0, 0, 256, 32)"
TABLE_COLHEAD_OUTLINE = "rgba(0, 0, 256, 128)"


def synth_cell_bbox(table_bbox, n_rows: int, n_cols: int,
                    sr: int, er: int, sc: int, ec: int):
    """Uniform-grid cell geometry: span documents carry logical tables
    (no per-cell OCR boxes), so visualization assigns each cell its
    grid slot share of the table bbox - deterministic on both sides of
    the parity test."""
    l, t, r, b = table_bbox
    cw = (r - l) / max(n_cols, 1)
    ch = (b - t) / max(n_rows, 1)
    return (l + sc * cw, t + sr * ch, l + ec * cw, t + er * ch)


def table_viz_rows(doc_id: str, spans) -> List[dict]:
    """TableVisualizer draw commands (show_cells=True defaults): one
    rectangle per cell, colored by header/section flags."""
    from docling_core_spark.model.otsl import parse_otsl

    doc = doc_from_spans(doc_id, span_tuples(spans))
    rows: List[dict] = []
    emit = _make_emitter(doc_id, rows)

    for node in _items_with_prov(doc, traverse_pictures=False):
        if node.kind != K_TABLE:
            continue
        table = parse_otsl(node.text)
        if table.num_rows == 0 or table.num_cols == 0:
            continue
        tb = node_bbox(node.offset)
        for cell in table.cells:
            fill, outline = TABLE_CELL_FILL, TABLE_CELL_OUTLINE
            if cell.column_header:
                fill, outline = TABLE_COLHEAD_FILL, TABLE_COLHEAD_OUTLINE
            if cell.row_header or cell.row_section:
                fill, outline = TABLE_ROWHEAD_FILL, TABLE_ROWHEAD_OUTLINE
            emit(node.page_no, "rect",
                 synth_cell_bbox(tb, table.num_rows, table.num_cols,
                                 cell.start_row, cell.end_row,
                                 cell.start_col, cell.end_col),
                 fill=fill, outline=outline)
    return rows


def visualize_tables(docs):
    return _viz_op(docs, table_viz_rows)


# ----------------------------------------------------------------------
# key-value visualizer (key_value_visualizer.py:35-217)
# ----------------------------------------------------------------------

KV_KEY_FILL = "rgba(0, 170, 0, 70)"
KV_KEY_OUTLINE = "rgba(0, 170, 0, 255)"
KV_VALUE_FILL = "rgba(0, 0, 200, 70)"
KV_VALUE_OUTLINE = "rgba(0, 0, 200, 255)"
KV_LINK = "rgba(255, 0, 0, 255)"
KV_LABEL_BG = "rgba(255, 255, 255, 180)"
KV_LABEL_TXT = "rgba(0, 0, 0, 255)"


def synth_kv_cell_bbox(region_bbox, n_cells: int, i: int):
    """Vertical-slot cell geometry for layout-less key-value graphs
    (same role as synth_cell_bbox for tables)."""
    l, t, r, b = region_bbox
    h = (b - t) / max(n_cells, 1)
    return (l, t + i * h, r, t + (i + 1) * h)


def kv_viz_rows(doc_id: str, spans, show_label: bool = True
                ) -> List[dict]:
    """KeyValueVisualizer draw commands: key/value cell rectangles with
    text tags, then TO_VALUE link lines + small arrowheads (drawn after
    the cells so they sit on top), per page in ascending order."""
    from docling_core_spark.model.kv import parse_kv

    doc = doc_from_spans(doc_id, span_tuples(spans))
    rows: List[dict] = []
    emit = _make_emitter(doc_id, rows)

    kv_nodes = [n for n in _items_with_prov(doc, traverse_pictures=False)
                if n.kind == K_KEY_VALUE]
    for page_no in sorted({n.page_no for n in kv_nodes}):
        for node in kv_nodes:
            if node.page_no != page_no:
                continue
            cells, links = parse_kv(node.text or "")
            if not cells:
                continue
            region = node_bbox(node.offset)
            boxes = {c.cell_id: synth_kv_cell_bbox(region, len(cells), i)
                     for i, c in enumerate(cells)}
            for c in cells:
                x0, y0, x1, y1 = boxes[c.cell_id]
                fill = KV_KEY_FILL if c.label == "key" else KV_VALUE_FILL
                outline = (KV_KEY_OUTLINE if c.label == "key"
                           else KV_VALUE_OUTLINE)
                emit(page_no, "rect", (x0, y0, x1, y1), fill=fill,
                     outline=outline)
                if show_label:
                    tb = text_bbox(x0, y0, c.text)
                    pad = 2
                    emit(page_no, "rect",
                         (tb[0] - pad, tb[1] - pad,
                          tb[2] + pad, tb[3] + pad), fill=KV_LABEL_BG)
                    emit(page_no, "text", (x0, y0), fill=KV_LABEL_TXT,
                         text=c.text)
            for link in links:
                if link.label != "to_value":
                    continue
                if link.source not in boxes or link.target not in boxes:
                    continue
                sl, st, sr, sb = boxes[link.source]
                tl, tt, tr, tb_ = boxes[link.target]
                src = ((sl + sr) / 2, (st + sb) / 2)
                tgt = ((tl + tr) / 2, (tt + tb_) / 2)
                emit(page_no, "line", (src[0], src[1], tgt[0], tgt[1]),
                     fill=KV_LINK, width=2)
                arrow_len = 6
                dx, dy = tgt[0] - src[0], tgt[1] - src[1]
                length = (dx ** 2 + dy ** 2) ** 0.5 or 1.0
                ux, uy = dx / length, dy / length
                px, py = -uy, ux
                left = (tgt[0] - ux * arrow_len - px * arrow_len / 2,
                        tgt[1] - uy * arrow_len - py * arrow_len / 2)
                right = (tgt[0] - ux * arrow_len + px * arrow_len / 2,
                         tgt[1] - uy * arrow_len + py * arrow_len / 2)
                emit(page_no, "polygon",
                     (tgt[0], tgt[1], left[0], left[1],
                      right[0], right[1]), fill=KV_LINK)
    return rows


def visualize_key_values(docs):
    return _viz_op(docs, kv_viz_rows)
