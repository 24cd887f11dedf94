"""E11 visualization parity: drive the LIVE reference visualizers
through a recording PIL shim and compare their draw calls
command-for-command with the engine's draw-row output."""

from __future__ import annotations

import sys

import pytest

from docling_core_spark.corpus import gen_doc_spans
from docling_core_spark.model.doc import PAGE_H, PAGE_W
from docling_core_spark.visualize import (
    CHAR_H,
    CHAR_W,
    layout_draw_rows,
    reading_order_rows,
)
from tests.refstubs import oracle_fn, reference

build_doc = oracle_fn("build_doc")


class FakeImage:
    def __init__(self, width, height):
        self.width = width
        self.height = height
        self.calls = []

    def __deepcopy__(self, memo):
        return FakeImage(self.width, self.height)


class RecDraw:
    """Recording ImageDraw.Draw stand-in using the engine's fixed
    7x11-per-char text metric."""

    def __init__(self, image, mode=None):
        self.calls = image.calls

    def rectangle(self, coords, outline=None, fill=None):
        (x0, y0), (x1, y1) = coords
        self.calls.append(("rect", (x0, y0, x1, y1), fill, outline))

    def textbbox(self, xy, text, font=None):
        x, y = xy
        return (x, y, x + CHAR_W * len(text), y + CHAR_H)

    def text(self, xy, text=None, fill=None, font=None):
        self.calls.append(("text", tuple(xy), fill, text))

    def line(self, pts, fill=None, width=0):
        (x0, y0), (x1, y1) = pts
        self.calls.append(("line", (x0, y0, x1, y1), fill, width))

    def polygon(self, pts, fill=None):
        flat = tuple(c for p in pts for c in p)
        self.calls.append(("polygon", flat, fill))

    def ellipse(self, coords, fill=None):
        (x0, y0), (x1, y1) = coords
        self.calls.append(("ellipse", (x0, y0, x1, y1), fill))


def _install_recording_pil():
    draw_mod = sys.modules["PIL.ImageDraw"]
    draw_mod.Draw = RecDraw
    font_mod = sys.modules["PIL.ImageFont"]

    def _truetype(*a, **k):
        raise OSError("no fonts in this environment")

    font_mod.truetype = _truetype
    font_mod.load_default = staticmethod(lambda: object()) \
        if False else (lambda: object())


def _ref_doc_with_page_images(doc_id, spans):
    from pathlib import Path

    reference()
    from docling_core.types.doc.document import ImageRef, Size

    doc, _ = build_doc(doc_id, spans)
    for page in doc.pages.values():
        ref = ImageRef(mimetype="image/png", dpi=72,
                       size=Size(width=PAGE_W, height=PAGE_H),
                       uri=Path("page.png"))
        ref._pil = FakeImage(int(PAGE_W), int(PAGE_H))
        page.image = ref
    return doc


def _norm_fill(f):
    if f is None:
        return ""
    if isinstance(f, tuple):
        return f"rgba{f}"
    return str(f)


def _ref_calls_to_rows(images):
    out = {}
    for page_no, img in images.items():
        rows = []
        for call in img.calls:
            if call[0] == "rect":
                rows.append(("rect", tuple(round(c, 6) for c in call[1]),
                             _norm_fill(call[2]), _norm_fill(call[3]),
                             0, ""))
            elif call[0] == "text":
                rows.append(("text", tuple(round(c, 6) for c in call[1]),
                             _norm_fill(call[2]), "", 0, call[3]))
            elif call[0] == "line":
                rows.append(("line", tuple(round(c, 6) for c in call[1]),
                             _norm_fill(call[2]), "", call[3], ""))
            elif call[0] == "polygon":
                rows.append(("polygon",
                             tuple(round(c, 6) for c in call[1]),
                             _norm_fill(call[2]), "", 0, ""))
            elif call[0] == "ellipse":
                rows.append(("ellipse",
                             tuple(round(c, 6) for c in call[1]),
                             _norm_fill(call[2]), "", 0, ""))
        out[page_no] = rows
    return out


def _engine_rows_by_page(rows):
    import json as _json

    out = {}
    for r in sorted(rows, key=lambda r: (r["page_no"], r["seq"])):
        out.setdefault(r["page_no"], []).append(
            (r["op"], tuple(_json.loads(r["coords"])), r["fill"],
             r["outline"], r["width"], r["text"]))
    return out


@pytest.mark.parametrize("doc_index", [0, 1, 3, 7, 17, 42])
def test_layout_visualizer_parity(doc_index):
    _install_recording_pil()
    reference()
    from docling_core.transforms.visualizer.layout_visualizer import (
        LayoutVisualizer,
    )

    spans = gen_doc_spans(doc_index, seed=42)
    doc = _ref_doc_with_page_images(f"doc_{doc_index}", spans)
    images = LayoutVisualizer().get_visualization(doc=doc)
    want = _ref_calls_to_rows(images)
    got = _engine_rows_by_page(
        layout_draw_rows(f"doc_{doc_index}", spans))
    # pages with zero draw calls on the reference side may be absent
    want = {p: calls for p, calls in want.items() if calls}
    assert got == want
    assert any(calls for calls in got.values())


@pytest.mark.parametrize("doc_index", [0, 2, 5, 11])
def test_reading_order_visualizer_parity(doc_index):
    _install_recording_pil()
    reference()
    from docling_core.transforms.visualizer.reading_order_visualizer import (
        ReadingOrderVisualizer,
    )

    spans = gen_doc_spans(doc_index, seed=42)
    doc = _ref_doc_with_page_images(f"doc_{doc_index}", spans)
    viz = ReadingOrderVisualizer(
        params=ReadingOrderVisualizer.Params(show_branch_numbering=True))
    images = viz.get_visualization(doc=doc)
    want = _ref_calls_to_rows(images)
    want = {p: calls for p, calls in want.items() if calls}
    got = _engine_rows_by_page(
        reading_order_rows(f"doc_{doc_index}", spans,
                           show_branch_numbering=True))
    assert got == want


def test_spark_viz_matches_single_process(spark):
    from docling_core_spark.engine import synth_documents
    from docling_core_spark.visualize import visualize_layout

    docs = synth_documents(spark, 10, seed=42)
    got = visualize_layout(docs).toPandas()
    exp = []
    for i in range(10):
        exp.extend(layout_draw_rows(f"doc_{i:012d}",
                                    gen_doc_spans(i, seed=42)))
    assert len(got) == len(exp)
    key = ["doc_id", "page_no", "seq"]
    got_s = got.sort_values(key).reset_index(drop=True)
    import pandas as pd

    want_s = pd.DataFrame(exp).sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got_s.astype({"page_no": "int64", "seq": "int64",
                      "width": "int64"}),
        want_s.astype({"page_no": "int64", "seq": "int64",
                       "width": "int64"}))


@pytest.mark.parametrize("doc_index", [3, 7, 17, 42])
def test_table_visualizer_parity(doc_index):
    """Cells get deterministic uniform-grid bboxes (logical tables
    carry no OCR geometry); with the same synthesis applied to the
    reference TableData, the live TableVisualizer's draw calls equal
    the engine rows."""
    _install_recording_pil()
    reference()
    from docling_core.transforms.visualizer.table_visualizer import (
        TableVisualizer,
    )
    from docling_core.types.doc.base import BoundingBox as RefBBox
    from docling_core.types.doc.base import CoordOrigin

    from docling_core_spark.visualize import (
        synth_cell_bbox,
        table_viz_rows,
    )

    spans = gen_doc_spans(doc_index, seed=42)
    doc = _ref_doc_with_page_images(f"doc_{doc_index}", spans)
    # assign the engine's synthetic grid geometry to the reference cells
    offsets = {}
    for s in spans:
        offsets[len(offsets)] = None
    # map table items to their span offsets via prov bbox identity
    for t in doc.tables:
        tb = t.prov[0].bbox.as_tuple()
        n_rows, n_cols = t.data.num_rows, t.data.num_cols
        for cell in t.data.table_cells:
            l, tt, r, b = synth_cell_bbox(
                tb, n_rows, n_cols,
                cell.start_row_offset_idx, cell.end_row_offset_idx,
                cell.start_col_offset_idx, cell.end_col_offset_idx)
            cell.bbox = RefBBox(l=l, t=tt, r=r, b=b,
                                coord_origin=CoordOrigin.TOPLEFT)
    images = TableVisualizer().get_visualization(doc=doc)
    want = {p: calls for p, calls in _ref_calls_to_rows(images).items()
            if calls}
    got = _engine_rows_by_page(table_viz_rows(f"doc_{doc_index}", spans))
    assert got == want


@pytest.mark.parametrize("doc_index", [3, 5, 20, 28, 31])
def test_key_value_visualizer_parity(doc_index):
    """KV cells get vertical-slot synthetic provenance; with the same
    geometry on the reference GraphCells, the live KeyValueVisualizer
    draws identically (cell rects + tags, TO_VALUE link arrows)."""
    _install_recording_pil()
    reference()
    from docling_core.transforms.visualizer.key_value_visualizer import (
        KeyValueVisualizer,
    )
    from docling_core.types.doc.base import BoundingBox as RefBBox
    from docling_core.types.doc.base import CoordOrigin
    from docling_core.types.doc.document import ProvenanceItem

    from docling_core_spark.visualize import (
        kv_viz_rows,
        synth_kv_cell_bbox,
    )

    spans = gen_doc_spans(doc_index, seed=42)
    if not any(s["kind"] == "key_value_region" for s in spans):
        pytest.skip("no kv region in this doc")
    doc = _ref_doc_with_page_images(f"doc_{doc_index}", spans)
    for kv in doc.key_value_items:
        region = kv.prov[0].bbox.as_tuple()
        page_no = kv.prov[0].page_no
        n = len(kv.graph.cells)
        for i, cell in enumerate(kv.graph.cells):
            l, t, r, b = synth_kv_cell_bbox(region, n, i)
            cell.prov = ProvenanceItem(
                page_no=page_no,
                bbox=RefBBox(l=l, t=t, r=r, b=b,
                             coord_origin=CoordOrigin.TOPLEFT),
                charspan=(0, 0))
    images = KeyValueVisualizer().get_visualization(doc=doc)
    want = {p: calls for p, calls in _ref_calls_to_rows(images).items()
            if calls}
    got = _engine_rows_by_page(kv_viz_rows(f"doc_{doc_index}", spans))
    assert got == want
    if not want:
        pytest.skip("kv region is cell-less in this doc")
