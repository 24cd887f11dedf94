"""PDF page sidecar parity vs the LIVE reference classes
(types/doc/page.py): rotated-rect geometry, cell selection, text
cropping, textline export."""

from __future__ import annotations

import random

import pytest

import tests.refstubs as refstubs

refstubs.install()

from docling_core.types.doc.base import (  # noqa: E402
    BoundingBox,
    CoordOrigin,
)
from docling_core.types.doc.page import (  # noqa: E402
    BoundingRectangle,
    PdfPageBoundaryType,
    PdfPageGeometry,
    SegmentedPdfPage,
    TextCell,
    TextCellUnit,
)

from docling_core_spark.pdfpage import (  # noqa: E402
    BOTTOMLEFT,
    TOPLEFT,
    gen_page_cells,
    py_cells_in_bbox,
    py_crop_text,
    py_textlines,
    rect_angle,
    rect_angle_360,
    rect_centre,
    rect_flip_origin,
    rect_from_bbox,
    rect_height,
    rect_to_bbox,
    rect_width,
)


def _rand_quads(n=200, seed=9):
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        x, y = rng.uniform(0, 500), rng.uniform(0, 700)
        w, h = rng.uniform(1, 200), rng.uniform(1, 40)
        import math
        a = rng.choice([0, 0, 0, math.pi / 2, math.pi,
                        3 * math.pi / 2, rng.uniform(0, 6.28)])
        ca, sa = math.cos(a), math.sin(a)
        q = (x, y,
             x + w * ca, y + w * sa,
             x + w * ca - h * sa, y + w * sa + h * ca,
             x - h * sa, y + h * ca)
        out.append(q)
    return out


def _ref_rect(q, origin=BOTTOMLEFT) -> BoundingRectangle:
    return BoundingRectangle(
        r_x0=q[0], r_y0=q[1], r_x1=q[2], r_y1=q[3],
        r_x2=q[4], r_y2=q[5], r_x3=q[6], r_y3=q[7],
        coord_origin=(CoordOrigin.BOTTOMLEFT if origin == BOTTOMLEFT
                      else CoordOrigin.TOPLEFT))


def test_rect_geometry_parity():
    for q in _rand_quads():
        ref = _ref_rect(q)
        assert rect_width(q) == pytest.approx(ref.width, abs=1e-12)
        assert rect_height(q) == pytest.approx(ref.height, abs=1e-12)
        assert rect_angle(q) == pytest.approx(ref.angle, abs=1e-12)
        assert rect_angle_360(q) == ref.angle_360
        assert rect_centre(q) == pytest.approx(ref.centre)
        l, t, r, b = rect_to_bbox(q, BOTTOMLEFT)
        rb = ref.to_bounding_box()
        assert (l, t, r, b) == (rb.l, rb.t, rb.r, rb.b)


def test_rect_geometry_parity_topleft():
    for q in _rand_quads(50, seed=3):
        ref = _ref_rect(q, TOPLEFT)
        assert rect_angle(q, TOPLEFT) == pytest.approx(ref.angle,
                                                       abs=1e-12)
        l, t, r, b = rect_to_bbox(q, TOPLEFT)
        rb = ref.to_bounding_box()
        assert (l, t, r, b) == (rb.l, rb.t, rb.r, rb.b)


def test_rect_bbox_roundtrip_and_flip():
    for q in _rand_quads(50, seed=5):
        ref = _ref_rect(q)
        flipped = ref.to_top_left_origin(792.0)
        ours = rect_flip_origin(q, 792.0)
        assert (flipped.r_x0, flipped.r_y0, flipped.r_x1, flipped.r_y1,
                flipped.r_x2, flipped.r_y2, flipped.r_x3, flipped.r_y3) \
            == ours
    bb = BoundingBox(l=1.0, t=9.0, r=5.0, b=2.0,
                     coord_origin=CoordOrigin.BOTTOMLEFT)
    ref = BoundingRectangle.from_bounding_box(bb)
    assert rect_from_bbox(1.0, 9.0, 5.0, 2.0, BOTTOMLEFT) == (
        ref.r_x0, ref.r_y0, ref.r_x1, ref.r_y1, ref.r_x2, ref.r_y2,
        ref.r_x3, ref.r_y3)


def _ref_page(page: dict) -> SegmentedPdfPage:
    def cell(c):
        return TextCell(index=c["index"], text=c["text"], orig=c["text"],
                        rect=_ref_rect(c["quad"]), from_ocr=False)

    w, h = page["dimension"]
    page_bbox = BoundingBox(l=0, t=h, r=w, b=0,
                            coord_origin=CoordOrigin.BOTTOMLEFT)
    return SegmentedPdfPage(
        dimension=PdfPageGeometry(
            angle=0.0,
            rect=BoundingRectangle.from_bounding_box(page_bbox),
            boundary_type=PdfPageBoundaryType.CROP_BOX,
            art_bbox=page_bbox, bleed_bbox=page_bbox,
            crop_bbox=page_bbox, media_bbox=page_bbox,
            trim_bbox=page_bbox),
        char_cells=[],
        word_cells=[cell(c) for c in page["words"]],
        textline_cells=[cell(c) for c in page["lines"]],
    )


BBOXES = [(100.0, 760.0, 400.0, 600.0), (0.0, 792.0, 612.0, 0.0),
          (36.0, 700.0, 300.0, 500.0)]


@pytest.mark.parametrize("doc_index", [0, 1, 5, 17, 33])
def test_cells_in_bbox_parity(doc_index):
    page = gen_page_cells(doc_index)
    ref_page = _ref_page(page)
    for l, t, r, b in BBOXES:
        bb = BoundingBox(l=l, t=t, r=r, b=b,
                         coord_origin=CoordOrigin.BOTTOMLEFT)
        want = [(c.index, c.text) for c in ref_page.get_cells_in_bbox(
            TextCellUnit.WORD, bb, ios=0.8)]
        got = [(c["index"], c["text"])
               for c in py_cells_in_bbox(page, (l, t, r, b))]
        assert got == want


@pytest.mark.parametrize("doc_index", [0, 2, 9, 41])
def test_crop_text_parity(doc_index):
    page = gen_page_cells(doc_index)
    ref_page = _ref_page(page)
    for l, t, r, b in BBOXES:
        bb = BoundingBox(l=l, t=t, r=r, b=b,
                         coord_origin=CoordOrigin.BOTTOMLEFT)
        want = ref_page.crop_text(TextCellUnit.WORD, bb)
        got = py_crop_text(page, (l, t, r, b))
        assert got == want


@pytest.mark.parametrize("doc_index", [0, 7])
def test_textlines_parity(doc_index):
    page = gen_page_cells(doc_index)
    ref_page = _ref_page(page)
    want = ref_page.export_to_textlines(TextCellUnit.LINE,
                                        add_location=True,
                                        add_fontkey=False,
                                        add_fontname=False,
                                        add_text_direction=False)
    got = py_textlines(page, unit="line", add_fontname=False,
                       add_text_direction=False)
    assert got == want


def test_spark_matches_single_process(spark, tmp_path):
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from docling_core_spark.pdfpage import (
        _CELL_COLS,
        _append_cell_rows,
        _arrow_cell_schema,
        cells_in_bbox,
        crop_text,
        textlines,
    )

    cols = {k: [] for k in _CELL_COLS}
    for i in range(30):
        _append_cell_rows(cols, i, gen_page_cells(i))
    pq.write_table(pa.Table.from_pydict(cols, schema=_arrow_cell_schema()),
                   str(tmp_path / "cells.parquet"))
    cells = spark.read.parquet(str(tmp_path / "cells.parquet"))
    bbox = BBOXES[0]
    got = (cells_in_bbox(cells, bbox)
           .select("doc_id", "idx", "text").toPandas()
           .sort_values(["doc_id", "idx"]).reset_index(drop=True))
    exp = []
    for i in range(30):
        for c in py_cells_in_bbox(gen_page_cells(i), bbox):
            exp.append({"doc_id": f"doc_{i:012d}", "idx": c["index"],
                        "text": c["text"]})
    want = (pd.DataFrame(exp).sort_values(["doc_id", "idx"])
            .reset_index(drop=True))
    pd.testing.assert_frame_equal(got.astype({"idx": "int64"}),
                                  want.astype({"idx": "int64"}))

    got_t = (crop_text(cells, bbox).toPandas()
             .sort_values("doc_id").reset_index(drop=True))
    exp_t = [{"doc_id": f"doc_{i:012d}", "page_no": 1,
              "text": py_crop_text(gen_page_cells(i), bbox)}
             for i in range(30)
             if py_crop_text(gen_page_cells(i), bbox)]
    # crop_text emits no row for pages with zero contained cells
    want_t = (pd.DataFrame(exp_t).sort_values("doc_id")
              .reset_index(drop=True))
    assert list(got_t["text"]) == list(want_t["text"])

    got_l = textlines(cells).toPandas()
    exp_n = sum(len(gen_page_cells(i)["lines"]) for i in range(30))
    assert len(got_l) == exp_n


def test_segmented_page_json_interop():
    """Engine cell rows -> reference-schema JSON: the live
    SegmentedPdfPage loads it and its get_cells_in_bbox equals the
    engine's columnar selection."""
    from docling_core_spark.pdfpage import page_to_segmented_json

    page = gen_page_cells(3)
    rows = []
    for unit, cells in (("word", page["words"]), ("line", page["lines"])):
        for c in cells:
            rows.append({"idx": c["index"], "text": c["text"],
                         "unit": unit,
                         "rx0": c["quad"][0], "ry0": c["quad"][1],
                         "rx1": c["quad"][2], "ry1": c["quad"][3],
                         "rx2": c["quad"][4], "ry2": c["quad"][5],
                         "rx3": c["quad"][6], "ry3": c["quad"][7],
                         "text_direction": c["text_direction"]})
    js = page_to_segmented_json("doc_3", 1, rows)
    sp = SegmentedPdfPage.model_validate(js)
    assert len(sp.word_cells) == len(page["words"])
    assert sp.dimension.width == 612.0 and sp.dimension.height == 792.0
    l, t, r, b = BBOXES[0]
    bb = BoundingBox(l=l, t=t, r=r, b=b,
                     coord_origin=CoordOrigin.BOTTOMLEFT)
    want = [(c.index, c.text)
            for c in sp.get_cells_in_bbox(TextCellUnit.WORD, bb)]
    got = [(c["index"], c["text"])
           for c in py_cells_in_bbox(page, (l, t, r, b))]
    assert got == want
    # and the reference round-trips its own export of our page
    sp2 = SegmentedPdfPage.model_validate(sp.export_to_dict())
    assert len(sp2.textline_cells) == len(page["lines"])
