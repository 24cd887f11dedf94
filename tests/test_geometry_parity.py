"""Geometry parity vs. the reference BoundingBox on randomized boxes,
plus TB7 row/col bbox aggregation parity and the Spark column builders.
"""

from __future__ import annotations

import random

import pytest

from docling_core_spark.model.geometry import (
    BBox,
    Size as ESize,
    column_bounding_boxes,
    row_bounding_boxes,
)
from tests.refstubs import reference

N_PAIRS = 300


def _coords(rng, origin):
    """Two random (l, t, r, b) boxes in the ``origin`` convention."""
    def one():
        l = rng.uniform(0, 500)
        w = rng.uniform(0, 200)
        t = rng.uniform(0, 700)
        h = rng.uniform(0, 100)
        if origin == "TOPLEFT":
            return (l, t, l + w, t + h)
        return (l, t + h, l + w, t)  # BOTTOMLEFT: b <= t
    return one(), one()


def _pair(rng, origin):
    reference()
    from docling_core.types.doc.base import BoundingBox, CoordOrigin

    a, b = _coords(rng, origin)
    co = (CoordOrigin.TOPLEFT if origin == "TOPLEFT"
          else CoordOrigin.BOTTOMLEFT)
    ra = BoundingBox(l=a[0], t=a[1], r=a[2], b=a[3], coord_origin=co)
    rb = BoundingBox(l=b[0], t=b[1], r=b[2], b=b[3], coord_origin=co)
    ea = BBox(a[0], a[1], a[2], a[3], origin)
    eb = BBox(b[0], b[1], b[2], b[3], origin)
    return ra, rb, ea, eb


@pytest.mark.parametrize("origin", ["TOPLEFT", "BOTTOMLEFT"])
def test_binary_ops_parity(origin):
    rng = random.Random(7)
    for _ in range(N_PAIRS):
        ra, rb, ea, eb = _pair(rng, origin)
        assert ea.area() == pytest.approx(ra.area())
        assert ea.intersection_area_with(eb) == pytest.approx(
            ra.intersection_area_with(rb))
        assert ea.intersection_over_union(eb) == pytest.approx(
            ra.intersection_over_union(rb))
        assert ea.intersection_over_self(eb) == pytest.approx(
            ra.intersection_over_self(rb))
        assert ea.union_area_with(eb) == pytest.approx(
            ra.union_area_with(rb))
        assert ea.x_overlap_with(eb) == pytest.approx(
            ra.x_overlap_with(rb))
        assert ea.y_overlap_with(eb) == pytest.approx(
            ra.y_overlap_with(rb))
        assert ea.x_union_with(eb) == pytest.approx(ra.x_union_with(rb))
        assert ea.y_union_with(eb) == pytest.approx(ra.y_union_with(rb))
        assert ea.overlaps(eb) == ra.overlaps(rb)
        assert ea.overlaps_horizontally(eb) == ra.overlaps_horizontally(rb)
        assert ea.overlaps_vertically(eb) == ra.overlaps_vertically(rb)
        for iou in (0.1, 0.5, 0.9):
            assert ea.overlaps_vertically_with_iou(eb, iou) == \
                ra.overlaps_vertically_with_iou(rb, iou)
        assert ea.is_left_of(eb) == ra.is_left_of(rb)
        assert ea.is_strictly_left_of(eb) == ra.is_strictly_left_of(rb)
        assert ea.is_above(eb) == ra.is_above(rb)
        assert ea.is_strictly_above(eb) == ra.is_strictly_above(rb)


@pytest.mark.parametrize("origin", ["TOPLEFT", "BOTTOMLEFT"])
def test_transforms_parity(origin):
    reference()
    from docling_core.types.doc.base import Size

    rng = random.Random(11)
    for _ in range(100):
        ra, _, ea, _ = _pair(rng, origin)
        for (er, rr) in [
            (ea.scaled(2.5), ra.scaled(2.5)),
            (ea.resize_by_scale(1.3, 0.7), ra.resize_by_scale(1.3, 0.7)),
            (ea.normalized(ESize(612.0, 792.0)),
             ra.normalized(Size(width=612.0, height=792.0))),
            (ea.expand_by_scale(0.1, 0.2), ra.expand_by_scale(0.1, 0.2)),
            (ea.to_bottom_left_origin(792.0),
             ra.to_bottom_left_origin(792.0)),
            (ea.to_top_left_origin(792.0), ra.to_top_left_origin(792.0)),
        ]:
            assert er.as_tuple() == pytest.approx(rr.as_tuple())
            assert er.coord_origin == rr.coord_origin.value


def test_enclosing_and_from_tuple():
    reference()
    from docling_core.types.doc.base import BoundingBox, CoordOrigin

    rng = random.Random(13)
    for origin in ("TOPLEFT", "BOTTOMLEFT"):
        co = (CoordOrigin.TOPLEFT if origin == "TOPLEFT"
              else CoordOrigin.BOTTOMLEFT)
        rs, es = [], []
        for _ in range(5):
            ra, _, ea, _ = _pair(rng, origin)
            rs.append(ra)
            es.append(ea)
        assert BBox.enclosing_bbox(es).as_tuple() == pytest.approx(
            BoundingBox.enclosing_bbox(rs).as_tuple())
        # from_tuple normalizes swapped coordinates
        t = (30.0, 10.0, 20.0, 50.0)
        assert BBox.from_tuple(t, origin).as_tuple() == pytest.approx(
            BoundingBox.from_tuple(t, co).as_tuple())


def test_mixed_origin_raises():
    a = BBox(0, 0, 10, 10, "TOPLEFT")
    b = BBox(0, 10, 10, 0, "BOTTOMLEFT")
    with pytest.raises(ValueError):
        a.intersection_area_with(b)
    with pytest.raises(ValueError):
        a.overlaps_vertically(b)


def test_row_col_bboxes_parity():
    """TB7 vs. the reference TableData.get_row/column_bounding_boxes."""
    reference()
    from docling_core.types.doc.base import BoundingBox, CoordOrigin
    from docling_core.types.doc.document import TableCell, TableData

    rng = random.Random(17)
    for _ in range(20):
        nrows, ncols = rng.randint(2, 5), rng.randint(2, 5)
        ref_cells, eng_cells = [], []
        for i in range(nrows):
            for j in range(ncols):
                if rng.random() < 0.15:
                    continue  # cell without bbox/missing
                rs = 2 if (rng.random() < 0.2 and i + 1 < nrows) else 1
                l, t = j * 100.0 + rng.uniform(0, 5), i * 50.0
                bbox = BoundingBox(l=l, t=t, r=l + 90, b=t + 45 * rs,
                                   coord_origin=CoordOrigin.TOPLEFT)
                ref_cells.append(TableCell(
                    text="x", start_row_offset_idx=i,
                    end_row_offset_idx=i + rs, start_col_offset_idx=j,
                    end_col_offset_idx=j + 1, bbox=bbox))
                eng_cells.append({
                    "bbox": BBox(bbox.l, bbox.t, bbox.r, bbox.b,
                                 "TOPLEFT"),
                    "sr": i, "er": i + rs, "sc": j, "ec": j + 1})
        data = TableData(table_cells=ref_cells, num_rows=nrows,
                         num_cols=ncols)
        exp_rows = {k: v.as_tuple()
                    for k, v in data.get_row_bounding_boxes().items()}
        exp_cols = {k: v.as_tuple()
                    for k, v in data.get_column_bounding_boxes().items()}
        got_rows = {k: v.as_tuple() for k, v in
                    row_bounding_boxes(eng_cells, nrows).items()}
        got_cols = {k: v.as_tuple() for k, v in
                    column_bounding_boxes(eng_cells, ncols).items()}
        assert got_rows.keys() == exp_rows.keys()
        for k in exp_rows:
            assert got_rows[k] == pytest.approx(exp_rows[k])
        assert got_cols.keys() == exp_cols.keys()
        for k in exp_cols:
            assert got_cols[k] == pytest.approx(exp_cols[k])


def test_spark_column_builders(spark):
    """The DataFrame-side formulas agree with the scalar class."""
    from pyspark.sql import functions as F

    from docling_core_spark.model.geometry import (
        intersection_area_col,
        iou_col,
        overlaps_col,
    )

    rng = random.Random(23)
    rows = []
    for _ in range(200):
        a, b = _coords(rng, "TOPLEFT")
        ea, eb = BBox(*a, "TOPLEFT"), BBox(*b, "TOPLEFT")
        rows.append((ea.as_tuple(), eb.as_tuple()))
    df = spark.createDataFrame(
        [((a[0], a[1], a[2], a[3]), (b[0], b[1], b[2], b[3]))
         for a, b in rows],
        "a struct<l:double,t:double,r:double,b:double>, "
        "b struct<l:double,t:double,r:double,b:double>")
    got = df.select(
        intersection_area_col(F.col("a"), F.col("b")).alias("inter"),
        iou_col(F.col("a"), F.col("b")).alias("iou"),
        overlaps_col(F.col("a"), F.col("b")).alias("ov")).collect()
    for (a, b), row in zip(rows, got):
        ea = BBox(*a)
        eb = BBox(*b)
        assert row["inter"] == pytest.approx(
            ea.intersection_area_with(eb))
        assert row["iou"] == pytest.approx(ea.intersection_over_union(eb))
        assert row["ov"] == ea.overlaps(eb)
