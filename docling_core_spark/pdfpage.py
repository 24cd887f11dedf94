"""OCR/PDF page sidecar (types/doc/page.py:50-1301), columnar.

The reference models a parsed PDF page as object graphs
(``SegmentedPdfPage`` holding char/word/line ``TextCell`` lists with
rotated ``BoundingRectangle`` quads). At 10^12 documents that layer is
a TABLE, not an object graph, so the engine's shape is

    pdf_cells(doc_id, page_no, unit, idx, text,
              rx0..ry3 double  (quad corners),
              coord_origin, font_name, text_direction)
    pdf_pages(doc_id, page_no, width, height)

and the sidecar's query surface becomes pure-columnar plans (every
operator below stays inside whole-stage codegen; nothing drops to
Python):

* rect geometry - width/height/angle/angle_360/centre/to_bbox/origin
  flips mirror BoundingRectangle (page.py:103-258), as both Python
  helpers (oracle/tests) and Spark column expressions.
* ``cells_in_bbox`` - get_cells_in_bbox (page.py:557-583):
  intersection-over-self > ios against the quad's enclosing bbox.
* ``crop_text`` - crop_text (page.py:624-668): strict containment in
  BOTTOMLEFT coords, order by cell index, adjacent cells (corner
  distance < eps) concatenate without a separator.
* ``textlines`` - export_to_textlines (page.py:669-710): the
  "(%06.2f, %06.2f) ..." formatted dump.

Parity: tests/test_pdfpage.py checks every helper and operator against
the LIVE reference classes on deterministic synthetic pages.
"""

from __future__ import annotations

import math
import random
from typing import Dict, List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TOPLEFT = "TOPLEFT"
BOTTOMLEFT = "BOTTOMLEFT"


# ----------------------------------------------------------------------
# rect geometry (pure; mirrors BoundingRectangle page.py:103-258)
# ----------------------------------------------------------------------

Quad = Tuple[float, float, float, float, float, float, float, float]


def rect_width(q: Quad) -> float:
    return math.sqrt((q[2] - q[0]) ** 2 + (q[3] - q[1]) ** 2)


def rect_height(q: Quad) -> float:
    return math.sqrt((q[6] - q[0]) ** 2 + (q[7] - q[1]) ** 2)


def rect_angle(q: Quad, coord_origin: str = BOTTOMLEFT) -> float:
    p0 = ((q[0] + q[6]) / 2.0, (q[1] + q[7]) / 2.0)
    p1 = ((q[2] + q[4]) / 2.0, (q[3] + q[5]) / 2.0)
    dx, dy = p1[0] - p0[0], p1[1] - p0[1]
    if coord_origin == TOPLEFT:
        dy = -dy
    if abs(dy) < 1.0e-3:
        angle = 0.0
    elif abs(dx) < 1.0e-3:
        angle = math.pi / 2.0 if dy > 0 else -math.pi / 2.0
    else:
        angle = math.atan(dy / dx)
    if dx < 0:
        angle += math.pi
    return angle % (2 * math.pi)


def rect_angle_360(q: Quad, coord_origin: str = BOTTOMLEFT) -> int:
    # round() here is Python banker's rounding - the reference uses the
    # same builtin (page.py:156-159)
    return round(rect_angle(q, coord_origin) / math.pi * 180)


def rect_centre(q: Quad) -> Tuple[float, float]:
    return ((q[0] + q[2] + q[4] + q[6]) / 4.0,
            (q[1] + q[3] + q[5] + q[7]) / 4.0)


def rect_to_bbox(q: Quad, coord_origin: str) -> Tuple[float, float, float, float]:
    """-> (l, t, r, b) exactly as BoundingRectangle.to_bounding_box."""
    ys = (q[1], q[3], q[5], q[7])
    xs = (q[0], q[2], q[4], q[6])
    if coord_origin == BOTTOMLEFT:
        top, bottom = max(ys), min(ys)
    else:
        top, bottom = min(ys), max(ys)
    return min(xs), top, max(xs), bottom


def rect_from_bbox(l: float, t: float, r: float, b: float,
                   coord_origin: str) -> Quad:
    return (l, b, r, b, r, t, l, t)


def rect_flip_origin(q: Quad, page_height: float) -> Quad:
    """TOPLEFT <-> BOTTOMLEFT: y -> page_height - y (page.py:211-258)."""
    return (q[0], page_height - q[1], q[2], page_height - q[3],
            q[4], page_height - q[5], q[6], page_height - q[7])


# ----------------------------------------------------------------------
# deterministic synthetic segmented pages
# ----------------------------------------------------------------------

_PDF_WORDS = ("invoice total amount page section header body clause "
              "contract party signature witness date reference number "
              "appendix schedule exhibit table figure note margin").split()

_FONTS = ("Helvetica", "Times-Roman", "Courier", "Arial-Bold")


def gen_page_cells(doc_index: int, page_no: int = 1,
                   seed: int = 42) -> Dict[str, list]:
    """One synthetic segmented page: word cells laid out in lines, a
    fraction rotated (90/180/270), plus derived line cells. Pure
    function of (seed, doc_index, page_no) - Spark generator and
    oracle replicate bit-identically.

    Returns {"dimension": (w, h), "words": [cell...], "lines": [...]}
    with cell = dict(index, text, quad(BOTTOMLEFT), font_name,
    text_direction)."""
    rng = random.Random((seed << 40) ^ (doc_index << 8) ^ page_no)
    width, height = 612.0, 792.0
    words: List[dict] = []
    lines: List[dict] = []
    y = height - 40.0
    idx = 0
    for _line in range(rng.randint(4, 14)):
        x = 36.0
        n_words = rng.randint(2, 9)
        line_text = []
        x_start = x
        font = rng.choice(_FONTS)
        for _w in range(n_words):
            word = rng.choice(_PDF_WORDS)
            w_pix = 6.2 * len(word)
            quad = (x, y, x + w_pix, y, x + w_pix, y + 10.0, x, y + 10.0)
            if rng.random() < 0.08:
                # rotated stamp: swap into a vertical quad
                quad = (x, y, x, y + w_pix, x - 10.0, y + w_pix,
                        x - 10.0, y)
            words.append({"index": idx, "text": word, "quad": quad,
                          "font_name": font,
                          "text_direction": "left_to_right"})
            idx += 1
            line_text.append(word)
            x += w_pix + 3.1
        lines.append({"index": len(lines), "text": " ".join(line_text),
                      "quad": (x_start, y, x - 3.1, y, x - 3.1, y + 10.0,
                               x_start, y + 10.0),
                      "font_name": font,
                      "text_direction": "left_to_right"})
        y -= 14.0 + (3.0 if rng.random() < 0.2 else 0.0)
    return {"dimension": (width, height), "words": words, "lines": lines}


_CELL_COLS = ("doc_id", "page_no", "unit", "idx", "text",
              "rx0", "ry0", "rx1", "ry1", "rx2", "ry2", "rx3", "ry3",
              "coord_origin", "font_name", "text_direction",
              "page_w", "page_h")


def _arrow_cell_schema():
    import pyarrow as pa

    return pa.schema(
        [("doc_id", pa.string()), ("page_no", pa.int32()),
         ("unit", pa.string()), ("idx", pa.int32()),
         ("text", pa.string())]
        + [(n, pa.float64()) for n in ("rx0", "ry0", "rx1", "ry1",
                                       "rx2", "ry2", "rx3", "ry3")]
        + [("coord_origin", pa.string()), ("font_name", pa.string()),
           ("text_direction", pa.string()),
           ("page_w", pa.float64()), ("page_h", pa.float64())])


def _append_cell_rows(cols: Dict[str, list], doc_index: int,
                      page: dict) -> None:
    """Flatten one synthetic page into the columnar cell layout (the
    single definition of the cell-row shape)."""
    w, h = page["dimension"]
    for unit, cells in (("word", page["words"]),
                        ("line", page["lines"])):
        for c in cells:
            cols["doc_id"].append(f"doc_{doc_index:012d}")
            cols["page_no"].append(1)
            cols["unit"].append(unit)
            cols["idx"].append(c["index"])
            cols["text"].append(c["text"])
            for j, name in enumerate(("rx0", "ry0", "rx1", "ry1",
                                      "rx2", "ry2", "rx3", "ry3")):
                cols[name].append(float(c["quad"][j]))
            cols["coord_origin"].append(BOTTOMLEFT)
            cols["font_name"].append(c["font_name"])
            cols["text_direction"].append(c["text_direction"])
            cols["page_w"].append(w)
            cols["page_h"].append(h)


# ----------------------------------------------------------------------
# columnar operators
# ----------------------------------------------------------------------

def _bbox_cols(df: DataFrame, origin: str) -> DataFrame:
    """Append (l, t, r, b) of the quad's enclosing bbox in ``origin``
    coordinates - pure column math, fully codegen'd."""
    ys = [F.col(c) for c in ("ry0", "ry1", "ry2", "ry3")]
    xs = [F.col(c) for c in ("rx0", "rx1", "rx2", "rx3")]
    # cells are stored BOTTOMLEFT; flip when the caller wants TOPLEFT
    if origin == TOPLEFT:
        ys = [F.col("page_h") - y for y in ys]
        t = F.least(*ys)
        b = F.greatest(*ys)
    else:
        t = F.greatest(*ys)
        b = F.least(*ys)
    return (df.withColumn("bb_l", F.least(*xs))
              .withColumn("bb_r", F.greatest(*xs))
              .withColumn("bb_t", t)
              .withColumn("bb_b", b))


def cells_in_bbox(cells: DataFrame, bbox: Tuple[float, float, float, float],
                  unit: str = "word", origin: str = BOTTOMLEFT,
                  ios: float = 0.8) -> DataFrame:
    """get_cells_in_bbox (page.py:557-583) as a codegen filter:
    intersection_over_self(cell_bbox, bbox) > ios."""
    l, t, r, b = bbox
    df = _bbox_cols(cells.filter(F.col("unit") == unit), origin)
    ix = F.greatest(F.lit(0.0),
                    F.least(F.col("bb_r"), F.lit(r))
                    - F.greatest(F.col("bb_l"), F.lit(l)))
    if origin == BOTTOMLEFT:
        iy = F.greatest(F.lit(0.0),
                        F.least(F.col("bb_t"), F.lit(t))
                        - F.greatest(F.col("bb_b"), F.lit(b)))
    else:
        iy = F.greatest(F.lit(0.0),
                        F.least(F.col("bb_b"), F.lit(b))
                        - F.greatest(F.col("bb_t"), F.lit(t)))
    area = ((F.col("bb_r") - F.col("bb_l"))
            * F.abs(F.col("bb_t") - F.col("bb_b")))
    sel = df.filter(
        F.when(area > 0, (ix * iy) / area > F.lit(ios))
        .otherwise(F.lit(False)))
    return sel.drop("bb_l", "bb_r", "bb_t", "bb_b")


def crop_text(cells: DataFrame, bbox: Tuple[float, float, float, float],
              unit: str = "word", eps: float = 1.0) -> DataFrame:
    """crop_text (page.py:624-668) per (doc_id, page_no): strict
    containment, index order, adjacency-aware concatenation - one
    shuffle on the grouping key, string assembly via higher-order
    aggregate (no Python)."""
    from pyspark.sql.window import Window

    l, t, r, b = bbox  # BOTTOMLEFT semantics (reference converts first)
    df = _bbox_cols(cells.filter(F.col("unit") == unit), BOTTOMLEFT)
    contained = df.filter((F.lit(l) <= F.col("bb_l"))
                          & (F.col("bb_r") <= F.lit(r))
                          & (F.lit(b) <= F.col("bb_b"))
                          & (F.col("bb_t") <= F.lit(t)))
    w = Window.partitionBy("doc_id", "page_no").orderBy("idx")
    pieces = contained.select(
        "doc_id", "page_no", "idx", "text",
        F.lag("rx1").over(w).alias("prev_x1"),
        F.lag("ry1").over(w).alias("prev_y1"),
        F.col("rx0"), F.col("ry0"))
    pieces = pieces.withColumn(
        "piece",
        F.when(F.col("prev_x1").isNull(), F.col("text"))
        .when((F.abs(F.col("rx0") - F.col("prev_x1")) < eps)
              & (F.abs(F.col("ry0") - F.col("prev_y1")) < eps),
              F.col("text"))
        .otherwise(F.concat(F.lit(" "), F.col("text"))))
    return (pieces.groupBy("doc_id", "page_no")
            .agg(F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.struct("idx", "piece"))),
                    lambda s: s["piece"]), "").alias("text")))


def textlines(cells: DataFrame, unit: str = "line",
              add_location: bool = True, add_fontname: bool = True,
              add_text_direction: bool = True) -> DataFrame:
    """export_to_textlines (page.py:669-710) as a format_string
    projection."""
    df = cells.filter(F.col("unit") == unit)
    parts = []
    if add_location:
        parts.append(F.format_string(
            "(%06.2f, %06.2f) (%06.2f, %06.2f) (%06.2f, %06.2f) "
            "(%06.2f, %06.2f) ",
            "rx0", "ry0", "rx1", "ry1", "rx2", "ry2", "rx3", "ry3"))
    if add_fontname:
        parts.append(F.format_string("%10s ", "font_name"))
    if add_text_direction:
        parts.append(F.concat("text_direction", F.lit(" ")))
    parts.append(F.col("text"))
    return df.select("doc_id", "page_no", "idx",
                     F.concat(*parts).alias("line"))


# ----------------------------------------------------------------------
# single-process replicas (oracle/tests)
# ----------------------------------------------------------------------

def py_cells_in_bbox(page: dict, bbox: Tuple[float, float, float, float],
                     unit: str = "word", origin: str = BOTTOMLEFT,
                     ios: float = 0.8) -> List[dict]:
    l, t, r, b = bbox
    out = []
    h = page["dimension"][1]
    for c in page["words"] if unit == "word" else page["lines"]:
        q = c["quad"] if origin == BOTTOMLEFT else rect_flip_origin(
            c["quad"], h)
        cl, ct, cr, cb = rect_to_bbox(q, origin)
        ix = max(0.0, min(cr, r) - max(cl, l))
        if origin == BOTTOMLEFT:
            iy = max(0.0, min(ct, t) - max(cb, b))
        else:
            iy = max(0.0, min(cb, b) - max(ct, t))
        area = (cr - cl) * abs(ct - cb)
        if area > 0 and (ix * iy) / area > ios:
            out.append(c)
    return out


def py_crop_text(page: dict, bbox: Tuple[float, float, float, float],
                 unit: str = "word", eps: float = 1.0) -> str:
    l, t, r, b = bbox
    sel = []
    for c in page["words"] if unit == "word" else page["lines"]:
        cl, ct, cr, cb = rect_to_bbox(c["quad"], BOTTOMLEFT)
        if l <= cl and cr <= r and b <= cb and ct <= t:
            sel.append(c)
    sel.sort(key=lambda c: c["index"])
    text = ""
    for i, c in enumerate(sel):
        if i == 0:
            text += c["text"]
        else:
            p = sel[i - 1]
            if (abs(c["quad"][0] - p["quad"][2]) < eps
                    and abs(c["quad"][1] - p["quad"][3]) < eps):
                text += c["text"]
            else:
                text += " " + c["text"]
    return text


def py_textlines(page: dict, unit: str = "line",
                 add_location: bool = True, add_fontname: bool = True,
                 add_text_direction: bool = True) -> List[str]:
    out = []
    for c in page["words"] if unit == "word" else page["lines"]:
        q = c["quad"]
        line = ""
        if add_location:
            line += (f"({q[0]:06.2f}, {q[1]:06.2f}) "
                     f"({q[2]:06.2f}, {q[3]:06.2f}) "
                     f"({q[4]:06.2f}, {q[5]:06.2f}) "
                     f"({q[6]:06.2f}, {q[7]:06.2f}) ")
        if add_fontname:
            line += f"{c['font_name']:>10} "
        if add_text_direction:
            line += f"{c['text_direction']} "
        line += c["text"]
        out.append(line)
    return out


# ----------------------------------------------------------------------
# materialized table + registry queries
# ----------------------------------------------------------------------

PDF_CELLS_VERSION = 1
_Q_BBOX = (100.0, 760.0, 400.0, 600.0)  # (l, t, r, b) BOTTOMLEFT


def ensure_pdf_cells_local(sf_dir: str) -> str:
    """Spark-free materialization for the DuckDB oracle."""
    import pyarrow as pa

    from docling_core_spark.io.materialize import materialize_table
    from docling_core_spark.queries import corpus_cache_path, corpus_docs_for

    def build():
        cols: Dict[str, list] = {k: [] for k in _CELL_COLS}
        for i in range(corpus_docs_for(sf_dir)):
            _append_cell_rows(cols, i, gen_page_cells(i, 1, 42))
        return pa.Table.from_pydict(cols, schema=_arrow_cell_schema())

    return materialize_table(
        corpus_cache_path("pdfcells", sf_dir, PDF_CELLS_VERSION), build)


def pdf_cells_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(ensure_pdf_cells_local(sf_dir))


def q_pdf_cells_in_bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = cells_in_bbox(pdf_cells_df(spark, sf_dir), _Q_BBOX,
                       unit="word", origin=BOTTOMLEFT, ios=0.8)
    return df.select("doc_id", "idx", "text",
                     F.round("rx0", 6).alias("rx0"),
                     F.round("ry0", 6).alias("ry0"))


def q_pdf_crop_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    return crop_text(pdf_cells_df(spark, sf_dir), _Q_BBOX, unit="word")


def q_pdf_textlines(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textlines(pdf_cells_df(spark, sf_dir), unit="line")


def sql_pdf_cells_in_bbox(sf_dir: str) -> str:
    path = ensure_pdf_cells_local(sf_dir)
    l, t, r, b = _Q_BBOX
    return f"""
WITH c AS (
  SELECT *,
         LEAST(rx0, rx1, rx2, rx3) AS bb_l,
         GREATEST(rx0, rx1, rx2, rx3) AS bb_r,
         GREATEST(ry0, ry1, ry2, ry3) AS bb_t,
         LEAST(ry0, ry1, ry2, ry3) AS bb_b
  FROM read_parquet('{path}/*.parquet') WHERE unit = 'word')
SELECT doc_id, idx, text,
       ROUND(rx0, 6) AS rx0, ROUND(ry0, 6) AS ry0
FROM c
WHERE (bb_r - bb_l) * ABS(bb_t - bb_b) > 0
  AND GREATEST(0.0, LEAST(bb_r, {r}) - GREATEST(bb_l, {l}))
      * GREATEST(0.0, LEAST(bb_t, {t}) - GREATEST(bb_b, {b}))
      / ((bb_r - bb_l) * ABS(bb_t - bb_b)) > 0.8
"""


def sql_pdf_crop_text(sf_dir: str) -> str:
    path = ensure_pdf_cells_local(sf_dir)
    l, t, r, b = _Q_BBOX
    return f"""
WITH c AS (
  SELECT *,
         LEAST(rx0, rx1, rx2, rx3) AS bb_l,
         GREATEST(rx0, rx1, rx2, rx3) AS bb_r,
         GREATEST(ry0, ry1, ry2, ry3) AS bb_t,
         LEAST(ry0, ry1, ry2, ry3) AS bb_b
  FROM read_parquet('{path}/*.parquet') WHERE unit = 'word'),
contained AS (
  SELECT * FROM c
  WHERE {l} <= bb_l AND bb_r <= {r} AND {b} <= bb_b AND bb_t <= {t}),
pieces AS (
  SELECT doc_id, page_no, idx, text,
         LAG(rx1) OVER w AS prev_x1, LAG(ry1) OVER w AS prev_y1,
         rx0, ry0
  FROM contained WINDOW w AS (PARTITION BY doc_id, page_no ORDER BY idx))
SELECT doc_id, page_no,
       STRING_AGG(CASE WHEN prev_x1 IS NULL THEN text
                       WHEN ABS(rx0 - prev_x1) < 1.0
                            AND ABS(ry0 - prev_y1) < 1.0 THEN text
                       ELSE ' ' || text END, '' ORDER BY idx) AS text
FROM pieces GROUP BY doc_id, page_no
"""


def sql_pdf_textlines(sf_dir: str) -> str:
    path = ensure_pdf_cells_local(sf_dir)
    return f"""
SELECT doc_id, page_no, idx,
       printf('(%06.2f, %06.2f) (%06.2f, %06.2f) (%06.2f, %06.2f) '
              || '(%06.2f, %06.2f) ', rx0, ry0, rx1, ry1, rx2, ry2,
              rx3, ry3)
       || printf('%10s ', font_name)
       || text_direction || ' ' || text AS line
FROM read_parquet('{path}/*.parquet') WHERE unit = 'line'
"""


# ----------------------------------------------------------------------
# interop: cells rows -> reference-schema SegmentedPdfPage JSON
# ----------------------------------------------------------------------

def page_to_segmented_json(doc_id: str, page_no: int,
                           cells: List[dict],
                           page_w: float = 612.0,
                           page_h: float = 792.0) -> dict:
    """One page's cell rows -> a dict the reference's
    ``SegmentedPdfPage.model_validate`` accepts (page.py:545-623):
    the interop sink for handing parsed layout back to
    docling-core-side consumers."""
    def rect(q: Quad) -> dict:
        return {"r_x0": q[0], "r_y0": q[1], "r_x1": q[2], "r_y1": q[3],
                "r_x2": q[4], "r_y2": q[5], "r_x3": q[6], "r_y3": q[7],
                "coord_origin": "BOTTOMLEFT"}

    def cell(c: dict) -> dict:
        return {"index": c["idx"], "text": c["text"], "orig": c["text"],
                "rect": rect((c["rx0"], c["ry0"], c["rx1"], c["ry1"],
                              c["rx2"], c["ry2"], c["rx3"], c["ry3"])),
                "from_ocr": False,
                "text_direction": c.get("text_direction",
                                        "left_to_right")}

    page_bbox = {"l": 0.0, "t": page_h, "r": page_w, "b": 0.0,
                 "coord_origin": "BOTTOMLEFT"}
    dimension = {
        "angle": 0.0,
        "rect": rect(rect_from_bbox(0.0, page_h, page_w, 0.0,
                                    BOTTOMLEFT)),
        "boundary_type": "crop_box",
        "art_bbox": page_bbox, "bleed_bbox": page_bbox,
        "crop_bbox": page_bbox, "media_bbox": page_bbox,
        "trim_bbox": page_bbox,
    }
    return {
        "dimension": dimension,
        "word_cells": [cell(c) for c in cells
                       if c["unit"] == "word"],
        "textline_cells": [cell(c) for c in cells
                           if c["unit"] == "line"],
        "char_cells": [],
    }
