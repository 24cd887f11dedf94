"""Legacy CCS sidecar types (VERDICT r4 item 7): doc_ann / doc_ocr /
doc_raw quarantine validators.

The reference defines three pydantic sidecar families next to the
legacy document model:

* ``Annotation`` - types/legacy_doc/doc_ann.py:16-76 (layout
  annotation/prediction items: cells, clusters, tables, model source)
* ``OcrOutput`` - types/legacy_doc/doc_ocr.py:21-83 (page meta with
  ``coords-order``/``coords-origin`` literals, words/cells/boxes with
  confidences, stroke paths)
* ``RawPdf`` - types/legacy_doc/doc_raw.py:20-187 (raw parser dump:
  SEE cells with fonts/enumerations, page font tables with cmaps and
  metrics, rule lines, histograms)

Like rectypes.py (the Record/Statement/QA sidecar), this module
re-expresses their validation semantics as plain functions returning
error lists (empty == the reference model validates), so a 100 TB
sidecar table is screened by one fused Arrow stage emitting
quarantine rows instead of throwing per-row. These models are plain
(non-strict) pydantic v2, so the scalar checks implement LAX-mode
conversion:

* ``float`` accepts int, bool and numeric strings (probed against
  the live models: lax mode admits bool for numerics);
* ``int`` accepts bool, integral floats (``5.0``) and
  integer-literal strings (``"5"``), never ``5.5`` or ``"5.5"``;
* ``str`` accepts only str; ``bool`` accepts bool, 0/1 numbers and
  the documented truthy/falsy strings;
* ``BoundingBox`` is exactly 4 floats (legacy_doc/base.py:27);
* ``Literal`` fields compare by value (``coords-origin`` must be
  ``"top-left"``, doc_ocr.py:14-16);
* AliasModel fields (populate_by_name=True, utils/alias.py) accept
  the alias OR the python name; extra fields are ignored everywhere
  (pydantic default).

Parity is pinned against the LIVE reference models on deterministic
synthesized payloads plus a corruption matrix in
tests/test_legacytypes.py: for every (payload, corruption) cell both
sides must agree accept-vs-reject.
"""

from __future__ import annotations

import json
import re
from typing import Callable, List, Optional

# ---------------------------------------------------------------------
# lax-mode scalar checks (pydantic v2 conversion table, JSON inputs)
# ---------------------------------------------------------------------

_BOOL_STRS = {"0", "off", "f", "false", "n", "no",
              "1", "on", "t", "true", "y", "yes"}


def _lax_float(v) -> bool:
    if isinstance(v, (int, float)):  # bool included: lax admits it
        return True
    if isinstance(v, str):
        try:
            float(v.strip())
            return True
        except ValueError:
            return False
    return False


# pydantic's lax str->int accepts an int literal optionally followed
# by a decimal point and zeros ("5", "+5", "-5.0", "5.000"), but NOT
# exponents, bare points, or non-zero fractions ("1e2", "5.", "5.5")
# - probed against the live models
_INT_STR_RE = re.compile(r"[+-]?\d+(\.0+)?\Z")


def _lax_int(v) -> bool:
    if isinstance(v, int):  # bool included: lax admits it
        return True
    if isinstance(v, float):
        return v.is_integer()
    if isinstance(v, str):
        return bool(_INT_STR_RE.match(v.strip()))
    return False


def _lax_str(v) -> bool:
    return isinstance(v, str)


def _lax_bool(v) -> bool:
    if isinstance(v, bool):
        return True
    if isinstance(v, (int, float)):
        return v in (0, 1)
    if isinstance(v, str):
        return v.strip().lower() in _BOOL_STRS
    return False


_MISSING = object()


class _V:
    """One validation pass accumulating pydantic-style error lines."""

    def __init__(self) -> None:
        self.errors: List[str] = []

    def err(self, loc: str, msg: str) -> None:
        self.errors.append(f"{loc}: {msg}")

    # -- field access -------------------------------------------------
    def get(self, d, names, loc: str, required: bool = True,
            nullable: bool = False):
        """Fetch a field by its accepted names (alias first - the
        AliasModel populate_by_name contract). Returns _MISSING when
        absent-and-optional or on a reported error."""
        if not isinstance(d, dict):
            self.err(loc, "Input should be an object")
            return _MISSING
        if isinstance(names, str):
            names = (names,)
        for n in names:
            if n in d:
                v = d[n]
                if v is None and not nullable:
                    self.err(f"{loc}.{names[0]}",
                             "Input should not be null")
                    return _MISSING
                return v
        if required:
            self.err(f"{loc}.{names[0]}", "Field required")
        return _MISSING

    # -- typed field helpers -----------------------------------------
    def scalar(self, d, names, loc, check: Callable, what: str,
               required: bool = True) -> None:
        v = self.get(d, names, loc, required)
        if v is _MISSING:
            return
        if not check(v):
            name = names if isinstance(names, str) else names[0]
            self.err(f"{loc}.{name}", f"Input should be a valid {what}")

    def bbox(self, v, loc) -> None:
        """BoundingBox = exactly 4 floats (legacy_doc/base.py:27)."""
        if not isinstance(v, list):
            self.err(loc, "Input should be a valid list")
            return
        if len(v) != 4:
            self.err(loc, "List should have 4 items")
            return
        for i, x in enumerate(v):
            if not _lax_float(x):
                self.err(f"{loc}[{i}]", "Input should be a valid number")

    def bbox_field(self, d, names, loc, required: bool = True) -> None:
        v = self.get(d, names, loc, required)
        if v is not _MISSING:
            name = names if isinstance(names, str) else names[0]
            self.bbox(v, f"{loc}.{name}")

    def lst(self, d, names, loc, item: Callable,
            required: bool = True, nullable: bool = False) -> None:
        v = self.get(d, names, loc, required, nullable)
        if v is _MISSING or v is None:
            return
        name = names if isinstance(names, str) else names[0]
        if not isinstance(v, list):
            self.err(f"{loc}.{name}", "Input should be a valid list")
            return
        for i, x in enumerate(v):
            item(x, f"{loc}.{name}[{i}]")

    def scalar_list(self, d, names, loc, check: Callable, what: str,
                    required: bool = True) -> None:
        def item(x, l):
            if not check(x):
                self.err(l, f"Input should be a valid {what}")
        self.lst(d, names, loc, item, required)

    def mapping(self, d, names, loc, value_check: Optional[Callable],
                what: str = "", required: bool = True) -> None:
        v = self.get(d, names, loc, required)
        if v is _MISSING:
            return
        name = names if isinstance(names, str) else names[0]
        if not isinstance(v, dict):
            self.err(f"{loc}.{name}", "Input should be an object")
            return
        for k, x in v.items():
            if not isinstance(k, str):
                self.err(f"{loc}.{name}", "Keys should be strings")
            elif value_check is not None and not value_check(x):
                self.err(f"{loc}.{name}.{k}",
                         f"Input should be a valid {what}")

    def literal(self, v, allowed, loc) -> None:
        if v not in allowed:
            self.err(loc, f"Input should be one of {sorted(allowed)}")


# ---------------------------------------------------------------------
# doc_ann.Annotation (doc_ann.py:16-76)
# ---------------------------------------------------------------------

def _ann_cell(v: _V, d, loc) -> None:
    v.scalar(d, "id", loc, _lax_int, "integer")
    v.scalar(d, "rawcell_id", loc, _lax_int, "integer")
    v.scalar(d, "label", loc, _lax_str, "string")


def _ann_cluster(v: _V, d, loc) -> None:
    v.scalar(d, "model", loc, _lax_str, "string")
    v.scalar(d, "type", loc, _lax_str, "string")
    v.bbox_field(d, "bbox", loc)
    v.scalar_list(d, "cell_ids", loc, _lax_int, "integer")
    v.scalar(d, "merged", loc, _lax_bool, "boolean")
    v.scalar(d, "id", loc, _lax_int, "integer")


def _ann_table(v: _V, d, loc) -> None:
    v.scalar(d, "cell_id", loc, _lax_int, "integer")
    v.scalar(d, "label", loc, _lax_str, "string")
    v.scalar_list(d, "rows", loc, _lax_int, "integer")
    v.scalar_list(d, "cols", loc, _lax_int, "integer")


def _ann_source(v: _V, d, loc) -> None:
    v.scalar(d, "type", loc, _lax_str, "string")
    v.scalar(d, "timestamp", loc, _lax_float, "number")
    info = v.get(d, "info", loc)
    if info is not _MISSING:
        for f in ("display_name", "model_name", "model_class",
                  "model_version", "model_id"):
            v.scalar(info, f, f"{loc}.info", _lax_str, "string")


def _ann_item(v: _V, d, loc) -> None:
    v.lst(d, "cells", loc, lambda x, l: _ann_cell(v, x, l))
    v.lst(d, "clusters", loc, lambda x, l: _ann_cluster(v, x, l))
    v.lst(d, "tables", loc, lambda x, l: _ann_table(v, x, l))
    src = v.get(d, "source", loc)
    if src is not _MISSING:
        _ann_source(v, src, f"{loc}.source")


def validate_annotation(d) -> List[str]:
    """doc_ann.Annotation semantics (doc_ann.py:71-76); empty list ==
    the live model validates."""
    v = _V()
    v.lst(d, "annotations", "annotation",
          lambda x, l: _ann_item(v, x, l))
    v.lst(d, "predictions", "annotation",
          lambda x, l: _ann_item(v, x, l))
    # reports: list[Any] - shape only
    rep = v.get(d, "reports", "annotation")
    if rep is not _MISSING and not isinstance(rep, list):
        v.err("annotation.reports", "Input should be a valid list")
    return v.errors


# ---------------------------------------------------------------------
# doc_ocr.OcrOutput (doc_ocr.py:21-83)
# ---------------------------------------------------------------------

_COORDS_ORDER = {"x1", "y1", "x2", "y2"}


def _ocr_span(v: _V, d, loc) -> None:
    """Word / Cell / Box share one shape (doc_ocr.py:43-64)."""
    v.scalar(d, "confidence", loc, _lax_float, "number")
    v.bbox_field(d, "bbox", loc)
    v.scalar(d, "content", loc, _lax_str, "string")


def validate_ocr_output(d) -> List[str]:
    """doc_ocr.OcrOutput semantics (doc_ocr.py:74-83)."""
    v = _V()
    loc = "ocr"
    meta = v.get(d, ("_meta", "meta"), loc)
    if meta is not _MISSING:
        page = v.get(meta, "page", f"{loc}._meta")
        if page is not _MISSING:
            v.scalar(page, "width", f"{loc}._meta.page", _lax_float,
                     "number")
            v.scalar(page, "height", f"{loc}._meta.page", _lax_float,
                     "number")
        order = v.get(meta, ("coords-order", "coords_order"),
                      f"{loc}._meta")
        if order is not _MISSING:
            if not isinstance(order, list):
                v.err(f"{loc}._meta.coords-order",
                      "Input should be a valid list")
            else:
                for i, x in enumerate(order):
                    v.literal(x, _COORDS_ORDER,
                              f"{loc}._meta.coords-order[{i}]")
        origin = v.get(meta, ("coords-origin", "coords_origin"),
                       f"{loc}._meta")
        if origin is not _MISSING:
            v.literal(origin, {"top-left"}, f"{loc}._meta.coords-origin")
    v.mapping(d, "info", loc, None)
    dim = v.get(d, "dimension", loc)
    if dim is not _MISSING:
        v.scalar(dim, "width", f"{loc}.dimension", _lax_float, "number")
        v.scalar(dim, "height", f"{loc}.dimension", _lax_float,
                 "number")
    for fam in ("words", "cells", "boxes"):
        v.lst(d, fam, loc, lambda x, l: _ocr_span(v, x, l))

    def path(x, l):
        v.scalar_list(x, "x", l, _lax_float, "number")
        v.scalar_list(x, "y", l, _lax_float, "number")

    v.lst(d, "paths", loc, path)
    return v.errors


# ---------------------------------------------------------------------
# doc_raw.RawPdf (doc_raw.py:20-187)
# ---------------------------------------------------------------------

def _raw_cell(v: _V, d, loc) -> None:
    v.scalar(d, ("SEE_cell", "see_cell"), loc, _lax_bool, "boolean")
    v.scalar(d, ("SEE_confidence", "see_confidence"), loc, _lax_float,
             "number")
    v.scalar(d, "angle", loc, _lax_float, "number")
    box = v.get(d, "box", loc)
    if box is not _MISSING:
        v.bbox_field(box, "baseline", f"{loc}.box")
        v.bbox_field(box, "device", f"{loc}.box")
    content = v.get(d, "content", loc)
    if content is not _MISSING:
        v.scalar(content, "rnormalized", f"{loc}.content", _lax_str,
                 "string")
    enum = v.get(d, "enumeration", loc)
    if enum is not _MISSING:
        v.scalar(enum, "match", f"{loc}.enumeration", _lax_int,
                 "integer")
        v.scalar(enum, "type", f"{loc}.enumeration", _lax_int,
                 "integer")
    font = v.get(d, "font", loc)
    if font is not _MISSING:
        color = v.get(font, "color", f"{loc}.font")
        if color is not _MISSING:
            if not isinstance(color, list) or not 3 <= len(color) <= 4:
                v.err(f"{loc}.font.color",
                      "List should have 3 to 4 items")
            else:
                for i, x in enumerate(color):
                    if not _lax_float(x):
                        v.err(f"{loc}.font.color[{i}]",
                              "Input should be a valid number")
        v.scalar(font, "name", f"{loc}.font", _lax_str, "string")
        v.scalar(font, "size", f"{loc}.font", _lax_float, "number")


def _raw_path(v: _V, d, loc) -> None:
    v.bbox_field(d, "bbox", loc)
    v.scalar_list(d, ("sub-paths", "sub_paths"), loc, _lax_float,
                  "number")
    v.scalar(d, "type", loc, _lax_str, "string")
    v.scalar_list(d, ("x-values", "x_values"), loc, _lax_float,
                  "number")
    v.scalar_list(d, ("y-values", "y_values"), loc, _lax_float,
                  "number")


def _raw_line(v: _V, d, loc, fields) -> None:
    for f in fields:
        v.scalar(d, f, loc, _lax_int, "integer")


def _raw_font_info(v: _V, d, loc) -> None:
    cmap = v.get(d, ("font-cmap", "font_cmap"), loc)
    if cmap is not _MISSING:
        v.mapping(cmap, "cmap", f"{loc}.font-cmap", _lax_str, "string")
        v.scalar(cmap, "name", f"{loc}.font-cmap", _lax_str, "string")
        rng = v.get(cmap, "range", f"{loc}.font-cmap")
        if rng is not _MISSING:
            v.scalar(rng, "first", f"{loc}.font-cmap.range", _lax_int,
                     "integer")
            v.scalar(rng, "second", f"{loc}.font-cmap.range", _lax_int,
                     "integer")
        v.scalar(cmap, "type", f"{loc}.font-cmap", _lax_int, "integer")
    v.mapping(d, ("font-differences", "font_differences"), loc, None)
    met = v.get(d, ("font-metrics", "font_metrics"), loc)
    if met is not _MISSING:
        mloc = f"{loc}.font-metrics"
        for f in (("StemH", "stem_h"), ("StemV", "stem_v"), "ascent",
                  ("average-width", "average_width"), "cap_height",
                  ("default-width", "default_width"), "descent",
                  ("italic-angle", "italic_angle"),
                  ("max-width", "max_width"),
                  ("missing-width", "missing_width"), "x_height"):
            v.scalar(met, f, mloc, _lax_float, "number")
        v.bbox_field(met, "bbox", mloc)
        v.scalar(met, "file", mloc, _lax_str, "string")
        v.scalar(met, "name", mloc, _lax_str, "string")
        v.mapping(met, ("named-widths", "named_widths"), mloc, None)
        v.scalar(met, "weight", mloc, _lax_str, "string")
        v.mapping(met, "widths", mloc, _lax_float, "number")
    v.scalar(d, "name", loc, _lax_str, "string")
    v.scalar(d, ("name (internal)", "internal_name"), loc, _lax_str,
             "string")
    v.scalar(d, "subtype", loc, _lax_str, "string")


def _raw_page(v: _V, d, loc) -> None:
    v.scalar(d, "height", loc, _lax_float, "number")
    v.scalar(d, "width", loc, _lax_float, "number")
    dims = v.get(d, "dimensions", loc)
    if dims is not _MISSING:
        v.bbox_field(dims, "bbox", f"{loc}.dimensions")
        v.scalar(dims, "height", f"{loc}.dimensions", _lax_float,
                 "number")
        v.scalar(dims, "width", f"{loc}.dimensions", _lax_float,
                 "number")
    v.lst(d, "cells", loc, lambda x, l: _raw_cell(v, x, l))
    v.lst(d, "paths", loc, lambda x, l: _raw_path(v, x, l))
    # vertical-/horizontal-lines: REQUIRED but nullable
    # (Optional[...] = Field(...), doc_raw.py:159-162)
    v.lst(d, ("vertical-lines", "vertical_lines"), loc,
          lambda x, l: _raw_line(v, x, l, ("y0", "y1", "x")),
          nullable=True)
    v.lst(d, ("horizontal-lines", "horizontal_lines"), loc,
          lambda x, l: _raw_line(v, x, l, ("x0", "x1", "y")),
          nullable=True)
    ign = v.get(d, ("ignored-cells", "ignored_cells"), loc)
    if ign is not _MISSING and not isinstance(ign, list):
        v.err(f"{loc}.ignored-cells", "Input should be a valid list")

    def image(x, l):
        v.bbox_field(x, "box", l)
        v.scalar(x, "height", l, _lax_float, "number")
        v.scalar(x, "width", l, _lax_float, "number")

    v.lst(d, "images", loc, image)
    fonts = v.get(d, "fonts", loc)
    if fonts is not _MISSING:
        if not isinstance(fonts, dict):
            v.err(f"{loc}.fonts", "Input should be an object")
        else:
            for k, x in fonts.items():
                _raw_font_info(v, x, f"{loc}.fonts.{k}")


def validate_raw_pdf(d) -> List[str]:
    """doc_raw.RawPdf semantics (doc_raw.py:183-187)."""
    v = _V()
    info = v.get(d, "info", "raw")
    if info is not _MISSING:
        hist = v.get(info, "histograms", "raw.info")
        if hist is not _MISSING:
            v.mapping(hist, ("mean-char-height", "mean_char_height"),
                      "raw.info.histograms", _lax_float, "number")
            v.mapping(hist, ("mean-char-width", "mean_char_width"),
                      "raw.info.histograms", _lax_float, "number")
            v.mapping(hist, ("number-of-chars", "number_of_chars"),
                      "raw.info.histograms", _lax_int, "integer")
        v.scalar_list(info, "styles", "raw.info", _lax_str, "string")
    v.lst(d, "pages", "raw", lambda x, l: _raw_page(v, x, l))
    return v.errors


VALIDATORS = {
    "annotation": validate_annotation,
    "ocr": validate_ocr_output,
    "raw": validate_raw_pdf,
}


# ---------------------------------------------------------------------
# deterministic synthesis + corruption (the fixture generator shared
# by the parity tests and the Spark quarantine surface)
# ---------------------------------------------------------------------

def synth_legacy_payload(doc_id: int) -> tuple:
    """(kind, payload dict): deterministic valid sidecar payloads
    cycling through the three families."""
    kind = ("annotation", "ocr", "raw")[doc_id % 3]
    i = doc_id
    bbox = [float(i % 7), 1.0 + i % 5, 10.0 + i % 7, 20.0 + i % 5]
    if kind == "annotation":
        item = {
            "cells": [{"id": i % 9, "rawcell_id": i % 11,
                       "label": f"label-{i % 4}"}],
            "clusters": [{"model": "layout", "type": f"t{i % 3}",
                          "bbox": bbox, "cell_ids": [i % 9],
                          "merged": i % 2 == 0, "id": i % 13}],
            "tables": [{"cell_id": i % 9, "label": "table",
                        "rows": [0, 1], "cols": [0, i % 3]}],
            "source": {"type": "model", "timestamp": 1.5 + i % 10,
                       "info": {"display_name": "m", "model_name": "m",
                                "model_class": "c", "model_version": "1",
                                "model_id": str(i % 17)}},
        }
        return kind, {"annotations": [item], "predictions": [item],
                      "reports": []}
    if kind == "ocr":
        span = {"confidence": 0.5 + (i % 5) / 10.0, "bbox": bbox,
                "content": f"w{i % 23}"}
        return kind, {
            "_meta": {"page": {"width": 612.0, "height": 792.0},
                      "coords-order": ["x1", "y1", "x2", "y2"],
                      "coords-origin": "top-left"},
            "info": {"engine": "see", "run": i % 3},
            "dimension": {"width": 612.0, "height": 792.0},
            "words": [span], "cells": [span], "boxes": [],
            "paths": [{"x": [0.0, 1.0 + i % 3], "y": [0.0, 2.0]}],
        }
    cell = {
        "SEE_cell": True, "SEE_confidence": 0.9, "angle": 0.0,
        "box": {"baseline": bbox, "device": bbox},
        "content": {"rnormalized": f"text {i % 19}"},
        "enumeration": {"match": i % 3, "type": 1},
        "font": {"color": [0.0, 0.0, 0.0], "name": f"F{i % 2}",
                 "size": 10.0 + i % 4},
    }
    font = {
        "font-cmap": {"cmap": {"65": "A"}, "name": f"F{i % 2}",
                      "range": {"first": 0, "second": 255}, "type": 1},
        "font-differences": {},
        "font-metrics": {
            "StemH": 0.0, "StemV": 80.0, "ascent": 718.0,
            "average-width": 441.0, "bbox": bbox, "cap_height": 692.0,
            "default-width": 500.0, "descent": -207.0, "file": "",
            "italic-angle": 0.0, "max-width": 1015.0,
            "missing-width": 278.0, "name": f"F{i % 2}",
            "named-widths": {}, "weight": "Regular",
            "widths": {"A": 667.0}, "x_height": 523.0},
        "name": f"F{i % 2}", "name (internal)": f"F{i % 2}+int",
        "subtype": "TrueType",
    }
    page = {
        "height": 792.0, "width": 612.0,
        "dimensions": {"bbox": bbox, "height": 792.0, "width": 612.0},
        "cells": [cell], "paths": [], "vertical-lines": None,
        "horizontal-lines": [{"x0": 0, "x1": 612, "y": i % 700}],
        "ignored-cells": [], "images": [
            {"box": bbox, "height": 100.0, "width": 50.0}],
        "fonts": {f"F{i % 2}": font},
    }
    return kind, {
        "info": {"histograms": {"mean-char-height": {"10": 9.5},
                                "mean-char-width": {"10": 5.1},
                                "number-of-chars": {"10": 100 + i % 50}},
                 "styles": ["regular"]},
        "pages": [page],
    }


def _del_path(d: dict, path: List) -> None:
    for k in path[:-1]:
        d = d[k]
    del d[path[-1]]


def _set_path(d: dict, path: List, value) -> None:
    for k in path[:-1]:
        d = d[k]
    d[path[-1]] = value


# (kind, mutate, expect_valid): the corruption matrix. expect_valid
# entries are lax-mode conversions BOTH engines must accept - they
# guard against over-strictness, the failure mode a from-scratch
# validator typically has.
CORRUPTIONS = [
    ("annotation", lambda d: _del_path(d, ["annotations"]), False),
    ("annotation", lambda d: _set_path(d, ["reports"], {}), False),
    ("annotation",
     lambda d: _set_path(d, ["annotations", 0, "cells", 0, "id"],
                         "x"), False),
    ("annotation",
     lambda d: _set_path(d, ["annotations", 0, "cells", 0, "id"],
                         "7"), True),       # int-literal string: lax ok
    ("annotation",
     lambda d: _set_path(d, ["annotations", 0, "cells", 0, "id"],
                         "5.0"), True),     # ...including ".0" forms
    ("annotation",
     lambda d: _set_path(d, ["annotations", 0, "cells", 0, "id"],
                         "1e2"), False),    # ...but never exponents
    ("annotation",
     lambda d: _set_path(d, ["annotations", 0, "clusters", 0, "bbox"],
                         [1.0, 2.0, 3.0]), False),   # 3-item bbox
    ("annotation",
     lambda d: _set_path(d, ["annotations", 0, "clusters", 0,
                             "merged"], "yes"), True),  # lax bool str
    ("annotation",
     lambda d: _set_path(d, ["annotations", 0, "source", "timestamp"],
                         True), True),       # lax admits bool numerics
    ("annotation",
     lambda d: _set_path(d, ["annotations", 0, "source", "timestamp"],
                         "later"), False),   # non-numeric string
    ("annotation",
     lambda d: _set_path(d, ["annotations", 0, "source", "timestamp"],
                         7), True),          # int -> float: lax ok
    ("annotation",
     lambda d: _set_path(d, ["annotations", 0, "tables", 0, "rows"],
                         [0, 1.5]), False),  # non-integral float
    ("annotation",
     lambda d: _set_path(d, ["extra_top"], 1), True),  # extra ignored
    ("ocr", lambda d: _del_path(d, ["_meta"]), False),
    ("ocr", lambda d: _set_path(d, ["_meta", "coords-origin"],
                                "bottom-left"), False),
    ("ocr", lambda d: _set_path(d, ["_meta", "coords-order"],
                                ["x1", "zz"]), False),
    ("ocr", lambda d: (_del_path(d, ["_meta"]),
                       _set_path(d, ["meta"], {
                           "page": {"width": 1.0, "height": 2.0},
                           "coords_order": ["x1"],
                           "coords_origin": "top-left"})),
     True),                                  # python names accepted
    ("ocr", lambda d: _set_path(d, ["words", 0, "confidence"],
                                "0.25"), True),  # numeric string
    ("ocr", lambda d: _set_path(d, ["words", 0, "content"], 12),
     False),                                 # str never coerces
    ("ocr", lambda d: _set_path(d, ["paths", 0, "x"], [1.0, None]),
     False),
    ("ocr", lambda d: _set_path(d, ["info"], {"anything": [1, {}]}),
     True),                                  # Info = Dict[str, Any]
    ("raw", lambda d: _del_path(d, ["pages"]), False),
    ("raw", lambda d: _set_path(d, ["pages", 0, "vertical-lines"],
                                None), True),   # nullable-but-required
    ("raw", lambda d: _del_path(d, ["pages", 0, "vertical-lines"]),
     False),
    ("raw", lambda d: _set_path(
        d, ["pages", 0, "cells", 0, "font", "color"],
        [0.0, 0.0, 0.0, 1.0, 0.5]), False),  # >4 color entries
    ("raw", lambda d: _set_path(
        d, ["pages", 0, "cells", 0, "SEE_cell"], 1), True),  # lax bool
    ("raw", lambda d: _set_path(
        d, ["pages", 0, "fonts",
            next(iter(d["pages"][0]["fonts"])),
            "font-metrics", "StemV"], "thick"), False),
    ("raw", lambda d: _del_path(
        d, ["pages", 0, "fonts",
            next(iter(d["pages"][0]["fonts"])),
            "font-cmap", "range"]), False),
    ("raw", lambda d: _set_path(
        d, ["info", "histograms", "number-of-chars"], {"10": 1.5}),
     False),
    ("raw", lambda d: _set_path(
        d, ["pages", 0, "horizontal-lines", 0, "y"], 3.0), True),
]


def corrupt_legacy(doc_id: int, kind: str, payload: dict) -> tuple:
    """Every second doc gets its kind's next corruption (cycling the
    kind's slice of the matrix); returns (payload json, corruption
    index or -1)."""
    if doc_id % 2 != 0:
        return json.dumps(payload), -1
    my = [i for i, (k, _, _) in enumerate(CORRUPTIONS) if k == kind]
    idx = my[(doc_id // 2) % len(my)]
    CORRUPTIONS[idx][1](payload)
    return json.dumps(payload), idx


def validate_legacy_df(payloads):
    """(doc_id, kind, payload-json) -> quarantine rows (doc_id, kind,
    ok, n_errors, first_error): ONE fused Arrow stage, zero shuffle -
    the S12 quarantine shape over the legacy sidecar families."""
    from docling_core_spark.engine import map_rows
    from docling_core_spark.rectypes import screen_payload

    def row(doc_id, kind, payload):
        errs = screen_payload(VALIDATORS, kind, payload)
        return [(doc_id, kind, not errs, len(errs),
                 errs[0] if errs else "")]

    return map_rows(payloads, ("doc_id", "kind", "payload"),
                    "doc_id long, kind string, ok boolean, n_errors int, "
                    "first_error string", lambda: row)
