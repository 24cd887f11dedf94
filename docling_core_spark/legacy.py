"""S11 legacy DsDocument conversion (utils/legacy.py:107-632).

``spans_to_legacy`` mirrors ``docling_document_to_legacy``: the default
body traversal flattens to the legacy ``main-text`` list (BaseText rows
for every text-like item, Ref rows pointing into the ``tables`` /
``figures`` pools), tables re-materialize as dense GlmTableCell grids
with span lists, captions concatenate onto their floating object, and
the file-info carries sha256 page/document hashes derived from the
DocumentOrigin binary hash. Furniture is dropped (the reference leaves
page_headers/page_footers unpopulated - legacy.py:144 TODO).

``legacy_to_spans`` mirrors ``legacy_to_docling_document``: main-text
rows rebuild the span sequence (consecutive list items regroup under a
list_group, embedded captions bind back to their floating item, table
grids re-encode to OTSL via cell spans), with the documented lossy
spots (label case, enumeration flags, furniture) normalized the same
way the reference normalizes them.

Output dicts are compared field-for-field against the LIVE reference's
``docling_document_to_legacy(...).model_dump(mode="json",
by_alias=True, exclude_none=True)`` in tests/test_legacy.py.
"""

from __future__ import annotations

import hashlib
import re
from typing import Dict, List, Optional, Tuple

from docling_core_spark.model.doc import (
    PAGE_H,
    PAGE_W,
    K_CAPTION,
    K_CODE,
    K_FORMULA,
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
from docling_core_spark.model.otsl import Table, parse_otsl
from docling_core_spark.model.spans import doc_from_spans

# label -> legacy "type" (utils/legacy.py:55-78)
_LABEL_TO_TYPE = {
    "title": "title",
    "document_index": "table-of-contents",
    "section_header": "subtitle-level-1",
    "checkbox_selected": "checkbox-selected",
    "checkbox_unselected": "checkbox-unselected",
    "caption": "caption",
    "page_header": "page-header",
    "page_footer": "page-footer",
    "footnote": "footnote",
    "table": "table",
    "formula": "equation",
    "list_item": "paragraph",
    "code": "paragraph",
    "picture": "figure",
    "text": "paragraph",
    "paragraph": "paragraph",
}

# label -> legacy "name" (utils/legacy.py:80-104)
_LABEL_TO_NAME = {
    "caption": "Caption",
    "footnote": "Footnote",
    "formula": "Formula",
    "list_item": "List-item",
    "page_footer": "Page-footer",
    "page_header": "Page-header",
    "picture": "Picture",
    "section_header": "Section-header",
    "table": "Table",
    "text": "Text",
    "title": "Title",
    "document_index": "Document Index",
    "code": "Code",
    "checkbox_selected": "Checkbox-Selected",
    "checkbox_unselected": "Checkbox-Unselected",
    "form": "Form",
    "key_value_region": "Key-Value Region",
    "paragraph": "paragraph",
}


def _sha256(s: str) -> str:
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def _legacy_label(node: Node) -> str:
    """The DocItemLabel value the reference model would carry."""
    if node.kind == K_TITLE:
        return "title"
    if node.kind == K_SECTION_HEADER:
        return "section_header"
    if node.kind == K_LIST_ITEM:
        return "list_item"
    if node.kind == K_CODE:
        return "code"
    if node.kind == K_FORMULA:
        return "formula"
    if node.kind == K_CAPTION:
        return "caption"
    if node.kind == K_TABLE:
        return "table"
    if node.kind == K_PICTURE:
        return "picture"
    return node.label or "text"


def _type_of(label: str) -> str:
    return _LABEL_TO_TYPE.get(label, label)


def _name_of(label: str) -> str:
    return _LABEL_TO_NAME.get(label, label)


def _prov(node: Node, span_hi: int) -> List[dict]:
    l, t, r, b = node_bbox(node.offset)
    return [{"bbox": [l, t, r, b], "page": node.page_no,
             "span": [0, span_hi]}]


def _caption_text(node: Node) -> str:
    """FloatingItem.caption_text (document.py:1320-1325): plain
    concatenation of the caption texts."""
    return "".join(c.text or "" for c in node.captions)


_RICH_RE = re.compile(r"^<rich_(\d+)>$")


def _cell_text(node: Node, cell_text: str, doc: Doc) -> str:
    """TableCell._get_text / RichTableCell._get_text
    (document.py:340-358): rich cells markdown-serialize their
    referenced child."""
    m = _RICH_RE.fullmatch(cell_text)
    if m is None:
        return cell_text
    k = int(m.group(1))
    if k >= len(node.children):
        return cell_text
    from docling_core_spark.serializers.markdown import MarkdownSerializer

    return MarkdownSerializer(doc).serialize(
        node=node.children[k]).text


def _table_payload(node: Node, doc: Doc) -> dict:
    table: Table = parse_otsl(node.text)
    n_rows, n_cols = table.num_rows, table.num_cols
    # empty-cell grid (utils/legacy.py:199-211)
    data = [[{"spans": [[i, j]], "text": "", "type": "body"}
             for j in range(n_cols)] for i in range(n_rows)]
    for cell in table.cells:
        celltype = "body"
        if cell.column_header:
            celltype = "col_header"
        elif cell.row_header:
            celltype = "row_header"
        elif cell.row_section:
            celltype = "row_section"
        spans = [[i, j]
                 for i in range(min(cell.start_row, n_rows),
                                min(cell.end_row, n_rows))
                 for j in range(min(cell.start_col, n_cols),
                                min(cell.end_col, n_cols))]
        payload = {
            "col": None, "col-header": cell.column_header,
            "col-span": [cell.start_col, cell.end_col],
            "row": None, "row-header": cell.row_header,
            "row-span": [cell.start_row, cell.end_row],
            "spans": spans,
            "text": _cell_text(node, cell.text, doc),
            "type": celltype,
        }
        for i in range(min(cell.start_row, n_rows),
                       min(cell.end_row, n_rows)):
            for j in range(min(cell.start_col, n_cols),
                           min(cell.end_col, n_cols)):
                data[i][j] = {**payload, "col": j, "row": i}
    return {
        "prov": _prov(node, 0),
        "text": _caption_text(node),
        "type": _type_of("table"),
        "#-cols": n_cols,
        "#-rows": n_rows,
        "data": data,
    }


def spans_to_legacy(doc_id: str, spans: List[Tuple[str, str, str, int]],
                    fallback_filename: str = "file") -> dict:
    """Span tuples -> legacy DsDocument JSON dict
    (model_dump(mode='json', by_alias=True, exclude_none=True) shape).
    """
    doc = doc_from_spans(doc_id, spans)

    if doc.origin is not None:
        document_hash = _sha256(str(doc.origin["binary_hash"]))
        filename = doc.origin["filename"]
    else:  # deterministic where the reference uses uuid4 (legacy.py:116)
        document_hash = _sha256(doc_id)
        filename = fallback_filename

    # pages = pages carrying at least one provenance (the builder adds
    # exactly those; tests/oracle.py:369-371)
    pages = sorted({n.page_no for n, _ in doc.iterate_items()
                    if not n.is_group})
    page_hashes = [{"hash": _sha256(f"{document_hash}:{p - 1}"),
                    "model": "default", "page": p} for p in pages]

    main_text: List[dict] = []
    tables: List[dict] = []
    figures: List[dict] = []

    for node, _lvl in doc.iterate_items():
        label = _legacy_label(node)
        if node.kind in (K_TITLE, K_SECTION_HEADER, K_TEXT, K_LIST_ITEM,
                         K_CODE, K_FORMULA, K_CAPTION):
            text = node.text or ""
            if node.kind == K_LIST_ITEM and node.marker:
                text = f"{node.marker} {node.text}"
            main_text.append({
                "name": _name_of(label),
                "prov": _prov(node, len(node.text or "")),
                "text": text,
                "type": _type_of(label),
            })
        elif node.kind == K_TABLE:
            main_text.append({"name": _name_of(label),
                              "type": _type_of(label),
                              "$ref": f"#/tables/{len(tables)}"})
            tables.append(_table_payload(node, doc))
        elif node.kind == K_PICTURE:
            main_text.append({"name": _name_of(label),
                              "type": _type_of(label),
                              "$ref": f"#/figures/{len(figures)}"})
            caption = _caption_text(node)
            figures.append({
                "prov": _prov(node, len(caption)),
                "text": caption,
                "type": _type_of(label),
            })
        # key_value_region / form: skipped (reference converts neither)

    return {
        "_name": "",
        "type": "pdf-document",
        "description": {"logs": []},
        "file-info": {
            "filename": filename,
            "document-hash": document_hash,
            "#-pages": len(pages),
            "page-hashes": page_hashes,
        },
        "main-text": main_text,
        "equations": [],
        "footnotes": [],
        "page-headers": [],
        "page-footers": [],
        "tables": tables,
        "figures": figures,
        "page-dimensions": [{"height": PAGE_H, "page": p,
                             "width": PAGE_W} for p in pages],
    }


# ----------------------------------------------------------------------
# legacy -> spans (utils/legacy.py:351-632)
# ----------------------------------------------------------------------

def _otsl_from_legacy_table(t: dict) -> str:
    """Dense legacy grid -> OTSL stream via the same span-merging the
    reference applies (legacy.py:539-596: dedup by span set, offsets
    from min/max of spans)."""
    from docling_core_spark.model.otsl import Cell, encode_otsl

    n_rows = int(t.get("#-rows") or 0)
    n_cols = int(t.get("#-cols") or 0)
    cells: List[Cell] = []
    seen_spans = set()
    for row_ix, row in enumerate(t.get("data") or []):
        for col_ix, cd in enumerate(row):
            sr, er, sc, ec = row_ix, row_ix + 1, col_ix, col_ix + 1
            spans = cd.get("spans")
            if spans is not None:
                key = tuple(tuple(s) for s in spans)
                if key in seen_spans:
                    continue
                seen_spans.add(key)
                sr = min(s[0] for s in key)
                er = max(s[0] for s in key) + 1
                sc = min(s[1] for s in key)
                ec = max(s[1] for s in key) + 1
            cells.append(Cell(
                text=cd.get("text") or "",
                start_row=sr, end_row=er, start_col=sc, end_col=ec,
                column_header=cd.get("type") == "col_header",
                row_header=cd.get("type") == "row_header",
                row_section=cd.get("type") == "row_section"))
    return encode_otsl(Table(cells, n_rows, n_cols))


def legacy_to_spans(legacy: dict) -> Tuple[dict, List[dict]]:
    """Legacy dict -> (origin dict, span rows). Mirrors
    legacy_to_docling_document's main-text walk: consecutive list rows
    regroup, embedded captions re-bind to their floating object,
    orphan captions degrade to text."""
    fi = legacy.get("file-info") or {}
    origin = {"mimetype": "application/pdf",
              "binary_hash": fi.get("document-hash", ""),
              "filename": fi.get("filename", "file"), "uri": None}

    # Ref resolution mirrors DsDocument._resolve_ref (legacy_doc/
    # document.py:402-425): dispatch on the REF ROW's obj_type, only
    # table/figure/equation/footnote resolve; anything else (e.g.
    # page-header refs in old exports) drops. Refs may use the "$ref"
    # alias or the pre-alias "__ref" key.
    _REF_POOLS = {"table": "tables", "figure": "figures",
                  "equation": "equations", "footnote": "footnotes"}

    def resolve(row: dict) -> Tuple[Optional[dict], str]:
        ref = row.get("$ref") or row.get("__ref")
        if ref is None:
            return row, ""
        pool_name = _REF_POOLS.get((row.get("type") or "").lower())
        if pool_name is None:
            return None, ""
        pool = legacy.get(pool_name) or []
        try:
            idx = int(ref.split("/")[2])
        except (IndexError, ValueError):
            return None, ""
        return (pool[idx] if idx < len(pool) else None), pool_name

    rows = legacy.get("main-text") or []
    resolved = [(row, *resolve(row)) for row in rows]

    # captions embedded in floating objects (legacy.py:434-466)
    embedded: Dict[str, int] = {}
    for ix, (_row, item, pool) in enumerate(resolved):
        if item is not None and pool in ("tables", "figures") \
                and item.get("text"):
            embedded[item["text"]] = ix
    floating_caption: Dict[int, str] = {}
    for ix, (row, item, pool) in enumerate(resolved):
        if item is None or pool in ("tables", "figures"):
            continue
        it = (item.get("type") or "").lower()
        nm = (item.get("name") or "").lower()
        if (it == "caption" or nm == "caption") \
                and item.get("text") in embedded:
            floating_caption[embedded[item["text"]]] = item["text"]

    spans: List[dict] = []
    off = 0

    def emit(kind: str, text: str = "", media_ref: str = "") -> None:
        nonlocal off
        spans.append({"kind": kind, "text": text,
                      "media_ref": media_ref, "offset": off})
        off += 1

    in_list = False
    media_i = 0
    for ix, (row, item, pool) in enumerate(resolved):
        if item is None:
            continue
        it = (item.get("type") or "").lower()
        nm = item.get("name") or ""
        is_float = pool in ("tables", "figures")
        is_list = (not is_float) and (
            it in "list-item-level-1" or nm in ("list", "list-item"))
        if is_list and not in_list:
            emit("list_group")
            in_list = True
        elif not is_list and in_list:
            emit("end_group")
            in_list = False

        if not is_float:
            text = item.get("text") or ""
            if it == "caption":
                if text in embedded:
                    continue
                # reference quirk mirrored exactly (legacy.py:496-505):
                # the orphan-caption add_text is NOT followed by a
                # continue, so the row falls through into the normal
                # text chain and is added a SECOND time
                emit("text", text)
            if it == "title":
                emit("title", text)
            elif it == "subtitle-level-1":
                emit("section_header:1", text)
            elif is_list:
                emit("list_item", text)
            elif it in ("formula", "equation"):
                # the reference re-creates these via add_text(label=
                # FORMULA) -> a plain TextItem (legacy.py:527-535's
                # normal-text branch), rendered unwrapped; the span
                # grammar's equivalent is a plain text span
                emit("text", text)
            else:
                label = (nm or "text").replace("-", "_")
                if label in ("text", "paragraph", "footnote",
                             "checkbox_selected", "checkbox_unselected",
                             "document_index", "reference"):
                    emit("paragraph" if label == "paragraph" else
                         ("text" if label == "text" else label), text)
                else:
                    emit("text", text)
        elif pool == "tables":
            mref = f"ltbl_{media_i:06d}"
            media_i += 1
            emit("table", _otsl_from_legacy_table(item), mref)
            if ix in floating_caption:
                emit(f"caption:{mref}", floating_caption[ix])
        elif pool == "figures":
            mref = f"lfig_{media_i:06d}"
            media_i += 1
            emit("picture", "", mref)
            if ix in floating_caption:
                emit(f"caption:{mref}", floating_caption[ix])
    if in_list:
        emit("end_group")
    return origin, spans


# ----------------------------------------------------------------------
# Spark surface
# ----------------------------------------------------------------------

def export_legacy(docs) -> "object":
    """(doc_id, spans) -> (doc_id, fmt='legacy', text=json)."""
    from docling_core_spark.engine import map_rows

    def task():
        import json as _json

        return lambda d, tuples: [(d, "legacy", _json.dumps(
            spans_to_legacy(d, tuples), ensure_ascii=False,
            sort_keys=True))]

    return map_rows(docs, ("doc_id", "spans"),
                    "doc_id string, fmt string, text string", task)


def parse_legacy_roundtrip(docs) -> "object":
    """(doc_id, spans) -> legacy JSON -> spans again -> exploded rows
    (doc_id, ord, kind, text, media_ref): the interop round trip as a
    driver-checkable query."""
    from docling_core_spark.engine import map_rows

    def task():
        import json as _json

        def row(d, tuples):
            legacy = _json.loads(_json.dumps(
                spans_to_legacy(d, tuples), ensure_ascii=False))
            _origin, back = legacy_to_spans(legacy)
            return [(d, r["offset"], r["kind"], r["text"], r["media_ref"])
                    for r in back]
        return row

    return map_rows(docs, ("doc_id", "spans"),
                    "doc_id string, ord int, kind string, text string, "
                    "media_ref string", task)
