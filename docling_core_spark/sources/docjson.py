"""DoclingDocument-JSON ingestion: reference-format JSON -> span rows.

The reference persists documents as pydantic JSON (S1/S2,
document.py:4301-4342): typed item pools (``texts``, ``tables``,
``pictures``, ``groups``, ``key_value_items``) plus a ``body`` tree of
``{"$ref": "#/pool/idx"}`` pointers. This module walks that tree
depth-first and emits the engine's span encoding, so existing
reference corpora load directly into the Spark pipeline.

Media refs are synthesized by encounter order (``tbl_000000``,
``img_000001``, ...) - the JSON format has no media-ref field; caption
binding uses the synthesized refs, so serialization/chunking semantics
are preserved exactly (captions always render with their owner).

``load_docjson_documents`` is the Spark operator: DataFrame(doc_id,
json) -> documents(doc_id, spans), one mapInArrow stage.
"""

from __future__ import annotations

import json
from typing import Dict, List, Optional

from docling_core_spark.model.otsl import Cell, Table, encode_otsl

_TEXTUAL = {"text", "paragraph", "footnote", "checkbox_selected",
            "checkbox_unselected", "document_index", "reference"}


def _resolve(doc: dict, ref: str) -> Optional[dict]:
    # "#/texts/42" -> doc["texts"][42]; "#/body" -> doc["body"]
    parts = ref.lstrip("#/").split("/")
    if parts == ["body"]:
        return doc.get("body")
    if len(parts) == 2:
        pool = doc.get(parts[0]) or []
        idx = int(parts[1])
        if 0 <= idx < len(pool):
            return pool[idx]
    return None


def _otsl_from_table_data(data: dict) -> str:
    cells = [
        Cell(c.get("text", ""),
             c["start_row_offset_idx"], c["end_row_offset_idx"],
             c["start_col_offset_idx"], c["end_col_offset_idx"],
             column_header=c.get("column_header", False),
             row_header=c.get("row_header", False),
             row_section=c.get("row_section", False))
        for c in data.get("table_cells", [])
    ]
    return encode_otsl(Table(cells, data.get("num_rows", 0),
                             data.get("num_cols", 0)))


def docjson_to_spans(doc_json: str | dict) -> List[Dict]:
    """One reference-format document -> span rows."""
    doc = (json.loads(doc_json) if isinstance(doc_json, str)
           else doc_json)
    spans: List[Dict] = []
    off = 0
    media_i = 0
    prev_page: int = 1  # rebuild starts at page 1
    caption_refs = set()
    # pre-scan: which text refs are captions of some floating item
    def cref(ref_obj: dict) -> str:
        # schema 1.x used {"cref": ...}; current uses {"$ref": ...}
        return ref_obj.get("$ref") or ref_obj.get("cref") or ""

    for pool in ("pictures", "tables", "texts"):
        for item in doc.get(pool) or []:
            for cap in item.get("captions") or []:
                caption_refs.add(cref(cap))

    def emit(kind: str, text: str = "", media_ref: str = "") -> None:
        nonlocal off
        spans.append({"kind": kind, "text": text, "media_ref": media_ref,
                      "offset": off})
        off += 1

    origin = doc.get("origin")
    if origin:
        kind = f"origin:{origin.get('binary_hash', 0)}"
        if origin.get("uri"):
            kind += f":{origin['uri']}"
        emit(kind, origin.get("filename", ""),
             origin.get("mimetype", ""))

    def first_page(item: dict) -> Optional[int]:
        prov = item.get("prov") or []
        return prov[0]["page_no"] if prov else None

    def emit_captions(item: dict, mref: str,
                      skip: Optional[set] = None) -> None:
        for cap in item.get("captions") or []:
            if skip and cref(cap) in skip:
                continue  # already emitted at its child position
            cap_item = _resolve(doc, cref(cap))
            if cap_item is not None:
                emit(f"caption:{mref}", cap_item.get("text", ""))

    def fmt_of(c: dict) -> str:
        f = c.get("formatting") or {}
        flags = "".join(k for k, fl in (("b", "bold"), ("i", "italic"),
                                        ("u", "underline"),
                                        ("s", "strikethrough"))
                        if f.get(fl))
        script = f.get("script", "baseline")
        if script == "sub":
            flags += "q"
        elif script == "super":
            flags += "p"
        return f"+fmt={flags}" if flags else ""

    def href_of(c: dict) -> str:
        return str(c.get("hyperlink") or "")

    def walk(node: dict) -> None:
        nonlocal prev_page, media_i
        node_label = node.get("label", "")
        in_list_ctx = node_label in ("list", "ordered_list")
        is_body = node.get("self_ref") == "#/body"
        misplaced_open = False  # synthetic group for misplaced items
        for child_ref in node.get("children") or []:
            c = _resolve(doc, cref(child_ref))
            if c is None:
                continue
            label = c.get("label", "")
            is_group = c.get("self_ref", "").startswith("#/groups")

            # validate_misplaced_list_items (document.py:5571-5619):
            # list items outside a ListGroup get wrapped in a generated
            # one; consecutive body-level items share a group, others
            # get one group each
            misplaced_li = label == "list_item" and not in_list_ctx
            if misplaced_open and not (misplaced_li and is_body):
                emit("end_group")
                misplaced_open = False
            if misplaced_li and not misplaced_open:
                emit("list_group")
                misplaced_open = True

            if not is_group:
                # page-break BEFORE the item, furniture included, on ANY
                # page change (down too): body order and prov pages can
                # disagree - page footers of page N stored after page
                # N+1's content - and page_break:N pins the running page
                # exactly, so rebuilt node pages equal prov pages
                page = first_page(c)
                if page is not None and page != prev_page:
                    emit(f"page_break:{page}")
                    prev_page = page
            if is_group:
                # a furniture-layer group still has BODY children (the
                # layer filter excludes the node, not its subtree -
                # document.py:4081-4149), so groups carry the layer as
                # a kind flag instead of the furniture text shortcut
                flag = (":furniture"
                        if c.get("content_layer") == "furniture" else "")
                if label in ("list", "ordered_list"):
                    emit(f"list_group{flag}")
                    walk(c)
                    emit("end_group")
                elif label == "inline":
                    emit(f"inline_group{flag}")
                    walk(c)
                    emit("end_group")
                else:  # generic group: transparent container
                    walk(c)
                continue

            if c.get("content_layer") == "furniture":
                emit(f"furniture:{label}", c.get("text", ""))
                continue

            if cref(child_ref) in caption_refs:
                continue  # emitted with its owner

            if label == "title":
                emit(f"title{fmt_of(c)}", c.get("text", ""), href_of(c))
                walk_item_children(c)
            elif label == "section_header":
                emit(f"section_header:{c.get('level', 1)}{fmt_of(c)}",
                     c.get("text", ""), href_of(c))
                walk_item_children(c)
            elif label == "list_item":
                marker = c.get("marker") or ""
                enum = c.get("enumerated", False)
                if enum and marker:
                    base = f"list_item:enum:{marker}"
                elif enum:
                    base = "list_item:enum"
                elif marker:
                    base = f"list_item:plain:{marker}"
                else:
                    base = "list_item"
                emit(f"{base}{fmt_of(c)}", c.get("text", ""), href_of(c))
                walk_item_children(c)
            elif label == "code":
                caps = c.get("captions") or []
                mref = ""
                if caps:
                    mref = f"cod_{media_i:06d}"
                    media_i += 1
                lang = c.get("code_language", "unknown") or "unknown"
                kind = "code" if lang == "unknown" else f"code:{lang}"
                emit(f"{kind}{fmt_of(c)}", c.get("text", ""), mref)
                emit_captions(c, mref)
            elif label == "formula":
                emit("formula", c.get("text", ""),
                     c.get("orig", "") if not c.get("text") else "")
            elif label == "caption":
                # standalone caption (no owner)
                emit("caption", c.get("text", ""))
            elif label == "table":
                mref = f"tbl_{media_i:06d}"
                media_i += 1
                descs = "".join(
                    f"<desc>{a.get('text', '') or ''}</desc>"
                    for a in (c.get("annotations") or [])
                    if a.get("kind") == "description")
                # rich cells (document.py:344-358): the cell references
                # one of the table's child items; encode as <rich_K>
                # (K = child index), children follow the table span
                child_idx = {cref(r): i for i, r in
                             enumerate(c.get("children") or [])}
                data = c.get("data") or {}
                cells = []
                for cd in data.get("table_cells", []):
                    r = cd.get("ref")
                    key = cref(r) if isinstance(r, dict) else None
                    if key in child_idx:
                        cd = dict(cd)
                        cd["text"] = f"<rich_{child_idx[key]}>"
                    cells.append(cd)
                data = dict(data, table_cells=cells)
                emit("table", _otsl_from_table_data(data) + descs, mref)
                walk_item_children(c)
                emit_captions(c, mref)
            elif label == "picture" or label == "chart":
                anns = c.get("annotations") or []
                cls_name = None
                chart_data = None
                extra = []
                for ann in anns:
                    if ann.get("kind") == "classification":
                        preds = ann.get("predicted_classes") or []
                        if preds:
                            cls_name = preds[0].get("class_name")
                    elif ann.get("kind") == "tabular_chart_data":
                        chart_data = ann.get("chart_data")
                    elif ann.get("kind") == "description":
                        extra.append(("desc", ann.get("text", "") or ""))
                    elif ann.get("kind") == "molecule_data":
                        extra.append(("smiles", ann.get("smi", "") or ""))
                mref = f"img_{media_i:06d}"
                media_i += 1
                from docling_core_spark.model.spans import (
                    encode_pic_anns,
                )

                img_tag = ""
                if c.get("image"):
                    from docling_core_spark.model.spans import (
                        encode_image_ref,
                    )

                    im = c["image"]
                    img_tag = encode_image_ref({
                        "mimetype": im.get("mimetype", "image/png"),
                        "dpi": im.get("dpi", 72),
                        "size": im.get("size",
                                       {"width": 0.0, "height": 0.0}),
                        "uri": str(im.get("uri", "")),
                    })
                if cls_name is not None:
                    otsl = (_otsl_from_table_data(chart_data)
                            if chart_data else "")
                    emit(f"chart:{cls_name}",
                         otsl + encode_pic_anns(extra) + img_tag, mref)
                else:
                    emit("picture", encode_pic_anns(extra) + img_tag,
                         mref)
                # picture children (OCR'd in-figure items; skipped in
                # default traversal, visible with traverse_pictures);
                # the picture's own captions keep their child position
                done_caps = walk_item_children(c, cap_mref=mref)
                emit_captions(c, mref, skip=done_caps)
            elif "graph" in c:  # key_value_region / form
                from docling_core_spark.model.kv import (
                    KvCell,
                    KvLink,
                    encode_kv,
                )

                g = c.get("graph") or {}
                cells = [KvCell(x.get("label", "key"),
                                int(x.get("cell_id", 0)),
                                x.get("text", "") or "")
                         for x in g.get("cells", [])]
                links = [KvLink(int(x.get("source_cell_id", 0)),
                                int(x.get("target_cell_id", 0)),
                                x.get("label", "to_value"))
                         for x in g.get("links", [])]
                kind = ("form" if c.get("label") == "form"
                        else "key_value_region")
                emit(kind, encode_kv(cells, links))
            elif label in _TEXTUAL:
                emit(f"{label}{fmt_of(c)}", c.get("text", ""), href_of(c))
                walk_item_children(c)
            else:
                emit(f"text{fmt_of(c)}", c.get("text", ""), href_of(c))
                walk_item_children(c)
        if misplaced_open:
            emit("end_group")

    def walk_item_children(item: dict,
                           cap_mref: Optional[str] = None) -> set:
        """Children of a text-like item (TextItem/ListItem children in
        the reference model): nested groups emit with the :of_prev
        marker so the rebuild re-attaches them as item children. With
        ``cap_mref``, the item's own captions emit in place (kind
        caption:MREF) and their refs are returned."""
        own_caps = ({cref(r) for r in item.get("captions") or []}
                    if cap_mref is not None else set())
        emitted_caps: set = set()
        for child_ref in item.get("children") or []:
            if cref(child_ref) in own_caps:
                cap_item = _resolve(doc, cref(child_ref))
                if cap_item is not None:
                    mark = len(spans)
                    emit(f"caption:{cap_mref}",
                         cap_item.get("text", ""))
                    spans[mark]["kind"] += "+child"
                    emitted_caps.add(cref(child_ref))
                continue
            c = _resolve(doc, cref(child_ref))
            if c is None:
                continue
            is_group = c.get("self_ref", "").startswith("#/groups")
            holder = {"children": [child_ref]}
            if is_group:
                label = c.get("label", "")
                tag = ("list_group" if label in ("list", "ordered_list")
                       else "inline_group" if label == "inline" else None)
                if tag is None:
                    walk(c)
                    continue
                emit(f"{tag}:of_prev")
                walk(c)
                emit("end_group")
            else:
                # non-group child: its own span gets the +child marker
                mark = len(spans)
                walk(holder)
                for s in spans[mark:]:
                    if not s["kind"].startswith("page_break"):
                        s["kind"] += "+child"
                        break
        return emitted_caps

    body = doc.get("body") or {}
    walk(body)
    return spans


# ----------------------------------------------------------------------
def load_docjson_documents(df, json_col: str = "doc_json",
                           id_col: str = "doc_id"):
    """DataFrame(doc_id, doc_json) -> documents(doc_id, spans), one
    mapInArrow stage - the S1 ingestion operator."""
    from docling_core_spark.engine import DOCUMENTS_SCHEMA, map_rows

    def row(d, doc_json):
        return [(str(d), docjson_to_spans(doc_json or "{}"))]

    return map_rows(df, (id_col, json_col), DOCUMENTS_SCHEMA, lambda: row)


def docyaml_to_spans(doc_yaml: str) -> List[Dict]:
    """S3 YAML source (load_from_yaml, document.py:4371-4385): YAML
    carries the same reference-schema dict as JSON."""
    import yaml

    return docjson_to_spans(yaml.safe_load(doc_yaml) or {})


def parse_and_chunk_docjson(df, json_col: str = "doc_json",
                            id_col: str = "doc_id", mode: str = "hier",
                            max_tokens: int = 64, merge_peers: bool = True):
    """DataFrame(doc_id, doc_json) -> chunks, S1 ingest + chunk fused
    into ONE mapInArrow stage (see engine.parse_and_chunk for why)."""
    from docling_core_spark.engine import parse_and_chunk

    return parse_and_chunk(df, lambda s: docjson_to_spans(s or "{}"),
                           text_col=json_col, id_col=id_col, mode=mode,
                           max_tokens=max_tokens, merge_peers=merge_peers)
