"""DocTags ingestion: token stream -> span rows.

Re-implements the parsing behavior of DoclingDocument.load_from_doctags
(document.py:4727-5222) - the reference's only parser and the model for
this engine's extraction stage - emitting the span encoding instead of
a pydantic document. Faithful including the reference's lossy corners:

* nested lists are flattened (the list-item regex scan is non-recursive,
  document.py:5178-5186) and ordered-list markers are re-synthesized as
  "1.", "2.", ...
* <paragraph> chunks are dropped (not in the root tag pattern,
  document.py:4993-5009)
* pictures/charts without location tokens are dropped entirely; their
  captions remain as standalone caption items (document.py:5124-5161)
* table captions bind regardless of caption bbox; picture captions bind
  only when the caption has a bbox (document.py:5028/5133)
* OTSL header-cell semantics (ched/rhed/srow) are dropped, like
  parse_otsl_table_content (utils.py:236-252)

The Spark operator ``parse_doctags_documents`` maps a DataFrame of
(doc_id, doctags) to the engine's documents(doc_id, spans) shape in one
mapInArrow stage.
"""

from __future__ import annotations

import re
from typing import Dict, List

from docling_core_spark.model.otsl import Cell, Table, encode_otsl, parse_otsl

_ROOT_TAGS = (
    "title|document_index|checkbox_unselected|checkbox_selected|"
    "text|page_header|inline|page_footer|formula|caption|picture|"
    "footnote|code|section_header_level_[1-6]|ordered_list|"
    "unordered_list|key_value_region|chart|otsl"
)
_TAG_RE = re.compile(
    rf"<(?P<tag>{_ROOT_TAGS})>(?P<content>.*?)"
    rf"(?:(?P<closed></(?P=tag)>)|(?P<eof>$))",
    re.DOTALL,
)
_LI_RE = re.compile(r"<(?P<tag>list_item)>.*?</(?P=tag)>", re.DOTALL)
_LOC_RE = re.compile(r"<loc_(\d+)>")
_ANY_TAG_RE = re.compile(r"<.*?>", re.DOTALL)
_CAPTION_RE = re.compile(r"<caption>(.*?)</caption>", re.DOTALL)

_CHART_CLASSES = ["pie_chart", "bar_chart", "stacked_bar_chart",
                  "line_chart", "flow_chart", "scatter_chart", "heatmap",
                  "line", "dot_line", "vbar_categorical", "hbar_categorical"]
_CHART_REMAP = {"line": "line_chart", "dot_line": "line_chart",
                "vbar_categorical": "bar_chart",
                "hbar_categorical": "bar_chart"}

# tags mapped onto span text kinds (tag == span kind for these)
_TEXT_TAGS = {"title", "document_index", "checkbox_unselected",
              "checkbox_selected", "text", "formula", "caption",
              "footnote", "code", "reference"}


def _has_bbox(chunk: str) -> bool:
    return len(_LOC_RE.findall(chunk)) >= 4


def _inner_text(chunk: str) -> str:
    """Strip every <...> tag, then whitespace (document.py:4772)."""
    return _ANY_TAG_RE.sub("", chunk).strip()


def _flagless_otsl(chunk: str) -> str:
    """Parse and re-encode dropping header flags, mirroring
    parse_otsl_table_content's lossiness."""
    table = parse_otsl(chunk)
    cells = [Cell(c.text, c.start_row, c.end_row, c.start_col, c.end_col)
             for c in table.cells]
    return encode_otsl(Table(cells, table.num_rows, table.num_cols))


def doctags_to_spans(doctags: str) -> List[Dict]:
    """Multipage doctags string -> span rows (kind/text/media_ref/offset)."""
    # page splitting per DocTagsDocument.from_multipage_doctags_and_images
    # (document.py:900-917)
    body = doctags
    if body.startswith("<doctag>"):
        body = body[len("<doctag>"):]
    if body.endswith("</doctag>"):
        body = body[:-len("</doctag>")]
    pages = [p.strip() for p in body.split("<page_break>")]

    spans: List[Dict] = []
    off = 0
    media_i = 0

    def emit(kind: str, text: str = "", media_ref: str = "") -> None:
        nonlocal off
        spans.append({"kind": kind, "text": text, "media_ref": media_ref,
                      "offset": off})
        off += 1

    for pg_idx, page_tokens in enumerate(pages):
        if pg_idx > 0:
            emit(f"page_break:{pg_idx + 1}")
        for m in _TAG_RE.finditer(page_tokens):
            full_chunk = m.group(0)
            tag = m.group("tag")
            has_bbox = _has_bbox(full_chunk)
            if not m.group("closed"):
                # unterminated: only the item's existence is recovered
                full_chunk = f"<{tag}></{tag}>"
                has_bbox = False

            if tag == "otsl":
                cap = _CAPTION_RE.search(full_chunk)
                mref = f"tbl_{media_i:06d}"
                media_i += 1
                if cap is not None:
                    emit(f"caption:{mref}", _inner_text(cap.group(1)))
                emit("table", _flagless_otsl(full_chunk), mref)
            elif tag in ("picture", "chart"):
                cap = _CAPTION_RE.search(full_chunk)
                cap_has_bbox = cap is not None and _has_bbox(cap.group(1))
                mref = f"img_{media_i:06d}"
                media_i += 1
                if cap is not None:
                    # caption binds only when it carries a bbox
                    # (document.py:5133-5143); otherwise it stays a
                    # standalone caption item
                    emit(f"caption:{mref}" if cap_has_bbox else "caption",
                         _inner_text(cap.group(1)))
                if not has_bbox:
                    continue  # picture unrecoverable without location
                if tag == "chart":
                    cls_name = None
                    for cl in _CHART_CLASSES:
                        if f"<{cl}>" in full_chunk:
                            cls_name = _CHART_REMAP.get(cl, cl)
                            break
                    emit(f"chart:{cls_name or 'bar_chart'}",
                         _flagless_otsl(full_chunk), mref)
                else:
                    emit("picture", "", mref)
            elif tag in ("ordered_list", "unordered_list"):
                emit("list_group")
                enum = tag == "ordered_list"
                for i, li in enumerate(_LI_RE.finditer(full_chunk)):
                    text = _inner_text(li.group(0))
                    if enum:
                        emit(f"list_item:enum:{i + 1}.", text)
                    else:
                        emit("list_item", text)
                emit("end_group")
            elif tag == "inline":
                emit("inline_group")
                content = m.group("content")
                for im in _TAG_RE.finditer(content):
                    _emit_text_like(emit, im.group("tag"),
                                    _inner_text(im.group(0)))
                emit("end_group")
            elif tag == "key_value_region":
                # parse_key_value_item (document.py:4827-4914): cells
                # from <{key|value}_N> tags, every <link_N> becomes a
                # to_value link (the reference labels all parsed links
                # TO_VALUE), links to missing cells dropped
                from docling_core_spark.model.kv import (
                    TO_VALUE,
                    encode_kv,
                    parse_kv,
                )

                cells, links = parse_kv(m.group("content"))
                for link in links:
                    link.label = TO_VALUE
                emit("key_value_region", encode_kv(cells, links))
            else:
                _emit_text_like(emit, tag, _inner_text(full_chunk))
    return spans


def _emit_text_like(emit, tag: str, text: str) -> None:
    """_add_text analogue (document.py:4916-4960)."""
    if tag.startswith("section_header_level_"):
        emit(f"section_header:{tag.rsplit('_', 1)[1]}", text)
    elif tag == "page_header":
        emit("furniture:page_header", text)
    elif tag == "page_footer":
        emit("furniture:page_footer", text)
    elif tag == "list_item":
        emit("list_item", text)
    elif tag in _TEXT_TAGS:
        emit(tag, text)
    else:
        emit("text", text)


# ----------------------------------------------------------------------
def parse_doctags_documents(df, doctags_col: str = "doctags",
                            id_col: str = "doc_id"):
    """DataFrame(doc_id, doctags) -> documents(doc_id, spans), one
    mapInArrow stage (the engine's 'parse' extraction stage)."""
    from docling_core_spark.engine import DOCUMENTS_SCHEMA, map_rows

    def row(d, stream):
        return [(str(d), doctags_to_spans(stream or ""))]

    return map_rows(df, (id_col, doctags_col), DOCUMENTS_SCHEMA,
                    lambda: row)


def parse_and_chunk_doctags(df, doctags_col: str = "doctags",
                            id_col: str = "doc_id", mode: str = "hier",
                            max_tokens: int = 64, merge_peers: bool = True):
    """DataFrame(doc_id, doctags) -> chunks, parse + chunk fused into ONE
    mapInArrow stage.

    Equivalent to ``chunk_documents(parse_doctags_documents(df))`` but
    avoids the second Python-runner hop: chaining two mapInArrow ops puts
    two Python workers in series per task, with an extra JVM<->Python
    Arrow round-trip for the intermediate span table (measured ~2x on the
    doctags->chunks pipeline at sf0.1). Per-row sequential stages should
    fuse into one UDF; plan-level composition is for relational ops."""
    from docling_core_spark.engine import parse_and_chunk

    return parse_and_chunk(df, lambda s: doctags_to_spans(s or ""),
                           text_col=doctags_col, id_col=id_col, mode=mode,
                           max_tokens=max_tokens, merge_peers=merge_peers)
