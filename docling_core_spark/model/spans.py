"""Span codec: flat interleaved span sequence <-> document tree.

The driver's input table (BASELINE.json input_hint) stores each document
as ``spans: array<struct<kind, text, media_ref, offset>>`` - a pre-order
serialization of the reference's document tree. The ``kind`` grammar is
frozen in /root/repo/FIXTURES.md §1:

    title | section_header:L | text | paragraph |
    list_group | inline_group | end_group |
    list_item | list_item:enum | list_item:enum:MARKER |
    code | formula | picture | table | caption:MREF |
    page_break:P | furniture:page_header | furniture:page_footer |
    origin:HASH[:URI]  (doc-level DocumentOrigin: media_ref=mimetype,
                        text=filename, HASH=binary_hash uint64)

``table`` spans carry the OTSL cell stream in ``text`` (cf. reference
export_to_otsl, document.py:1674-1765) and a table id in ``media_ref``.
``caption:MREF`` spans bind caption text to the floating item whose
``media_ref`` equals MREF (cf. FloatingItem.captions, document.py:1315).
"""

from __future__ import annotations

import re
from typing import Dict, Iterable, List, Optional, Tuple

from docling_core_spark.model.doc import (
    FLOATING_KINDS,
    K_BODY,
    K_FORM,
    K_KEY_VALUE,
    TEXTUAL_LABELS,
    K_CAPTION,
    K_CODE,
    K_FORMULA,
    K_INLINE_GROUP,
    K_LIST_GROUP,
    K_LIST_ITEM,
    K_PICTURE,
    K_SECTION_HEADER,
    K_TABLE,
    K_TEXT,
    K_TITLE,
    LAYER_BODY,
    LAYER_FURNITURE,
    Doc,
    Node,
)

Span = Tuple[str, str, str, int]  # (kind, text, media_ref, offset)

# plain-picture annotation grammar carried in the span text:
# <desc>DescriptionAnnotation.text</desc> and
# <smiles>PictureMoleculeData.smi</smiles> in annotation-list order
# (document.py:120-139); chart pictures keep OTSL in text instead
_PIC_ANN_RE = re.compile(r"<(desc|smiles)>(.*?)</\1>", re.DOTALL)
# tables carry only description annotations (TableAnnotationType);
# <desc> tags ride after the OTSL stream in the table span text
_DESC_RE = re.compile(r"<desc>(.*?)</desc>", re.DOTALL)
# picture ImageRef (document.py:798-862) rides in the span text as a
# canonical-JSON <image> tag: {"mimetype", "dpi", "size": {w, h},
# "uri"} - grammar extension for S9 image re-homing
_IMAGE_RE = re.compile(r"<image>(.*?)</image>", re.DOTALL)


def parse_pic_anns(text: str) -> List[Tuple[str, str]]:
    return [(m.group(1), m.group(2))
            for m in _PIC_ANN_RE.finditer(text or "")]


def split_table_anns(text: str) -> Tuple[str, List[Tuple[str, str]]]:
    """Table span text -> (pure OTSL stream, [("desc", text), ...])."""
    anns = [("desc", m) for m in _DESC_RE.findall(text or "")]
    return _DESC_RE.sub("", text or ""), anns


def split_pic_anns(text: str) -> Tuple[str, List[Tuple[str, str]]]:
    """Chart span text -> (pure OTSL stream, desc/smiles annotations)."""
    return _PIC_ANN_RE.sub("", text or ""), parse_pic_anns(text)


def encode_pic_anns(anns: List[Tuple[str, str]]) -> str:
    return "".join(f"<{k}>{v}</{k}>" for k, v in anns
                   if k in ("desc", "smiles"))


def parse_image_ref(text: str) -> Tuple[str, Optional[dict]]:
    """Span text -> (text without <image> tag, ImageRef dict or None)."""
    import json

    m = _IMAGE_RE.search(text or "")
    if not m:
        return text or "", None
    try:
        image = json.loads(m.group(1))
    except ValueError:
        image = None
    return _IMAGE_RE.sub("", text or ""), image


def encode_image_ref(image: Optional[dict]) -> str:
    """ImageRef dict -> canonical <image> tag ("" when None)."""
    import json

    if not image:
        return ""
    return "<image>" + json.dumps(image, sort_keys=True,
                                  separators=(",", ":")) + "</image>"


def span_tuples(spans: Iterable) -> List[Span]:
    """Span dicts or (kind, text, media_ref, offset) tuples -> tuples."""
    return [s if isinstance(s, tuple)
            else (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in spans]


def doc_from_spans(doc_id: str, spans: Iterable[Span]) -> Doc:
    """Rebuild the document tree from its span sequence.

    Mirrors the reference's append-only builder ops add_text/add_table/
    add_picture/add_list_group/... (document.py:2407-3045) driven by the
    pre-order span stream.
    """
    doc = Doc(doc_id)
    container: Node = doc.body
    group_stack: List[Node] = []
    page = 1
    floating_by_ref: Dict[str, Node] = {}
    # captions may precede their floating item (the reference's doctags
    # parser adds the caption text item to the body first,
    # document.py:4774-4791)
    pending_captions: Dict[str, List[Node]] = {}

    ordered = sorted(spans, key=lambda s: s[3])
    for kind, text, media_ref, offset in ordered:
        text = text or ""
        media_ref = media_ref or ""
        # "+child" (stripped first - it is appended last on emission)
        # attaches any item as a CHILD of the preceding item
        # (rich-table cell targets, document.py:344-358)
        as_child = kind.endswith("+child")
        if as_child:
            kind = kind[:-len("+child")]
        # E8 formatting suffix: "<kind>+fmt=<flags>"; for textual kinds
        # the (otherwise unused) media_ref carries the hyperlink
        fmt = ""
        if "+fmt=" in kind:
            kind, fmt = kind.split("+fmt=", 1)
        if kind.startswith("origin"):
            # doc-level DocumentOrigin (document.py:709-762): no tree
            # node; binary_hash (and optional uri) ride in the kind,
            # mimetype in media_ref, filename in text
            parts = kind.split(":", 2)
            try:
                bh = int(parts[1]) if len(parts) > 1 else 0
            except ValueError:
                bh = 0
            doc.origin = {
                "mimetype": media_ref or "application/pdf",
                "binary_hash": bh,
                "filename": text,
                "uri": parts[2] if len(parts) > 2 else None,
            }
            continue
        if kind == "end_group":
            if group_stack:
                group_stack.pop()
                container = group_stack[-1] if group_stack else doc.body
            continue
        if kind.startswith("page_break"):
            try:
                page = int(kind.split(":", 1)[1])
            except (IndexError, ValueError):
                page += 1
            continue
        if kind.split(":", 1)[0] in ("list_group", "inline_group"):
            # flags after the base: ":of_prev" attaches the group as a
            # CHILD of the most recently added item (TextItem/ListItem
            # children, document.py:941-950); ":furniture" puts the
            # group node in the furniture layer (its children keep
            # their own layers - the layer filter excludes the node,
            # not the subtree, document.py:4081-4149)
            flags = kind.split(":")[1:]
            of_prev = "of_prev" in flags
            base = kind.split(":", 1)[0]
            g = Node(K_LIST_GROUP if base == "list_group"
                     else K_INLINE_GROUP, offset=offset, page_no=page,
                     layer=(LAYER_FURNITURE if "furniture" in flags
                            else LAYER_BODY))
            parent = container
            if of_prev and container.children \
                    and not container.children[-1].is_group:
                parent = container.children[-1]
            parent.add_child(g)
            group_stack.append(g)
            container = g
            continue

        node: Optional[Node] = None
        if kind == "title":
            node = Node(K_TITLE, text=text, offset=offset, page_no=page,
                        fmt=fmt, hyperlink=media_ref)
        elif kind.startswith("section_header"):
            try:
                lvl = int(kind.split(":", 1)[1])
            except (IndexError, ValueError):
                lvl = 1
            node = Node(K_SECTION_HEADER, text=text, offset=offset,
                        level=lvl, page_no=page, fmt=fmt,
                        hyperlink=media_ref)
        elif kind in TEXTUAL_LABELS:
            node = Node(K_TEXT, text=text, offset=offset, page_no=page,
                        label=kind, fmt=fmt, hyperlink=media_ref)
        elif kind.startswith("list_item"):
            # list_item | list_item:enum[:MARKER] | list_item:plain:MARKER
            parts = kind.split(":", 2)
            enumerated = len(parts) > 1 and parts[1] == "enum"
            marker = parts[2] if len(parts) > 2 else ""
            node = Node(K_LIST_ITEM, text=text, offset=offset, page_no=page,
                        enumerated=enumerated, marker=marker, fmt=fmt,
                        hyperlink=media_ref)
        elif kind == "code" or kind.startswith("code:"):
            lang = kind.split(":", 1)[1] if ":" in kind else "unknown"
            node = Node(K_CODE, text=text, media_ref=media_ref,
                        offset=offset, page_no=page, fmt=fmt,
                        code_language=lang or "unknown")
        elif kind == "formula":
            node = Node(K_FORMULA, text=text, offset=offset, page_no=page,
                        orig=media_ref)  # orig used for formula fallback
        elif kind == "picture":
            text, image = parse_image_ref(text)
            node = Node(K_PICTURE, media_ref=media_ref, offset=offset,
                        page_no=page, pic_anns=parse_pic_anns(text),
                        image=image)
        elif kind == "table":
            otsl_text, t_anns = split_table_anns(text)
            node = Node(K_TABLE, text=otsl_text, media_ref=media_ref,
                        offset=offset, page_no=page, pic_anns=t_anns)
        elif kind.startswith("chart"):
            # chart:CLASS - picture with classification + tabular chart
            # data (OTSL carried in text, + optional <desc>/<smiles>)
            cls_name = kind.split(":", 1)[1] if ":" in kind else "bar_chart"
            text, image = parse_image_ref(text)
            otsl_text, p_anns = split_pic_anns(text)
            node = Node(K_PICTURE, text=otsl_text, media_ref=media_ref,
                        offset=offset, page_no=page, chart_class=cls_name,
                        pic_anns=p_anns, image=image)
        elif kind == "key_value_region":
            node = Node(K_KEY_VALUE, text=text, offset=offset, page_no=page)
        elif kind == "form":
            node = Node(K_FORM, text=text, offset=offset, page_no=page)
        elif kind.startswith("caption"):
            mref = kind.split(":", 1)[1] if ":" in kind else media_ref
            node = Node(K_CAPTION, text=text, offset=offset, page_no=page,
                        label="caption")
            owner = floating_by_ref.get(mref)
            if owner is not None:
                owner.captions.append(node)
                doc.caption_owner[id(node)] = owner
            elif mref:
                pending_captions.setdefault(mref, []).append(node)
        elif kind.startswith("furniture"):
            sub = kind.split(":", 1)[1] if ":" in kind else "page_header"
            node = Node(K_TEXT, text=text, offset=offset, page_no=page,
                        label=sub, layer=LAYER_FURNITURE)
        else:  # unknown kind: treat as plain text (forward compat)
            node = Node(K_TEXT, text=text, offset=offset, page_no=page)

        target = container
        if as_child and container.children \
                and not container.children[-1].is_group:
            target = container.children[-1]
        target.add_child(node)
        if node.kind in FLOATING_KINDS and media_ref:
            floating_by_ref[media_ref] = node
            for cap in pending_captions.pop(media_ref, []):
                node.captions.append(cap)
                doc.caption_owner[id(cap)] = node
    return doc


def spans_from_doc(doc: Doc) -> List[dict]:
    """Flatten a tree back to span rows (used by fixture converters)."""
    out: List[dict] = []
    off = 0
    emitted_page = 1  # rebuild starts at page 1

    def emit(kind: str, text: str = "", media_ref: str = "") -> None:
        nonlocal off
        out.append({"kind": kind, "text": text, "media_ref": media_ref,
                    "offset": off})
        off += 1

    def fmt_suffix(c: Node) -> str:
        return f"+fmt={c.fmt}" if c.fmt else ""

    def walk(node: Node) -> None:
        nonlocal emitted_page
        for c in node.children:
            # page_break:N sets the running page to EXACTLY N on rebuild
            # (dips included - body order and provenance pages can
            # disagree, e.g. page footers stored after the next page's
            # content), so emitting a break on every change makes node
            # pages a round-trip invariant
            if not c.is_group and c.page_no != emitted_page:
                emit(f"page_break:{c.page_no}")
                emitted_page = c.page_no
            if c.layer == LAYER_FURNITURE and not c.is_group:
                emit(f"furniture:{c.label}", c.text)
                # body-layer children of a furniture leaf are legal
                # trees (append_child_item onto a page header) and the
                # serializers render them - emit, don't drop
                emit_item_children(c)
                continue
            if c.kind == K_LIST_GROUP:
                emit("list_group:furniture"
                     if c.layer == LAYER_FURNITURE else "list_group")
                walk(c)
                emit("end_group")
            elif c.kind == K_INLINE_GROUP:
                emit("inline_group:furniture"
                     if c.layer == LAYER_FURNITURE else "inline_group")
                walk(c)
                emit("end_group")
            elif c.kind == K_TITLE:
                emit(f"title{fmt_suffix(c)}", c.text, c.hyperlink)
                emit_item_children(c)
            elif c.kind == K_SECTION_HEADER:
                emit(f"section_header:{c.level}{fmt_suffix(c)}", c.text,
                     c.hyperlink)
                emit_item_children(c)
            elif c.kind == K_LIST_ITEM:
                if c.enumerated and c.marker:
                    base = f"list_item:enum:{c.marker}"
                elif c.enumerated:
                    base = "list_item:enum"
                elif c.marker:
                    base = f"list_item:plain:{c.marker}"
                else:
                    base = "list_item"
                emit(f"{base}{fmt_suffix(c)}", c.text, c.hyperlink)
                emit_item_children(c)
            elif c.kind == K_CODE:
                base = ("code" if c.code_language in ("", "unknown")
                        else f"code:{c.code_language}")
                emit(f"{base}{fmt_suffix(c)}", c.text, c.media_ref)
                emit_item_children(c)
            elif c.kind == K_FORMULA:
                emit("formula", c.text, c.orig)
                emit_item_children(c)
            elif c.kind == K_PICTURE:
                img_tag = encode_image_ref(c.image)
                if c.chart_class:
                    emit(f"chart:{c.chart_class}",
                         c.text + encode_pic_anns(c.pic_anns) + img_tag,
                         c.media_ref)
                else:
                    emit("picture",
                         encode_pic_anns(c.pic_anns) + img_tag,
                         c.media_ref)
                emit_item_children(c)
            elif c.kind == K_TABLE:
                emit("table", c.text + encode_pic_anns(c.pic_anns),
                     c.media_ref)
                emit_item_children(c)
            elif c.kind == K_CAPTION:
                # owned captions emit AT THEIR BODY POSITION (the codec
                # binds by media_ref in either direction), not after the
                # owner: moving them would shift sibling indices and
                # change ordered-list numbering on rebuild (hypothesis
                # found the instability)
                owner = doc.caption_owner.get(id(c))
                if owner is not None:
                    emit(f"caption:{owner.media_ref}", c.text)
                else:
                    # orphan caption (no floating item claimed it):
                    # keep it as a standalone caption span
                    emit("caption", c.text)
                emit_item_children(c)
            elif c.kind == K_KEY_VALUE:
                emit("key_value_region", c.text)
                emit_item_children(c)
            elif c.kind == K_FORM:
                emit("form", c.text)
                emit_item_children(c)
            else:
                base = c.label if c.label in TEXTUAL_LABELS else "text"
                emit(f"{base}{fmt_suffix(c)}", c.text, c.hyperlink)
                emit_item_children(c)

    def emit_item_children(item: Node) -> None:
        """Children of a text-like item: nested groups emit with the
        :of_prev marker (rebuild re-attaches them as item children);
        non-group children recurse flat."""
        for g in item.children:
            if g.kind in (K_LIST_GROUP, K_INLINE_GROUP):
                base = ("list_group" if g.kind == K_LIST_GROUP
                        else "inline_group")
                flag = (":furniture" if g.layer == LAYER_FURNITURE
                        else "")
                emit(f"{base}:of_prev{flag}")
                walk(g)
                emit("end_group")
            else:
                # non-group child: mark its own span +child (the first
                # non-page-break span the subtree emits)
                mark = len(out)
                walk_one(g)
                for s in out[mark:]:
                    if not s["kind"].startswith("page_break"):
                        s["kind"] += "+child"
                        break

    def walk_one(node: Node) -> None:
        holder = Node(K_BODY)
        holder.children = [node]
        walk(holder)

    if doc.origin is not None:
        o = doc.origin
        kind = f"origin:{o['binary_hash']}"
        if o.get("uri"):
            kind += f":{o['uri']}"
        # prepend at offset 0, shift everything else - origin is
        # doc-level metadata and precedes all content
        walk(doc.body)
        return ([{"kind": kind, "text": o["filename"],
                  "media_ref": o["mimetype"], "offset": 0}]
                + [{**s, "offset": s["offset"] + 1} for s in out])
    walk(doc.body)
    return out
