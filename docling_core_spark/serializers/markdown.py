"""Markdown / plain-text serialization of the document tree.

From-scratch re-expression of the reference's serializer framework
(transforms/serializer/common.py + markdown.py) specialized to the span
data model. Pure Python, designed to run per-document inside a pandas
UDF. Cites are reference file:line of the behavior being reproduced.

Two public modes:
* ``export_to_markdown(doc, params)`` - full markdown (document.py:4458)
* ``chunking_serializer(doc)``       - the ChunkingDocSerializer config:
  triplet tables, empty image placeholder, no escaping
  (chunker/hierarchical_chunker.py:174-192)
"""

from __future__ import annotations

import html as _html
import re
import textwrap
from typing import Iterator, List, Optional, Set, Tuple

from docling_core_spark.model.doc import (
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
    Doc,
    Node,
)
from docling_core_spark.model.otsl import parse_otsl, table_rows_text, triplet_text
from docling_core_spark.serializers.mdtable import render_github_table

# DOCUMENT_TOKENS_EXPORT_LABELS (document.py:65-92) projected onto the
# span grammar's label vocabulary
DEFAULT_LABELS = frozenset({
    "title", "document_index", "section_header", "paragraph", "table",
    "picture", "formula", "checkbox_unselected", "checkbox_selected",
    "text", "list_item", "code", "reference", "page_header", "page_footer",
    "key_value_region", "footnote", "caption", "form",
})

_PB_SENTINEL = "#_#_DOCLING_DOC_PAGE_BREAK_{}_{}_#_#"
_PB_RE = re.compile(r"#_#_DOCLING_DOC_PAGE_BREAK_(\d+)_(\d+)_#_#")
_ESC_UNDERSCORE_URL_RE = re.compile(r"!\[.*?\]\((.*?)\)")
_ESC_UNDERSCORE_RE = re.compile(r"(?<!\\)_")
_ALNUM_RE = re.compile(r"[a-zA-Z0-9]")
_VALID_ENUM_MARKER_RE = re.compile(r"\d+\.")

_MAXSIZE = 2 ** 62


class SerResult:
    """Serialization result: text + ordered dedup span nodes
    (serializer/base.py:28-50)."""

    __slots__ = ("text", "spans")

    def __init__(self, text: str = "", spans: Optional[List[Node]] = None):
        self.text = text
        self.spans = spans if spans is not None else []


def _ser(text: str = "", source=None) -> SerResult:
    """create_ser_result analogue (serializer/common.py:146-175)."""
    if source is None:
        return SerResult(text, [])
    if isinstance(source, Node):
        return SerResult(text, [source])
    spans: List[Node] = []
    seen: Set[int] = set()
    for res in source:
        for node in res.spans:
            if id(node) not in seen:
                seen.add(id(node))
                spans.append(node)
    return SerResult(text, spans)


class MarkdownParams:
    """Markdown serialization parameters (markdown.py:90-107 +
    CommonParams, common.py:180-200)."""

    __slots__ = (
        "labels", "layers", "pages", "start_idx", "stop_idx",
        "image_placeholder", "indent", "wrap_width",
        "page_break_placeholder", "escape_underscores", "escape_html",
        "caption_delim", "table_mode", "include_annotations",
        "enable_chart_tables",
    )

    def __init__(
        self,
        labels: frozenset = DEFAULT_LABELS,
        layers: Tuple[str, ...] = (LAYER_BODY,),
        pages: Optional[Set[int]] = None,
        start_idx: int = 0,
        stop_idx: int = _MAXSIZE,
        image_placeholder: str = "<!-- image -->",
        indent: int = 4,
        wrap_width: Optional[int] = None,
        page_break_placeholder: Optional[str] = None,
        escape_underscores: bool = True,
        escape_html: bool = True,
        caption_delim: str = " ",
        table_mode: str = "md",  # "md" | "triplet"
        include_annotations: bool = True,
        enable_chart_tables: bool = True,
    ) -> None:
        self.labels = labels
        self.layers = layers
        self.pages = pages
        self.start_idx = start_idx
        self.stop_idx = stop_idx
        self.image_placeholder = image_placeholder
        self.indent = indent
        self.wrap_width = wrap_width
        self.page_break_placeholder = page_break_placeholder
        self.escape_underscores = escape_underscores
        self.escape_html = escape_html
        self.caption_delim = caption_delim
        self.table_mode = table_mode
        self.include_annotations = include_annotations
        self.enable_chart_tables = enable_chart_tables


class _PageBreak(Node):
    """Synthetic page-break node (serializer/common.py:60-66).

    ``media_ref`` carries the reference's "#/pb/<i>" identity; the
    counter only increments on item-adjacent breaks (common.py:104-117),
    so a group-preceding break shares its id with the following item
    break and the duplicate is dropped by the visited check in
    get_parts - replicated bug-for-bug for parity.
    """

    def __init__(self, prev_page: int, next_page: int, pb_i: int) -> None:
        super().__init__("page_break")
        self.level = prev_page          # reuse slots: level=prev
        self.page_no = next_page        # page_no=next
        self.media_ref = f"#/pb/{pb_i}"


def _escape_underscores(text: str) -> str:
    """Escape underscores outside image URLs (markdown.py:598-620)."""
    parts: List[str] = []
    last_end = 0
    for m in _ESC_UNDERSCORE_URL_RE.finditer(text):
        parts.append(_ESC_UNDERSCORE_RE.sub(r"\\_", text[last_end:m.start()]))
        parts.append(m.group(0))
        last_end = m.end()
    if last_end < len(text):
        parts.append(_ESC_UNDERSCORE_RE.sub(r"\\_", text[last_end:]))
    return "".join(parts)


class MarkdownSerializer:
    """Visitor-style markdown serializer (DocSerializer analogue,
    serializer/common.py:203-437 + markdown.py:483-723)."""

    def __init__(self, doc: Doc, params: Optional[MarkdownParams] = None,
                 base_params: Optional[MarkdownParams] = None):
        self.doc = doc
        self.params = params if params is not None else MarkdownParams()
        # ``base_params``: the serializer-construction params BEFORE any
        # per-call patch. The reference's markdown KV serializer calls
        # get_excluded_refs() without forwarding the call kwargs
        # (markdown.py:480), so KV exclusion sees only these; the page
        # chunker exploits this distinction (pages arrive per-call).
        self.base_params = base_params if base_params is not None \
            else self.params
        self._excluded: Optional[Set[int]] = None
        self._base_excluded: Optional[Set[int]] = None
        self._captions_of_some_item = doc.captions_of_some_item()
        # id(node) -> text of each non-group node ``serialize`` rendered,
        # bar inline code and formulas: in markdown each entry equals a
        # fresh ``serialize(node=node).text``, so the hybrid chunker reads
        # item texts here. ``serialize`` never reads it; nothing reads it
        # on the html and doctags subclasses, which render text by scope.
        self.item_texts: dict = {}

    # ------------------------------------------------------------------
    def get_excluded_refs(self) -> Set[int]:
        """ids of excluded nodes (common.py:239-274)."""
        if self._excluded is None:
            self._excluded = self._compute_excluded(self.params)
        return self._excluded

    def get_excluded_refs_unpatched(self) -> Set[int]:
        """Exclusions computed from the pre-patch params (the reference
        KV serializer's get_excluded_refs() call without kwargs)."""
        if self.base_params is self.params:
            return self.get_excluded_refs()
        if self._base_excluded is None:
            self._base_excluded = self._compute_excluded(self.base_params)
        return self._base_excluded

    def _compute_excluded(self, p: MarkdownParams) -> Set[int]:
        excluded: Set[int] = set()
        ix = 0
        for node, _lvl in self.doc.iterate_items(
                with_groups=True, layers=p.layers):
            # traverse_pictures=True in the reference's exclusion scan:
            # our iterate skips picture children; pictures in the span
            # grammar only carry caption children, which ARE traversed,
            # so the enumeration matches.
            if ix < p.start_idx or ix >= p.stop_idx:
                excluded.add(id(node))
            elif not node.is_group:
                if node.label not in p.labels or node.layer not in p.layers:
                    excluded.add(id(node))
                elif p.pages is not None and node.page_no not in p.pages:
                    excluded.add(id(node))
            ix += 1
        return excluded

    # ------------------------------------------------------------------
    def requires_page_break(self) -> bool:
        """markdown.py:720-722; the html serializer overrides for
        split-page mode."""
        return self.params.page_break_placeholder is not None

    # ------------------------------------------------------------------
    def _iterate(self, root: Optional[Node]) -> Iterator[Node]:
        """_iterate_items analogue with page-break injection
        (common.py:72-124). Uses an internal visited set for the group
        lookahead, exactly like the reference (get_parts does NOT share
        its visited set with the iterator)."""
        add_pb = self.requires_page_break()
        items = self.doc.iterate_items(root=root, with_groups=True,
                                       layers=self.params.layers)
        if not add_pb:
            for node, _ in items:
                yield node
            return
        lookahead_seen: Set[int] = set()
        prev_page: Optional[int] = None
        pb_i = 0
        for node, _ in items:
            if node.kind in (K_LIST_GROUP, K_INLINE_GROUP) and \
                    id(node) not in lookahead_seen:
                # page break before group if its first prov'd item starts
                # a new page (common.py:91-110)
                lookahead_seen.add(id(node))
                for sub, _ in self.doc.iterate_items(
                        root=node, with_groups=True,
                        layers=self.params.layers):
                    if not sub.is_group:
                        if prev_page is not None and sub.page_no > prev_page:
                            yield _PageBreak(prev_page, sub.page_no, pb_i)
                        break
            elif not node.is_group:
                page_no = node.page_no
                if prev_page is None or page_no > prev_page:
                    if prev_page is not None:
                        yield _PageBreak(prev_page, page_no, pb_i)
                        pb_i += 1
                    prev_page = page_no
            yield node

    # ------------------------------------------------------------------
    # E8 formatting hooks (markdown.py:629-652; underline/sub/super are
    # no-ops in markdown, common.py:468-497 base hooks)
    def serialize_bold(self, text: str) -> str:
        return f"**{text}**"

    def serialize_italic(self, text: str) -> str:
        return f"*{text}*"

    def serialize_underline(self, text: str) -> str:
        return text

    def serialize_strikethrough(self, text: str) -> str:
        return f"~~{text}~~"

    def serialize_subscript(self, text: str) -> str:
        return text

    def serialize_superscript(self, text: str) -> str:
        return text

    def serialize_hyperlink(self, text: str, hyperlink: str) -> str:
        return f"[{text}]({hyperlink})"

    def post_process(self, text: str, escape_html: bool = True,
                     escape_underscores: bool = True, fmt: str = "",
                     hyperlink: str = "") -> str:
        """markdown.py:679-701: escapes, then the formatting hooks in
        the reference's fixed order (common.py:439-466), then the
        hyperlink wrap."""
        res = text
        if escape_underscores and self.params.escape_underscores:
            res = _escape_underscores(text)
        if escape_html and self.params.escape_html:
            res = _html.escape(res, quote=False)
        if fmt:
            if "b" in fmt:
                res = self.serialize_bold(res)
            if "i" in fmt:
                res = self.serialize_italic(res)
            if "u" in fmt:
                res = self.serialize_underline(res)
            if "s" in fmt:
                res = self.serialize_strikethrough(res)
            if "q" in fmt:
                res = self.serialize_subscript(res)
            elif "p" in fmt:
                res = self.serialize_superscript(res)
        if hyperlink:
            res = self.serialize_hyperlink(res, hyperlink)
        return res

    # ------------------------------------------------------------------
    def serialize_captions(self, node: Node) -> SerResult:
        """common.py:508-528."""
        if "caption" not in self.params.labels:
            return _ser()
        excluded = self.get_excluded_refs()
        results = [
            _ser(text=cap.text, source=cap)
            for cap in node.captions
            if id(cap) not in excluded
        ]
        text_res = self.params.caption_delim.join(r.text for r in results)
        text_res = self.post_process(text=text_res)
        return _ser(text=text_res, source=results)

    # ------------------------------------------------------------------
    def serialize(self, node: Optional[Node] = None, list_level: int = 0,
                  is_inline_scope: bool = False,
                  visited: Optional[Set[int]] = None) -> SerResult:
        """Dispatch (common.py:292-399)."""
        my_visited = visited if visited is not None else set()
        if node is None or node is self.doc.body:
            if id(self.doc.body) not in my_visited:
                my_visited.add(id(self.doc.body))
                # reference _serialize_body does not propagate the visited
                # set into get_parts (common.py:286-290)
                parts = self.get_parts(None)
                return self.serialize_doc(parts)
            return _ser()

        my_visited.add(id(node))
        kind = node.kind
        if kind == K_LIST_GROUP:
            return self._serialize_list(node, list_level, is_inline_scope,
                                        my_visited)
        if kind == K_INLINE_GROUP:
            return self._serialize_inline(node, list_level, my_visited)
        if kind == "page_break":
            return SerResult(_PB_SENTINEL.format(node.level, node.page_no))
        res = self._serialize_item(node, is_inline_scope, my_visited)
        # only code and formulas render differently in an inline scope;
        # no item's text depends on list_level or on the visited set
        if not (is_inline_scope and kind in (K_CODE, K_FORMULA)):
            self.item_texts[id(node)] = res.text
        return res

    def _serialize_item(self, node: Node, is_inline_scope: bool,
                        visited: Set[int]) -> SerResult:
        """The non-group half of ``serialize``'s dispatch."""
        kind = node.kind
        if kind == K_TABLE:
            return self._serialize_table(node, visited)
        if kind == K_PICTURE:
            return self._serialize_picture(node)
        if kind == "key_value_region":
            return self._serialize_key_value(node)
        if kind == "form":
            return self._serialize_form(node)
        # text-like items
        if id(node) in self._captions_of_some_item:
            return _ser()  # handled by owning floating item (common.py:340)
        if id(node) in self.get_excluded_refs():
            return _ser()
        return self._serialize_text(node, is_inline_scope, visited)

    # ------------------------------------------------------------------
    def get_parts(self, node: Optional[Node] = None, list_level: int = 0,
                  is_inline_scope: bool = False,
                  visited: Optional[Set[int]] = None) -> List[SerResult]:
        """common.py:402-437."""
        parts: List[SerResult] = []
        my_visited = visited if visited is not None else set()
        for n in self._iterate(node):
            # page-break nodes are keyed by their shared "#/pb/<i>" ref,
            # regular nodes by object identity
            key = n.media_ref if n.kind == "page_break" else id(n)
            if key in my_visited:
                continue
            my_visited.add(key)
            part = self.serialize(node=n, list_level=list_level,
                                  is_inline_scope=is_inline_scope,
                                  visited=my_visited)
            if part.text:
                parts.append(part)
        return parts

    # ------------------------------------------------------------------
    def _serialize_text(self, node: Node, is_inline_scope: bool,
                        visited: Set[int]) -> SerResult:
        """MarkdownTextSerializer.serialize (markdown.py:110-237)."""
        p = self.params
        res_parts: List[SerResult] = []
        text = node.text
        escape_html = True
        escape_underscores = True
        processing_pending = True
        kind = node.kind
        if kind in (K_LIST_ITEM, K_TITLE, K_SECTION_HEADER):
            processing_pending = False
            if (text == "" and len(node.children) == 1
                    and node.children[0].kind == K_INLINE_GROUP):
                # inline group as the item's single child: the item text
                # IS the serialized group (markdown.py:133-146); the
                # shared visited set suppresses its re-emission
                text = self.serialize(node=node.children[0],
                                      visited=visited).text
            else:
                text = self.post_process(text, fmt=node.fmt,
                                         hyperlink=node.hyperlink)
            if kind == K_LIST_ITEM:
                pieces: List[str] = []
                case_auto = bool(_ALNUM_RE.search(node.marker))
                case_already_valid = (
                    node.marker in ("-", "*", "+")
                    or _VALID_ENUM_MARKER_RE.fullmatch(node.marker) is not None
                )
                if not case_already_valid:
                    group = node.parent
                    if group is not None and group.first_item_is_enumerated() \
                            and not node.marker:
                        pos = -1
                        for i, child in enumerate(group.children):
                            if child is node:
                                pos = i
                                break
                        pieces.append(f"{pos + 1}.")
                    else:
                        pieces.append("-")
                if node.marker and (case_auto or case_already_valid):
                    pieces.append(node.marker)
                pieces.append(text)
                text_part = " ".join(pieces)
            elif kind == K_TITLE:
                text_part = f"# {text}"
            else:
                text_part = f"{'#' * (node.level + 1)} {text}"
        elif kind == K_CODE:
            text_part = f"`{text}`" if is_inline_scope else f"```\n{text}\n```"
            escape_html = False
            escape_underscores = False
        elif kind == K_FORMULA:
            if text:
                text_part = f"${text}$" if is_inline_scope else f"$${text}$$"
            elif node.orig:
                text_part = "<!-- formula-not-decoded -->"
            else:
                text_part = ""
            escape_html = False
            escape_underscores = False
        elif p.wrap_width:
            text_part = textwrap.fill(text, width=p.wrap_width)
        else:
            text_part = text

        if text_part:
            res_parts.append(_ser(text=text_part, source=node))

        if kind == K_CODE:  # FloatingItem caption hook (markdown.py:225-228)
            cap_res = self.serialize_captions(node)
            if cap_res.text:
                res_parts.append(cap_res)

        out_text = (" " if is_inline_scope else "\n\n").join(
            r.text for r in res_parts)
        if processing_pending:
            out_text = self.post_process(out_text, escape_html=escape_html,
                                         escape_underscores=escape_underscores,
                                         fmt=node.fmt,
                                         hyperlink=node.hyperlink)
        return _ser(text=out_text, source=res_parts)

    # ------------------------------------------------------------------
    _RICH_RE = re.compile(r"^<rich_(\d+)>$")

    def _rich_cell_text(self, node: Node, cell_text: str,
                        visited: Set[int]):
        """RichTableCell resolution (markdown.py:322-334): the cell
        renders the referenced table child, serialized with THIS
        serializer (shared visited suppresses its body re-emission);
        returns None for plain cells."""
        m = self._RICH_RE.fullmatch(cell_text)
        if m is None:
            return None
        k = int(m.group(1))
        if k >= len(node.children):
            return ""
        return self.serialize(node=node.children[k],
                              visited=visited).text

    def _serialize_table(self, node: Node,
                         visited: Optional[Set[int]] = None) -> SerResult:
        """MarkdownTableSerializer (markdown.py:280-340) or
        TripletTableSerializer (hierarchical_chunker.py:125-171)."""
        my_visited = visited if visited is not None else set()
        parts: List[SerResult] = []
        cap_res = self.serialize_captions(node)
        if cap_res.text:
            parts.append(cap_res)
        if id(node) not in self.get_excluded_refs():
            # description annotations before the table body, standard
            # mode only (MarkdownTableSerializer markdown.py:311-318;
            # TripletTableSerializer renders none)
            if (self.params.table_mode != "triplet"
                    and self.params.include_annotations):
                for _k, v in node.pic_anns:
                    if v:
                        parts.append(_ser(text=v, source=node))
            table = parse_otsl(node.text)
            if self.params.table_mode == "triplet":
                # triplet text goes through export_to_dataframe without
                # doc - rich cells degrade to the placeholder
                # (document.py:352-358); children chunk separately
                for c in table.cells:
                    if self._RICH_RE.fullmatch(c.text):
                        c.text = "<!-- rich cell -->"
                t_text = triplet_text(table)
                if t_text:
                    parts.append(_ser(text=t_text, source=node))
            else:
                for c in table.cells:
                    rich = self._rich_cell_text(node, c.text, my_visited)
                    if rich is not None:
                        c.text = rich
                rows = table_rows_text(table)
                # md tables must not break on newlines in (rich) cells
                # (markdown.py:330-334)
                rows = [[t.replace("\n", " ") for t in r] for r in rows]
                if len(rows) > 1 and len(rows[0]) > 0:
                    table_text = render_github_table(rows[1:], headers=rows[0])
                else:
                    table_text = ""
                if table_text:
                    parts.append(_ser(text=table_text, source=node))
        text_res = "\n\n".join(r.text for r in parts)
        return _ser(text=text_res, source=parts)

    # ------------------------------------------------------------------
    def _serialize_picture(self, node: Node) -> SerResult:
        """MarkdownPictureSerializer (markdown.py:344-420); image stays by
        reference, PLACEHOLDER mode only (media never decoded at scale).
        Chart pictures carry a classification annotation (rendered as its
        class name, underscores to spaces) and a tabular-chart markdown
        table (markdown.py:381-404)."""
        parts: List[SerResult] = []
        cap_res = self.serialize_captions(node)
        if cap_res.text:
            parts.append(cap_res)
        if id(node) not in self.get_excluded_refs():
            if self.params.include_annotations:
                if node.chart_class:
                    ann_text = node.chart_class.replace("_", " ")
                    parts.append(_ser(text=ann_text, source=node))
                # description / molecule annotations render as their
                # text / SMILES string, in annotation order
                # (MarkdownAnnotationSerializer markdown.py:243-283)
                for _k, v in node.pic_anns:
                    if v:
                        parts.append(_ser(text=v, source=node))
            if self.params.image_placeholder:
                parts.append(_ser(text=self.params.image_placeholder,
                                  source=node))
        if self.params.enable_chart_tables and node.chart_class and node.text:
            table = parse_otsl(node.text)
            rows = table_rows_text(table)
            if len(rows) > 1 and len(rows[0]) > 0:
                md_table = render_github_table(rows[1:], headers=rows[0])
                if md_table:
                    parts.append(_ser(text=md_table, source=node))
        text_res = "\n\n".join(r.text for r in parts if r.text)
        return _ser(text=text_res, source=parts)

    # ------------------------------------------------------------------
    def _serialize_key_value(self, node: Node) -> SerResult:
        """MarkdownKeyValueSerializer placeholder (markdown.py:466-486).
        NB: the reference checks get_excluded_refs() WITHOUT forwarding
        the per-call kwargs, so patched-in page filters don't exclude
        KV items - replicated via the unpatched exclusion set."""
        if id(node) not in self.get_excluded_refs_unpatched():
            return _ser(text="<!-- missing-key-value-item -->", source=node)
        return _ser()

    # ------------------------------------------------------------------
    def _serialize_form(self, node: Node) -> SerResult:
        """MarkdownFormSerializer placeholder (markdown.py:489-509);
        same unpatched-exclusion quirk as key-value items."""
        if id(node) not in self.get_excluded_refs_unpatched():
            return _ser(text="<!-- missing-form-item -->", source=node)
        return _ser()

    # ------------------------------------------------------------------
    def _serialize_list(self, node: Node, list_level: int,
                        is_inline_scope: bool, visited: Set[int]
                        ) -> SerResult:
        """MarkdownListSerializer (markdown.py:466-516)."""
        p = self.params
        parts = self.get_parts(node, list_level=list_level + 1,
                               is_inline_scope=is_inline_scope,
                               visited=visited)
        my_parts: List[SerResult] = []
        for part in parts:
            if (my_parts and part.text and part.spans
                    and part.spans[0].parent is not None
                    and part.spans[0].parent.kind == K_INLINE_GROUP):
                my_parts[-1].text = f"{my_parts[-1].text}{part.text}"
                my_parts[-1].spans.extend(part.spans)
            else:
                my_parts.append(part)
        indent_str = list_level * p.indent * " "
        text_res = "\n".join(
            (c.text if c.text and c.text[0] == " " else f"{indent_str}{c.text}")
            for c in my_parts
        )
        return _ser(text=text_res, source=my_parts)

    # ------------------------------------------------------------------
    def _serialize_inline(self, node: Node, list_level: int,
                          visited: Set[int]) -> SerResult:
        """MarkdownInlineSerializer (markdown.py:519-545)."""
        parts = self.get_parts(node, list_level=list_level,
                               is_inline_scope=True, visited=visited)
        text_res = " ".join(p.text for p in parts if p.text)
        return _ser(text=text_res, source=parts)

    # ------------------------------------------------------------------
    def serialize_doc(self, parts: List[SerResult]) -> SerResult:
        """markdown.py:648-668."""
        text_res = "\n\n".join(p.text for p in parts if p.text)
        if self.params.page_break_placeholder is not None:
            page_sep = self.params.page_break_placeholder or ""
            text_res = _PB_RE.sub(lambda m: page_sep, text_res)
        return _ser(text=text_res, source=parts)


# ----------------------------------------------------------------------
def chunking_serializer(doc: Doc) -> MarkdownSerializer:
    """ChunkingDocSerializer config (hierarchical_chunker.py:174-192)."""
    return MarkdownSerializer(doc, MarkdownParams(
        image_placeholder="",
        escape_underscores=False,
        escape_html=False,
        table_mode="triplet",
    ))


def export_to_markdown(doc: Doc, **kw) -> str:
    """document.py:4458-4563 equivalent."""
    return MarkdownSerializer(doc, MarkdownParams(**kw)).serialize().text


def export_to_text(doc: Doc, **kw) -> str:
    """document.py:4565-4583: markdown with escaping off and empty image
    placeholder."""
    kw.setdefault("escape_underscores", False)
    kw.setdefault("image_placeholder", "")
    return export_to_markdown(doc, **kw)
