"""Deterministic synthetic web-page source.

``render_page_html(doc_id, spans)`` publishes a span document as a
realistic HTML page: the main content (rendered through the engine's
span codec tree) is wrapped in randomized-but-deterministic site chrome
- navigation bars, sidebars, ads, cookie banners, comment sections,
scripts - exactly the boilerplate a main-content extractor must strip.

Chrome layout varies per document (container tags, class names, section
order are drawn from a rng seeded by doc_id), so the extractor cannot
key on one fixed template; content markup uses plain semantic HTML
(h1-h6, p, ul/ol/li, pre/code, table, figure/figcaption, dl) - the
dialect documented in extract.py.

The page dialect deliberately expresses ONLY what real HTML can carry;
the information that does not survive (page breaks, furniture layers,
custom list markers) is dropped here and predicted by
projection.project_for_html - keeping the round trip honest.
"""

from __future__ import annotations

import random
import zlib
from html import escape
from typing import Iterable, List

from docling_core_spark.model.doc import (
    K_CAPTION,
    K_CODE,
    K_FORM,
    K_FORMULA,
    K_INLINE_GROUP,
    K_KEY_VALUE,
    K_LIST_GROUP,
    K_LIST_ITEM,
    K_PICTURE,
    K_SECTION_HEADER,
    K_TABLE,
    K_TEXT,
    K_TITLE,
    LAYER_FURNITURE,
    Doc,
    Node,
)
from docling_core_spark.model.kv import parse_kv
from docling_core_spark.model.otsl import parse_otsl
from docling_core_spark.model.spans import doc_from_spans, span_tuples

_CHROME_WORDS = (
    "home about contact privacy terms careers press blog archive "
    "categories trending popular latest subscribe newsletter account "
    "login register search help support sitemap advertise partners "
    "events jobs store deals download community forum docs api status"
).split()

_VOID = ("<br>", "<hr>")
del _VOID


def _cw(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(_CHROME_WORDS)
                    for _ in range(rng.randint(lo, hi)))


def _fmt_wrap(text_html: str, fmt: str) -> str:
    """Canonical formatting nesting, outermost-first: b i u s sub/sup
    (matches the span grammar's canonical flag order)."""
    inner = text_html
    tags: List[str] = []
    for f in fmt:
        if f == "b":
            tags.append("b")
        elif f == "i":
            tags.append("i")
        elif f == "u":
            tags.append("u")
        elif f == "s":
            tags.append("s")
        elif f == "q":
            tags.append("sub")
        elif f == "p":
            tags.append("sup")
    for t in reversed(tags):
        inner = f"<{t}>{inner}</{t}>"
    return inner


def _item_text_html(node: Node) -> str:
    inner = escape(node.text or "")
    if node.hyperlink:
        inner = f'<a href="{escape(node.hyperlink, quote=True)}">{inner}</a>'
    return _fmt_wrap(inner, node.fmt or "")


class _PageRenderer:
    def __init__(self, doc: Doc) -> None:
        self.doc = doc
        self.parts: List[str] = []

    # -- content ---------------------------------------------------------

    def render_body(self, chrome_hook=None) -> str:
        """Render the main content; ``chrome_hook(i)`` may return chrome
        HTML to interleave BETWEEN top-level blocks (in-content ads /
        related-article widgets - real pages put chrome inside the
        article body too, and the extractor must strip it there)."""
        self.parts = []
        for i, child in enumerate(self.doc.body.children):
            if chrome_hook is not None:
                chrome = chrome_hook(i)
                if chrome:
                    self.parts.append(chrome)
            self._render(child, inline=False)
        return "".join(self.parts)

    def furniture_texts(self) -> tuple:
        """(header_texts, footer_texts): page_footer furniture goes to
        the page footer chrome, every other furniture label to the
        header chrome."""
        head, foot = [], []
        for child in self.doc.body.children:
            if not child.is_group and child.layer == LAYER_FURNITURE:
                if (child.label or "") == "page_footer":
                    foot.append(child.text or "")
                else:
                    head.append(child.text or "")
        return head, foot

    def _emit(self, s: str) -> None:
        self.parts.append(s)

    def _render(self, node: Node, inline: bool) -> None:
        if not node.is_group and node.layer == LAYER_FURNITURE:
            return  # furniture renders into the chrome, not the content
        if node.kind == K_CAPTION:
            if self.doc.caption_owner.get(id(node)) is not None:
                return  # owned captions render inside their figure
            self._emit(f'<p class="caption">{_item_text_html(node)}</p>')
        elif node.kind in (K_LIST_GROUP,):
            self._render_list_group(node)
        elif node.kind == K_INLINE_GROUP:
            self._render_inline_group(node)
        elif node.kind == K_TITLE:
            self._render_heading(node, "h1")
        elif node.kind == K_SECTION_HEADER:
            lvl = min(max(int(node.level or 1), 1), 5)
            self._render_heading(node, f"h{lvl + 1}")
        elif node.kind == K_LIST_ITEM:
            self._render_li(node)
        elif node.kind == K_CODE:
            self._render_code(node, inline)
        elif node.kind == K_FORMULA:
            m = f'<span class="math">{escape(node.text or "")}</span>'
            self._emit(m if inline
                       else f'<p class="formula">{m}</p>')
        elif node.kind in (K_PICTURE, K_TABLE):
            self._render_figure(node)
        elif node.kind in (K_KEY_VALUE, K_FORM):
            self._render_kv(node)
        else:  # textual item
            self._render_textual(node, inline)

    def _child_groups_html(self, node: Node) -> str:
        """Item-attached children (:of_prev groups / +child items)
        rendered inside the item's own element."""
        if not node.children:
            return ""
        sub = _PageRenderer(self.doc)
        for c in node.children:
            sub._render(c, inline=False)
        return "".join(sub.parts)

    def _render_heading(self, node: Node, tag: str) -> None:
        self._emit(f"<{tag}>{_item_text_html(node)}"
                   f"{self._child_groups_html(node)}</{tag}>")

    def _render_li(self, node: Node) -> None:
        self._emit(f"<li>{_item_text_html(node)}"
                   f"{self._child_groups_html(node)}</li>")

    def _render_textual(self, node: Node, inline: bool) -> None:
        label = node.label or "text"
        if inline:
            self._emit(f"<span>{_item_text_html(node)}"
                       f"{self._child_groups_html(node)}</span>")
            return
        cls = "" if label == "text" else f' class="{label.replace("_", "-")}"'
        # block children cannot legally live inside <p> (browsers - and
        # this parser - auto-close it); only inline groups stay inside.
        # Anything else moves to a div.attached wrapper holding the
        # item element followed by ALL its children in order.
        block_kids = [c for c in node.children
                      if not (c.is_group and c.kind == K_INLINE_GROUP)]
        if block_kids:
            self._emit(f'<div class="attached"><p{cls}>'
                       f"{_item_text_html(node)}</p>"
                       f"{self._child_groups_html(node)}</div>")
        else:
            self._emit(f"<p{cls}>{_item_text_html(node)}"
                       f"{self._child_groups_html(node)}</p>")

    def _render_code(self, node: Node, inline: bool) -> None:
        lang = node.code_language or "unknown"
        cls = "" if lang in ("", "unknown") else f' class="language-{lang}"'
        inner = _fmt_wrap(escape(node.text or ""), node.fmt or "")
        code = f"<code{cls}>{inner}</code>"
        self._emit(code if inline else f"<pre>{code}</pre>")

    def _render_list_group(self, node: Node) -> None:
        first_item = next((c for c in node.children
                           if c.kind == K_LIST_ITEM), None)
        tag = "ol" if (first_item is not None and first_item.enumerated) \
            else "ul"
        self._emit(f"<{tag}>")
        for c in node.children:
            self._render(c, inline=False)
        self._emit(f"</{tag}>")

    def _render_inline_group(self, node: Node) -> None:
        self._emit('<span class="inline">')
        for c in node.children:
            self._render(c, inline=True)
        self._emit("</span>")

    def _render_kv(self, node: Node) -> None:
        variant = "kv-region" if node.kind == K_KEY_VALUE else "form-region"
        cells, links = parse_kv(node.text or "")
        by_src = {}
        for l in links:
            by_src.setdefault(l.source, []).append(l)
        self._emit(f'<dl class="{variant}">')
        for c in cells:
            tag = "dt" if c.label == "key" else "dd"
            anchors = "".join(
                f'<a class="kv-link kv-{l.label}" href="#c{l.target}"></a>'
                for l in by_src.get(c.cell_id, ()))
            self._emit(f'<{tag} id="c{c.cell_id}">{escape(c.text)}'
                       f"{anchors}</{tag}>")
        self._emit("</dl>")

    # -- figures ---------------------------------------------------------

    def _captions(self, node: Node, before: bool) -> Iterable[Node]:
        for cap in node.captions:
            if (cap.offset < node.offset) == before:
                yield cap

    def _render_figure(self, node: Node) -> None:
        is_chart = bool(node.chart_class)
        if node.kind == K_TABLE:
            fig_cls = "fig-table"
        elif is_chart:
            fig_cls = f"fig-chart chart-{node.chart_class}"
        else:
            fig_cls = "fig-picture"
        self._emit(f'<figure class="{fig_cls}">')
        for cap in self._captions(node, before=True):
            self._emit(f"<figcaption>{escape(cap.text or '')}</figcaption>")
        if node.kind == K_PICTURE:
            if node.image and node.media_ref:
                # picture carries an ImageRef (S9): publish its actual
                # uri (inline data URI or file/remote path - real pages
                # do both), the media id as the anchor, and the pixel
                # size as width/height attributes
                size = node.image.get("size") or {}
                attrs = f' id="{escape(node.media_ref, quote=True)}"' \
                    if node.media_ref else ""
                if size.get("width"):
                    attrs += f' width="{size["width"]}"'
                if size.get("height"):
                    attrs += f' height="{size["height"]}"'
                src = str(node.image.get("uri", ""))
                self._emit(f'<img src="{escape(src, quote=True)}"'
                           f'{attrs} alt="">')
            else:
                # no media id -> nothing to reference: an empty inline
                # data URI (extraction maps data: srcs to no reference)
                src = f"media/{node.media_ref}.png" if node.media_ref \
                    else "data:,"
                self._emit(f'<img src="{escape(src, quote=True)}" alt="">')
            if is_chart and (node.text or "").strip():
                self._render_table_el(node.text, None, "chart-data")
        else:
            self._render_table_el(node.text or "", node.media_ref, None)
        for ann_kind, ann_text in node.pic_anns:
            self._emit(f'<p class="annotation-{ann_kind}">'
                       f"{escape(ann_text)}</p>")
        # attached children (rich-cell targets) render inside the figure
        self._emit(self._child_groups_html(node))
        for cap in self._captions(node, before=False):
            self._emit(f"<figcaption>{escape(cap.text or '')}</figcaption>")
        self._emit("</figure>")

    def _render_table_el(self, otsl: str, table_id: str | None,
                         cls: str | None) -> None:
        table = parse_otsl(otsl)
        attrs = ""
        if table_id:
            attrs += f' id="{escape(table_id, quote=True)}"'
        if cls:
            attrs += f' class="{cls}"'
        self._emit(f"<table{attrs}>")
        grid = table.grid
        for i in range(table.num_rows):
            self._emit("<tr>")
            for j in range(table.num_cols):
                cell = grid[i][j]
                if cell.start_row != i or cell.start_col != j:
                    continue  # covered by a span
                rs = min(cell.end_row, table.num_rows) - cell.start_row
                cs = min(cell.end_col, table.num_cols) - cell.start_col
                a = ""
                if rs > 1:
                    a += f' rowspan="{rs}"'
                if cs > 1:
                    a += f' colspan="{cs}"'
                if cell.column_header:
                    self._emit(f'<th scope="col"{a}>{escape(cell.text)}</th>')
                elif cell.row_header:
                    self._emit(f'<th scope="row"{a}>{escape(cell.text)}</th>')
                elif cell.row_section:
                    self._emit(f'<td class="section-row"{a}>'
                               f"{escape(cell.text)}</td>")
                else:
                    self._emit(f"<td{a}>{escape(cell.text)}</td>")
            self._emit("</tr>")
        self._emit("</table>")


# ----------------------------------------------------------------------
# chrome
# ----------------------------------------------------------------------

def _link_list(rng: random.Random, n_lo: int, n_hi: int) -> str:
    items = "".join(
        f'<li><a href="/{rng.choice(_CHROME_WORDS)}/{rng.randrange(100)}">'
        f"{_cw(rng, 1, 3)}</a></li>"
        for _ in range(rng.randint(n_lo, n_hi)))
    return f"<ul>{items}</ul>"


def _chrome_nav(rng: random.Random) -> str:
    body = _link_list(rng, 6, 14)
    if rng.random() < 0.5:
        return f"<nav>{body}</nav>"
    cls = rng.choice(("nav-main", "menu", "top-menu", "navbar"))
    return f'<div class="{cls}">{body}</div>'


def _chrome_header(rng: random.Random, furniture: List[str]) -> str:
    inner = f'<div class="logo">{_cw(rng, 1, 2).title()}</div>'
    inner += "".join(f'<div class="site-tagline">{escape(t)}</div>'
                     for t in furniture)
    if rng.random() < 0.6:
        return f"<header>{inner}</header>"
    cls = rng.choice(("site-header", "masthead", "page-header"))
    return f'<div class="{cls}">{inner}</div>'


def _chrome_sidebar(rng: random.Random) -> str:
    inner = (f"<h3>{_cw(rng, 1, 2).title()}</h3>"
             + _link_list(rng, 4, 9))
    if rng.random() < 0.5:
        return f"<aside>{inner}</aside>"
    cls = rng.choice(("sidebar", "widget-area", "related-posts"))
    return f'<div class="{cls}">{inner}</div>'


def _chrome_ad(rng: random.Random) -> str:
    cls = rng.choice(("ad-box", "advert", "promo-banner", "sponsored"))
    return (f'<div class="{cls}"><a href="/{rng.choice(_CHROME_WORDS)}">'
            f"{_cw(rng, 2, 6)}</a></div>")


def _chrome_cookie(rng: random.Random) -> str:
    return (f'<div id="cookie-consent"><p>{_cw(rng, 6, 14)}</p>'
            f'<button>{_cw(rng, 1, 2)}</button></div>')


def _chrome_comments(rng: random.Random) -> str:
    cs = "".join(f'<div class="comment"><p>{_cw(rng, 4, 20)}</p></div>'
                 for _ in range(rng.randint(1, 4)))
    return f'<div class="comments"><h3>{_cw(rng, 1, 2)}</h3>{cs}</div>'


def _chrome_social(rng: random.Random) -> str:
    return ('<ul class="social-share">'
            + "".join(f'<li><a href="https://soc.example/{w}">{w}</a></li>'
                      for w in rng.sample(_CHROME_WORDS, rng.randint(3, 6)))
            + "</ul>")


def _chrome_footer(rng: random.Random, furniture: List[str]) -> str:
    inner = "".join(f"<p>{escape(t)}</p>" for t in furniture)
    inner += _link_list(rng, 5, 12)
    inner += f"<p>© {2010 + rng.randrange(15)} {_cw(rng, 1, 2).title()}</p>"
    if rng.random() < 0.6:
        return f"<footer>{inner}</footer>"
    cls = rng.choice(("page-footer", "site-footer", "footer-area"))
    return f'<div class="{cls}">{inner}</div>'


def _chrome_script(rng: random.Random) -> str:
    return (f"<script>var a_{rng.randrange(999)}="
            f"{rng.randrange(10 ** 6)};track(a_{rng.randrange(99)});"
            "</script>")


def render_page_html(doc_id: str, spans: Iterable,
                     chrome_seed: int = 7) -> str:
    """Span tuples (or dicts) -> one full deterministic HTML page."""
    doc = doc_from_spans(doc_id, span_tuples(spans))
    rng = random.Random((zlib.crc32(doc_id.encode()) << 8) ^ chrome_seed)

    r = _PageRenderer(doc)

    def in_content_chrome(_i: int) -> str:
        if rng.random() < 0.06:
            return _chrome_ad(rng)
        if rng.random() < 0.03:
            return ('<div class="related-articles"><h4>'
                    + _cw(rng, 1, 2).title() + "</h4>"
                    + _link_list(rng, 3, 6) + "</div>")
        return ""

    content = r.render_body(chrome_hook=in_content_chrome)
    head_furniture, foot_furniture = r.furniture_texts()

    metas = ""
    title_node = next((c for c in doc.body.children
                       if c.kind == K_TITLE), None)
    page_title = escape(title_node.text) if title_node is not None \
        and title_node.text else escape(doc_id)
    if doc.origin:
        o = doc.origin
        metas += (f'<meta name="doc-filename" '
                  f'content="{escape(o["filename"], quote=True)}">'
                  f'<meta name="doc-hash" content="{o["binary_hash"]}">'
                  f'<meta name="doc-mimetype" '
                  f'content="{escape(o["mimetype"], quote=True)}">')
        if o.get("uri"):
            metas += (f'<meta name="doc-uri" '
                      f'content="{escape(o["uri"], quote=True)}">')

    main_tag = rng.choice((
        ("<main>", "</main>"),
        ("<article>", "</article>"),
        ('<div class="article-body">', "</div>"),
        ('<div id="content">', "</div>"),
        ('<main class="post-content">', "</main>"),
    ))

    pre: List[str] = [_chrome_header(rng, head_furniture),
                      _chrome_nav(rng)]
    if rng.random() < 0.7:
        pre.append(_chrome_ad(rng))
    if rng.random() < 0.5:
        pre.append(_chrome_cookie(rng))
    mid: List[str] = []
    if rng.random() < 0.8:
        mid.append(_chrome_sidebar(rng))
    if rng.random() < 0.4:
        mid.append(_chrome_ad(rng))
    post: List[str] = []
    if rng.random() < 0.6:
        post.append(_chrome_comments(rng))
    if rng.random() < 0.5:
        post.append(_chrome_social(rng))
    post.append(_chrome_footer(rng, foot_furniture))
    post.append(_chrome_script(rng))

    style = "<style>body{margin:0}.ad-box{color:#999}</style>"
    return (
        "<!DOCTYPE html><html><head>"
        f"<meta charset=\"utf-8\"><title>{page_title}</title>{metas}{style}"
        "</head><body>"
        + "".join(pre)
        + main_tag[0] + content + main_tag[1]
        + "".join(mid) + "".join(post)
        + _chrome_script(rng)
        + "</body></html>"
    )
