"""Deterministic synthetic interleaved-document corpus.

Generates the driver-shaped input table (BASELINE.json input_hint):

    documents(doc_id string,
              spans array<struct<kind,text,media_ref,offset:int>>)

Each document is a pure function of (seed, doc_index): generation uses
``random.Random`` seeded per document, so the same rows can be produced
independently on any executor (mapInPandas over an index range - no
shuffle, no driver-side materialization) and in plain Python for the
oracle tests.

The span mix follows FIXTURES.md §1's size profile and deliberately
exercises every parity-sensitive serializer path: nested/enumerated
lists with odd markers, inline groups, OTSL tables with header flags and
row/col spans, captions bound to pictures & tables, code/formula items,
furniture spans, page breaks, underscores and HTML-escapable characters
in text.
"""

from __future__ import annotations

import random
from typing import Dict, List, Optional

_WORDS = (
    "data pipeline span document chunk table figure caption heading "
    "serialization traversal markdown export token budget window merge "
    "split engine spark parquet iceberg shuffle partition skew salt "
    "broadcast join filter project aggregate stream batch arrow pandas "
    "vector column row cell grid header footer body furniture layer "
    "analysis under_score score alpha beta gamma delta epsilon http "
    "a an the of to in for with on by and or is are was były naïve"
).split()

_MARKERS = ["", "", "", "-", "*", "1.", "2.", "(1)", "a)", "i.", "•", "⁃"]

_HTML_SPICE = ["AT&T", "<tag>", "x < y", "a > b", "A&B", "q&a"]


def _kv_cells(rng: random.Random) -> str:
    """Key-value graph cells in the kv grammar (model/kv.py); ~1/4 of
    regions stay cell-less (the pre-v2 shape)."""
    n_pairs = rng.choice((0, 1, 2, 2, 3, 4))
    parts = []
    for i in range(n_pairs):
        k, v = 2 * i, 2 * i + 1
        parts.append(f"<key_{k}>{_words(rng, 1, 3)}<link_{v}></key_{k}>")
        parts.append(f"<value_{v}>{_words(rng, 1, 5)}</value_{v}>")
    return "".join(parts)


def _words(rng: random.Random, lo: int, hi: int) -> str:
    n = rng.randint(lo, hi)
    ws = [rng.choice(_WORDS) for _ in range(n)]
    if rng.random() < 0.08:
        ws[rng.randrange(len(ws))] = rng.choice(_HTML_SPICE)
    return " ".join(ws)


def _otsl_sanitize(text: str) -> str:
    """OTSL invariant: cell payloads must not contain raw angle brackets
    (the token grammar <...> cannot escape them; the reference parser
    crashes on e.g. 'x < y' in a cell - utils.py:96-134)."""
    return text.replace("<", "(").replace(">", ")")


def _otsl_table(rng: random.Random) -> str:
    """Random OTSL stream: optional header row, occasional spans and
    empty cells, numeric columns to exercise md-table numparse."""
    nrows = rng.randint(2, 6)
    ncols = rng.randint(2, 5)
    with_header = rng.random() < 0.7
    numeric_cols = {j for j in range(ncols) if rng.random() < 0.3}
    # build an occupancy grid for span placement
    owner = [[None] * ncols for _ in range(nrows)]
    cells: List[dict] = []
    for i in range(nrows):
        for j in range(ncols):
            if owner[i][j] is not None:
                continue
            rs = cs = 1
            if rng.random() < 0.12 and i >= (1 if with_header else 0):
                if rng.random() < 0.5 and j + 1 < ncols and owner[i][j + 1] is None:
                    cs = 2
                elif i + 1 < nrows:
                    rs = 2
            if i == 0 and with_header:
                text = f"col {j}" if rng.random() < 0.8 else ""
            elif j in numeric_cols and not (i == 0 and with_header):
                text = (str(rng.randint(0, 9999)) if rng.random() < 0.6
                        else f"{rng.uniform(0, 100):.2f}")
            else:
                text = _otsl_sanitize(_words(rng, 1, 4)) if rng.random() < 0.9 else ""
            c = {"text": text, "sr": i, "er": i + rs, "sc": j, "ec": j + cs,
                 "ched": i == 0 and with_header and bool(text),
                 "rhed": j == 0 and rng.random() < 0.15 and bool(text)
                         and not (i == 0 and with_header)}
            cells.append(c)
            for ii in range(i, min(i + rs, nrows)):
                for jj in range(j, min(j + cs, ncols)):
                    owner[ii][jj] = c
    # encode (mirrors model/otsl.py encode_otsl semantics)
    body: List[str] = []
    for i in range(nrows):
        for j in range(ncols):
            c = owner[i][j]
            if c["sr"] == i and c["sc"] == j:
                t = c["text"].strip()
                if t:
                    if c["ched"]:
                        body.append("<ched>")
                    elif c["rhed"]:
                        body.append("<rhed>")
                    else:
                        body.append("<fcel>")
                    body.append(t)
                else:
                    body.append("<ecel>")
            else:
                cross = False
                if c["sr"] != i:
                    if c["ec"] - c["sc"] == 1:
                        body.append("<ucel>")
                    else:
                        cross = True
                if c["sc"] != j:
                    if c["er"] - c["sr"] == 1:
                        body.append("<lcel>")
                    else:
                        cross = True
                if cross:
                    body.append("<xcel>")
        body.append("<nl>")
    return "".join(body)


def _fmt_suffix(rng: random.Random) -> str:
    """E8 formatting flags: b/i/u/s + q(sub)|p(super), ~1 in 6 spans."""
    if rng.random() < 0.18:
        flags = "".join(f for f in "bius" if rng.random() < 0.35)
        r = rng.random()
        if r < 0.15:
            flags += "q"
        elif r < 0.3:
            flags += "p"
        if flags:
            return f"+fmt={flags}"
    return ""


def _href(rng: random.Random, doc_index: int) -> str:
    if rng.random() < 0.08:
        return f"https://ex{doc_index % 7}.org/p_{rng.randrange(1000)}"
    return ""


# bump when the generator's output changes: materialized corpus caches
# (queries.corpus_cache_path, perfbench/corpora.py) key on this so stale
# parquet can't silently diverge from the in-process generator
CORPUS_VERSION = 9


def gen_doc_spans(doc_index: int, seed: int = 42,
                  mega_every: Optional[int] = None) -> List[Dict]:
    """Spans for one document; pure function of (seed, doc_index)."""
    rng = random.Random((seed << 32) ^ doc_index)
    spans: List[Dict] = []
    off = 0
    media_i = 0
    page = 1

    def emit(kind: str, text: str = "", media_ref: str = "") -> None:
        nonlocal off
        spans.append({"kind": kind, "text": text, "media_ref": media_ref,
                      "offset": off})
        off += 1

    n_blocks = rng.randint(8, 40)
    if mega_every and doc_index % mega_every == mega_every - 1:
        n_blocks = rng.randint(2000, 5000)  # skew tail (FIXTURES §1)

    # doc-level DocumentOrigin (grammar v9): binary_hash spans the full
    # uint64 range on purpose - it must survive the string-typed chunk
    # column and the reference's Uint64 field
    bh = (doc_index * 0x9E3779B97F4A7C15 + seed) % (1 << 64)
    emit(f"origin:{bh}", f"doc_{doc_index:012d}.pdf", "application/pdf")

    if rng.random() < 0.3:
        emit("furniture:page_header", _words(rng, 2, 5))
    if rng.random() < 0.8:
        emit("title", _words(rng, 2, 6).title())

    open_levels = [0]
    for _b in range(n_blocks):
        r = rng.random()
        if r < 0.10:
            lvl = rng.randint(1, 4)
            if rng.random() < 0.12:
                # heading whose text IS an inline group (reference
                # markdown.py:133-146 child-merge rule)
                emit(f"section_header:{lvl}", "")
                emit("inline_group:of_prev")
                emit(f"text+fmt={rng.choice(('b', 'i', 'bi'))}",
                     _words(rng, 1, 3).title())
                emit("text", _words(rng, 1, 4))
                emit("end_group")
            else:
                emit(f"section_header:{lvl}", _words(rng, 2, 6).title())
        elif r < 0.50:
            emit(rng.choice(("text", "paragraph")) + _fmt_suffix(rng),
                 _words(rng, 4, 60), _href(rng, doc_index))
        elif r < 0.68:
            # list group, possibly nested / enumerated / inline-merged
            emit("list_group")
            enum = rng.random() < 0.4
            for _i in range(rng.randint(1, 6)):
                marker = rng.choice(_MARKERS)
                fs = _fmt_suffix(rng)
                if enum:
                    emit((f"list_item:enum:{marker}" if marker
                          else "list_item:enum") + fs, _words(rng, 2, 12),
                         _href(rng, doc_index))
                elif marker:
                    emit(f"list_item:plain:{marker}{fs}",
                         _words(rng, 2, 12), _href(rng, doc_index))
                else:
                    emit(f"list_item{fs}", _words(rng, 2, 12),
                         _href(rng, doc_index))
                if rng.random() < 0.08:
                    # list item whose content is a nested inline group
                    emit("list_item", "")
                    emit("inline_group:of_prev")
                    emit("text", _words(rng, 1, 4))
                    emit(f"code:{rng.choice(('Python', 'Bash'))}",
                         f"cmd_{_b}")
                    emit("end_group")
                if rng.random() < 0.15:
                    emit("list_group")
                    for _k in range(rng.randint(1, 3)):
                        emit("list_item", _words(rng, 2, 8))
                    emit("end_group")
            if rng.random() < 0.10:
                emit("inline_group")
                for _k in range(rng.randint(2, 4)):
                    emit("text", _words(rng, 1, 4))
                emit("end_group")
            emit("end_group")
        elif r < 0.74:
            emit("inline_group")
            for _k in range(rng.randint(2, 5)):
                pick = rng.random()
                if pick < 0.7:
                    emit("text", _words(rng, 2, 8))
                elif pick < 0.85:
                    emit("code", _words(rng, 1, 4))
                else:
                    emit("formula", "E = mc^2")
            emit("end_group")
        elif r < 0.80:
            lang = rng.choice(("", "Python", "Java", "C", "SQL", "Bash"))
            base = "code" if not lang else f"code:{lang}"
            if rng.random() < 0.1:
                base += f"+fmt={rng.choice(('i', 'b'))}"
            emit(base,
                 f"def f_{doc_index}():\n    return {_words(rng, 1, 3)!r}")
        elif r < 0.84:
            if rng.random() < 0.8:
                emit("formula", "\\sum_i x_i^2")
            else:
                emit("formula", "", "orig-present" if rng.random() < 0.5 else "")
        elif r < 0.90:
            mref = f"img_{doc_index:06d}_{media_i:03d}"
            media_i += 1
            # captions may precede or follow their media item (the
            # reference's doctags parser produces caption-first order)
            cap_first = rng.random() < 0.25
            if cap_first:
                emit(f"caption:{mref}", f"Figure {media_i}: " + _words(rng, 3, 10))
            pic_text = ""
            if rng.random() < 0.2:
                pic_text += f"<desc>{_words(rng, 3, 12)}</desc>"
            if rng.random() < 0.1:
                pic_text += "<smiles>" + rng.choice(
                    ("CCO", "c1ccccc1", "CC(=O)O", "CN1C=NC2=C1C(=O)N(C)C(=O)N2C")) + "</smiles>"
            emit("picture", pic_text, mref)
            if not cap_first and rng.random() < 0.5:
                emit(f"caption:{mref}", f"Figure {media_i}: " + _words(rng, 3, 10))
        elif r < 0.93:
            mref = f"cht_{doc_index:06d}_{media_i:03d}"
            media_i += 1
            cls_name = rng.choice(("bar_chart", "line_chart", "pie_chart",
                                   "scatter_chart"))
            emit(f"chart:{cls_name}", _otsl_table(rng), mref)
            if rng.random() < 0.4:
                emit(f"caption:{mref}", f"Chart {media_i}: " + _words(rng, 3, 8))
        elif r < 0.945:
            rr = rng.random()
            if rr < 0.4:
                emit("key_value_region", _kv_cells(rng))
            elif rr < 0.5:
                emit("form", _kv_cells(rng))
            else:
                emit(rng.choice(("footnote", "checkbox_selected",
                                 "checkbox_unselected", "reference")),
                     _words(rng, 2, 10))
        else:
            mref = f"tbl_{doc_index:06d}_{media_i:03d}"
            media_i += 1
            t_text = _otsl_table(rng)
            rich = rng.random() < 0.12
            if rich:
                # rich cells: first cell references a table child
                t_text = "<fcel><rich_0><fcel>" + _otsl_sanitize(
                    _words(rng, 1, 3)) + "<nl>" + t_text
            if rng.random() < 0.15:
                t_text += f"<desc>{_words(rng, 3, 10)}</desc>"
            emit("table", t_text, mref)
            if rich:
                if rng.random() < 0.5:
                    emit(f"text+fmt={rng.choice(('i', 'b'))}+child",
                         _words(rng, 2, 5))
                else:
                    emit("list_group:of_prev")
                    for _k in range(rng.randint(1, 3)):
                        emit("list_item", _words(rng, 1, 4))
                    emit("end_group")
            if rng.random() < 0.4:
                emit(f"caption:{mref}", f"Table {media_i}: " + _words(rng, 3, 10))
        if rng.random() < 0.08:
            page += 1
            emit(f"page_break:{page}")
    del open_levels

    if rng.random() < 0.2:
        emit("furniture:page_footer", _words(rng, 1, 4))
    return spans


def gen_corpus(n_docs: int, seed: int = 42,
               mega_every: Optional[int] = None) -> List[Dict]:
    """Driver-shaped rows: [{doc_id, spans}, ...]."""
    return [
        {"doc_id": f"doc_{i:012d}",
         "spans": gen_doc_spans(i, seed=seed, mega_every=mega_every)}
        for i in range(n_docs)
    ]
