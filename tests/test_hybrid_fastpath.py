"""The O(n) fast path must be bit-identical to the reference-shaped
quadratic path for whitespace-separable tokenizers, and must count each
text and serialize each item once."""

from __future__ import annotations

import string

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from docling_core_spark.chunking.hierarchical import hierarchical_chunk
from docling_core_spark.chunking.hybrid import hybrid_chunk
from docling_core_spark.chunking.tokenizer import RegexTokenizer
from docling_core_spark.corpus import gen_doc_spans
from docling_core_spark.model.doc import K_CODE, K_FORMULA, K_INLINE_GROUP
from docling_core_spark.model.spans import doc_from_spans
from docling_core_spark.serializers.markdown import (
    MarkdownSerializer,
    chunking_serializer,
)
from tests.test_fuzz import _KINDS


def _doc(i, mega=None):
    spans = gen_doc_spans(i, seed=42, mega_every=mega)
    return doc_from_spans(f"doc_{i}", [
        (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans])


@pytest.mark.parametrize("i", range(80))
@pytest.mark.parametrize("max_tokens,merge", [(64, True), (64, False),
                                              (16, True), (256, True)])
def test_fast_equals_slow(i, max_tokens, merge):
    doc = _doc(i)
    tok = RegexTokenizer(max_tokens)
    fast = [c.to_row() for c in hybrid_chunk(doc, tokenizer=tok,
                                             merge_peers=merge, fast=True)]
    slow = [c.to_row() for c in hybrid_chunk(doc, tokenizer=tok,
                                             merge_peers=merge, fast=False)]
    assert fast == slow


def test_fast_equals_slow_mega():
    doc = _doc(999, mega=1000)
    tok = RegexTokenizer(64)
    fast = [c.to_row() for c in hybrid_chunk(doc, tokenizer=tok, fast=True)]
    slow = [c.to_row() for c in hybrid_chunk(doc, tokenizer=tok, fast=False)]
    assert fast == slow


# every whitespace class the splitter descends through, NBSP (whitespace
# to the tokenizer's regex), a non-ASCII letter (one token per char) and
# the splitter punctuation
_HOSTILE_TEXT = st.text(
    alphabet=string.ascii_letters + string.digits + ".,;:!?-_()[]"
    + "\u00e9 \t\n\r\u00a0", max_size=80)
_HOSTILE_SPAN = st.tuples(_KINDS, _HOSTILE_TEXT,
                          st.sampled_from(["", "img_0", "tbl_0"]),
                          st.integers(min_value=0, max_value=60))


@given(spans=st.lists(_HOSTILE_SPAN, max_size=25),
       max_tokens=st.sampled_from([1, 2, 3, 5, 8, 16, 64]),
       merge=st.booleans())
@settings(max_examples=2000, deadline=None)
def test_fast_equals_slow_hostile_text(spans, max_tokens, merge):
    doc = doc_from_spans("hostile", spans)
    tok = RegexTokenizer(max_tokens)
    fast = [c.to_row() for c in hybrid_chunk(doc, tokenizer=tok,
                                             merge_peers=merge, fast=True)]
    slow = [c.to_row() for c in hybrid_chunk(doc, tokenizer=tok,
                                             merge_peers=merge, fast=False)]
    assert fast == slow


@pytest.mark.parametrize("fast", [None, False])
@pytest.mark.parametrize("max_tokens", [0, -3])
def test_budget_below_one_is_rejected(fast, max_tokens):
    """Dropping the headings cannot make a budget below 1 fit anything,
    so both paths raise up front instead of retrying without end; the
    tokenizer's own budget is checked when max_tokens is not given."""
    doc = doc_from_spans("d", [("text", "hello world", " ", 0)])
    with pytest.raises(ValueError, match=f"got {max_tokens}"):
        hybrid_chunk(doc, tokenizer=RegexTokenizer(max_tokens), fast=fast)
    with pytest.raises(ValueError, match=f"got {max_tokens}"):
        hybrid_chunk(doc, tokenizer=RegexTokenizer(64),
                     max_tokens=max_tokens, fast=fast)


def test_fast_path_counts_and_serializes_each_text_once(monkeypatch):
    """The reference-shaped loop recounts every candidate window and
    re-serializes every item; the fast path carries counts between its
    steps and reads item texts from the hierarchical pass, so it
    tokenizes under 2x its input characters and serializes about 25
    top-level nodes per doc (recounting and re-serializing at each step
    read 3.95x and 50.6)."""
    n_docs = 40
    docs, in_chars = [], 0
    for i in range(n_docs):
        spans = gen_doc_spans(i, seed=42)
        in_chars += sum(len(s["text"]) for s in spans)
        docs.append(doc_from_spans(f"doc_{i}", [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in spans]))

    tokenized = [0]
    count_tokens = RegexTokenizer.count_tokens

    def counted(self, text):
        tokenized[0] += len(text)
        return count_tokens(self, text)

    top_level, depth = [0], [0]
    serialize = MarkdownSerializer.serialize

    def outermost(self, *a, **kw):
        top_level[0] += depth[0] == 0
        depth[0] += 1
        try:
            return serialize(self, *a, **kw)
        finally:
            depth[0] -= 1

    monkeypatch.setattr(RegexTokenizer, "count_tokens", counted)
    monkeypatch.setattr(MarkdownSerializer, "serialize", outermost)
    for doc in docs:
        hybrid_chunk(doc, tokenizer=RegexTokenizer(64))
    assert tokenized[0] <= 2.0 * in_chars
    assert top_level[0] <= 30 * n_docs


# nested list; a list item whose only child is an inline group holding
# inline code and an inline formula; a captioned table with a rich cell;
# a captioned picture; inline code and formula in a body-level inline
# group; block code and formula
_RECORD_SPANS = [
    ("title", "Record", "", 0),
    ("section_header:1", "Lists", "", 1),
    ("list_group", "", "", 2),
    ("list_item", "first", "", 3),
    ("list_group:of_prev", "", "", 4),
    ("list_item:enum", "nested a", "", 5),
    ("list_item:enum", "nested b", "", 6),
    ("end_group", "", "", 7),
    ("list_item", "", "", 8),
    ("inline_group:of_prev", "", "", 9),
    ("text", "call", "", 10),
    ("code", "f(x_1)", "", 11),
    ("formula", "x^2", "", 12),
    ("end_group", "", "", 13),
    ("list_item", "last", "", 14),
    ("end_group", "", "", 15),
    ("section_header:1", "Floats", "", 16),
    ("table", "<fcel><rich_0><fcel>b<nl><fcel>c<fcel>d<nl>", "tbl_0", 17),
    ("text+fmt=b+child", "rich cell", "", 18),
    ("caption:tbl_0", "Table 1: numbers", "", 19),
    ("picture", "", "img_0", 20),
    ("caption:img_0", "Figure 1: a plot", "", 21),
    ("inline_group", "", "", 22),
    ("text", "see", "", 23),
    ("code", "g(y)", "", 24),
    ("formula", "y_2", "", 25),
    ("end_group", "", "", 26),
    ("code", "print(1)", "", 27),
    ("formula", "E = mc^2", "", 28),
]


def _inline_code_or_formula(node) -> bool:
    return (node.kind in (K_CODE, K_FORMULA) and node.parent is not None
            and node.parent.kind == K_INLINE_GROUP)


@pytest.mark.parametrize("i", [None] + list(range(20)))
def test_serialize_record_equals_fresh_serialize(i):
    """``MarkdownSerializer.item_texts`` after the hierarchical pass
    holds, for every item of a multi-item chunk, the text a fresh
    serializer renders for that item alone; inline code and formulas,
    which render differently standalone, are left out."""
    doc = (doc_from_spans("record", _RECORD_SPANS) if i is None
           else _doc(i))
    ser = chunking_serializer(doc)
    chunks = hierarchical_chunk(doc, ser=ser)
    items = [it for c in chunks if len(c.items) > 1 for it in c.items]
    assert items
    inline = [it for it in items if _inline_code_or_formula(it)]
    for it in inline:
        assert id(it) not in ser.item_texts
    for it in items:
        if not _inline_code_or_formula(it):
            fresh = chunking_serializer(doc).serialize(node=it).text
            assert ser.item_texts[id(it)] == fresh
    if i is None:
        assert {it.kind for it in inline} == {K_CODE, K_FORMULA}
