"""Hybrid (token-aware) chunking on top of hierarchical chunking.

Re-implements HybridChunker (transforms/chunker/hybrid_chunker.py):
  1. hierarchical pass (hierarchical.py here)
  2. greedy split by doc items while the contextualized candidate fits
     max_tokens (_split_by_doc_items, hybrid_chunker.py:175-218)
  3. plain-text recursive split of singleton overflows
     (_split_using_plain_text, :220-247; semchunk role played by
     semsplit.recursive_split)
  4. optional greedy merge of adjacent chunks with identical headings
     (_merge_chunks_with_matching_metadata, :249-296)

Steps 2-4 have two implementations with identical output: the
reference-shaped path, which re-serializes and re-counts every candidate
and is the oracle of the tests, and the fast path for whitespace-
separable tokenizers, which carries each chunk's token count from step
to step and serializes each doc item once (see the block comment above
_ItemCache).
"""

from __future__ import annotations

from typing import List, Optional, Tuple

from docling_core_spark.chunking.hierarchical import (
    Chunk,
    contextualize,
    hierarchical_chunk,
)
from docling_core_spark.chunking.semsplit import (
    _split_counted,
    recursive_split,
)
from docling_core_spark.chunking.tokenizer import RegexTokenizer
from docling_core_spark.model.doc import Doc
from docling_core_spark.serializers.markdown import chunking_serializer

DELIM = "\n"


def _count_chunk_tokens(tok, chunk: Chunk) -> int:
    return tok.count_tokens(contextualize(chunk, DELIM))


def _make_chunk_from_items(ser, chunk: Chunk, start: int, end: int) -> Chunk:
    """hybrid_chunker.py:147-173; window [start, end] inclusive."""
    items = chunk.items[start:end + 1]
    if len(chunk.items) == 1:
        window_text = chunk.text
    else:
        texts = []
        for it in items:
            res = ser.serialize(node=it)
            if res.text:
                texts.append(res.text)
        window_text = DELIM.join(texts)
    return Chunk(text=window_text, headings=chunk.headings, items=items)


def _split_by_doc_items(ser, tok, max_tokens: int, chunk: Chunk
                        ) -> List[Chunk]:
    """hybrid_chunker.py:175-218 (greedy inclusive window)."""
    chunks: List[Chunk] = []
    window_start = 0
    window_end = 0
    num_items = len(chunk.items)
    while window_end < num_items:
        new_chunk = _make_chunk_from_items(ser, chunk, window_start, window_end)
        if _count_chunk_tokens(tok, new_chunk) <= max_tokens:
            if window_end < num_items - 1:
                window_end += 1
                continue
            window_end = num_items  # last loop
        elif window_start == window_end:
            # singleton overflow: pass through, plain-text split later
            window_end += 1
            window_start = window_end
        else:
            new_chunk = _make_chunk_from_items(ser, chunk, window_start,
                                               window_end - 1)
            window_start = window_end
        chunks.append(new_chunk)
    return chunks


def _split_using_plain_text(tok, max_tokens: int, chunk: Chunk
                            ) -> List[Chunk]:
    """hybrid_chunker.py:220-247."""
    total = _count_chunk_tokens(tok, chunk)
    if total <= max_tokens:
        return [chunk]
    text_len = tok.count_tokens(chunk.text)
    other_len = total - text_len
    available = max_tokens - other_len
    if available <= 0:
        # headings alone exceed the budget: drop them and retry (:230-239)
        return _split_using_plain_text(
            tok, max_tokens,
            Chunk(text=chunk.text, headings=None, items=chunk.items))
    segments = recursive_split(chunk.text, available, tok.count_tokens,
                               _count=text_len)
    return [Chunk(text=s, headings=chunk.headings, items=chunk.items)
            for s in segments]


def _merge_peers(tok, max_tokens: int, chunks: List[Chunk]) -> List[Chunk]:
    """hybrid_chunker.py:249-296 (greedy merge on identical headings)."""
    output: List[Chunk] = []
    window_start = 0
    window_end = 0
    num = len(chunks)
    current_headings: Optional[List[str]] = None
    first_chunk: Optional[Chunk] = None
    new_chunk: Optional[Chunk] = None
    while window_end < num:
        chunk = chunks[window_end]
        headings = chunk.headings
        ready_to_append = False
        if window_start == window_end:
            current_headings = headings
            window_end += 1
            first_chunk = chunk
        else:
            chks = chunks[window_start:window_end + 1]
            items = [it for c in chks for it in c.items]
            candidate = Chunk(
                text=DELIM.join(c.text for c in chks),
                headings=current_headings,
                items=items,
            )
            if headings == current_headings and \
                    _count_chunk_tokens(tok, candidate) <= max_tokens:
                window_end += 1
                new_chunk = candidate
            else:
                ready_to_append = True
        if ready_to_append or window_end == num:
            if window_start + 1 == window_end:
                output.append(first_chunk)  # type: ignore[arg-type]
            else:
                output.append(new_chunk)  # type: ignore[arg-type]
            window_start = window_end
    return output


# ----------------------------------------------------------------------
# Fast path: exact-equivalent O(n) windowing for whitespace-separable
# tokenizers. The reference re-serializes and re-counts the whole
# candidate window on every growth step (hybrid_chunker.py:189-218) and
# every peer-merge extension (:276). With
# count(a + "\n" + b) == count(a) + count(b):
# * a contextualized count is heads + text count, so each step hands the
#   next (chunk, text count) pairs and no text is counted twice: a
#   window's count is a running sum of per-item counts, an oversized
#   text's segments come back counted from the splitter, and the merge
#   adds carried counts;
# * each item is serialized once: its text is read from the record the
#   hierarchical pass left on the serializer (``item_texts``), and only
#   items that pass did not render standalone are serialized again.
# Texts are built only for chunks actually emitted. Output is
# bit-identical to the slow path (tests/test_hybrid_fastpath.py +
# reference parity suite).
# ----------------------------------------------------------------------

class _ItemCache:
    """Per-doc memo of each item's serialized text token count."""

    __slots__ = ("ser", "tok", "counts")

    def __init__(self, ser, tok):
        self.ser = ser
        self.tok = tok
        self.counts = {}

    def text(self, item) -> str:
        t = self.ser.item_texts.get(id(item))
        if t is None:
            # serialize records it for the next lookup
            t = self.ser.serialize(node=item).text
        return t

    def count(self, item) -> int:
        k = id(item)
        c = self.counts.get(k)
        if c is None:
            c = self.tok.count_tokens(self.text(item))
            self.counts[k] = c
        return c


def _headings_count(tok, headings: Optional[List[str]], memo: dict) -> int:
    if not headings:
        return 0
    key = tuple(headings)
    c = memo.get(key)
    if c is None:
        c = sum(tok.count_tokens(h) for h in headings)
        memo[key] = c
    return c


def _window_chunk(cache: _ItemCache, chunk: Chunk, start: int, end: int
                  ) -> Chunk:
    """Text-materializing version of _make_chunk_from_items using the
    per-item cache (same semantics: len==1 passthrough, empty-text
    items skipped in the join)."""
    items = chunk.items[start:end + 1]
    if len(chunk.items) == 1:
        window_text = chunk.text
    else:
        window_text = DELIM.join(t for it in items
                                 if (t := cache.text(it)))
    return Chunk(text=window_text, headings=chunk.headings, items=items)


def _split_by_doc_items_fast(cache: _ItemCache, tok, max_tokens: int,
                             chunk: Chunk, heads: int
                             ) -> List[Tuple[Chunk, int]]:
    """_split_by_doc_items on running counts; ``heads`` is the headings'
    count. Returns (window, text count) pairs."""
    n = len(chunk.items)
    if n == 1:
        # fits or not, the reference emits a single-item chunk unchanged
        return [(chunk, tok.count_tokens(chunk.text))]
    out: List[Tuple[Chunk, int]] = []
    ws = we = 0
    cur = heads + cache.count(chunk.items[0])
    while we < n:
        if cur <= max_tokens:
            if we < n - 1:
                we += 1
                cur += cache.count(chunk.items[we])
                continue
            out.append((_window_chunk(cache, chunk, ws, we), cur - heads))
            break
        elif ws == we:
            out.append((_window_chunk(cache, chunk, ws, we), cur - heads))
            we += 1
            ws = we
            if we < n:
                cur = heads + cache.count(chunk.items[we])
        else:
            last = cache.count(chunk.items[we])
            out.append((_window_chunk(cache, chunk, ws, we - 1),
                        cur - last - heads))
            ws = we
            cur = heads + last
    return out


def _split_using_plain_text_fast(tok, max_tokens: int, chunk: Chunk,
                                 count: int, heads: int
                                 ) -> List[Tuple[Chunk, int]]:
    """_split_using_plain_text on the carried text ``count``: the
    contextualized count is ``heads + count``."""
    if heads + count <= max_tokens:
        return [(chunk, count)]
    available = max_tokens - heads
    if available <= 0:
        # headings alone exceed the budget: drop them and retry (:230-239)
        return _split_using_plain_text_fast(
            tok, max_tokens,
            Chunk(text=chunk.text, headings=None, items=chunk.items),
            count, 0)
    return [(Chunk(text=s, headings=chunk.headings, items=chunk.items), c)
            for s, c in _split_counted(chunk.text, available,
                                       tok.count_tokens, True, count)]


def _merge_peers_fast(tok, max_tokens: int,
                      pairs: List[Tuple[Chunk, int]], hmemo: dict
                      ) -> List[Chunk]:
    """_merge_peers on carried text counts (exact same grouping)."""
    output: List[Chunk] = []
    n = len(pairs)
    i = 0
    while i < n:
        headings = pairs[i][0].headings
        run_count = _headings_count(tok, headings, hmemo) + pairs[i][1]
        j = i + 1
        while j < n and pairs[j][0].headings == headings:
            cand = run_count + pairs[j][1]
            if cand <= max_tokens:
                run_count = cand
                j += 1
            else:
                break
        if j == i + 1:
            output.append(pairs[i][0])
        else:
            chks = [c for c, _ in pairs[i:j]]
            output.append(Chunk(
                text=DELIM.join(c.text for c in chks),
                headings=headings, items=[it for c in chks for it in c.items]))
        i = j
    return output


def check_budget(max_tokens: int) -> None:
    """Reject a token budget below 1: the plain-text step would drop the
    headings and retry with a budget that still fits nothing, forever.
    The stage builders call this on the driver, so a bad budget fails
    before any Spark job runs."""
    if max_tokens < 1:
        raise ValueError(f"hybrid chunking needs max_tokens >= 1, "
                         f"got {max_tokens}")


def hybrid_chunk(doc: Doc, tokenizer=None, max_tokens: Optional[int] = None,
                 merge_peers: bool = True, fast: Optional[bool] = None
                 ) -> List[Chunk]:
    """Full hybrid pipeline (hybrid_chunker.py:298-326).

    ``fast=None`` auto-selects the O(n) path when the tokenizer declares
    whitespace separability; ``fast=False`` forces the reference-shaped
    quadratic path (used by equivalence tests).

    A budget below 1 (``max_tokens``, else the tokenizer's) raises
    ValueError. This diverges from the reference, whose plain-text
    step (hybrid_chunker.py:230-239) recurses without end on such a
    budget, as the slow path here would.
    """
    tok = tokenizer if tokenizer is not None else RegexTokenizer()
    mt = max_tokens if max_tokens is not None else tok.get_max_tokens()
    check_budget(mt)
    ser = chunking_serializer(doc)
    res = hierarchical_chunk(doc, ser=ser)
    use_fast = (getattr(tok, "whitespace_separable", False)
                if fast is None else fast)
    if use_fast:
        cache = _ItemCache(ser, tok)
        hmemo: dict = {}
        pairs = [p for c in res for p in _split_by_doc_items_fast(
            cache, tok, mt, c, _headings_count(tok, c.headings, hmemo))]
        pairs = [p for c, n in pairs for p in _split_using_plain_text_fast(
            tok, mt, c, n, _headings_count(tok, c.headings, hmemo))]
        if merge_peers:
            return _merge_peers_fast(tok, mt, pairs, hmemo)
        return [c for c, _ in pairs]
    res = [x for c in res for x in _split_by_doc_items(ser, tok, mt, c)]
    res = [x for c in res for x in _split_using_plain_text(tok, mt, c)]
    if merge_peers:
        res = _merge_peers(tok, mt, res)
    return res
