"""Recursive plain-text splitter for oversized chunks.

Plays the role of the external ``semchunk`` dependency in the reference
(hybrid_chunker.py:220-247): split text that exceeds the token budget at
the most meaningful boundary present, recursing into still-oversized
pieces and greedily re-merging adjacent pieces that fit together.

This is a from-scratch implementation of the same idea (hierarchical
delimiter descent: paragraph breaks > newlines > tabs > whitespace >
sentence punctuation > any punctuation > hard cut). It is shared by the
Spark engine and the test oracle, so chunk parity does not depend on the
external package's exact internals.
"""

from __future__ import annotations

import re
from typing import Callable, List, Tuple

_WS_RUNS = [
    re.compile(r"\n+"),
    re.compile(r"\r+"),
    re.compile(r"\t+"),
    re.compile(r"\s+"),
]
_NON_WS_SPLITTERS = [". ", "? ", "! ", "; ", ": ", ", ",
                     ".", "?", "!", ";", ":", ","]


def _pick_splitter(text: str) -> Tuple[str, bool]:
    """Return (splitter, is_whitespace). Longest run wins within each
    whitespace class; first present non-whitespace splitter otherwise."""
    for rx in _WS_RUNS:
        runs = rx.findall(text)
        if runs:
            return max(runs, key=len), True
    for s in _NON_WS_SPLITTERS:
        if s in text:
            return s, False
    return "", False  # no splitter: hard character cut


def recursive_split(text: str, max_tokens: int,
                    count_tokens: Callable[[str], int],
                    separable: bool = False,
                    _count: int = -1) -> List[str]:
    """Split ``text`` into pieces each counting <= max_tokens (best
    effort; a single token longer than the budget passes through).

    ``separable=True`` asserts count(a + sep + b) == count(a) + count(b)
    for the splitters used here (true for the whitespace-separable regex
    tokenizer: splitters are whitespace runs or punctuation already
    attached at piece boundaries). It turns the quadratic merge-loop
    counting into running sums with IDENTICAL output.
    """
    return [s for s, _ in _split_counted(text, max_tokens, count_tokens,
                                         separable, _count)]


def _split_counted(text: str, max_tokens: int,
                   count_tokens: Callable[[str], int], separable: bool,
                   count: int) -> List[Tuple[str, int]]:
    """``recursive_split`` with each piece's token count: (piece,
    count) pairs. ``count`` is count_tokens(text) when the caller holds
    it, else -1."""
    total = count if count >= 0 else count_tokens(text)
    if total <= max_tokens:
        return [(text, total)] if text else []

    splitter, is_ws = _pick_splitter(text)
    if not splitter:
        return _hard_cut(text, total, max_tokens, count_tokens, separable)

    if is_ws:
        raw = text.split(splitter)
        joiner = splitter
    else:
        # keep the splitter attached to the preceding piece
        raw = []
        parts = text.split(splitter)
        for i, p in enumerate(parts):
            raw.append(p + splitter if i < len(parts) - 1 else p)
        joiner = ""

    # greedy merge of adjacent pieces while the merged piece fits
    merged: List[str] = []
    merged_counts: List[int] = []
    if separable:
        pieces = [p for p in raw if p]
        pcounts = [count_tokens(p) for p in pieces]
        cur_parts: List[str] = []
        cur_count = 0
        for piece, pc in zip(pieces, pcounts):
            if cur_parts and cur_count + pc > max_tokens:
                merged.append(joiner.join(cur_parts))
                merged_counts.append(cur_count)
                cur_parts = [piece]
                cur_count = pc
            else:
                cur_parts.append(piece)
                cur_count += pc
        if cur_parts:
            merged.append(joiner.join(cur_parts))
            merged_counts.append(cur_count)
    else:
        cur = ""
        for piece in raw:
            if not piece:
                continue
            cand = cur + joiner + piece if cur else piece
            if count_tokens(cand) <= max_tokens:
                cur = cand
            else:
                if cur:
                    merged.append(cur)
                cur = piece
        if cur:
            merged.append(cur)
        merged_counts = [-1] * len(merged)

    if len(merged) == 1 and merged[0] == text:
        # no progress possible with this splitter: hard character cut
        return _hard_cut(text, total, max_tokens, count_tokens, separable)

    out: List[Tuple[str, int]] = []
    for m, mc in zip(merged, merged_counts):
        c = mc if mc >= 0 else count_tokens(m)
        if c <= max_tokens:
            out.append((m, c))
        else:
            out.extend(_split_counted(m, max_tokens, count_tokens,
                                      separable, c))
    return out


def _hard_cut(text: str, total: int, max_tokens: int,
              count_tokens: Callable[[str], int], separable: bool
              ) -> List[Tuple[str, int]]:
    """Bisect by characters; each half is counted afresh (counts are
    not piece-separable at an arbitrary character)."""
    mid = len(text) // 2
    if mid == 0:
        return [(text, total)]
    return (_split_counted(text[:mid], max_tokens, count_tokens,
                           separable, -1)
            + _split_counted(text[mid:], max_tokens, count_tokens,
                             separable, -1))
