"""Deterministic tokenizers for token-aware chunking.

The reference delegates token counting to HuggingFace fast tokenizers or
tiktoken (transforms/chunker/tokenizer/{huggingface,openai}.py). Those
require model downloads, so this engine ships a self-contained,
deterministic "BPE-ish" regex tokenizer (per the task brief's
token-counting spec) that both the Spark engine and the oracle use:
words are split into <=4-char alphanumeric pieces, every other
non-space character is one token - a crude subword approximation that
is fully reproducible on any executor with zero model assets.

The chunking algorithms only use ``count_tokens(text) -> int`` and
``get_max_tokens() -> int`` (tokenizer/base.py:9-25), so any object
with both can stand in. The real algorithms behind the reference's
HF and tiktoken counters are in chunking/wordpiece.py
(``WordPieceCounter`` and ``BytePairCounter``).
"""

from __future__ import annotations

import re

_PIECE_RE = re.compile(r"[A-Za-z0-9]{1,4}|[^\sA-Za-z0-9]")


class RegexTokenizer:
    """Deterministic subword-approximating tokenizer.

    ``whitespace_separable`` declares the exact identity
    ``count(a + WS + b) == count(a) + count(b)`` for any whitespace WS:
    no token piece of this grammar can span whitespace. The hybrid
    chunker exploits it to replace the reference's quadratic
    re-serialize/re-count window loop (hybrid_chunker.py:189-296,
    SURVEY §4.2 hazard 1) with cached per-item counts - bit-identical
    results, O(n) instead of O(n^2). Tokenizers without this property
    (real BPE) leave the flag False and get the exact reference-shaped
    slow path.
    """

    __slots__ = ("max_tokens",)

    whitespace_separable = True

    def __init__(self, max_tokens: int = 512) -> None:
        self.max_tokens = max_tokens

    def count_tokens(self, text: str) -> int:
        # token counting is the chunking hot path; the single
        # piece-level findall measures ~2x faster than a run-level
        # decomposition (one regex pass beats three, despite the extra
        # substring allocations)
        return len(_PIECE_RE.findall(text))

    def get_max_tokens(self) -> int:
        return self.max_tokens
