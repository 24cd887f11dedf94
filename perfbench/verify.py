"""Order-independent output digests and the per-document comparison
that feeds ``error_share``.

A digest is (row count, sum of 64-bit row hashes mod 2**64) per doc_id,
so the comparison is blind to row order and partitioning but sees a
missing, extra or changed row in either direction.
"""

from __future__ import annotations

import hashlib
from typing import Dict, Iterable, Tuple

Digest = Dict[object, Tuple[int, int]]

_MASK = (1 << 64) - 1


def _canon(v):
    if hasattr(v, "asDict"):  # a pyspark struct Row reads as its dict
        v = v.asDict()
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def row_hash(row: tuple) -> int:
    data = repr(_canon(row)).encode("utf-8", "surrogatepass")
    return int.from_bytes(hashlib.blake2b(data, digest_size=8).digest(),
                          "little")


def digest(rows: Iterable[tuple]) -> Digest:
    """rows (doc_id first) -> {doc_id: (n_rows, hash_sum)}."""
    out: Dict[object, list] = {}
    for r in rows:
        acc = out.setdefault(r[0], [0, 0])
        acc[0] += 1
        acc[1] = (acc[1] + row_hash(r)) & _MASK
    return {k: (n, h) for k, (n, h) in out.items()}


def diff_docs(got: Digest, want: Digest) -> list:
    """doc_ids whose rows differ: missing from ``got``, extra in
    ``got``, or present in both with another count or digest."""
    return sorted((k for k in got.keys() | want.keys()
                   if got.get(k) != want.get(k)), key=str)
