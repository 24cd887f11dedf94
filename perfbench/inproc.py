"""Single-process traced pass: the workload's own mapInArrow closure,
taken from ``engine.chunk_documents`` and run in this process over
unsliced parquet batches, with timers on the module functions it looks
up at call time.

Spans nest as: pass = decode + tree + hybrid + outbuild. ``hybrid`` is
``hybrid_chunk``; its self time excludes the outermost
``MarkdownSerializer.serialize`` calls and the
``RegexTokenizer.count_tokens`` calls made under it. ``outbuild`` is the
closure's self time: row assembly (``_origin_struct`` and the per-chunk
appends) plus ``_chunk_record_batch``.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from typing import Callable, Dict, List

import pyarrow as pa
import pyarrow.parquet as pq

from docling_core_spark import engine
from docling_core_spark.chunking import hybrid as hybrid_mod
from docling_core_spark.chunking import semsplit as semsplit_mod
from docling_core_spark.chunking.tokenizer import RegexTokenizer
from docling_core_spark.model import spans as spans_mod
from docling_core_spark.serializers.markdown import MarkdownSerializer

# the traced pass's timed spans must cover at least this share of its
# wall time; the rest is the closure's per-chunk appends, loop and timer
# overhead
RECONCILE_TOLERANCE = 0.10

BATCH_ROWS = 256  # spark.sql.execution.arrow.maxRecordsPerBatch

now = time.perf_counter


class _Capture:
    """Stands in for a DataFrame: ``select`` returns it, ``mapInArrow``
    returns the per-batch closure the stage would ship to workers."""

    def select(self, *cols):
        return self

    def mapInArrow(self, fn, schema):
        return fn


def stage_closure(stage: Callable):
    """The Iterator[RecordBatch] -> Iterator[RecordBatch] closure that
    ``stage(df)`` hands to mapInArrow."""
    return stage(_Capture())


def read_batches(paths: List[str]) -> List[pa.RecordBatch]:
    """Unsliced batches: ``engine._iter_span_tuples`` reads
    ``spans.values`` whole, so a batch sliced out of a bigger table
    would decode the entire table per batch."""
    batches = [b for path in paths for b in pq.ParquetFile(path).iter_batches(
        batch_size=BATCH_ROWS, columns=["doc_id", "spans"])]
    for b in batches:
        if b.column("spans").offset != 0:
            raise RuntimeError("sliced batch from iter_batches")
    return batches


def run_closure(fn, batches) -> int:
    """Drive the closure over ``batches``; returns the output row count."""
    return sum(out.num_rows for out in fn(iter(batches)))


def _timed(fn, tracer: "Tracer", name: str, outermost: bool = False):
    """``fn`` with its time and calls added to ``tracer`` under ``name``;
    with ``outermost`` only calls not nested in another call count."""
    depth = [0]

    def wrapper(*a, **kw):
        if outermost and depth[0]:
            return fn(*a, **kw)
        depth[0] += 1
        t0 = now()
        try:
            return fn(*a, **kw)
        finally:
            depth[0] -= 1
            tracer.t[name] += now() - t0
            tracer.n[name] += 1
    return wrapper


class Tracer:
    """Timers and counters installed on the module attributes the
    closure looks up, for the duration of ``installed()``."""

    NAMES = ("decode", "tree", "hybrid", "markdown", "tokenizer",
             "semsplit", "origin", "record_batch")

    def __init__(self) -> None:
        self.t: Dict[str, float] = dict.fromkeys(self.NAMES, 0.0)
        self.n: Dict[str, int] = dict.fromkeys(self.NAMES, 0)

    @contextmanager
    def installed(self):
        orig_iter = engine._iter_span_tuples

        def iter_span_tuples(batch):
            # the decode is lazy: time it whole, then hand out the docs
            t0 = now()
            docs = list(orig_iter(batch))
            self.t["decode"] += now() - t0
            self.n["decode"] += 1
            return iter(docs)

        patches = [
            (engine, "_iter_span_tuples", iter_span_tuples),
            (engine, "_origin_struct",
             _timed(engine._origin_struct, self, "origin")),
            (engine, "_chunk_record_batch",
             _timed(engine._chunk_record_batch, self, "record_batch")),
            (spans_mod, "doc_from_spans",
             _timed(spans_mod.doc_from_spans, self, "tree")),
            (hybrid_mod, "hybrid_chunk",
             _timed(hybrid_mod.hybrid_chunk, self, "hybrid", True)),
            (MarkdownSerializer, "serialize",
             _timed(MarkdownSerializer.serialize, self, "markdown", True)),
            (RegexTokenizer, "count_tokens",
             _timed(RegexTokenizer.count_tokens, self, "tokenizer")),
        ]
        split = _timed(semsplit_mod.recursive_split, self, "semsplit")
        patches += [(semsplit_mod, "recursive_split", split),
                    (hybrid_mod, "recursive_split", split)]
        saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in patches]
        for obj, attr, fn in patches:
            setattr(obj, attr, fn)
        try:
            yield self
        finally:
            for obj, attr, fn in saved:
                setattr(obj, attr, fn)


def traced_layers(paths: List[str], stage: Callable) -> Dict[str, float]:
    """Per-layer metrics of one traced pass of ``stage``'s closure over
    the parquet files ``paths``: seconds per 1k docs, share of the
    traced pass, calls per doc; plus the traced/untraced time ratio and
    the share of the pass outside every timed call."""
    batches = read_batches(paths)
    n_docs = sum(b.num_rows for b in batches)
    fn = stage_closure(stage)

    run_closure(fn, batches[:1])  # first-call costs: regexes, lazy imports
    t0 = now()
    run_closure(fn, batches)
    untraced = now() - t0

    tr = Tracer()
    with tr.installed():
        t0 = now()
        n_out = run_closure(fn, batches)
        wall = now() - t0

    t = tr.t
    layers = {
        "engine.decode": t["decode"],
        "model.tree": t["tree"],
        "serializers.markdown": t["markdown"],
        "chunking.tokenizer": t["tokenizer"],
        "chunking.hybrid_self": t["hybrid"] - t["markdown"] - t["tokenizer"],
        "engine.outbuild": wall - t["decode"] - t["tree"] - t["hybrid"],
    }
    negative = [k for k, v in layers.items() if v < 0]
    if negative:
        raise RuntimeError(f"negative self time in {negative}: the timed "
                           f"spans overlap")
    # outbuild's timed part; the rest of it is the closure's own loop
    timed = (sum(layers.values()) - layers["engine.outbuild"]
             + t["origin"] + t["record_batch"])
    out = {}
    for name, secs in layers.items():
        out[name + "_s"] = secs * 1000.0 / n_docs
        out[name + "_share"] = secs / wall
    out.update({
        "serializers.markdown_calls": tr.n["markdown"] / n_docs,
        "chunking.tokenizer_calls": tr.n["tokenizer"] / n_docs,
        "chunking.semsplit_calls": tr.n["semsplit"] / n_docs,
        "chunking.chunks_per_doc": n_out / n_docs,
        "trace.overhead": wall / untraced,
        "trace.unattributed": 1.0 - timed / wall,
    })
    return out
