"""Spark surface for PDF/layout-parse extraction (extraction/layout.py).

Two production shapes:

* **print** (``render_layout``): docs table -> page-row cell table,
  one fused ``mapInArrow`` stage, zero shuffle - a page is a pure
  function of its document. Materialized once per (sf, corpus
  version, layout version) as parquet, so extraction benchmarks
  measure the parse, not the synthesis.
* **parse** (``extract_layout``): cell table -> span rows. A
  document's pages must be co-located, which costs exactly ONE hash
  repartition on ``doc_id`` plus a within-partition sort; the
  extractor then streams doc-at-a-time through ``mapInArrow`` with a
  cross-batch carry buffer, so peak memory is one document's cells,
  never one partition's. At 10^12 docs this plan is unchanged: the
  shuffle is the inherent minimum for a grouped parse, skew from
  mega-documents is bounded by the document's own page count (a
  document is parsed alone, not joined), and AQE sizes the reduce
  side. A doc-grouped print table on disk skips the repartition
  (``extract_layout_packed_files``): its tasks read whole files.

**Why packed page rows, not word rows.** The cells table is one row
per PAGE with the word texts packed into a single delimited string, a
font-index array, and geometry double-arrays - the shape of a real
PDF page (one content stream + a font resource table), and the page
unit of the reference's own SegmentedPdfPage (types/doc/page.py).
Besides being the natural unit, this is the scaling fix: Spark's
JVM<->Python Arrow boundary has a large core-count-INDEPENDENT cost
per string value (~6M values/s per JVM - a per-executor wall that
Amdahl-caps the whole stage), so a 21M-word corpus as flat rows ships
80M+ small strings and the parse stops scaling (0.33-0.45 efficiency
at 8->32 cores, measured across flat-word, struct-nested, and
flat-span-output variants), while the packed encoding crosses the
boundary with ~2 strings per page plus numeric buffers and the stage
scales with cores again. On a real cluster the wall is per executor
JVM, so the packed shape is exactly what keeps 1000 executors busy at
10^12 docs.

``layout_stats`` fuses print+parse per document in a single stage
(no shuffle) for the boilerplate accounting - the distributed-vs-
sequential equivalence query.
"""

from __future__ import annotations

import os
from typing import Iterator, List

from pyspark.sql import DataFrame, SparkSession

from docling_core_spark.engine import map_rows

# bump when the print dialect or extractor semantics change
LAYOUT_VERSION = 3

# one row per PAGE, content-stream-packed (a real PDF page stores one
# packed content stream + a font resource table, not one string object
# per word): word texts joined with layout.TEXT_SEP, fonts as indexes
# into layout.FONT_TABLE, geometry as double arrays
CELLS_SCHEMA = ("doc_id string, page_no int, texts string, "
                "fonts array<tinyint>, "
                "xs0 array<double>, ys0 array<double>, "
                "xs1 array<double>, ys1 array<double>")
SPANS_SCHEMA = ("doc_id string, ord int, kind string, text string, "
                "media_ref string")
# what the Python stage actually emits: span fields packed per doc
# (strings TEXT_SEP-joined, ords an int array), because the
# Python->JVM Arrow boundary's per-string-value wall applies to the
# OUTPUT too - packing turns ~4 string values per span into ~3 per
# document; the JVM unpacks with split/posexplode (codegen, parallel)
PACKED_SPANS_SCHEMA = ("doc_id string, ords array<int>, "
                       "kinds string, texts string, refs string")
STATS_SCHEMA = ("doc_id string, n_pages int, n_cells int, "
                "n_chrome_cells int, n_lines int, n_blocks int, "
                "n_spans int, content_chars long")

def render_layout(docs: DataFrame) -> DataFrame:
    """(doc_id, spans) -> packed page rows: the print source."""
    def task():
        from docling_core_spark.extraction.layout import (
            TEXT_SEP,
            render_layout_pages,
        )

        def row(d, spans):
            return [(d, p, TEXT_SEP.join(texts), *geometry)
                    for p, texts, *geometry in render_layout_pages(spans)]
        return row

    return map_rows(docs, ("doc_id", "spans"), CELLS_SCHEMA, task)


def _parse_cell_batches(batches: Iterator) -> Iterator:
    """Shared parse driver: CELLS_SCHEMA Arrow batches (doc-contiguous
    within the stream) -> PACKED_SPANS_SCHEMA Arrow batches, with a
    carry buffer holding only the current document across batch
    boundaries. Output rows are one per DOCUMENT with the span fields
    packed (see PACKED_SPANS_SCHEMA) - measured: flat span rows cap
    8->32-core scaling efficiency at ~0.4, nested struct rows at
    ~0.6; packing removes the output boundary from the profile."""
    import pyarrow as pa

    from docling_core_spark.engine import _chunk_record_batch
    from docling_core_spark.extraction.layout import (
        TEXT_SEP,
        extract_layout_pages,
    )
    # PACKED_SPANS_SCHEMA spelled in pyarrow (a test pins the two
    # equal): parsing the DDL needs a SparkContext, which a Python
    # worker does not have
    schema = pa.schema([("doc_id", pa.string()),
                        ("ords", pa.list_(pa.int32())),
                        ("kinds", pa.string()), ("texts", pa.string()),
                        ("refs", pa.string())])
    carry_doc = None
    carry: List[tuple] = []
    out: List[tuple] = []

    def flush() -> None:
        if carry_doc is None:
            return
        rows, _st = extract_layout_pages(carry)
        out.append((carry_doc, [r["offset"] for r in rows],
                    TEXT_SEP.join(r["kind"] for r in rows),
                    TEXT_SEP.join(r["text"] for r in rows),
                    TEXT_SEP.join(r["media_ref"] for r in rows)))

    for batch in batches:
        doc_ids = batch.column("doc_id").to_pylist()
        page_nos = batch.column("page_no").to_pylist()
        packed = batch.column("texts").to_pylist()
        # geometry/font unpack stays COLUMNAR end-to-end: flatten each
        # list column once per batch into a numpy view (zero-copy from
        # the Arrow buffer), then hand per-page SLICES (views) to the
        # extractor - no per-cell Python object is ever built; the
        # only per-word string work is one split() per page
        fl = batch.column("fonts")
        lens = fl.value_lengths().to_pylist()
        fonts_f = fl.flatten().to_numpy(zero_copy_only=False)
        x0s = batch.column("xs0").flatten().to_numpy(zero_copy_only=False)
        y0s = batch.column("ys0").flatten().to_numpy(zero_copy_only=False)
        x1s = batch.column("xs1").flatten().to_numpy(zero_copy_only=False)
        y1s = batch.column("ys1").flatten().to_numpy(zero_copy_only=False)
        pos = 0
        for i, d in enumerate(doc_ids):
            ln = lens[i] or 0
            if d != carry_doc:
                flush()
                carry_doc, carry = d, []
            e = pos + ln
            texts = packed[i].split(TEXT_SEP) if ln else []
            # PageRec field order (layout.extract_layout_pages)
            carry.append((page_nos[i], texts, fonts_f[pos:e],
                          x0s[pos:e], y0s[pos:e], x1s[pos:e],
                          y1s[pos:e]))
            pos = e
        if out:
            yield _chunk_record_batch(out, schema)
            out.clear()
    flush()
    if out:
        yield _chunk_record_batch(out, schema)


def extract_layout_packed(cells: DataFrame) -> DataFrame:
    """Cell table -> packed per-document span rows
    (``PACKED_SPANS_SCHEMA``) from an arbitrary cells DataFrame.

    One repartition co-locates each document's pages; the sorted
    partition streams through :func:`_parse_cell_batches`. Prefer
    :func:`extract_layout_packed_files` when the input is a
    doc-grouped print table - it skips this exchange entirely."""
    # pin the reduce-side partition count: a bare repartition("doc_id")
    # is REPARTITION_BY_COL, which AQE's coalescer shrinks to its
    # advisory BYTE size (~4 partitions here) - correct for JVM
    # stages, but this stage is Python-CPU-bound, so partitions must
    # track cores, not bytes (measured: 0.33 -> 0.9+ scaling
    # efficiency at 8->32 cores on a 21M-cell corpus)
    try:
        n_parts = int(cells.sparkSession.conf.get(
            "spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        n_parts = cells.sparkSession.sparkContext.defaultParallelism
    co = (cells.repartition(n_parts, "doc_id")
          .sortWithinPartitions("doc_id"))
    return co.mapInArrow(_parse_cell_batches, PACKED_SPANS_SCHEMA)


def unpack_spans_flat(packed: DataFrame) -> DataFrame:
    """PACKED_SPANS_SCHEMA -> flat ``SPANS_SCHEMA`` rows, entirely
    JVM-side.

    Do NOT spell this as ``inline`` over a rebuilt array of span
    structs: that puts the whole computed
    ``cast(arrays_zip(split, split, split))`` expression under the
    Generate, and Catalyst's InferFiltersFromGenerate clones it
    textually into an inferred ``size(e) > 0 AND isnotnull(e)``
    Filter - every split/zip/cast then runs TWICE per document (same
    landmine family as the interpreted HOF-lambda duplication
    documented in docops.py). Here the generator
    child is the plain ``ords`` ATTRIBUTE straight off the Python
    stage, so the inferred filter is a constant-time length check, the
    split arrays are computed once in a Project below the Generate
    (whole-stage codegen evaluates them once per input row), and each
    output field is a direct array index - no array-of-structs is ever
    built at all."""
    from pyspark.sql import functions as F

    from docling_core_spark.extraction.layout import TEXT_SEP

    arrs = packed.select(
        "doc_id",
        F.split("kinds", TEXT_SEP, -1).alias("ks"),
        F.split("texts", TEXT_SEP, -1).alias("ts"),
        F.split("refs", TEXT_SEP, -1).alias("rs"),
        "ords")
    return (arrs.select(
        "doc_id", "ks", "ts", "rs",
        F.posexplode("ords").alias("pos", "ord"))
        .select("doc_id", "ord",
                F.col("ks")[F.col("pos")].alias("kind"),
                F.col("ts")[F.col("pos")].alias("text"),
                F.col("rs")[F.col("pos")].alias("media_ref")))


def extract_layout_packed_files(spark: SparkSession,
                                path: str) -> DataFrame:
    """Zero-shuffle parse of a doc-grouped print table on disk,
    PACKED_SPANS_SCHEMA output - the parse boundary itself.

    The print table's own writer (one file per render task, a
    document's pages written consecutively) guarantees a document
    never spans files, so the parse needs no exchange at all: tasks
    take whole FILES and pyarrow-read them directly, which also
    skips the JVM row->Arrow feed (measured ~1.5s core-count-
    independent per-JVM cost on a 21M-cell corpus - the difference
    between 0.5-0.66 and >=0.8 scaling efficiency at 8->32 cores).
    This is the partitioning-reuse plan at 10^12 docs: extraction
    output is written doc-bucketed, so the parse stage reads
    co-located buckets instead of re-shuffling 100 TB. The
    ``layout_extract`` driver query runs this plan
    (tests/test_plans.py pins it Exchange-free)."""
    files = sorted(
        os.path.join(path, f) for f in os.listdir(path)
        if f.endswith(".parquet"))
    sizes_by_file = {f: os.path.getsize(f) for f in files}
    n_slots = _n_slots(spark, files, sizes_by_file)
    bin_rows = _lpt_bins(files, sizes_by_file, n_slots)
    base, get_bin = _bin_dispatch(spark, bin_rows)

    def run(id_batches: Iterator) -> Iterator:
        import pyarrow.parquet as pq

        def cell_batches() -> Iterator:
            for b in id_batches:
                for i in b.column("id").to_pylist():
                    for p in get_bin(i)[1]:
                        f = pq.ParquetFile(p)
                        yield from f.iter_batches(batch_size=2048)

        yield from _parse_cell_batches(cell_batches())

    return base.mapInArrow(run, PACKED_SPANS_SCHEMA)


def _n_slots(spark: SparkSession, files: List[str],
             sizes_by_file: dict) -> int:
    """Bin count: one LPT bin per task slot, refined up to 4 bins per
    slot ONLY when each bin still holds >= _MIN_BIN_BYTES. Parse time
    only loosely tracks file bytes, so finer bins + dynamic assignment
    absorb stragglers (measured 11.0s -> 6.4s at 32 cores in a noisy
    window) - but each extra task pays the ~35ms Python-exchange setup
    (measured: a trivial mapInArrow costs ~35ms/task at local[8] on
    top of a ~0.1s JVM job floor), so fine bins only help when a bin's
    parse dwarfs that tax. At the measured ~4MB/s-per-core parse rate
    a 16MB bin runs ~4s (tax <1%), while the old 2MB floor ran ~0.5s
    bins (tax ~7% - an interleaved A/B at local[8] on a 119MB corpus
    measured 8 bins at med 4.4s vs 32 bins at med 4.9s, the whole gap
    being task setup). Production-scale inputs (TB, 100MB+ files)
    always clear the 16MB floor and get the full fine-grained dynamic
    balance; small corpora degrade to one balanced static LPT bin per
    slot, where the synchronized best-of-rounds methodology (and on a
    real cluster, speculative execution) covers the rare straggler."""
    _MIN_BIN_BYTES = 16 << 20
    par = max(1, spark.sparkContext.defaultParallelism)
    total_bytes = sum(sizes_by_file.values())
    n_slots = max(par, min(par * 4, total_bytes // _MIN_BIN_BYTES))
    return min(n_slots, len(files)) or 1


def _lpt_bins(files: List[str], sizes_by_file: dict,
              n_slots: int) -> List[tuple]:
    """LPT-balance ``files`` into ``n_slots`` byte-balanced bins:
    ``[(rank, [file, ...]), ...]`` heaviest bin first.

    Balance by BYTES, not file count: a count-based round-robin leaves
    a 1.6x straggler tail across 32 tasks (measured). Greedy LPT over
    file sizes is O(F log S) on the driver - fine even at 10^6 files.
    Bins are handed to the scheduler heaviest-first (classic LPT queue)
    so the longest work starts first and the tail stays short.
    """
    import heapq

    sizes = sorted(((sizes_by_file[f], f) for f in files),
                   reverse=True)
    heap = [(0, i) for i in range(n_slots)]
    heapq.heapify(heap)
    bins: List[List[str]] = [[] for _ in range(n_slots)]
    loads = [0] * n_slots
    for sz, f in sizes:
        load, i = heapq.heappop(heap)
        bins[i].append(f)
        loads[i] = load + sz
        heapq.heappush(heap, (load + sz, i))
    order = sorted(range(n_slots), key=lambda i: -loads[i])
    return [(rank, bins[i]) for rank, i in enumerate(order)]


# ship the bin table via broadcast instead of the task closure above
# this many files (~1MB of paths): the closure is serialized into
# EVERY task, a broadcast crosses once per executor
_BC_FILES_THRESHOLD = 10_000


def _bin_dispatch(spark: SparkSession, bin_rows: List[tuple]):
    """One-task-per-bin dispatch with ZERO exchange: a JVM ``Range``
    scan of exactly ``len(bin_rows)`` splits (Range slices [0, n) into
    n contiguous pieces, so partition i holds exactly id i - placement
    is a contract, not a sampling outcome), with the bin table riding
    in the closure (or a broadcast when large). Returns ``(base_df,
    get_bin)`` where ``get_bin(id) -> (slot, [file, ...])``.

    The previous plan (one row per file + repartitionByRange on slot)
    paid a sampling JOB plus a range-exchange on every run; an RDD
    ``parallelize`` of the bins costs a separate Python-runner pass
    just to evaluate the scan. Both measured SLOWER than this shape
    (interleaved A/B at local[8], 119MB/64-file corpus: exchange plan
    med 5.6s, parallelize med 5.3s, Range dispatch med 4.9s at equal
    bin count) - and a trivial 32-task mapInArrow floor drops from
    ~1.55s (exchange) to ~1.1s (Range, 32 python tasks) to ~0.45s
    (8 python tasks): the per-task Python-exchange setup (~35ms) and
    the exchange are the whole overhead. Bin count handles the rest
    (see ``_MIN_BIN_BYTES``)."""
    n = len(bin_rows)
    if sum(len(b) for _, b in bin_rows) > _BC_FILES_THRESHOLD:
        bc = spark.sparkContext.broadcast(bin_rows)

        def get_bin(i: int):
            return bc.value[i]
    else:
        def get_bin(i: int):
            return bin_rows[i]

    return spark.range(0, n, 1, n), get_bin


def extract_layout(cells: DataFrame) -> DataFrame:
    """Cell table -> flat extracted span rows (``SPANS_SCHEMA``).

    :func:`extract_layout_packed` then :func:`unpack_spans_flat`: the
    unpack runs JVM-side (posexplode on the packed attribute, never
    inline over a computed array-of-structs), so the expensive
    Python->JVM crossing stays in the packed doc-row shape."""
    return unpack_spans_flat(extract_layout_packed(cells))


def layout_stats(docs: DataFrame) -> DataFrame:
    """Fused print+parse per document -> accounting rows (zero
    shuffle; every doc yields a row, even all-media docs that print
    nothing)."""
    def task():
        from docling_core_spark.extraction.layout import (
            extract_layout_pages,
            render_layout_pages,
        )

        def row(d, spans):
            _rows, st = extract_layout_pages(render_layout_pages(spans))
            return [(d, st["n_pages"], st["n_cells"], st["n_chrome_cells"],
                     st["n_lines"], st["n_blocks"], st["n_spans"],
                     st["content_chars"])]
        return row

    return map_rows(docs, ("doc_id", "spans"), STATS_SCHEMA, task)


# ----------------------------------------------------------------------
# materialized cell table per (sf, corpus version, layout version)
# ----------------------------------------------------------------------

def layout_cells_ensure(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the print table if needed; returns its path."""
    from docling_core_spark.io.materialize import materialize
    from docling_core_spark.queries import corpus_cache_path, corpus_df

    return materialize(
        corpus_cache_path("layout_cells", sf_dir, LAYOUT_VERSION),
        lambda p: render_layout(corpus_df(spark, sf_dir)).write.parquet(p))


# ----------------------------------------------------------------------
# registry queries
# ----------------------------------------------------------------------

def q_layout_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the printed cell table back to spans; oracle = the layout
    projection computed straight from the source spans (pyoracle) -
    geometry parse and span normalization are independent code paths.
    Uses the zero-shuffle file-granular plan (the print table is
    doc-grouped by construction)."""
    path = layout_cells_ensure(spark, sf_dir)
    return unpack_spans_flat(extract_layout_packed_files(spark, path))


def q_layout_page_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Print+parse accounting per document (distributed vs
    single-process equivalence)."""
    from docling_core_spark.queries import corpus_df

    return layout_stats(corpus_df(spark, sf_dir))
