"""Spark-side document pipeline: synthesis, chunking, exports, and the
per-row Arrow stage runner.

Architecture (SURVEY §7.0): the input table is one row per document
(``doc_id``, ``spans`` array). All per-document work is Python over
Arrow batches inside single ``mapInArrow`` stages - Arrow crosses the
JVM/Python boundary once each way per batch, there is NO shuffle in the
chunking path at all (the data is already per-document), and Catalyst
keeps projection pruning because each stage selects only the columns it
reads.

``map_rows`` is the one way to write a per-row stage. It selects the
stage's input columns and runs one ``mapInArrow``: a per-task factory
runs once per Python task (lazy imports, tokenizers) and returns a row
function, which is called on every input row (a ``spans`` column arrives
as ``[(kind, text, media_ref, offset)]`` tuples) and returns 0..n output
rows. Output batches are built column-wise with Arrow types taken from
the declared Spark schema; a ``spans`` output column is packed from flat
child arrays.

Stages that stay hand-written, because they carry state the runner
has no switch for:

* ``extraction.layout_spark`` ``extract_layout_packed`` and
  ``extract_layout_packed_files``: a document carried across batches
  in partition order;
* ``textops.embedding_top_pairs``: grouped ``applyInPandas``.

tests/test_stage_runner.py fails on any other direct ``mapInArrow`` or
``mapInPandas`` call.

Scale design:
* generation/chunking are embarrassingly parallel over rows; a caller
  with skewed input (few huge files, mega-documents) calls
  ``df.repartition(n)`` before the stage (cheap vs. the stage cost);
  small Arrow batches do the rest.
* output explodes to one row per chunk inside the stage (no
  posexplode shuffle afterwards).
* resumability (north rule): ``run_resumable`` splits the input into
  doc_id hash buckets, writes every pending bucket in one pass and
  commits them with one lineage append, and on restart skips every
  bucket that already has lineage (see io/checkpoint.py).
"""

from __future__ import annotations

import functools
from itertools import accumulate
from typing import Callable, Optional, Sequence, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

SPAN_STRUCT = StructType([
    StructField("kind", StringType(), False),
    StructField("text", StringType(), True),
    StructField("media_ref", StringType(), True),
    StructField("offset", IntegerType(), False),
])

DOCUMENTS_SCHEMA = StructType([
    StructField("doc_id", StringType(), False),
    StructField("spans", ArrayType(SPAN_STRUCT), False),
])

# DocMeta.origin analogue (hierarchical_chunker.py:85-88 /
# DocumentOrigin document.py:709-762); binary_hash is a STRING column
# because the reference's Uint64 exceeds Spark's signed long range
ORIGIN_STRUCT = StructType([
    StructField("mimetype", StringType(), True),
    StructField("binary_hash", StringType(), True),
    StructField("filename", StringType(), True),
])

CHUNKS_SCHEMA = StructType([
    StructField("doc_id", StringType(), False),
    StructField("chunk_idx", IntegerType(), False),
    StructField("text", StringType(), False),
    StructField("headings", ArrayType(StringType()), True),
    StructField("span_refs", ArrayType(IntegerType()), False),
    StructField("origin", ORIGIN_STRUCT, True),
])

EXPORTS_SCHEMA = StructType([
    StructField("doc_id", StringType(), False),
    StructField("fmt", StringType(), False),
    StructField("text", StringType(), False),
])

SPAN_STATS_SCHEMA = StructType([
    StructField("doc_id", StringType(), False),
    StructField("n_spans", IntegerType(), False),
    StructField("n_chunks", IntegerType(), False),
    StructField("n_chars", LongType(), False),
])


# ----------------------------------------------------------------------
# the per-row Arrow stage runner
# ----------------------------------------------------------------------

def map_rows(df: DataFrame, in_cols: Sequence[str],
             schema: Union[StructType, str],
             task: Callable[[], Callable[..., list]]) -> DataFrame:
    """``df.select(*in_cols)`` -> one mapInArrow stage emitting ``schema``
    (a StructType or a DDL string).

    ``task()`` runs once per Python task and returns the row function.
    That function takes one argument per input column and returns a
    list of output row tuples in ``schema`` column order."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(schema)

    def run(batches):
        row_fn = task()
        for batch in batches:
            rows: list = []
            for args in _iter_span_tuples(batch):
                rows.extend(row_fn(*args))
            yield _chunk_record_batch(rows, arrow_schema)

    return df.select(*in_cols).mapInArrow(run, schema)


def _iter_span_tuples(batch):
    """RecordBatch -> one tuple per row, in column order. A ``spans``
    column decodes to [(kind, text, media_ref, offset)] lists through
    its Arrow child arrays - no per-struct dict materialization.
    (Named for its first use; perfbench/inproc.py times it by name.)"""
    cols = []
    for name, col in zip(batch.schema.names, batch.columns):
        if name != "spans":
            cols.append(col.to_pylist())
            continue
        values = col.values
        kinds = values.field("kind").to_pylist()
        texts = values.field("text").to_pylist()
        mrefs = values.field("media_ref").to_pylist()
        offs = values.field("offset").to_pylist()
        bounds = col.offsets.to_pylist()
        cols.append([list(zip(kinds[a:b], texts[a:b], mrefs[a:b],
                              offs[a:b]))
                     for a, b in zip(bounds, bounds[1:])])
    return zip(*cols)


def _chunk_record_batch(rows: list, schema):
    """Output row tuples -> one RecordBatch of exactly ``schema``
    (a pyarrow schema), built column-wise. (Named for the chunk
    stages; perfbench/inproc.py times it by name.)"""
    import pyarrow as pa

    cols = list(zip(*rows)) or [()] * len(schema)
    return pa.RecordBatch.from_arrays(
        [_pack_spans(col, f.type) if f.name == "spans"
         else pa.array(col, f.type) for col, f in zip(cols, schema)],
        schema=schema)


def _pack_spans(docs, list_type):
    """Per-row lists of span dicts -> a list<struct> column, packed from
    one flat child array per struct field."""
    import pyarrow as pa

    struct_type = list_type.value_type
    flat = [s for spans in docs for s in spans]
    bounds = pa.array([0, *accumulate(map(len, docs))], pa.int32())
    children = [pa.array([s[f.name] for s in flat], f.type)
                for f in struct_type]
    return pa.ListArray.from_arrays(
        bounds, pa.StructArray.from_arrays(children,
                                           fields=list(struct_type)),
        type=list_type)


# ----------------------------------------------------------------------
def synth_documents(spark: SparkSession, n_docs: int, seed: int = 42,
                    mega_every: Optional[int] = None,
                    partitions: Optional[int] = None) -> DataFrame:
    """Deterministic distributed corpus: each executor generates its
    docs purely from (seed, index) - no driver materialization, no
    shuffle, linear scale-out."""
    n_parts = partitions or spark.sparkContext.defaultParallelism

    def task():
        from docling_core_spark.corpus import gen_doc_spans

        return lambda i: [(f"doc_{i:012d}", gen_doc_spans(
            i, seed=seed, mega_every=mega_every))]

    return map_rows(spark.range(0, n_docs, numPartitions=n_parts),
                    ("id",), DOCUMENTS_SCHEMA, task)


def _origin_struct(doc) -> Optional[dict]:
    """Doc.origin -> chunk-row struct dict (binary_hash stringified:
    the reference's Uint64 exceeds signed-long range)."""
    if doc.origin is None:
        return None
    return {"mimetype": doc.origin["mimetype"],
            "binary_hash": str(doc.origin["binary_hash"]),
            "filename": doc.origin["filename"]}


def _chunker(mode: str, max_tokens: int, merge_peers: bool = True):
    """The chunk-mode dispatch every chunk stage shares, called on the
    driver when the stage is built, so a hybrid budget below 1 fails
    before any job runs. Returns the per-task ``_make_chunker``."""
    if mode == "hybrid":
        from docling_core_spark.chunking.hybrid import check_budget

        check_budget(max_tokens)
    return functools.partial(_make_chunker, mode, max_tokens, merge_peers)


def _make_chunker(mode: str, max_tokens: int, merge_peers: bool):
    """Doc -> chunks for ``mode`` ("hybrid", "page", anything else
    hierarchical). Call it once per task: it imports lazily and builds
    the tokenizer."""
    if mode == "hybrid":
        from docling_core_spark.chunking.hybrid import hybrid_chunk
        from docling_core_spark.chunking.tokenizer import RegexTokenizer

        tok = RegexTokenizer(max_tokens)
        return lambda doc: hybrid_chunk(doc, tokenizer=tok,
                                        merge_peers=merge_peers)
    if mode == "page":
        from docling_core_spark.chunking.page import page_chunk

        return page_chunk
    from docling_core_spark.chunking.hierarchical import hierarchical_chunk

    return hierarchical_chunk


def _chunk_task(mode: str, max_tokens: int, merge_peers: bool,
                to_spans=None):
    """Per-task factory of the chunk-row function: (doc_id, spans) ->
    CHUNKS_SCHEMA rows. With ``to_spans`` the second column is a
    payload string that ``to_spans`` parses to span dicts first."""
    make_chunker = _chunker(mode, max_tokens, merge_peers)

    def task():
        from docling_core_spark.model.spans import doc_from_spans, span_tuples

        chunk = make_chunker()

        def row(doc_id, spans):
            if to_spans is not None:
                doc_id, spans = str(doc_id), span_tuples(to_spans(spans))
            doc = doc_from_spans(doc_id, spans)
            org = _origin_struct(doc)
            return [(doc_id, ci, c.text, c.headings, c.offsets, org)
                    for ci, c in enumerate(chunk(doc))]
        return row
    return task


def chunk_documents(df: DataFrame, mode: str = "hybrid",
                    max_tokens: int = 64,
                    merge_peers: bool = True) -> DataFrame:
    """documents(doc_id, spans) -> chunks(doc_id, chunk_idx, text,
    headings, span_refs).

    One fused mapInArrow stage: reconstruct tree + serialize + chunk +
    explode, per Arrow batch. Zero shuffles; both boundaries stay in
    Arrow (no pandas object columns - the output explode produces ~30x
    more rows than docs, so the Arrow-native array build matters).
    The chunker is per-row, so a caller with skewed input calls
    ``df.repartition(n)`` first; any partitioning gives the same
    chunks."""
    return map_rows(df, ("doc_id", "spans"), CHUNKS_SCHEMA,
                    _chunk_task(mode, max_tokens, merge_peers))


# ----------------------------------------------------------------------
def parse_and_chunk(df: DataFrame, to_spans, text_col: str,
                    id_col: str = "doc_id", mode: str = "hier",
                    max_tokens: int = 64,
                    merge_peers: bool = True) -> DataFrame:
    """DataFrame(doc_id, <text_col>) -> chunks: parse (via ``to_spans``,
    a str -> [span dict] function such as doctags_to_spans /
    docjson_to_spans) + reconstruct + chunk, fused into ONE mapInArrow
    stage.

    Fusion rationale: chaining ``chunk_documents(parse_x_documents(df))``
    puts two Python runners in series per task - each hop is a full
    JVM<->Python Arrow round-trip carrying the intermediate span table,
    and each runner level forks its own worker pool. Per-row sequential
    transforms belong in one UDF; only relational ops (joins, aggs) need
    plan-level composition. Measured ~2x on doctags->chunks at sf0.1."""
    return map_rows(df, (id_col, text_col), CHUNKS_SCHEMA,
                    _chunk_task(mode, max_tokens, merge_peers, to_spans))


# ----------------------------------------------------------------------
def export_documents(df: DataFrame, fmt: str = "md",
                     page_break_placeholder: Optional[str] = None
                     ) -> DataFrame:
    """documents -> exports(doc_id, fmt, text); fmt in {md, txt, dt,
    html, json, yaml}. json/yaml are the reference's DoclingDocument
    schema - the interop sinks (S2/S3); sources/docjson.py is the
    matching source."""
    def task():
        from docling_core_spark.model.spans import doc_from_spans
        from docling_core_spark.serializers.docjson import (
            export_to_docjson_str,
            export_to_docyaml_str,
        )
        from docling_core_spark.serializers.doctags import export_to_doctags
        from docling_core_spark.serializers.html import export_to_html
        from docling_core_spark.serializers.markdown import (
            export_to_markdown,
            export_to_text,
        )
        kw = {}
        if page_break_placeholder is not None and fmt not in ("dt", "html",
                                                              "html_split",
                                                              "json",
                                                              "yaml"):
            kw["page_break_placeholder"] = page_break_placeholder
        fn = {"md": export_to_markdown, "txt": export_to_text,
              "dt": export_to_doctags, "html": export_to_html,
              "html_split": lambda d, **k: export_to_html(
                  d, split_page_view=True, **k),
              "json": export_to_docjson_str,
              "yaml": export_to_docyaml_str}[fmt]
        return lambda doc_id, spans: [
            (doc_id, fmt, fn(doc_from_spans(doc_id, spans), **kw))]

    return map_rows(df, ("doc_id", "spans"), EXPORTS_SCHEMA, task)


# ----------------------------------------------------------------------
def contextualize_chunks(chunks: DataFrame, delim: str = "\n"
                         ) -> DataFrame:
    """C4 as a DataFrame op (SURVEY §2.6): the embed-ready string is
    the heading path + chunk text joined by the delimiter
    (chunker/base.py:69-96) - pure JVM concat, no UDF."""
    ctx = F.when(
        F.col("headings").isNull() | (F.size("headings") == 0),
        F.col("text"),
    ).otherwise(
        F.concat_ws(delim, F.array_join("headings", delim), F.col("text")))
    return chunks.withColumn("contextualized", ctx)


# ----------------------------------------------------------------------
def doc_stats(df: DataFrame, mode: str = "hybrid", max_tokens: int = 64
              ) -> DataFrame:
    """Per-doc span/chunk/char counts - cheap lineage-style metrics."""
    make_chunker = _chunker(mode, max_tokens)

    def task():
        from docling_core_spark.model.spans import doc_from_spans

        chunk = make_chunker()

        def row(doc_id, spans):
            chunks = chunk(doc_from_spans(doc_id, spans))
            return [(doc_id, len(spans), len(chunks),
                     sum(len(c.text) for c in chunks))]
        return row

    return map_rows(df, ("doc_id", "spans"), SPAN_STATS_SCHEMA, task)
