"""Physical-plan properties: the scale contract, checked in CI.

These assertions encode what SURVEY §4 promises: filters and column
pruning reach the parquet scan, small dims broadcast, the relational
queries stay fully JVM-side (no Python in the plan), and the document
pipeline is exactly one Arrow-crossing stage with no shuffle.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = entry_mod.queries()[name](spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_pricing_summary_pushdown_and_pruning(spark):
    p = _plan(spark, "pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in p          # filter pushed to scan
    # column pruning: the scan must not read unrelated lineitem columns
    read_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" not in read_schema
    assert "l_comment" not in read_schema
    assert "l_quantity" in read_schema


def test_nation_revenue_broadcasts_dims(spark):
    p = _plan(spark, "nation_revenue")
    # customer + nation joins (each appears in tree + details sections)
    assert p.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in p
    read_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert read_schema.count(":") <= 3                # orders scan pruned


def test_relational_queries_stay_jvm_side(spark):
    """No Python evaluation anywhere in the relational/training-data
    plans - everything compiles to JVM expressions."""
    for name in ("pricing_summary", "exact_dup_groups",
                 "quality_classifier", "quality_scores", "lang_id",
                 "doc_fingerprints", "simhash_dups", "knn_cosine",
                 "ann_lsh_topk", "pack_sequences", "incremental_ingest",
                 "mix_sources"):
        p = _plan(spark, name)
        assert "Python" not in p and "ArrowEval" not in p, name


def test_chunk_pipeline_is_single_stage_no_shuffle(spark):
    """The flagship path: parquet scan -> one MapInArrow -> done.
    No Exchange anywhere (chunking is embarrassingly parallel)."""
    p = _plan(spark, "chunks_hybrid")
    assert "MapInArrow" in p
    assert "Exchange" not in p
    # exactly one UDF stage: operator (3) is the only MapInArrow node
    tree = p.split("(1)")[0]
    assert tree.count("MapInArrow") == 1


def test_caption_resolution_plan(spark):
    """Exploded-span equi-join: shuffles only on the join key, no
    nested-loop / cartesian fallback."""
    p = _plan(spark, "caption_resolution")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_embedding_top_pairs_is_grouped_map(spark):
    """Label-blocked cosine runs as one grouped-map (BLAS matmul per
    block), not a self-join with interpreted HOF lambdas."""
    p = _plan(spark, "embedding_top_pairs")
    tree = p.split("(1)")[0]
    # exactly ONE grouped-map stage (bounded tile-pair matmul); the
    # groupBy(label, ti, tj) reuses the window's hash(label) Exchange
    # (hash(label) satisfies the clustered distribution), so the big
    # side shuffles once
    assert tree.count("FlatMapGroupsInPandas") == 1
    assert "aggregate(" not in p and "zip_with" not in p
    # tile counts broadcast to the big side, never shuffled onto it
    assert "BroadcastHashJoin" in tree
    # exchanges: window hash(label) + tiny ntiles agg (broadcast side)
    assert tree.count("Exchange") <= 3


def test_parse_doctags_is_two_arrow_stages(spark):
    """Fused extraction pipeline: export serializer stage + ONE fused
    parse+chunk stage (not parse -> chunk chained), zero shuffles."""
    p = _plan(spark, "parse_doctags")
    tree = p.split("(1)")[0]
    assert tree.count("MapInArrow") == 2
    assert "Exchange" not in tree


def test_html_extract_single_arrow_stage_no_shuffle(spark):
    """Extraction tier: page scan -> ONE fused MapInArrow (DOM parse +
    boilerplate strip + span emission), no Exchange."""
    p = _plan(spark, "html_extract")
    assert "MapInArrow" in p
    assert "Exchange" not in p
    tree = p.split("(1)")[0]
    assert tree.count("MapInArrow") == 1


def test_pdf_sidecar_queries_stay_jvm_side(spark):
    """The columnar PDF page operators never drop to Python; the bbox
    filter runs against the scan."""
    for name in ("pdf_cells_in_bbox", "pdf_crop_text", "pdf_textlines"):
        p = _plan(spark, name)
        assert "Python" not in p and "ArrowEval" not in p, name
        assert "MapInArrow" not in p, name
    # crop_text: exactly one Exchange (the page-key window/agg pair
    # reuses the same partitioning)
    p = _plan(spark, "pdf_crop_text")
    tree = p.split("(1)")[0]
    assert tree.count("Exchange") == 1, tree


def test_rehome_embed_shuffles_ids_not_spans(spark):
    """The payload join exchanges only (doc_id, media_ref, payload)
    projections; the fused rewrite+witness stage is the only Arrow
    crossing after the join."""
    p = _plan(spark, "rehome_embed")
    assert "MapInArrow" in p
    tree = p.split("(1)")[0]
    assert tree.count("MapInArrow") == 1
    # the media-side exchange carries media_ref/payload, never spans
    for ln in p.splitlines():
        if "Exchange hashpartitioning(media_ref" in ln:
            assert "spans" not in ln


def test_export_legacy_single_stage(spark):
    p = _plan(spark, "export_legacy")
    assert "Exchange" not in p
    tree = p.split("(1)")[0]
    assert tree.count("MapInArrow") == 1


def test_docjson_validation_no_shuffle(spark):
    p = _plan(spark, "docjson_validation")
    assert "Exchange" not in p


def test_layout_extract_file_plan_no_data_shuffle(spark):
    """PDF/layout-parse tier: the file-granular plan never shuffles
    cell DATA - and since the Range-dispatch rework it carries NO
    Exchange at all: bin placement is a JVM Range scan (partition i
    holds exactly bin id i by Range's split contract, the bin table
    rides in the closure/broadcast), the cells themselves are
    pyarrow-read inside the one MapInArrow stage, so no parquet Scan
    node appears and the span unpack (split/arrays_zip/inline) stays
    JVM-side."""
    p = _plan(spark, "layout_extract")
    tree = p.split("(1)")[0]
    assert tree.count("MapInArrow") == 1
    assert "Exchange" not in p                  # Range dispatch: none
    assert "Range" in tree                      # bin-id scan
    assert "Scan parquet" not in p              # cells read via pyarrow
    assert "Generate" in p                      # JVM-side inline(spans)


def test_layout_page_stats_single_stage_no_shuffle(spark):
    """Fused print+parse accounting: docs scan -> ONE MapInArrow,
    zero Exchange."""
    p = _plan(spark, "layout_page_stats")
    assert "Exchange" not in p
    tree = p.split("(1)")[0]
    assert tree.count("MapInArrow") == 1


def test_redact_spans_is_pure_jvm(spark):
    """M5 redaction is a codegen'd aggregate() fold: NO Python stage,
    no Exchange except the final presentation sort."""
    p = _plan(spark, "redact_spans")
    assert "Python" not in p and "ArrowEval" not in p
    assert "MapInArrow" not in p
    # only the orderBy's rangepartitioning exchange
    assert p.count("Exchange") <= 2


def test_token_counts_real_single_arrow_stage(spark):
    p = _plan(spark, "token_counts_real")
    tree = p.split("(1)")[0]
    assert tree.count("MapInArrow") == 1
    # no shuffle between scan and counter; presentation sort only
    assert "ReadSchema" in p


def test_splice_replace_pure_sql_zero_python(spark):
    """M6 splice after the r4 vectorization: ZERO Python crossings
    (the SQL-fold rewrite replaced the Arrow stage entirely); only
    the presentation sort shuffles."""
    p = _plan(spark, "splice_replace")
    tree = p.split("(1)")[0]
    assert "MapInArrow" not in tree
    assert "PythonUDF" not in p
    assert tree.count("Exchange") <= 1  # rangepartitioning (orderBy)


def test_splice_graft_one_join_zero_python(spark):
    """M4+M8 graft: the doc pairing is one doc_id equi-join (broadcast
    at test SF; a co-partitioned sort-merge at scale), then pure SQL
    folds - no Python crossing, no other data shuffle before the
    presentation sort."""
    p = _plan(spark, "splice_graft")
    tree = p.split("(1)")[0]
    assert "MapInArrow" not in tree
    assert "PythonUDF" not in p
    assert "Join" in tree
    # join machinery + presentation sort only
    assert tree.count("Exchange") <= 3


def test_delete_range_pure_sql_zero_python(spark):
    """M7 delete half (r4 driver query): pure SQL folds + skip
    filter, zero Python, one presentation-sort shuffle."""
    p = _plan(spark, "delete_range")
    tree = p.split("(1)")[0]
    assert "MapInArrow" not in tree
    assert "PythonUDF" not in p
    assert "Filter" in tree  # the skip_unresolvable filter
    assert tree.count("Exchange") <= 1


def test_dedup_retention_broadcasts_labels(spark):
    """Canonical selection: the cluster-label and survivor joins all
    broadcast (the label table only holds docs WITH a near-dup); the
    corpus-wide left joins must not shuffle the corpus."""
    p = _plan(spark, "dedup_retention")
    tree = p.split("(1)")[0]
    assert "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in tree


def test_rec_validation_chained_arrow_stages(spark):
    p = _plan(spark, "rec_validation")
    tree = p.split("(1)")[0]
    assert tree.count("MapInArrow") == 2  # synth+corrupt | validate


def test_clean_corpus_composite_plan(spark):
    """r4 composite hygiene pipeline: fully JVM-side (no Python
    anywhere), the benchmark-shingle decontamination join broadcasts
    (never shuffles the corpus against the held-out set), and the
    final exclusion is a broadcast anti-join."""
    p = _plan(spark, "clean_corpus")
    assert "Python" not in p and "ArrowEval" not in p
    assert "MapInArrow" not in p
    assert "BroadcastHashJoin" in p
    # the contamination exclusion must not sort-merge the survivors
    assert "SortMergeJoin" not in p


def test_tfidf_top_terms_plan(spark):
    """Corpus term stats: JVM-side, per-language doc counts broadcast
    into the vocabulary-sized score table."""
    p = _plan(spark, "tfidf_top_terms")
    assert "Python" not in p and "ArrowEval" not in p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def wide_docs_path(tmp_path_factory):
    """A documents parquet with one column no stage reads."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from docling_core_spark.corpus import gen_doc_spans
    from docling_core_spark.engine import DOCUMENTS_SCHEMA

    schema = to_arrow_schema(DOCUMENTS_SCHEMA).append(
        pa.field("unread", pa.string()))
    rows = [{"doc_id": f"doc_{i:012d}", "spans": gen_doc_spans(i, 42),
             "unread": "x"} for i in range(4)]
    path = str(tmp_path_factory.mktemp("plans") / "docs.parquet")
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)
    return path


@pytest.mark.parametrize("stage", [
    "export_documents_md", "doc_stats", "viz_op",
    "parse_legacy_roundtrip", "render_pages", "export_corrupt_validate"])
def test_span_stage_is_one_arrow_stage_over_pruned_scan(
        spark, wide_docs_path, stage):
    """Each per-document stage over a parquet scan: exactly one
    MapInArrow, no Exchange, and the scan reads only doc_id and
    spans."""
    from docling_core_spark.engine import doc_stats, export_documents
    from docling_core_spark.extraction.spark import render_pages
    from docling_core_spark.legacy import parse_legacy_roundtrip
    from docling_core_spark.validation import export_corrupt_validate
    from docling_core_spark.visualize import visualize_layout

    build = {"export_documents_md": lambda d: export_documents(d, "md"),
             "doc_stats": doc_stats,
             "viz_op": visualize_layout,
             "parse_legacy_roundtrip": parse_legacy_roundtrip,
             "render_pages": render_pages,
             "export_corrupt_validate": export_corrupt_validate}[stage]
    p = _explain(build(spark.read.parquet(wide_docs_path)))
    tree = p.split("(1)")[0]
    assert tree.count("MapInArrow") == 1
    assert "Exchange" not in p
    read_schema, = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert read_schema.split("ReadSchema: ")[1] == (
        "struct<doc_id:string,spans:array<struct<kind:string,"
        "text:string,media_ref:string,offset:int>>>")


def test_media_features_run_on_arrow_stages(spark, wide_docs_path):
    """media_table >> extract_media_features: one MapInArrow per stage
    and no MapInPandas; the features stage reads only the columns it
    decodes."""
    from docling_core_spark.mediaops import extract_media_features, media_table

    p = _explain(extract_media_features(
        media_table(spark.read.parquet(wide_docs_path))))
    tree = p.split("(1)")[0]
    assert "MapInPandas" not in p
    assert tree.count("MapInArrow") == 2
    inputs = re.findall(r"\(\d+\) MapInArrow\nInput \[\d+\]: \[(.*)\]", p)
    assert re.sub(r"#\d+L?", "", inputs[-1]) == "media_ref, kind, payload"
