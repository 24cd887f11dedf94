"""Query registry for the driver contract (__spark_entry__.py).

Two families:

* engine queries - the document pipeline itself (chunking, exports)
  over the deterministic synthetic span corpus. Tree reconstruction +
  stateful chunking are not SQL-expressible, so their oracle is
  MATERIALIZED (pyoracle.py): the expected rows are recomputed
  single-process with the same pure-Python per-doc functions the UDFs
  run, and DuckDB just SELECTs them - a distributed-vs-sequential
  equivalence check. The reference-parity gate for those same
  functions is tests/test_chunk_parity.py (span-sequence equality vs.
  the live reference library).
* relational / training-data queries - plain DataFrame ops over the
  driver's parquet tables, each with an ANSI-SQL DuckDB oracle.
  Conventions for hash-stable comparison: every computed column is
  aliased identically on both sides, float aggregates are rounded,
  integer aggregates are cast to BIGINT.

Scale notes are inline per query (broadcasts, aggregate pushdown).
"""

from __future__ import annotations

import os
from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from docling_core_spark.engine import (
    chunk_documents,
    export_documents,
    map_rows,
    synth_documents,
)
from docling_core_spark.io.materialize import (
    materialize_df,
    materialize_table,
    scratch_path,
)

# corpus sizing: ~5000 docs per sf unit keeps bench meaningful but quick
_SF_DOCS = {"sf0.001": 50, "sf0.01": 500, "sf0.1": 5000}


def corpus_docs_for(sf_dir: str) -> int:
    base = os.path.basename(os.path.normpath(sf_dir))
    return _SF_DOCS.get(base, 500)


def corpus_cache_path(kind: str, sf_dir: str, *versions) -> str:
    """The one name for a table derived from this sf's synthetic
    corpus: keyed on the sf, its doc count, ``CORPUS_VERSION`` and the
    deriving step's own ``versions``."""
    from docling_core_spark.corpus import CORPUS_VERSION

    v = ".".join(str(x) for x in (CORPUS_VERSION,) + versions)
    return scratch_path(
        f"docling_{kind}_{os.path.basename(os.path.normpath(sf_dir))}"
        f"_{corpus_docs_for(sf_dir)}_v{v}.parquet")


def ensure_corpus_local(sf_dir: str) -> str:
    """Materialize the span corpus WITHOUT Spark (pure pyarrow) - used
    by the DuckDB oracles, which may run before any Spark query has
    cached it. Rows are a pure function of (seed, index), so this is
    bit-identical to the Spark-side writer."""
    def build():
        import pyarrow as pa

        from docling_core_spark.corpus import gen_corpus

        rows = gen_corpus(corpus_docs_for(sf_dir), seed=42)
        span_t = pa.struct([("kind", pa.string()), ("text", pa.string()),
                            ("media_ref", pa.string()),
                            ("offset", pa.int32())])
        return pa.table({
            "doc_id": pa.array([r["doc_id"] for r in rows], pa.string()),
            "spans": pa.array([r["spans"] for r in rows],
                              pa.list_(span_t)),
        })

    return materialize_table(corpus_cache_path("corpus", sf_dir), build)


def corpus_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic span corpus for this sf, materialized once as
    parquet (stand-in for the Iceberg documents table) and read back -
    so every query sees the production shape: JVM columnar scan feeding
    the UDF, and generation cost is paid once per process fleet."""
    return materialize_df(
        spark, corpus_cache_path("corpus", sf_dir),
        lambda: synth_documents(spark, corpus_docs_for(sf_dir), seed=42))


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ----------------------------------------------------------------------
# engine queries (document pipeline; materialized single-process oracle)
# ----------------------------------------------------------------------

def _canon_chunks(df: DataFrame, extra: tuple = ()) -> DataFrame:
    """Canonical scalar projection of a chunk DataFrame: the driver's
    canonicalizer sorts+hashes pandas cells, which requires hashable
    scalars - so array columns are joined to strings with the SAME
    convention pyoracle.py uses for the expected rows (join equality
    == array equality since the separator never occurs in the data)."""
    from docling_core_spark.pyoracle import HEADINGS_SEP

    cols = [
        F.col("doc_id"), F.col("chunk_idx"), F.col("text"),
        F.coalesce(F.array_join("headings", HEADINGS_SEP), F.lit(""))
        .alias("headings_str"),
        F.array_join(F.expr("cast(span_refs as array<string>)"), ",")
        .alias("span_refs_str"),
        # concat_ws skips NULL fields, so a NULL origin struct joins to
        # "" - same as pyoracle.join_origin
        F.concat_ws(HEADINGS_SEP, "origin.mimetype",
                    "origin.binary_hash", "origin.filename")
        .alias("origin_str"),
    ]
    cols.extend(F.col(c) for c in extra)
    return df.select(*cols)


def q_chunks_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _canon_chunks(
        chunk_documents(corpus_df(spark, sf_dir), mode="hybrid",
                        max_tokens=64))


def q_chunks_hierarchical(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _canon_chunks(
        chunk_documents(corpus_df(spark, sf_dir), mode="hier"))


def q_chunks_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _canon_chunks(
        chunk_documents(corpus_df(spark, sf_dir), mode="page"))


def q_chunks_contextualized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 contextualize: embed-ready strings (headings + text)."""
    from docling_core_spark.engine import contextualize_chunks

    return _canon_chunks(
        contextualize_chunks(
            chunk_documents(corpus_df(spark, sf_dir), mode="hybrid",
                            max_tokens=64)),
        extra=("contextualized",))


def q_export_markdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    return export_documents(corpus_df(spark, sf_dir), fmt="md")


def q_parse_docjson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interop round trip: export reference-schema JSON (S2), re-ingest
    it (S1), chunk. Exercises both sides of the DoclingDocument-JSON
    boundary at scale; ingest + chunk run fused in one Arrow stage."""
    from docling_core_spark.sources.docjson import parse_and_chunk_docjson

    js = (export_documents(corpus_df(spark, sf_dir), fmt="json")
          .withColumnRenamed("text", "doc_json"))
    return _canon_chunks(
        parse_and_chunk_docjson(js, json_col="doc_json", mode="hier"))


def q_caption_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Caption-to-picture/table resolution via media_ref (north-star
    query): explode the span arrays, equi-join caption spans to their
    floating owners on (doc_id, media_ref). Both sides co-partition on
    the join key after one shuffle; at 100 TB this is the standard
    within-corpus edge resolution - no broadcast needed, AQE sizes the
    join."""
    docs = corpus_df(spark, sf_dir)
    s = docs.select("doc_id", F.explode("spans").alias("s"))
    owners = (s.filter((F.col("s.media_ref") != "")
                       & ~F.col("s.kind").startswith("caption"))
              .select("doc_id",
                      F.col("s.media_ref").alias("media_ref"),
                      F.col("s.kind").alias("owner_kind"),
                      F.col("s.offset").alias("owner_offset")))
    caps = (s.filter(F.col("s.kind").startswith("caption:"))
            .select("doc_id",
                    F.expr("substring(s.kind, 9)").alias("media_ref"),
                    F.col("s.text").alias("caption_text"),
                    F.col("s.offset").alias("caption_offset")))
    return (owners.join(caps, ["doc_id", "media_ref"])
            .orderBy("doc_id", "caption_offset"))


def _sql_caption_resolution(sf_dir: str) -> str:
    path = ensure_corpus_local(sf_dir)
    return f"""
WITH s AS (SELECT doc_id, unnest(spans) AS sp
           FROM read_parquet('{path}/*.parquet')),
o AS (SELECT doc_id, sp.media_ref AS media_ref, sp.kind AS owner_kind,
             sp.offset AS owner_offset
      FROM s WHERE sp.media_ref <> '' AND sp.kind NOT LIKE 'caption%'),
c AS (SELECT doc_id, substr(sp.kind, 9) AS media_ref,
             sp.text AS caption_text, sp.offset AS caption_offset
      FROM s WHERE sp.kind LIKE 'caption:%')
SELECT o.doc_id AS doc_id, o.media_ref AS media_ref, owner_kind,
       owner_offset, caption_text, caption_offset
FROM o JOIN c ON o.doc_id = c.doc_id AND o.media_ref = c.media_ref
ORDER BY o.doc_id, caption_offset
"""


# the driver-facing redaction set: leaf kinds only, so the DuckDB
# oracle stays a flat filter; group-kind redaction (bracket-range
# delete) is parity-locked against the live reference's delete_items
# in tests/test_redact.py instead. 'chart' rides along because chart
# spans ARE PictureItems (label=picture) in the reference model.
REDACT_KINDS = ("code", "formula", "picture", "chart")


def q_redact_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Targeted redaction without re-chunking: the reference's
    delete_items (document.py:2046-2401, recursive ref-rewrite) as one
    columnar fold over the span array (docops.redact_spans) - removes
    code/formula/picture spans plus the captions they orphan (the
    strict-redaction variant; drop_orphan_captions=False is the
    reference-parity default), then re-offsets densely. Zero shuffle,
    zero Python."""
    from docling_core_spark.docops import redact_spans

    docs = corpus_df(spark, sf_dir)
    red = redact_spans(docs, REDACT_KINDS, drop_orphan_captions=True)
    return _exploded_span_rows(red)


def _sql_redact_spans(sf_dir: str) -> str:
    path = ensure_corpus_local(sf_dir)
    kinds = ", ".join(f"'{k}'" for k in sorted(REDACT_KINDS))
    return f"""
WITH s AS (SELECT doc_id, unnest(spans) AS sp
           FROM read_parquet('{path}/*.parquet')),
rm AS (SELECT doc_id, sp.media_ref AS mr FROM s
       WHERE regexp_extract(sp.kind, '^[a-z_]+') IN ({kinds})
         AND sp.media_ref <> ''),
kept AS (
  SELECT doc_id, sp FROM s
  WHERE regexp_extract(sp.kind, '^[a-z_]+') NOT IN ({kinds})
    AND NOT (sp.kind LIKE 'caption:%' AND EXISTS (
        SELECT 1 FROM rm
        WHERE rm.doc_id = s.doc_id AND rm.mr = substr(sp.kind, 9))))
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY sp.offset) - 1 AS INT) AS ord,
       sp.kind AS kind, sp.text AS text, sp.media_ref AS media_ref
FROM kept
ORDER BY doc_id, ord
"""


def _exploded_span_rows(docs: DataFrame) -> DataFrame:
    """Flatten (doc_id, spans) to one row per span.

    explode_OUTER + isNotNull, NOT a plain explode: when ``spans`` is a
    computed expression (the splice/redact folds), a plain explode
    triggers InferFiltersFromGenerate and its inferred ``size(e) > 0``
    filter is pushed through the Project that computes ``spans``,
    textually duplicating the whole fold - measured: the splice ran 3x
    per document (1x Project + 2x pushed Filter). The infer rule only
    matches outer=false generates, and the isNotNull runs on the
    GENERATED attribute (a per-output-row null check), so the fold
    runs exactly once per document. The only semantic delta of outer -
    a null row for a doc whose array is empty - is removed by that
    same filter, restoring plain-explode output exactly."""
    return (docs.select("doc_id", F.explode_outer("spans").alias("s"))
            .filter(F.col("s").isNotNull())
            .select("doc_id",
                    F.col("s.offset").alias("ord"),
                    F.col("s.kind").alias("kind"),
                    F.col("s.text").alias("text"),
                    F.col("s.media_ref").alias("media_ref"))
            .orderBy("doc_id", "ord"))


def q_splice_replace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 replace_item (reference document.py:2034-2057) as a span
    splice: in every document, substitute the first table subtree
    (code block where no table exists) with a sentinel section - the
    subtree walk covers rich-cell children and attached list brackets.
    One fused Arrow stage, zero shuffle; docs with neither kind pass
    through unchanged. Oracle: the same pure splice run single-process
    (pyoracle._rows_splice_replace), i.e. a distributed-vs-sequential
    equivalence check; splice semantics themselves are parity-locked
    to the live reference in tests/test_splice.py."""
    from docling_core_spark.docops import (
        SPLICE_REPLACE_KINDS,
        SPLICE_SENTINEL_SPANS,
        insert_spans_after,
    )

    docs = corpus_df(spark, sf_dir)
    out = insert_spans_after(docs, SPLICE_REPLACE_KINDS,
                             SPLICE_SENTINEL_SPANS, replace=True)
    return _exploded_span_rows(out)


def q_splice_graft(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4+M8 insert_document (reference document.py:3876-3894): each
    document receives its ring neighbour's body, spliced after the
    first text subtree. The pairing is one equi-join shuffle (the doc
    being grafted must meet its target row somewhere); the splice is
    one Arrow stage. NOTE the engine intentionally diverges from a
    reference bug here: _append_item_copies (document.py:4006-4040)
    leaves caption/footnote/rich-cell RefItems dangling across
    documents, so a stock-reference graft of caption-bearing docs
    mis-captions or fails validate_tree; the engine's content-addressed
    media_ref linkage keeps attachments correct (tests/test_splice.py
    pins parity on the attachment-free shape and documents the rest)."""
    from docling_core_spark.docops import (
        SPLICE_GRAFT_KINDS,
        graft_documents,
    )

    docs = corpus_df(spark, sf_dir)
    n = corpus_docs_for(sf_dir)
    idx = F.substring("doc_id", 5, 12).cast("int")
    b = docs.select(
        F.format_string("doc_%012d", (idx + n - 1) % n).alias("doc_id"),
        "spans")
    return _exploded_span_rows(
        graft_documents(docs, b, SPLICE_GRAFT_KINDS))


def q_delete_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7's deletion half (reference delete_items_range,
    document.py:3764-3812): in every document, delete the range from
    the first body text subtree up to - exclusive - the first
    table/code subtree, keeping page breaks. Pure SQL folds, zero
    shuffle, zero Python (same machinery as splice_replace). Docs
    where an anchor does not resolve, or where the table precedes the
    text, pass through via ``skip_unresolvable`` (390 cut / 110
    skipped over the 500-doc corpus, so both paths carry weight).
    Oracle: the same delete single-process (pyoracle
    _rows_delete_range); all four inclusivity flags are additionally
    parity-locked to the live reference in tests/test_splice.py."""
    from docling_core_spark.docops import (
        DELETE_RANGE_END,
        DELETE_RANGE_START,
        delete_spans_range,
    )

    docs = corpus_df(spark, sf_dir)
    out = delete_spans_range(docs, DELETE_RANGE_START, DELETE_RANGE_END,
                             start_inclusive=True, end_inclusive=False,
                             skip_unresolvable=True)
    return _exploded_span_rows(out)


def q_append_child(spark: SparkSession, sf_dir: str) -> DataFrame:
    """append_child_item (reference document.py:2007-2031) as a span
    insert: in every document, append a standard note child to the
    first list group (docs with one exercise the group branch - last
    child before the matching end_group) or to the first section
    header / text leaf (the ``+child`` attach branch). Pure SQL folds,
    zero shuffle, zero Python. Oracle: the same pure append
    single-process (pyoracle._rows_append_child); append semantics are
    parity-locked to the live reference across the exhaustive parent
    sweep in tests/test_append_child.py."""
    from docling_core_spark.docops import (
        APPEND_CHILD_KINDS,
        APPEND_CHILD_SPAN,
        append_child_spans,
    )

    docs = corpus_df(spark, sf_dir)
    out = append_child_spans(docs, APPEND_CHILD_KINDS,
                             APPEND_CHILD_SPAN)
    return _exploded_span_rows(out)


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 analogue: top unshipped orders by revenue. customer is
    the small side (broadcast); orders|x|lineitem co-shuffle on
    orderkey; date filters push to both parquet scans."""
    cutoff = F.lit("1998-06-15").cast("timestamp")
    cust = _t(spark, sf_dir, "customer") \
        .filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders") \
        .filter(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem") \
        .filter(F.col("l_shipdate") > cutoff)
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .groupBy("l_orderkey", "o_orderdate")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"))
            .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
            .limit(10))


SQL_SHIPPING_PRIORITY = """
SELECT l_orderkey, o_orderdate,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING'
  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1998-06-15'
  AND l_shipdate > TIMESTAMP '1998-06-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization over the event stream: a new session
    starts after >30 min of inactivity. One shuffle on user_id feeds
    both windows (lag then running sum - same partitioning, one Sort);
    the histogram agg after it is partial+final."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts")
    # timestampdiff works directly on TIMESTAMP_NTZ - no tz-dependent
    # epoch cast. MICROSECOND precision: SECOND would truncate while
    # the DuckDB oracle's epoch_us is exact, flipping gaps near the
    # 30-min boundary on sub-second timestamps
    ev = ev.withColumn("prev_ts", F.lag("ts").over(w))
    gap = F.expr("timestampdiff(MICROSECOND, prev_ts, ts)")
    new_sess = F.when(gap.isNull() | (gap > 1800 * 1000000), 1).otherwise(0)
    sess = (ev.withColumn("new_sess", new_sess)
            .withColumn("session_id",
                        F.sum("new_sess").over(
                            w.rowsBetween(Window.unboundedPreceding, 0))))
    per_user = (sess.groupBy("user_id")
                .agg(F.max("session_id").alias("n_sessions"),
                     F.count(F.lit(1)).alias("n_events")))
    return (per_user.groupBy("n_sessions")
            .agg(F.count(F.lit(1)).alias("n_users"),
                 F.sum("n_events").alias("n_events"))
            .orderBy("n_sessions"))


SQL_USER_SESSIONS = """
WITH g AS (
  SELECT user_id, ts,
         epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id
                                               ORDER BY ts))
           AS gap
  FROM events),
s AS (
  SELECT user_id,
         SUM(CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts
                 ROWS UNBOUNDED PRECEDING) AS session_id
  FROM g),
pu AS (SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions,
              COUNT(*) AS n_events
       FROM s GROUP BY user_id)
SELECT n_sessions, CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(n_events) AS BIGINT) AS n_events
FROM pu GROUP BY n_sessions ORDER BY n_sessions
"""


def _oracle_sf_dir() -> str:
    """The sf the driver's DuckDB correctness pass runs at (sf0.01);
    tests override via TEST_SF_DIR so both sides stay aligned."""
    return (os.environ.get("TEST_SF_DIR")
            or "/root/testdata/sf0.01")


def q_concat_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M9 concatenate as a DataFrame op (window prefix-sum offset/page
    shifts, no UDF) feeding the chunker; groups of ~10 docs each."""
    from docling_core_spark.docops import concatenate_documents

    docs = corpus_df(spark, sf_dir)
    # ~10 docs per merged group: output rows stay numerous enough that
    # the downstream chunker parallelizes (one giant doc = one task -
    # the mega-doc skew hazard, SURVEY §4.2). Grouping is the numeric
    # doc index mod n (pyoracle.concat_group) so the single-process
    # oracle can replicate it; production callers pass any group_col
    # (e.g. a hash) - the operator is grouping-agnostic.
    n_groups = max(5, corpus_docs_for(sf_dir) // 10)
    merged = concatenate_documents(
        docs, group_col=F.pmod(
            F.expr("cast(substring(doc_id, 5) as bigint)"),
            F.lit(n_groups)))
    return _canon_chunks(chunk_documents(merged, mode="hier"))


def q_extract_range_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7 sub-document extraction (span-offset slice, pure projection)
    feeding the chunker."""
    from docling_core_spark.docops import extract_spans_range

    return _canon_chunks(chunk_documents(
        extract_spans_range(corpus_df(spark, sf_dir), 2, 30), mode="hier"))


def q_export_doctags(spark: SparkSession, sf_dir: str) -> DataFrame:
    return export_documents(corpus_df(spark, sf_dir), fmt="dt")


def q_export_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    return export_documents(corpus_df(spark, sf_dir), fmt="html")


def q_parse_doctags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction stage: doctags token streams -> span documents ->
    chunks. Exercises the parser (sources/doctags.py) at scale. Parse
    and chunk are per-row sequential, so they run fused in one Arrow
    stage (parse_and_chunk_doctags) rather than two chained Python
    runners; the doctags input itself is synthesized by the export
    serializer (its own stage, as a doctags table would be in prod)."""
    from docling_core_spark.sources.doctags import parse_and_chunk_doctags

    dt = (export_documents(corpus_df(spark, sf_dir), fmt="dt")
          .withColumnRenamed("text", "doctags"))
    return _canon_chunks(
        parse_and_chunk_doctags(dt, doctags_col="doctags", mode="hier"))


# ----------------------------------------------------------------------
# relational queries with DuckDB oracles
# ----------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 analogue. Aggregation is partial+final (map-side
    combine); filter + column pruning push into the parquet scan."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice")
                          * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2)                            AS sum_qty,
       ROUND(SUM(l_extendedprice), 2)                       AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)    AS sum_disc_price,
       ROUND(AVG(l_quantity), 2)                            AS avg_qty,
       ROUND(AVG(l_discount), 4)                            AS avg_disc,
       COUNT(*)                                             AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by nation: small dims are broadcast so only the orders
    scan streams (no shuffle on the big side at 100 TB)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        orders.join(F.broadcast(cust),
                    orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
             F.count(F.lit(1)).alias("n_orders"))
        .orderBy("n_name")
    )


SQL_NATION_REVENUE = """
SELECT n_name,
       ROUND(SUM(o_totalprice), 2) AS revenue,
       COUNT(*)                    AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
"""


# -------------------- training-data pipeline ops ----------------------

def q_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content hash: groupBy md5(text). At 100 TB the
    hash is computed in the scan projection (whole-stage codegen) and
    the shuffle carries only (hash, 1) pairs after partial aggregation."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.md5(F.col("text")).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
        .orderBy("text_hash")
    )


SQL_EXACT_DUP_GROUPS = """
SELECT md5(text) AS text_hash, COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
HAVING COUNT(*) > 1
ORDER BY text_hash
"""


# loaded once per python worker PROCESS (module-level), never per
# batch - the per-executor tokenizer-init rule of SURVEY.md 4.2(4)
_REAL_COUNTERS: dict = {}

# asset-path contract (reference tokenizer/huggingface.py:30-53 /
# openai.py:24-26 load PUBLISHED vocab.txt / .tiktoken files; the
# vendored files under docling_core_spark/assets/ are deterministic
# corpus-derived fixtures, see tools/gen_tokenizer_fixtures.py).
# $DOCLING_SPARK_WP_VOCAB / $DOCLING_SPARK_BPE_RANKS are read on the
# DRIVER at query-build time and shipped to workers inside the
# mapInArrow closure (env set mid-session never reaches the python
# worker daemon). Each value is a path; when the path is not visible
# on an executor (cluster mode), its basename is resolved through
# SparkFiles - so `spark-submit --files /x/vocab.txt` plus
# DOCLING_SPARK_WP_VOCAB=vocab.txt hands every executor the published
# asset. Unset -> the vendored fixture.
_WP_VOCAB_ENV = "DOCLING_SPARK_WP_VOCAB"
_BPE_RANKS_ENV = "DOCLING_SPARK_BPE_RANKS"


def _tokenizer_asset_spec() -> tuple:
    """Driver-side capture of the asset overrides (None = vendored)."""
    return (os.environ.get(_WP_VOCAB_ENV),
            os.environ.get(_BPE_RANKS_ENV))


def _resolve_tokenizer_asset(name: str, spec) -> str:
    """Worker-side resolution: explicit spec path, then the spec
    basename via SparkFiles (--files / sc.addFile ship), then the
    vendored fixture. A spec that resolves nowhere fails loudly."""
    if spec:
        if os.path.exists(spec):
            return spec
        from pyspark import SparkFiles

        cand = SparkFiles.get(os.path.basename(spec))
        if os.path.exists(cand):
            return cand
        raise FileNotFoundError(
            f"tokenizer asset override {spec!r} not found locally or "
            "via SparkFiles; ship it with spark-submit --files")
    return os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "assets", name)


def _real_counters(spec: tuple = (None, None)) -> tuple:
    wp_path = _resolve_tokenizer_asset("wordpiece_vocab.txt", spec[0])
    bpe_path = _resolve_tokenizer_asset("bpe_ranks.tiktoken", spec[1])
    key = (wp_path, bpe_path)
    if _REAL_COUNTERS.get("key") != key:
        from docling_core_spark.chunking.wordpiece import (
            BytePairCounter,
            WordPieceCounter,
        )
        _REAL_COUNTERS["wp"] = WordPieceCounter.from_vocab_file(wp_path)
        _REAL_COUNTERS["bpe"] = BytePairCounter.from_tiktoken_file(
            bpe_path)
        _REAL_COUNTERS["key"] = key
    return _REAL_COUNTERS["wp"], _REAL_COUNTERS["bpe"]


def q_token_counts_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 with the REAL tokenizer algorithms end-to-end: greedy
    longest-match WordPiece (chunking/wordpiece.py:105, the algorithm
    of reference tokenizer/huggingface.py:51-53) and byte-level BPE
    merging (the tiktoken algorithm of tokenizer/openai.py:24-26),
    loaded from the vendored deterministic vocab/ranks assets
    (docling_core_spark/assets/, see tools/gen_tokenizer_fixtures.py).

    Scale shape: one fused mapInArrow over the parquet scan, zero
    shuffle; assets load once per worker process. At cluster scale
    ship the assets dir via --archives next to the --py-files zip.
    Oracle: an INDEPENDENT trie-based WordPiece + heap-based BPE
    reimplementation (pyoracle.ensure_token_counts_real)."""
    spec = _tokenizer_asset_spec()  # driver-side env capture

    def task():
        wp, bpe = _real_counters(spec)
        return lambda i, t: [(i, wp.count_tokens(t), bpe.count_tokens(t))]

    return map_rows(_t(spark, sf_dir, "documents"), ("doc_id", "text"),
                    "doc_id long, wp_tokens long, bpe_tokens long",
                    task).orderBy("doc_id")


def q_rec_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record/Statement/QA collection types (SURVEY §1.3): S12-style
    quarantine validation of synthesized + deterministically corrupted
    payloads with the from-scratch validators (rectypes.py, parity-
    locked to the live reference pydantic models in
    tests/test_rectypes.py). One fused Arrow stage end-to-end:
    synthesize -> corrupt -> validate, zero shuffle."""
    from docling_core_spark.rectypes import (
        corrupt_rec,
        synth_rec_payload,
        validate_records_df,
    )

    def row(i, t):
        kind, js = synth_rec_payload(i, t or "")
        return [(i, kind, corrupt_rec(i, kind, js))]

    payloads = map_rows(_t(spark, sf_dir, "documents"), ("doc_id", "text"),
                        "doc_id long, kind string, payload string",
                        lambda: row)
    return validate_records_df(payloads).orderBy("doc_id")


def q_search_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-index Meta / Generic / Package sidecar types (reference
    search/meta.py, search/package.py, types/gen/generic.py) as an
    S12-style quarantine validation: synthesize deterministic payloads
    from documents rows, corrupt a deterministic subset, validate with
    the from-scratch validators (searchtypes.py, parity-locked to the
    live reference pydantic models in tests/test_searchtypes.py). One
    fused Arrow stage end-to-end, zero shuffle."""
    from docling_core_spark.searchtypes import (
        corrupt_search,
        synth_search_payload,
        validate_search_df,
    )

    def row(i, t):
        kind, js = synth_search_payload(i, t or "")
        return [(i, kind, corrupt_search(i, kind, js))]

    payloads = map_rows(_t(spark, sf_dir, "documents"), ("doc_id", "text"),
                        "doc_id long, kind string, payload string",
                        lambda: row)
    return validate_search_df(payloads).orderBy("doc_id")


def q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k against the vec_id=0 embedding - the
    exact baseline for ANN. The 1-row query side is broadcast; the big
    side streams (one pass, no shuffle except the final top-k)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_embedding"))
    joined = emb.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
    dot = F.aggregate(
        F.zip_with("embedding", "q_embedding",
                   lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)
    norm = lambda c: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x))
    sim = dot / (norm(F.col("embedding")) * norm(F.col("q_embedding")))
    from docling_core_spark.textops import _r4

    return (
        joined.select("vec_id", _r4(sim).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(20)
    )


# cosine in float64 (CAST ... AS DOUBLE[] BEFORE list_cosine_similarity;
# the embeddings table stores FLOAT[] and a float32 cosine can differ at
# the rounded 4th decimal), floor-based rounding to match the Spark side
SQL_KNN_COSINE = """
WITH q AS (SELECT embedding AS q_embedding FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       FLOOR(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                    CAST(q_embedding AS DOUBLE[]))
             * 10000 + 0.5) / 10000.0 AS cos_sim
FROM embeddings, q
WHERE vec_id <> 0
ORDER BY cos_sim DESC, vec_id
LIMIT 20
"""


def _q_rehome_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 embed pass: file-URI ImageRefs -> data URIs via a media-table
    join (rehome.py); output = per-picture ImageRef witnesses."""
    from docling_core_spark.rehome import (
        attached_corpus_df,
        embed_pictures,
        media_df,
    )

    docs = attached_corpus_df(spark, sf_dir)
    return embed_pictures(docs, media_df(spark, sf_dir),
                          emit="witness")


def _q_rehome_refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 reference pass: data URIs -> image_{count}_{hash}.png refs.
    Fused embed>>reference Arrow stage (the two-stage chain ships the
    payload-sized embedded arrays across the Python<->JVM boundary
    twice more; same per-doc functions - see
    rehome.embed_then_reference_pictures)."""
    from docling_core_spark.rehome import (
        attached_corpus_df,
        embed_then_reference_pictures,
        media_df,
    )

    docs = attached_corpus_df(spark, sf_dir)
    return embed_then_reference_pictures(
        docs, media_df(spark, sf_dir), "artifacts", emit="witness")


def _q_viz_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E11 layout visualization as draw-command rows (call-for-call
    parity with the live reference visualizer via a recording shim -
    tests/test_visualize.py)."""
    from docling_core_spark.visualize import visualize_layout

    return visualize_layout(corpus_df(spark, sf_dir))


def _q_viz_reading_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from docling_core_spark.visualize import visualize_reading_order

    return visualize_reading_order(corpus_df(spark, sf_dir))


def _q_viz_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    from docling_core_spark.visualize import visualize_tables

    return visualize_tables(corpus_df(spark, sf_dir))


def _q_viz_key_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    from docling_core_spark.visualize import visualize_key_values

    return visualize_key_values(corpus_df(spark, sf_dir))


def _q_export_legacy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 legacy DsDocument export (parity-locked to the live
    reference converter in tests/test_legacy.py)."""
    from docling_core_spark.legacy import export_legacy

    return export_legacy(corpus_df(spark, sf_dir))


def _q_legacy_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 inverse: spans -> legacy JSON -> spans, exploded rows."""
    from docling_core_spark.legacy import parse_legacy_roundtrip

    return parse_legacy_roundtrip(corpus_df(spark, sf_dir))


def _q_docjson_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§1.4 validation surface: export reference-schema JSON, corrupt a
    deterministic subset (bad version / broken parent ref / truncated
    payload), and report quarantine rows instead of throwing
    (reference validators: document.py:5541-5569, 4045-4060)."""
    from docling_core_spark.validation import export_corrupt_validate

    return export_corrupt_validate(corpus_df(spark, sf_dir))


def _q_ingest_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The file-ingestion front door as a driver row (VERDICT r4 item
    4): materialize the deterministic planted tree (first 40 docs as
    .html/.txt files under two subdirs), ingest it through the real
    distributed binaryFile path (recursive lookup, JVM-side name +
    format classification), and emit per-file (name, fmt, n_bytes,
    content_md5). The oracle reconstructs the same bytes from the
    documents table, so filename resolution, suffix dispatch, byte
    counts, and content fidelity are all hash-checked. Source
    semantics mirror reference utils/file.py:53-120 (see io/ingest)."""
    from docling_core_spark.io.ingest import (
        ensure_demo_tree,
        ingest_streams,
    )

    tree = ensure_demo_tree(sf_dir)
    return (ingest_streams(spark, [tree])
            .select("name", "fmt", "n_bytes",
                    F.md5("content").alias("content_md5"))
            .orderBy("name"))


SQL_INGEST_FILES = """
WITH d AS (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 40),
f AS (SELECT doc_id,
             CASE WHEN doc_id % 2 = 0
                  THEN '<html><body><p>' || text || '</p></body></html>'
                  ELSE text END AS data,
             CASE WHEN doc_id % 2 = 0 THEN '.html' ELSE '.txt' END
                 AS ext,
             CASE WHEN doc_id % 2 = 0 THEN 'html' ELSE 'text' END
                 AS fmt
      FROM d)
SELECT 'doc_' || CAST(doc_id AS VARCHAR) || ext AS name, fmt,
       CAST(octet_length(encode(data)) AS BIGINT) AS n_bytes,
       md5(data) AS content_md5
FROM f ORDER BY name
"""


# ----------------------------------------------------------------------
def _rotation_state() -> int:
    """Driver-window rotation key (ADVICE r3 item 4): the driver's
    CORRECTNESS pass checks only the FIRST 50 registry entries, so a
    fixed order leaves the tail permanently unchecked end-to-end.
    Key a deterministic rotation on the number of committed
    CORRECTNESS_r*.json artifacts (one per completed round): even
    states run the canonical order, odd states reverse the rotatable
    pool. Every registered query then gets a row-level driver check
    in at least one of any two consecutive rounds."""
    import glob as _glob

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        return len(_glob.glob(os.path.join(root, "CORRECTNESS_r*.json")))
    except OSError:  # pragma: no cover - fs race only
        return 0


def registry() -> Dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry ORDER is part of the driver contract: the driver's
    CORRECTNESS pass checks the FIRST 50 entries in insertion order
    (r2 evidence: positions 50-57 got no row). The head (27 entries,
    pytest-parity-backed but rarely row-checked elsewhere) is always
    inside the window; the rotatable pool (two engine rows, dedup/ANN,
    relational, pdf/viz, hygiene) flips order per round via
    _rotation_state so the window sweeps the whole pool across
    consecutive rounds (23-entry pool window x 2 orders covers the
    46-entry pool exactly: even rounds check canonical indices 0-22,
    odd rounds 23-45)."""
    from docling_core_spark import textops
    from docling_core_spark.extraction.layout_spark import (
        q_layout_extract,
        q_layout_page_stats,
    )
    from docling_core_spark.extraction.spark import (
        q_html_extract,
        q_html_page_stats,
    )
    from docling_core_spark.pdfpage import (
        q_pdf_cells_in_bbox,
        q_pdf_crop_text,
        q_pdf_textlines,
    )
    out = {
        # document engine (pytest parity gate; rows-only driver check)
        "chunks_hybrid": q_chunks_hybrid,
        "chunks_hierarchical": q_chunks_hierarchical,
        "chunks_page": q_chunks_page,
        "export_markdown": q_export_markdown,
        "export_doctags": q_export_doctags,
        "export_html": q_export_html,
        "parse_doctags": q_parse_doctags,
        "parse_docjson": q_parse_docjson,
        "concat_chunks": q_concat_chunks,
        "html_extract": q_html_extract,
        "html_page_stats": q_html_page_stats,
        "layout_extract": q_layout_extract,
        "layout_page_stats": q_layout_page_stats,
        "rehome_embed": _q_rehome_embed,
        "rehome_refs": _q_rehome_refs,
        "docjson_validation": _q_docjson_validation,
        "export_legacy": _q_export_legacy,
        "legacy_roundtrip": _q_legacy_roundtrip,
        "caption_resolution": q_caption_resolution,
        "redact_spans": q_redact_spans,
        "rec_validation": q_rec_validation,
        "splice_replace": q_splice_replace,
        "splice_graft": q_splice_graft,
        "delete_range": q_delete_range,
        "append_child": q_append_child,
        # pinned in the head so every round row-checks their oracles'
        # CAST(... AS BIGINT) over DuckDB's HUGEINT sums
        "mix_sources": textops.q_mix_sources,
        "bpe_train": textops.q_bpe_train,
    }
    # rotatable pool, canonical order: two engine rows (both
    # parity-pinned in pytest), training-data ops (dedup/ANN/quality),
    # relational ops, pdf/viz rows, hygiene ops. All pool entries are
    # pytest-covered; the rotation decides which 23 additionally get a
    # driver row this round. The head holds 27 entries, so the
    # per-round pool window is 23 and an exact two-round cover needs a
    # 46-entry pool.
    pool = [
        ("chunks_contextualized", q_chunks_contextualized),
        ("extract_range_chunks", q_extract_range_chunks),
    ]
    pool += list(textops.REGISTRY.items())
    pool += [
        # one row certifies BOTH dedup_retain_over modes (window vs
        # keys-only aggregation + survivor semi-join) - the query
        # inner-joins the two survivor sets, so either plan diverging
        # reds the row count against the oracle
        ("dedup_retain_modes", textops.q_dedup_retain_modes),
        # the general file-ingestion front door (binaryFile tree read
        # + format dispatch) over the planted deterministic tree
        ("ingest_files", _q_ingest_files),
    ]
    pool += [
        # relational ops (DuckDB oracle)
        ("pricing_summary", q_pricing_summary),
        ("nation_revenue", q_nation_revenue),
        ("shipping_priority", q_shipping_priority),
        ("user_sessions", q_user_sessions),
        ("exact_dup_groups", q_exact_dup_groups),
        ("token_counts_real", q_token_counts_real),
        ("knn_cosine", q_knn_cosine),
        # pdf/viz rows (byte-checked vs the live reference in tests/)
        ("pdf_cells_in_bbox", q_pdf_cells_in_bbox),
        ("pdf_crop_text", q_pdf_crop_text),
        ("pdf_textlines", q_pdf_textlines),
        ("viz_layout", _q_viz_layout),
        ("viz_reading_order", _q_viz_reading_order),
        ("viz_tables", _q_viz_tables),
        ("viz_key_values", _q_viz_key_values),
        ("search_meta_validation", q_search_validation),
        # training-data hygiene ops
        ("pii_scrub", textops.q_pii_scrub),
        ("contamination_screen", textops.q_contamination_screen),
        ("stratified_sample", textops.q_stratified_sample),
        ("dup_passages", textops.q_dup_passages),
        # composite/statistics ops
        ("clean_corpus", textops.q_clean_corpus),
        ("tfidf_top_terms", textops.q_tfidf_top_terms),
        # repetition/boilerplate hygiene ops
        ("repetition_signals", textops.q_repetition_signals),
        ("strip_boilerplate", textops.q_strip_boilerplate),
        # corpus-trained bigram-LM perplexity scoring (CCNet-style) +
        # per-source retention caps
        ("lm_perplexity", textops.q_lm_perplexity),
        ("source_caps", textops.q_source_caps),
        # GPT-style concat-and-chunk sequence packing (two-phase
        # distributed cumsum vs the oracle's naive global window) +
        # dedup-aware incremental batch ingest
        ("pack_sequences", textops.q_pack_sequences),
        ("incremental_ingest", textops.q_incremental_ingest),
        # SemDeDup embedding-cluster near-dup removal
        ("semantic_dedup", textops.q_semantic_dedup),
        # model-based quality filtering (GPT-3-style trained filter;
        # NB so training stays exact-BIGINT on both engines)
        ("quality_classifier", textops.q_quality_classifier),
        # exact-substring passage REMOVAL - the rewrite half of
        # dup_passages' signal (Lee et al. 2022 ExactSubstr as
        # windowed-hash first-occurrence-wins cuts)
        ("exact_substr_dedup", textops.q_exact_substr_dedup),
        # DSIR importance weights (Xie et al. 2023): target-vs-raw
        # hashed-n-gram log-ratio scoring against the benchmark slice
        ("dsir_weights", textops.q_dsir_weights),
    ]
    if _rotation_state() % 2:
        pool.reverse()
    out.update(pool)
    return out


def oracles() -> Dict[str, str]:
    from docling_core_spark import textops
    out = {
        "pricing_summary": SQL_PRICING_SUMMARY,
        "nation_revenue": SQL_NATION_REVENUE,
        "shipping_priority": SQL_SHIPPING_PRIORITY,
        "user_sessions": SQL_USER_SESSIONS,
        "exact_dup_groups": SQL_EXACT_DUP_GROUPS,
        "knn_cosine": SQL_KNN_COSINE,
        "ingest_files": SQL_INGEST_FILES,
    }
    out.update(textops.ORACLES)
    sf = _oracle_sf_dir()
    # document-engine queries: materialized single-process oracles
    # (distributed-vs-sequential equivalence; see pyoracle.py)
    from docling_core_spark.pyoracle import (
        ENGINE_ORACLE_QUERIES,
        oracle_sql_for,
    )

    for name in ENGINE_ORACLE_QUERIES:
        out[name] = oracle_sql_for(name, sf, corpus_docs_for(sf))
    from docling_core_spark.pyoracle import (
        sql_rec_validation,
        sql_token_counts_real,
    )
    out["token_counts_real"] = sql_token_counts_real(sf)
    out["rec_validation"] = sql_rec_validation(sf)
    from docling_core_spark.pyoracle import sql_search_validation

    out["search_meta_validation"] = sql_search_validation(sf)
    out["caption_resolution"] = _sql_caption_resolution(sf)
    out["redact_spans"] = _sql_redact_spans(sf)
    from docling_core_spark.pdfpage import (
        sql_pdf_cells_in_bbox,
        sql_pdf_crop_text,
        sql_pdf_textlines,
    )

    out["pdf_cells_in_bbox"] = sql_pdf_cells_in_bbox(sf)
    out["pdf_crop_text"] = sql_pdf_crop_text(sf)
    out["pdf_textlines"] = sql_pdf_textlines(sf)
    return out
