"""Spark surface for main-content extraction.

Architecture matches the engine's other pipelines (SURVEY §7.0): the
page table is one row per document ``(doc_id, html)``; extraction runs
as ONE fused ``mapInArrow`` stage - Arrow crosses the boundary once per
batch, the output explodes to one row per extracted span inside the
stage, and there is no shuffle anywhere in the path (a page is a
self-contained unit of work). At cluster scale the input is an Iceberg
scan; a caller with skewed input (mega-pages clustered in one split)
calls ``pages.repartition(n)`` before extract_pages, as for chunking.

The synthetic page table is materialized once per (sf, version) as
parquet - the production shape: extraction benchmarks measure the
scan -> extract stage only, not page synthesis.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from docling_core_spark.engine import map_rows

# bump when the renderer's page dialect or chrome changes
PAGES_VERSION = 2


def render_pages(docs: DataFrame) -> DataFrame:
    """(doc_id, spans) -> (doc_id, html): the synthetic page source."""
    def task():
        from docling_core_spark.extraction.render import render_page_html

        return lambda d, spans: [(d, render_page_html(d, spans))]

    return map_rows(docs, ("doc_id", "spans"), "doc_id string, html string",
                    task)


def extract_pages(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """(doc_id, html) -> exploded span rows
    (doc_id, ord, kind, text, media_ref): the extraction operator.

    Extraction is per-row, so any partitioning gives the same rows; a
    caller with skewed input (few huge crawl files, or mega-pages
    clustered in one split) calls ``pages.repartition(n)`` first."""
    def task():
        from docling_core_spark.extraction.extract import extract_spans

        return lambda d, h: [
            (d, r["offset"], r["kind"], r["text"], r["media_ref"])
            for r in extract_spans(h or "")[0]]

    return map_rows(pages, ("doc_id", html_col),
                    "doc_id string, ord int, kind string, text string, "
                    "media_ref string", task)


def extract_page_stats(pages: DataFrame, html_col: str = "html"
                       ) -> DataFrame:
    """(doc_id, html) -> per-page boilerplate stats."""
    def task():
        from docling_core_spark.extraction.extract import extract_spans

        def row(d, h):
            _, st = extract_spans(h or "")
            ratio = (st["content_chars"] / st["page_chars"]
                     if st["page_chars"] else 0.0)
            return [(d, st["page_chars"], st["content_chars"],
                     st["n_dropped"], st["main_found"], round(ratio, 6))]
        return row

    return map_rows(pages, ("doc_id", html_col),
                    "doc_id string, page_chars long, content_chars long, "
                    "n_dropped int, main_found int, content_ratio double",
                    task)


# ----------------------------------------------------------------------
# materialized page table per (sf, version)
# ----------------------------------------------------------------------

def pages_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic page table for this sf, materialized once."""
    from docling_core_spark.io.materialize import materialize_df
    from docling_core_spark.queries import corpus_cache_path, corpus_df

    return materialize_df(
        spark, corpus_cache_path("pages", sf_dir, PAGES_VERSION),
        lambda: render_pages(corpus_df(spark, sf_dir)))


# ----------------------------------------------------------------------
# registry queries
# ----------------------------------------------------------------------

def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extract main content from every page; oracle = the HTML
    projection computed directly from the source spans (pyoracle) -
    two independent code paths must agree span-for-span."""
    return extract_pages(pages_df(spark, sf_dir))


def q_html_page_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-strip accounting per page (distributed vs
    single-process equivalence)."""
    return extract_page_stats(pages_df(spark, sf_dir))
