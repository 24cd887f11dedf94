#!/usr/bin/env python
"""spark-submit entry point: resumably extract main content from a
page table (the north-rule extraction tier as an operational job).

    python package.py
    spark-submit --master local[8] \
        --py-files dist/docling_core_spark.zip \
        jobs/extract_pages.py \
        --input /path/to/pages_parquet --output /path/to/out \
        [--n-buckets 64]

Input (``--format html``, default): parquet of ``(doc_id string,
html string)`` rows, parsed by the DOM/boilerplate tier. Input
(``--format cells``): parquet of packed page rows of positioned word
cells (doc_id, page_no, texts packed string, fonts array<tinyint>,
xs0/ys0/xs1/ys1 array<double> - layout_spark.CELLS_SCHEMA), parsed
by the PDF/layout tier - bucketing on doc_id keeps every document's
pages in one bucket, so each bucket is a complete,
independently-committable parse. Output:
``<output>/chunks`` span rows (doc_id, ord, kind, text, media_ref)
plus ``<output>/lineage`` per-partition rows. The run is the same
resumable hash-bucket commit as jobs/chunk_corpus.py: re-submitting
after a kill redoes the buckets the killed run had not committed, and
the same command runs at N or 4N executors on a real master.
"""

from __future__ import annotations

import argparse


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True,
                   help="parquet dir of pages(doc_id, html) or "
                        "layout cells (--format cells)")
    p.add_argument("--output", required=True)
    p.add_argument("--format", default="html",
                   choices=["html", "cells"],
                   help="html: DOM/boilerplate tier; cells: "
                        "PDF/layout-parse tier")
    p.add_argument("--n-buckets", type=int, default=8)
    args = p.parse_args()

    from pyspark.sql import SparkSession

    from docling_core_spark.io.checkpoint import read_lineage, run_resumable

    if args.format == "cells":
        from docling_core_spark.extraction.layout_spark import (
            extract_layout as stage,
        )
    else:
        from docling_core_spark.extraction.spark import (
            extract_pages as stage,
        )

    spark = SparkSession.builder.appName(
        "docling-extract-pages").getOrCreate()
    pages = spark.read.parquet(args.input)
    out = run_resumable(pages, args.output, stage,
                        n_buckets=args.n_buckets)
    n_spans = out.count()
    lineage = read_lineage(spark, args.output)
    n_lineage = lineage.count() if lineage is not None else 0
    print(f"DONE spans={n_spans} lineage_rows={n_lineage}")
    spark.stop()


if __name__ == "__main__":
    main()
