#!/usr/bin/env python
"""spark-submit entry point: resumably chunk a span corpus.

Build the code archive once, then submit (local or cluster master):

    python package.py
    spark-submit --master local[8] \
        --py-files dist/docling_core_spark.zip \
        jobs/chunk_corpus.py \
        --input /path/to/documents_parquet --output /path/to/out \
        [--mode hybrid] [--max-tokens 64] [--n-buckets 64]

On a real cluster the same command runs with ``--master yarn``/k8s at N
or 4N executors - the driver ships the zip to every executor, so no
code install is needed cluster-side. The run is a resumable hash-bucket
commit (io/checkpoint.py): all pending buckets are written in one pass
and committed together, re-submitting after a kill redoes the buckets
the killed run had not committed, and per-partition lineage rows
(bucket, partition_id, doc range, chunk counts, wall time) land in
<output>/lineage. This is the operational surface the north rule asks
for (spark-submit --py-files, resume from checkpoint, lineage+metrics).
"""

from __future__ import annotations

import argparse


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True,
                   help="parquet dir of documents(doc_id, spans)")
    p.add_argument("--output", required=True,
                   help="output dir (chunks/bucket=B + lineage/)")
    p.add_argument("--mode", default="hybrid",
                   choices=["hybrid", "hier", "page"])
    p.add_argument("--max-tokens", type=int, default=64)
    p.add_argument("--n-buckets", type=int, default=8,
                   help="output buckets of hash(doc_id); a bucket "
                        "is committed whole or not at all")
    args = p.parse_args()

    # imports resolved from --py-files on executors; deferred past
    # argparse so --help works without a Spark distribution
    from pyspark.sql import SparkSession

    from docling_core_spark.engine import chunk_documents
    from docling_core_spark.io.checkpoint import read_lineage, run_resumable

    spark = SparkSession.builder.appName("docling-chunk-corpus").getOrCreate()
    docs = spark.read.parquet(args.input)
    out = run_resumable(
        docs, args.output,
        lambda d: chunk_documents(d, mode=args.mode,
                                  max_tokens=args.max_tokens),
        n_buckets=args.n_buckets)
    n_chunks = out.count()
    lineage = read_lineage(spark, args.output)
    n_lineage = lineage.count() if lineage is not None else 0
    print(f"DONE chunks={n_chunks} lineage_rows={n_lineage}")
    spark.stop()


if __name__ == "__main__":
    main()
