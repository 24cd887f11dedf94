#!/usr/bin/env python
"""spark-submit entry point: ingest files/trees/URLs to span rows,
resumably.

The general ingestion front door (VERDICT r4 item 4): maps the
reference's source-resolution semantics (docling_core/utils/file.py -
path / directory / URL list -> named binary streams) onto the
engine's distributed read + parse + checkpoint machinery:

    python package.py
    spark-submit --master local[8] \
        --py-files dist/docling_core_spark.zip \
        jobs/ingest_files.py \
        --source /data/tree1 --source /data/file.html \
        --output /path/to/out [--n-buckets 8]

Stages:

* **resolve + read**: io/ingest.ingest_streams - directory trees via
  the distributed ``binaryFile`` source (recursive lookup, listing on
  executors), URLs fetched executor-side with the reference's
  Content-Disposition filename resolution; one stream-row frame
  (doc_id=path/url, name, fmt, n_bytes, content).
* **parse**: io/ingest.ingest_spans - format dispatch (html ->
  boilerplate-stripped DOM spans, doctags/docjson -> parsed spans,
  text -> paragraph spans, binary -> media-stub span) in ONE
  mapInArrow stage emitting the packed per-doc shape; JVM-side
  unpack.
* **commit**: io/checkpoint.run_resumable - doc_id-hash buckets,
  written in one pass and committed with one append of per-partition
  lineage rows; re-submitting after a kill redoes the buckets the
  killed run had not committed, and a fully-committed run is a no-op.

Output: ``<output>/chunks`` span rows (doc_id, ord, kind, text,
media_ref) + ``<output>/lineage``. The same command runs at N or 4N
executors on a real master (see io/checkpoint.py).
"""

from __future__ import annotations

import argparse


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--source", action="append", required=True,
                   help="file, directory tree, or http(s) URL "
                        "(repeatable)")
    p.add_argument("--output", required=True)
    p.add_argument("--n-buckets", type=int, default=8)
    args = p.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from docling_core_spark.io.checkpoint import (read_lineage,
                                                  run_resumable)
    from docling_core_spark.io.ingest import ingest_spans, ingest_streams

    spark = SparkSession.builder.appName(
        "docling-ingest-files").getOrCreate()

    streams = ingest_streams(spark, args.source)
    run_resumable(streams, args.output, ingest_spans,
                  n_buckets=args.n_buckets)

    lineage = read_lineage(spark, args.output)
    stats = lineage.agg(
        F.countDistinct("bucket").alias("buckets"),
        F.sum("n_docs").alias("docs"),
        F.sum("n_chunks").alias("spans")).collect()[0]
    print(f"DONE buckets={stats['buckets']} docs={stats['docs']} "
          f"spans={stats['spans']}")
    spark.stop()


if __name__ == "__main__":
    main()
