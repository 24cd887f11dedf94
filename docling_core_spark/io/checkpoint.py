"""Resumable runs with per-partition lineage (north-rule requirement).

Production target is Iceberg: every run's commit is an Iceberg
snapshot and resume = anti-join of processed doc_ids from snapshot
metadata. This sandbox has no Iceberg runtime, so the same protocol is
emulated on plain parquet with an explicit commit log:

* the input corpus is split into ``n_buckets`` deterministic hash
  buckets of ``doc_id`` (``pmod(xxhash64(doc_id), n_buckets)``); a
  bucket is committed whole or not at all;
* one call handles every pending bucket (those without lineage rows,
  up to ``max_buckets_this_run``) in one pass: it deletes their
  directories (leftovers of a crashed run), filters the input to them
  once, runs the stage once and writes its output in one job,
  partitioned by bucket, to ``out_dir/chunks/bucket=B``. Parquet
  cannot push the hash filter down, so a pass per bucket would
  rescan the whole input once per bucket;
* THEN one lineage append under ``out_dir/lineage`` records, per
  (bucket, Spark partition): ``(bucket, partition_id, min/max doc_id,
  n_docs, n_chunks, wall_s, committed_at)``, with ``wall_s`` the
  run's wall time. A bucket that wrote no rows gets one sentinel row
  (``partition_id`` -1, zero counts) and an empty file that keeps its
  directory readable. This append is the run's commit point;
* resume reads the lineage table and skips every bucket that has
  lineage rows. Readers see committed buckets only, so output written
  before a crash never double-counts.

The unit of redo is the run. Spark retries a failed task inside the
write, but a driver crash before the lineage append redoes every
bucket of that run. A caller that wants a smaller redo unit passes
``max_buckets_this_run`` and calls again until no bucket is pending:
each call is one pass and one commit. Skew inside a run is already
defused by round-robin repartition before the chunking UDF
(engine.py).

Reference has no equivalent (single-process, no checkpointing) - this
implements the scale contract from BASELINE.json north_rule.
"""

from __future__ import annotations

import os
import shutil
import time
from typing import Callable, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LINEAGE_COLS = ["bucket", "partition_id", "doc_id_min", "doc_id_max",
                "n_docs", "n_chunks", "wall_s", "committed_at"]


def _bucket_col(n_buckets: int):
    return F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_buckets))


def completed_buckets(spark: SparkSession, out_dir: str) -> List[int]:
    lineage_dir = os.path.join(out_dir, "lineage")
    if not os.path.exists(lineage_dir):
        return []
    try:
        rows = (spark.read.parquet(lineage_dir)
                .select("bucket").distinct().collect())
    except Exception:
        return []
    return sorted(int(r["bucket"]) for r in rows)


def read_lineage(spark: SparkSession, out_dir: str) -> Optional[DataFrame]:
    lineage_dir = os.path.join(out_dir, "lineage")
    if not os.path.exists(lineage_dir):
        return None
    return spark.read.parquet(lineage_dir)


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    """Only committed buckets count - uncommitted dirs are ignored,
    mirroring Iceberg's snapshot isolation. Every committed bucket,
    even an empty one, has a directory, so a missing one is lost data
    and raises ``FileNotFoundError`` instead of shrinking the read."""
    done = completed_buckets(spark, out_dir)
    if not done:
        raise FileNotFoundError(f"no committed buckets under {out_dir}")
    paths = {b: os.path.join(out_dir, "chunks", f"bucket={b}") for b in done}
    lost = [b for b, p in paths.items() if not os.path.exists(p)]
    if lost:
        raise FileNotFoundError(
            f"committed buckets {lost} missing under {out_dir}/chunks")
    return spark.read.parquet(*paths.values())


def run_resumable(
    docs: DataFrame,
    out_dir: str,
    stage: Callable[[DataFrame], DataFrame],
    n_buckets: int = 8,
    max_buckets_this_run: Optional[int] = None,
) -> DataFrame:
    """Run ``stage`` (documents df -> per-doc output df with a doc_id
    column) over all not-yet-committed buckets in one pass; return the
    full committed output.

    ``max_buckets_this_run`` caps the buckets this call takes on, and
    so the work a driver crash can throw away; a later call resumes
    with the rest.
    """
    spark = docs.sparkSession
    done = set(completed_buckets(spark, out_dir))
    todo = [b for b in range(n_buckets) if b not in done]
    if max_buckets_this_run is not None:
        todo = todo[:max_buckets_this_run]
    if not todo:
        return read_output(spark, out_dir)

    t0 = time.time()
    chunks_dir = os.path.join(out_dir, "chunks")
    bucket_dirs = {b: os.path.join(chunks_dir, f"bucket={b}") for b in todo}
    # leftovers of a crashed run: pending buckets' files, and task
    # output the committer staged but never moved, which the next
    # append's job commit would otherwise move into place
    for path in [*bucket_dirs.values(),
                 os.path.join(chunks_dir, "_temporary")]:
        shutil.rmtree(path, ignore_errors=True)
    if len(todo) < n_buckets:
        docs = docs.filter(_bucket_col(n_buckets).isin(todo))
    out = stage(docs).withColumn("partition_id", F.spark_partition_id())
    (out.withColumn("bucket", _bucket_col(n_buckets))
     .write.mode("append").partitionBy("bucket").parquet(chunks_dir))
    wall = round(time.time() - t0, 3)

    # a partitioned write makes no directory for a bucket without
    # rows; give each one an empty file carrying the schema so it
    # stays readable (one Spark job however many buckets are empty)
    written = [b for b in todo if os.path.isdir(bucket_dirs[b])]
    empty = [b for b in todo if b not in written]
    if empty:
        spark.createDataFrame([], out.schema).write.parquet(
            bucket_dirs[empty[0]])
        part = next(f for f in os.listdir(bucket_dirs[empty[0]])
                    if f.startswith("part-"))
        for b in empty[1:]:
            os.makedirs(bucket_dirs[b])
            shutil.copy(os.path.join(bucket_dirs[empty[0]], part),
                        bucket_dirs[b])

    # an empty bucket still needs a commit record, else resume would
    # reprocess it forever (and a max_buckets_this_run loop would
    # stall on it); its row carries the aggregate's column types
    id_type = out.schema["doc_id"].dataType
    lineage = (spark.createDataFrame(
        [(b, -1, 0, 0) for b in empty],
        "bucket int, partition_id int, n_docs bigint, n_chunks bigint")
        .withColumn("doc_id_min", F.lit(None).cast(id_type))
        .withColumn("doc_id_max", F.lit(None).cast(id_type)))
    if written:
        lineage = (spark.read.option("basePath", chunks_dir)
                   .parquet(*[bucket_dirs[b] for b in written])
                   .groupBy("bucket", "partition_id").agg(
                       F.min("doc_id").alias("doc_id_min"),
                       F.max("doc_id").alias("doc_id_max"),
                       F.countDistinct("doc_id").alias("n_docs"),
                       F.count(F.lit(1)).alias("n_chunks"))
                   .unionByName(lineage))
    # the commit point: every bucket of the run becomes visible once
    # this one append lands
    (lineage.withColumn("wall_s", F.lit(wall))
     .withColumn("committed_at", F.current_timestamp())
     .select(*LINEAGE_COLS)
     .coalesce(1).write.mode("append")
     .parquet(os.path.join(out_dir, "lineage")))

    return read_output(spark, out_dir)
