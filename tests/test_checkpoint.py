"""Resumable-run protocol: exactly-once buckets, lineage, crash redo."""

from __future__ import annotations

import os
import shutil

import pytest

from docling_core_spark.engine import chunk_documents, synth_documents
from docling_core_spark.io.checkpoint import (
    completed_buckets,
    read_lineage,
    read_output,
    run_resumable,
)

N_DOCS = 40
N_BUCKETS = 4


@pytest.fixture()
def out_dir(tmp_path):
    return str(tmp_path / "run")


def _docs(spark):
    return synth_documents(spark, N_DOCS, seed=42)


def _stage(df):
    return chunk_documents(df, mode="hier")


def test_full_run_matches_direct(spark, out_dir):
    direct = sorted(
        (r["doc_id"], r["chunk_idx"], r["text"])
        for r in _stage(_docs(spark)).collect())
    out = run_resumable(_docs(spark), out_dir, _stage, n_buckets=N_BUCKETS)
    got = sorted((r["doc_id"], r["chunk_idx"], r["text"])
                 for r in out.collect())
    assert got == direct
    assert completed_buckets(spark, out_dir) == list(range(N_BUCKETS))


def test_preempt_and_resume(spark, out_dir):
    run_resumable(_docs(spark), out_dir, _stage, n_buckets=N_BUCKETS,
                  max_buckets_this_run=2)
    assert len(completed_buckets(spark, out_dir)) == 2
    partial_docs = {r["doc_id"] for r in read_output(spark, out_dir)
                    .select("doc_id").distinct().collect()}
    # resume finishes the rest without touching committed buckets
    out = run_resumable(_docs(spark), out_dir, _stage, n_buckets=N_BUCKETS)
    all_docs = {r["doc_id"] for r in out.select("doc_id").distinct()
                .collect()}
    assert len(all_docs) == N_DOCS
    assert partial_docs < all_docs


def test_uncommitted_bucket_is_rewritten(spark, out_dir):
    run_resumable(_docs(spark), out_dir, _stage, n_buckets=N_BUCKETS,
                  max_buckets_this_run=2)
    # simulate a crash AFTER the output write but BEFORE lineage commit:
    # drop one lineage slice's bucket from the log by rewriting the dir
    # with only the surviving bucket's rows
    lineage = read_lineage(spark, out_dir)
    keep = completed_buckets(spark, out_dir)[0]
    surviving = lineage.filter(lineage.bucket == keep).collect()
    shutil.rmtree(os.path.join(out_dir, "lineage"))
    sdf = spark.createDataFrame(surviving, lineage.schema)
    sdf.write.mode("overwrite").parquet(os.path.join(out_dir, "lineage"))
    assert completed_buckets(spark, out_dir) == [keep]
    # the orphaned bucket dir exists but is invisible to readers
    out = run_resumable(_docs(spark), out_dir, _stage, n_buckets=N_BUCKETS)
    got = sorted((r["doc_id"], r["chunk_idx"], r["text"])
                 for r in out.collect())
    direct = sorted((r["doc_id"], r["chunk_idx"], r["text"])
                    for r in _stage(_docs(spark)).collect())
    assert got == direct  # no dupes, no losses


def test_lost_committed_bucket_raises(spark, out_dir):
    """A committed bucket whose directory is gone is lost data: the
    read names it instead of returning the other buckets' rows."""
    run_resumable(_docs(spark), out_dir, _stage, n_buckets=N_BUCKETS)
    shutil.rmtree(os.path.join(out_dir, "chunks", "bucket=1"))
    assert completed_buckets(spark, out_dir) == list(range(N_BUCKETS))
    with pytest.raises(FileNotFoundError, match=r"buckets \[1\] missing"):
        read_output(spark, out_dir)


def test_no_committed_bucket_raises(spark, out_dir):
    with pytest.raises(FileNotFoundError, match="no committed buckets"):
        read_output(spark, out_dir)


def test_rerun_is_noop(spark, out_dir):
    run_resumable(_docs(spark), out_dir, _stage, n_buckets=N_BUCKETS)
    lineage1 = read_lineage(spark, out_dir).count()
    run_resumable(_docs(spark), out_dir, _stage, n_buckets=N_BUCKETS)
    assert read_lineage(spark, out_dir).count() == lineage1


def test_empty_buckets_commit(spark, out_dir):
    """Fewer docs than buckets: empty buckets must still commit (a
    sentinel lineage row), or resume reprocesses them forever and a
    max_buckets_this_run loop stalls on the first empty bucket."""
    few = synth_documents(spark, 3, seed=42)
    # drive to completion one bucket per call; must terminate
    for _ in range(16):
        if len(completed_buckets(spark, out_dir)) == 16:
            break
        run_resumable(few, out_dir, _stage, n_buckets=16,
                      max_buckets_this_run=1)
    assert completed_buckets(spark, out_dir) == list(range(16))
    out = run_resumable(few, out_dir, _stage, n_buckets=16)  # noop
    assert out.select("doc_id").distinct().count() == 3
    lineage = read_lineage(spark, out_dir)
    assert lineage.filter(lineage.n_docs == 0).count() == 16 - len(
        {r["bucket"] for r in lineage.filter(lineage.n_docs > 0)
         .select("bucket").distinct().collect()})


def test_lineage_metrics(spark, out_dir):
    out = run_resumable(_docs(spark), out_dir, _stage, n_buckets=N_BUCKETS)
    lineage = read_lineage(spark, out_dir)
    assert set(lineage.columns) >= {
        "bucket", "partition_id", "doc_id_min", "doc_id_max",
        "n_docs", "n_chunks", "wall_s", "committed_at"}
    agg = lineage.groupBy().sum("n_docs", "n_chunks").collect()[0]
    assert agg["sum(n_docs)"] == N_DOCS
    assert agg["sum(n_chunks)"] == out.count()


def test_extraction_tier_preempt_and_resume(spark, out_dir):
    """The north rule's own pipeline through the checkpoint protocol:
    page render -> main-content extraction as a resumable stage. A
    preempted run commits a prefix of buckets with lineage; resume
    completes the corpus and the union equals the direct extraction
    exactly (span-sequence level: doc_id, ord, kind, text)."""
    from docling_core_spark.extraction.spark import (
        extract_pages,
        render_pages,
    )

    pages = render_pages(_docs(spark)).cache()
    direct = sorted(map(tuple, extract_pages(pages)
                        .select("doc_id", "ord", "kind", "text")
                        .collect()))
    run_resumable(pages, out_dir, extract_pages, n_buckets=N_BUCKETS,
                  max_buckets_this_run=2)
    assert len(completed_buckets(spark, out_dir)) == 2
    out = run_resumable(pages, out_dir, extract_pages,
                        n_buckets=N_BUCKETS)
    got = sorted(map(tuple, out.select("doc_id", "ord", "kind", "text")
                     .collect()))
    assert got == direct
    lineage = read_lineage(spark, out_dir)
    assert lineage.groupBy().sum("n_docs").collect()[0][0] == N_DOCS
    pages.unpersist()


def _spark_jobs(spark, fn):
    """Run ``fn`` under a fresh job group; return how many Spark jobs
    it launched."""
    sc = spark.sparkContext
    group = f"ckpt-{os.urandom(4).hex()}"
    sc.setJobGroup(group, "run_resumable job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_input_read_once(spark, tmp_path):
    """One pass however many buckets: the job count of a run does not
    grow with n_buckets when every bucket has rows (a pass per bucket
    rescans the input and commits once per bucket)."""
    jobs = {}
    for n in (2, 8):
        out = str(tmp_path / f"run{n}")
        jobs[n] = _spark_jobs(spark, lambda: run_resumable(
            _docs(spark), out, _stage, n_buckets=n))
        lineage = read_lineage(spark, out)
        assert lineage.filter(lineage.n_docs > 0).select(
            "bucket").distinct().count() == n  # no empty bucket
    assert jobs[2] == jobs[8]


def _direct(spark):
    return sorted((r["doc_id"], r["chunk_idx"], r["text"])
                  for r in _stage(_docs(spark)).collect())


def _got(out):
    return sorted((r["doc_id"], r["chunk_idx"], r["text"])
                  for r in out.collect())


def test_failed_commit_is_redone(spark, out_dir, monkeypatch):
    """The lineage append fails once after the output write landed: no
    pending bucket is committed, and the rerun rewrites them with no
    duplicates and no losses."""
    from pyspark.sql.readwriter import DataFrameWriter

    run_resumable(_docs(spark), out_dir, _stage, n_buckets=N_BUCKETS,
                  max_buckets_this_run=2)
    committed = completed_buckets(spark, out_dir)
    real = DataFrameWriter.parquet

    def lose_commit(self, path, *args, **kwargs):
        if path == os.path.join(out_dir, "lineage"):
            monkeypatch.setattr(DataFrameWriter, "parquet", real)
            raise RuntimeError("driver lost before the lineage append")
        return real(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", lose_commit)
    with pytest.raises(RuntimeError):
        run_resumable(_docs(spark), out_dir, _stage, n_buckets=N_BUCKETS)
    assert all(os.path.isdir(os.path.join(out_dir, "chunks", f"bucket={b}"))
               for b in range(N_BUCKETS))  # the write landed
    assert completed_buckets(spark, out_dir) == committed

    out = run_resumable(_docs(spark), out_dir, _stage, n_buckets=N_BUCKETS)
    assert _got(out) == _direct(spark)
    assert completed_buckets(spark, out_dir) == list(range(N_BUCKETS))


@pytest.mark.parametrize("where", ["bucket", "staged_task"])
def test_leftover_files_removed(spark, out_dir, where):
    """A crashed run's parquet files in a pending bucket - in its
    directory, or staged by a task whose job never committed - are gone
    after the rerun, whose output equals a clean run."""
    from pyspark.sql import functions as F

    run_resumable(_docs(spark), out_dir, _stage, n_buckets=N_BUCKETS,
                  max_buckets_this_run=2)
    pending = min(set(range(N_BUCKETS))
                  - set(completed_buckets(spark, out_dir)))
    junk_dir = os.path.join(out_dir, "junk")
    (_stage(_docs(spark)).limit(5)
     .withColumn("partition_id", F.lit(0))
     .coalesce(1).write.parquet(junk_dir))
    junk = next(f for f in os.listdir(junk_dir) if f.startswith("part-"))
    chunks = os.path.join(out_dir, "chunks")
    dest = (os.path.join(chunks, f"bucket={pending}") if where == "bucket"
            else os.path.join(chunks, "_temporary", "0",
                              "task_202601010000_0000_m_000000",
                              f"bucket={pending}"))
    os.makedirs(dest, exist_ok=True)
    shutil.copy(os.path.join(junk_dir, junk),
                os.path.join(dest, "part-junk.parquet"))

    out = run_resumable(_docs(spark), out_dir, _stage, n_buckets=N_BUCKETS)
    assert _got(out) == _direct(spark)
    assert "part-junk.parquet" not in os.listdir(
        os.path.join(chunks, f"bucket={pending}"))
