"""The two workloads: input, set-up pass, timed passes, and the check
of their output.

Each workload times full passes over its corpus at local[cores].
chunk_hybrid also has a single-task pass over the corpus's last 1/cores
for the weak-scaling reading of the traced run.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
from typing import Dict, List, Tuple

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

import corpora
import inproc
import verify
from docling_core_spark import engine, textops
from docling_core_spark.chunking.hybrid import hybrid_chunk
from docling_core_spark.chunking.tokenizer import RegexTokenizer
from docling_core_spark.io.checkpoint import read_output, run_resumable
from docling_core_spark.model.spans import doc_from_spans

# docs per verified sample
SAMPLE_DOCS = 48


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _warm_input(corpus: corpora.Corpus, rows: int) -> str:
    """The first ``rows`` rows of every corpus file, one file each: the
    set-up pass's input where a full pass would cost too much."""
    path = corpus.path + f"-warm{rows}"
    if not os.path.isdir(path):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        for i, f in enumerate(corpus.files):
            pq.write_table(pq.read_table(f).slice(0, rows),
                           os.path.join(tmp, f"part-{i:03d}.parquet"))
        os.replace(tmp, path)
    return path


class ChunkHybrid:
    """engine.chunk_documents(mode="hybrid", max_tokens=64), one fused
    per-document mapInArrow stage, into a noop sink."""

    kind = "chunk"
    n_docs = 1000
    # read tasks per core: with several, a core slowed by a neighbour
    # takes fewer tasks instead of holding up the whole pass
    files_per_core = 4
    # untimed passes after set-up: the JVM is still compiling the Arrow
    # paths and the pass time is still falling
    settle_passes = 2
    max_passes = None

    def __init__(self, work: str, seed: int, cores: int) -> None:
        self.work, self.seed, self.cores = work, seed, cores
        self.corpus = corpora.span_corpus(work, seed, self.n_docs,
                                          cores * self.files_per_core)
        self.warm_path = _warm_input(self.corpus, 16)

    @staticmethod
    def stage(df):
        return engine.chunk_documents(df, mode="hybrid", max_tokens=64)

    @staticmethod
    def reference_rows(doc_id: str, tuples: list) -> List[tuple]:
        doc = doc_from_spans(doc_id, tuples)
        org = engine._origin_struct(doc)
        return [(doc_id, i, c.text, c.headings, c.offsets, org)
                for i, c in enumerate(hybrid_chunk(
                    doc, tokenizer=RegexTokenizer(64), merge_peers=True))]

    def warmup(self, spark: SparkSession) -> None:
        _noop(self.stage(spark.read.parquet(self.warm_path)))

    def full_pass(self, spark: SparkSession) -> int:
        _noop(self.stage(spark.read.parquet(self.corpus.path)))
        return self.corpus.n_docs

    def single_pass(self, spark: SparkSession) -> int:
        _noop(self.stage(spark.read.parquet(
            *self.corpus.slice_files(self.cores)).coalesce(1)))
        return self.corpus.slice_docs(self.cores)

    def sample_ids(self) -> List[str]:
        rng = random.Random(self.seed * 7919 + 1)
        return sorted(rng.sample(
            [f"doc_{i:012d}" for i in range(self.n_docs)], SAMPLE_DOCS))

    def verify(self, spark: SparkSession) -> Tuple[int, List[str]]:
        """Spark's rows for a seeded doc sample against the same public
        per-doc functions run here; returns (docs checked, doc_ids that
        differ)."""
        ids = self.sample_ids()
        df = spark.read.parquet(self.corpus.path).filter(
            F.col("doc_id").isin(ids))
        got = verify.digest(tuple(r) for r in self.stage(df).collect())
        table = pq.read_table(self.corpus.path, columns=["doc_id", "spans"])
        table = table.filter(pc.is_in(table["doc_id"],
                                      value_set=pa.array(ids)))
        want_rows = []
        for batch in table.to_batches():
            for doc_id, tuples in engine._iter_span_tuples(batch):
                want_rows.extend(self.reference_rows(doc_id, tuples))
        return len(ids), verify.diff_docs(got, verify.digest(want_rows))

    def layers(self) -> Dict[str, float]:
        """In-process layers over the corpus's first 1/cores."""
        return inproc.traced_layers(
            self.corpus.files[:self.files_per_core], self.stage)


def _oracle_sql(path: str) -> str:
    """hygiene -> keep -> content_md5 -> min-doc_id dedup as DuckDB SQL,
    built from the constants of textops.SQL_CLEAN_CORPUS; the
    SQL_PACK_SEQUENCES oracle then runs over its result."""
    langs = textops.STOPWORDS
    counts = ", ".join(
        f"CAST({textops._stop_count_duck(lg)} AS BIGINT) AS c_{lg}"
        for lg in langs)
    return f"""
CREATE VIEW documents AS
WITH scr AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(text, '{textops.EMAIL_RE}',
                                       '[EMAIL]', 'g'),
                        '{textops.PHONE_RE}', '[PHONE]', 'g') AS clean_text
  FROM read_parquet('{path}/*.parquet')),
w AS (SELECT *, {textops._CLEAN_WS_DUCK} AS ws FROM scr),
b AS (SELECT *, CAST(len(ws) AS BIGINT) AS n_words, {counts} FROM w),
p AS (SELECT *, {textops.LANG_PRED_CASE} AS pred_lang FROM b),
surv AS (
  SELECT doc_id, clean_text, md5(clean_text) AS content_md5 FROM p
  WHERE pred_lang != 'und' AND n_words >= {textops.CLEAN_MIN_WORDS}
    AND n_words <= {textops.CLEAN_MAX_WORDS})
SELECT doc_id, clean_text AS text FROM surv
QUALIFY doc_id = min(doc_id) OVER (PARTITION BY content_md5)
"""


class TrainCorpus:
    """jobs/build_training_corpus.py with default flags: resumable
    hygiene in 8 buckets, window dedup, packing - each stage written and
    committed as the job does."""

    kind = "train"
    # 20k docs. A pass costs about 10.5 s of fixed per-job work (some
    # 45 Spark jobs) plus 0.06 ms per doc on 4 vCPUs, so the ~160k docs
    # of the full-size job would not fit the benchmark's time budget
    n_copies = 4
    n_buckets = 8
    # the set-up pass already runs all 67 Spark jobs of a pass, on a
    # small input. One timed pass per run: a pass takes 8-25 s, so a
    # second one would not fit the benchmark's time budget
    settle_passes = 0
    max_passes = 1

    def __init__(self, work: str, seed: int, cores: int) -> None:
        self.work, self.seed, self.cores = work, seed, cores
        self.corpus = corpora.text_corpus(work, seed, self.n_copies, cores)
        self.warm_path = _warm_input(self.corpus, 256)
        self.out_root = os.path.join(work, "out", f"train-s{seed}")
        self.stage_times: List[Dict[str, float]] = []

    def _pipeline(self, spark: SparkSession, inp: str, out: str,
                  n_buckets: int) -> Dict[str, float]:
        shutil.rmtree(out, ignore_errors=True)
        docs = spark.read.parquet(inp)
        t0 = time.perf_counter()
        s1 = os.path.join(out, "stage1")
        run_resumable(
            docs, s1,
            lambda d: (textops.hygiene_over(d)
                       .filter(F.col("keep")).drop("keep")
                       .withColumn("content_md5", F.md5("clean_text"))),
            n_buckets=n_buckets)
        t1 = time.perf_counter()
        s2 = os.path.join(out, "stage2")
        (textops.dedup_retain_over(read_output(spark, s1), mode="window")
         .drop("partition_id").write.mode("overwrite").parquet(s2))
        t2 = time.perf_counter()
        (textops.pack_over(spark.read.parquet(s2), text_col="clean_text",
                           seq_len=512)
         .write.mode("overwrite").parquet(os.path.join(out, "stage3")))
        t3 = time.perf_counter()
        return {"textops.hygiene_s": t1 - t0, "textops.dedup_s": t2 - t1,
                "textops.pack_s": t3 - t2}

    def warmup(self, spark: SparkSession) -> None:
        self._pipeline(spark, self.warm_path,
                       os.path.join(self.out_root, "warm"), self.n_buckets)

    def full_pass(self, spark: SparkSession) -> int:
        self.stage_times.append(self._pipeline(
            spark, self.corpus.path, os.path.join(self.out_root, "full"),
            self.n_buckets))
        return self.corpus.n_docs

    def verify(self, spark: SparkSession) -> Tuple[int, List[str]]:
        """The last full pass's packed output against the DuckDB
        oracles; returns (docs in, doc_ids that differ)."""
        out = pq.read_table(os.path.join(self.out_root, "full", "stage3"))
        got = verify.digest(tuple(r.values()) for r in out.to_pylist())
        con = duckdb.connect()
        try:
            con.execute(f"SET temp_directory = "
                        f"'{os.path.join(self.work, 'tmp')}'")
            con.execute(_oracle_sql(self.corpus.path))
            want = verify.digest(con.execute(
                textops.SQL_PACK_SEQUENCES).fetchall())
        finally:
            con.close()
        return self.corpus.n_docs, verify.diff_docs(got, want)

    def layers(self) -> Dict[str, float]:
        """Stage wall times, median over the timed full passes; the
        per-document Python layers do not run in this workload."""
        timed = self.stage_times[self.settle_passes:]
        return {k: statistics.median(p[k] for p in timed) for k in timed[0]}


WORKLOADS = {"chunk_hybrid": ChunkHybrid, "train_corpus": TrainCorpus}
