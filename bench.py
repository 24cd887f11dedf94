#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Headline metric (BASELINE.json): docs/sec hybrid-chunking throughput.
Measured the way production runs at 100 TB: the span corpus is
materialized once as parquet (stand-in for the Iceberg documents
table), then chunking reads it - a JVM-side columnar scan feeding ONE
fused mapInArrow stage, zero shuffles. Python workers are warmed
before timing (cold-start amortizes to noise on a long-running
cluster).

The 73-query sweep is bracketed by a fixed no-op Spark job (a count
over a cached 1k-row frame, best of 3) timed before and after it
(``sweep_controls``), so scheduler and box drift across the sweep can
be told from query drift.

Scaling-efficiency evidence (N vs kN cores) is ``scaling_eff`` from
``perfbench/run.py --workload chunk_hybrid --trace 1``.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf_name = os.path.basename(os.path.normpath(sf_dir))

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from docling_core_spark.engine import chunk_documents
    from docling_core_spark.queries import (
        corpus_df,
        corpus_docs_for,
        registry,
    )
    from docling_core_spark.session import get_spark

    spark = get_spark(app_name=f"bench-{sf_name}", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    n_docs = corpus_docs_for(sf_dir)
    docs = corpus_df(spark, sf_dir)

    # headline corpus: replicate the sf corpus to >= 20k docs so each
    # timed pass lasts several seconds - at 5k docs a pass is ~1.2s and
    # fixed overheads (job setup, Arrow batch tail) dominate, deflating
    # the docs/sec capability by ~30% and doubling run-to-run variance.
    # Replication is plan-shape-identical (a union of scans feeding the
    # same single mapInArrow stage; doc_ids re-prefixed to stay unique).
    from pyspark.sql import functions as F
    # cap the union fan-in: at tiny sf a 400-branch plan would spend
    # more time in analysis than execution
    reps = min(max(1, -(-20000 // n_docs)), 16)
    big = docs
    for i in range(1, reps):
        big = big.unionByName(docs.withColumn(
            "doc_id", F.concat(F.lit(f"r{i}_"), F.col("doc_id"))))
    n_big = n_docs * reps

    # warm python workers + JIT with a FULL pass: local[N] forks its N
    # workers lazily across the first runs, so a small warmup leaves
    # most of the pool cold (on a long-running cluster this all
    # amortizes to noise)
    for _ in range(2):
        chunk_documents(big, mode="hybrid", max_tokens=64).count()

    # no-Spark single-core control, interleaved with the headline runs
    # in the SAME window: the sandbox box's co-tenant load swings 2-3x
    # on a minutes timescale (BENCH/BASELINE.md round-2 controls), so
    # the headline is only interpretable next to a measure of what the
    # box itself allowed at that moment. The control is the identical
    # per-doc pipeline (span decode + hybrid chunk) run sequentially.
    from docling_core_spark.chunking import RegexTokenizer, hybrid_chunk
    from docling_core_spark.corpus import gen_corpus
    from docling_core_spark.model.spans import doc_from_spans

    ctl_rows = [(r["doc_id"],
                 [(s["kind"], s["text"], s["media_ref"], s["offset"])
                  for s in r["spans"]])
                for r in gen_corpus(150, seed=7)]

    def control_run() -> float:
        tok = RegexTokenizer(64)
        t0 = time.perf_counter()
        for doc_id, tuples in ctl_rows:
            hybrid_chunk(doc_from_spans(doc_id, tuples), tokenizer=tok)
        return round(len(ctl_rows) / (time.perf_counter() - t0), 1)

    control_run()  # warm (JIT/caches)
    times: dict[str, float] = {}
    # headline: best of 5, each run bracketed by the control so every
    # sample carries its own window quality. r3 verdict item 8: the
    # committed artifact must come from a control-verified GOOD window
    # - if the best sample is bracketed by degraded controls (co-tenant
    # burst), rerun the 5-sample block, up to 3 attempts, rather than
    # committing a mixed-window draw. 400 docs/s is the r1-quality
    # control floor (good windows read 411-525 across rounds).
    GOOD_CONTROL = 400.0
    runs: list[float] = []
    controls: list[float] = [control_run()]
    attempts = 0
    while True:
        attempts += 1
        for _ in range(5):
            t0 = time.perf_counter()
            chunk_documents(big, mode="hybrid", max_tokens=64).count()
            runs.append(time.perf_counter() - t0)
            controls.append(control_run())
        bi = runs.index(min(runs))
        window = (controls[bi], controls[bi + 1])
        if min(window) >= GOOD_CONTROL or attempts >= 3:
            break
    headline_secs = min(runs)

    # per-query number stays at the sf's own size (comparable across sf)
    t0 = time.perf_counter()
    n_chunks = chunk_documents(docs, mode="hybrid", max_tokens=64).count()
    times["chunks_hybrid"] = round(time.perf_counter() - t0, 3)

    noop = spark.range(1000).cache()
    noop.count()

    def sweep_control() -> float:
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            noop.count()
            best = min(best, time.perf_counter() - t0)
        return round(best, 4)

    sweep_controls = [sweep_control()]
    reg = registry()
    for name, fn in reg.items():
        if name == "chunks_hybrid":
            continue
        try:
            # one untimed pass then best-of-2: the untimed pass pays the
            # python-worker forks for this pipeline shape (chained-UDF
            # queries fork a worker pool per runner level) + JIT, which
            # amortizes to noise on a long-running cluster
            fn(spark, sf_dir).count()
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                fn(spark, sf_dir).count()
                best = min(best, time.perf_counter() - t0)
            times[name] = round(best, 3)
        except Exception as exc:  # pragma: no cover
            times[name] = -1.0
            print(f"# bench error in {name}: {exc}", file=sys.stderr)
    sweep_controls.append(sweep_control())

    docs_per_sec = n_big / headline_secs if headline_secs > 0 else 0.0
    print(json.dumps({
        "metric": "docs_per_sec_hybrid_chunking",
        "value": round(docs_per_sec, 2),
        "unit": "docs/sec",
        "queries": times,
        "sf": sf_name,
        "n_docs": n_docs,
        "n_docs_headline": n_big,
        "n_chunks": n_chunks,
        "cpus": cpus,
        # window evidence: all 5 headline samples + the interleaved
        # single-core no-Spark control (docs/s) bracketing each one;
        # read the headline against control drift, not in isolation
        "headline_runs_docs_per_sec": [round(n_big / r, 1)
                                       for r in runs],
        "control_1core_docs_per_sec": controls,
        # the controls bracketing the committed best sample + how many
        # 5-run attempts the good-window gate took (max 3)
        "headline_window_controls": list(window),
        "headline_attempts": attempts,
        # the no-op job's seconds before and after the query sweep
        "sweep_controls": sweep_controls,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
