#!/usr/bin/env python
"""spark-submit entry point: build a packed training corpus, resumably.

The end-to-end training-data assembly pipeline over a span/document
table, composed from the engine's df-level surfaces (each one also
driver-oracle-checked as a standalone query):

    stage1/  hygiene     hygiene_over: PII scrub -> language ID ->
                         quality gate (+ content_md5) - per-doc only,
                         so it runs inside resumable doc_id-hash
                         buckets (io/checkpoint.py): all pending
                         buckets go in one pass and one commit, a
                         kill/resubmit redoes the buckets of the run
                         it cut, and per-partition lineage rows land
                         in stage1/lineage.
    stage2/  dedup       dedup_retain_over (min-doc_id per content
                         hash) + optional decontaminate_over against
                         --bench (held-out eval set) + optional
                         exact_substr_rewrite_over passage cuts
                         (--exact-substr) + optional DSIR
                         importance-weight selection against the
                         bench target (--dsir-top-frac). Global by
                         nature (one shuffle on the hash); committed
                         once by io/materialize.py (leftovers of a
                         cut attempt are removed first) - a rerun
                         skips it when committed.
    stage3/  pack        pack_over: GPT-style concat-and-chunk
                         sequence packing (two-phase distributed
                         cumsum) of the clean text stream into
                         --seq-len token sequences. Committed the
                         same way.

Build the code archive once, then submit (local or cluster master):

    python package.py
    spark-submit --master local[8] \
        --py-files dist/docling_core_spark.zip \
        jobs/build_training_corpus.py \
        --input /path/to/documents_parquet --output /path/to/out \
        [--bench /path/to/benchmark_parquet] \
        [--seq-len 512] [--n-buckets 8]

On a real cluster the same command runs with ``--master yarn``/k8s at
N or 4N executors. 100 TB design: stage 1 is a zero-shuffle codegen
projection over one scan, written partitioned by doc_id-hash bucket
and committed once (one lineage append), so a resubmit after a kill
redoes that run; stage 2
is the pipeline's single unavoidable content-hash shuffle plus one
broadcast join (the benchmark set is statistic-sized); stage 3
shuffles only (doc_id, n_tokens) pairs - never text - and broadcasts
the statistic-sized bucket-offset table.
"""

from __future__ import annotations

import argparse
import os


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True,
                   help="parquet dir of documents(doc_id, text)")
    p.add_argument("--output", required=True,
                   help="output root (stage1/ stage2/ stage3/)")
    p.add_argument("--bench", default=None,
                   help="optional parquet dir of held-out benchmark "
                        "docs (doc_id, text) to decontaminate against")
    p.add_argument("--seq-len", type=int, default=512,
                   help="packed sequence length in whitespace tokens")
    p.add_argument("--n-buckets", type=int, default=8,
                   help="stage-1 output buckets (doc_id hash); "
                        "a bucket is committed whole or not at all")
    p.add_argument("--exact-substr", action="store_true",
                   help="after global dedup, also cut duplicated "
                        "16-word passages (Lee-et-al ExactSubstr, "
                        "first occurrence wins); clean_text becomes "
                        "the deduplicated normalized word stream and "
                        "fully-cut docs drop")
    p.add_argument("--dsir-top-frac", type=float, default=None,
                   help="with --bench: keep only this fraction of "
                        "retained docs, ranked by DSIR importance "
                        "weight against the benchmark target "
                        "distribution (Xie et al. 2023)")
    p.add_argument("--dedup-mode", default="window",
                   choices=["window", "keys"],
                   help="stage-2 exact-dedup formulation: 'window' "
                        "shuffles full rows once on the content hash; "
                        "'keys' shuffles only (md5, doc_id) keys and "
                        "broadcast-semi-joins survivors back (0.15-"
                        "0.18x the exchange bytes, measured - right "
                        "when the exchange crosses a network and the "
                        "survivor id set fits the broadcast budget; "
                        "stage-1 output is materialized parquet, so "
                        "the keys mode's two scans are cheap here)")
    args = p.parse_args()
    if args.dsir_top_frac is not None and not args.bench:
        p.error("--dsir-top-frac requires --bench (the target set)")

    # imports resolved from --py-files on executors; deferred past
    # argparse so --help works without a Spark distribution
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from docling_core_spark.io.checkpoint import (read_output,
                                                  run_resumable)
    from docling_core_spark.io.materialize import materialize_df
    from docling_core_spark.textops import (decontaminate_over,
                                            dedup_retain_over,
                                            dsir_weights_over,
                                            exact_substr_rewrite_over,
                                            hygiene_over, pack_over)

    spark = SparkSession.builder.appName(
        "docling-build-training-corpus").getOrCreate()
    docs = spark.read.parquet(args.input)

    # ---- stage 1: per-doc hygiene, resumable hash buckets ----------
    s1_dir = os.path.join(args.output, "stage1")
    run_resumable(
        docs, s1_dir,
        lambda d: (hygiene_over(d)
                   .filter(F.col("keep")).drop("keep")
                   .withColumn("content_md5", F.md5("clean_text"))),
        n_buckets=args.n_buckets)
    clean = read_output(spark, s1_dir)
    n_clean = clean.count()

    # ---- stage 2: global dedup (+ decontamination), one commit -----
    def dedup():
        ded = dedup_retain_over(clean, mode=args.dedup_mode)
        if args.bench:
            bench = spark.read.parquet(args.bench)
            ded = decontaminate_over(ded, bench)
        if args.exact_substr:
            # passage-level cut AFTER doc-level dedup (doc dedup first
            # shrinks the window index the passage pass must shuffle);
            # clean_text becomes the deduplicated word stream, so the
            # lineage hash must be recomputed - carrying stage1's
            # content_md5 (md5 of the PRE-rewrite text) next to the
            # rewritten text would break the hash-text invariant
            # downstream consumers rely on (ADVICE r4)
            ded = (exact_substr_rewrite_over(ded, text_col="clean_text")
                   .withColumn("clean_text", F.col("kept_text"))
                   .drop("kept_text")
                   .filter(F.col("n_cut_words") < F.col("n_words"))
                   .withColumn("content_md5", F.md5("clean_text")))
        if args.dsir_top_frac is not None:
            # score retained docs against the benchmark target
            # distribution; bench rows are the flagged half of one
            # union so the fit stays a single scan
            union = (ded.select(
                         "doc_id",
                         F.col("clean_text").alias("__txt"),
                         F.lit(False).alias("__is_bench"))
                     .unionByName(bench.select(
                         "doc_id", F.col("text").alias("__txt"),
                         F.lit(True).alias("__is_bench"))))
            w = dsir_weights_over(union, spark,
                                  is_target=F.col("__is_bench"),
                                  text_col="__txt")
            # the cutoff is a 1-number statistic; approxQuantile is
            # the spark-native distributed quantile sketch. Guard the
            # empty case (no doc has an extractable word): selection
            # is undefined there, so log and keep everything rather
            # than raise mid-job (ADVICE r4).
            quant = w.approxQuantile(
                "avg_log_weight", [1.0 - args.dsir_top_frac], 0.001)
            if not quant:
                print("DSIR: no scorable docs (zero extractable "
                      "words everywhere); skipping selection")
            else:
                thr = quant[0]
                # LEFT join: dsir_weights_over omits docs with zero
                # extractable words, and an inner join would silently
                # drop them regardless of the fraction. Such docs
                # carry no trainable tokens - drop them, but
                # explicitly and logged (ADVICE r4).
                scored = ded.join(
                    w.select("doc_id", "avg_log_weight"),
                    "doc_id", "left")
                # ONE statistics pass for the accounting (total +
                # scored in a single aggregate; Catalyst prunes the
                # payload columns from the counting plan). Logging
                # before the write costs one extra evaluation of the
                # selection chain - drop this block if that ever
                # dominates a run.
                counts = scored.agg(
                    F.count(F.lit(1)).alias("n_tot"),
                    F.count("avg_log_weight").alias("n_scored")
                ).collect()[0]
                n_unscored = int(counts["n_tot"]) - int(
                    counts["n_scored"])
                if n_unscored:
                    print(f"DSIR: dropping {n_unscored} docs with no "
                          f"extractable words (unscorable)")
                ded = scored.filter(F.col("avg_log_weight") >= thr)
        return ded.drop("partition_id")

    retained = materialize_df(spark, os.path.join(args.output, "stage2"),
                              dedup)
    n_retained = retained.count()

    # ---- stage 3: sequence packing, one commit ---------------------
    packed = materialize_df(
        spark, os.path.join(args.output, "stage3"),
        lambda: pack_over(retained, text_col="clean_text",
                          seq_len=args.seq_len))
    stats = packed.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_tokens").alias("tokens"),
        (F.max("seq_last") + 1).alias("seqs")).collect()[0]

    print(f"DONE raw={docs.count()} hygiene={n_clean} "
          f"retained={n_retained} packed_docs={stats['docs']} "
          f"tokens={stats['tokens']} sequences={stats['seqs']}")
    spark.stop()


if __name__ == "__main__":
    main()
