#!/usr/bin/env python
"""Regenerate BENCH/PLANS.txt: formatted physical plans for the
plan-contract queries, annotated with the properties each plan is
expected to exhibit (asserted by tests/test_plans.py).

Usage: python tools/capture_plans.py [sf_dir]   (default sf0.01)
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# query -> annotation of the plan properties it must show
CAPTURE = {
    "pricing_summary": "PushedFilters",
    "nation_revenue": "PushedFilters, BroadcastHashJoin",
    "exact_dup_groups": "",
    "knn_cosine": "PushedFilters",
    "minhash_lsh_dups": "PushedFilters, BroadcastHashJoin",
    "ngram_jaccard_pairs": "PushedFilters, BroadcastHashJoin",
    "caption_resolution": "PushedFilters, BroadcastHashJoin",
    "quality_scores": "",
    "chunks_hybrid": "one MapInArrow over the parquet scan, zero Exchange",
    "embedding_top_pairs": "FlatMapGroupsInPandas (grouped-map matmul)",
    "parse_doctags": "two MapInArrow stages (export | fused parse+chunk)",
    "html_extract": "single MapInArrow over the page scan, zero shuffle",
    "rehome_embed": "payload join shuffles ids only; one fused rewrite+witness stage",
    "pdf_cells_in_bbox": "pure codegen filter over the cells scan (no Python)",
    "pdf_crop_text": "one Exchange on the page key; HOF string fold, no Python",
    "export_legacy": "single MapInArrow, zero shuffle",
    "docjson_validation": "chained MapInArrow stages, zero shuffle",
    "layout_extract": ("file-granular parse: Range bin dispatch, zero "
                       "Exchange, ONE MapInArrow, no parquet Scan "
                       "(pyarrow reads), JVM-side split/posexplode "
                       "unpack"),
    "layout_page_stats": "fused print+parse: single MapInArrow, zero shuffle",
    "redact_spans": ("delete_items as a pure-JVM aggregate() fold over "
                     "the span array: no Python, no Exchange before "
                     "the final presentation sort"),
    "token_counts_real": ("real WordPiece+BPE: ONE MapInArrow over "
                          "the parquet scan, zero shuffle before the "
                          "presentation sort"),
    "rec_validation": ("synthesize->corrupt->validate: chained "
                       "MapInArrow stages, zero shuffle before the "
                       "presentation sort"),
    "splice_replace": ("M6 replace_item splice: pure SQL folds, ZERO "
                       "Python, zero shuffle before the presentation "
                       "sort (r4 vectorization)"),
    "splice_graft": ("M4+M8 cross-doc graft: one doc_id equi-join "
                     "(broadcast at bench SF; sort-merge at scale), "
                     "pure SQL fold splice, ZERO Python"),
    "delete_range": ("M7 deletion half: pure SQL folds, ZERO Python, "
                     "zero shuffle before the presentation sort"),
    "append_child": ("append_child_item: pure SQL folds (anchor + "
                     "extent + end_group walks, all let-bound), ZERO "
                     "Python, zero shuffle before the sort"),
    "pii_scrub": ("codegen regexp_count/replace projections over the "
                  "scan; only the presentation-sort Exchange"),
    "contamination_screen": ("benchmark shingle side BROADCAST; "
                             "shuffles carry (doc_id, shingle) only"),
    "stratified_sample": ("one codegen LCG-bucket filter; only the "
                          "presentation-sort Exchange"),
    "dup_passages": ("window hashes computed map-side pre-shuffle; "
                     "count-then-join, no cross join"),
    "exact_substr_dedup": ("passage REMOVAL: hashes map-side; ONE wh "
                           "exchange serves count+row_number; cut "
                           "lists joined back dup-density-sized; "
                           "rebuild is a codegen projection, zero "
                           "Python"),
    "dsir_weights": ("DSIR fit-then-score: persisted B-bounded "
                     "bucket fit (one scan), scoring scan joins the "
                     "B-row ratio table BROADCAST; zero Python"),
    "dedup_retention": ("canonical selection: every label/survivor "
                        "join BROADCASTs (cluster table is "
                        "statistic-sized); wide shuffles only on "
                        "tiny aggregates + presentation sort"),
    "repetition_signals": ("Gopher-style repetition fractions: "
                           "zero-shuffle per-doc array math "
                           "(sort-adjacency + one linear fold), no "
                           "Python, only the presentation-sort "
                           "Exchange"),
    "strip_boilerplate": ("bounded-state countDistinct agg on the "
                          "segment key (two-phase partial aggs, NOT "
                          "window+collect_set); heavy-hitter build "
                          "side broadcast; one doc_id restitch agg"),
    "semantic_dedup": ("SemDeDup: centroid MODEL broadcast (the only "
                       "nested-loop join), map-side min_by "
                       "assignment, pair join shuffles on cell only, "
                       "cosine pure JVM array math, no Python"),
    "mix_sources": ("statistic scan (per-source totals, broadcast "
                    "back) + one codegen LCG-threshold filter scan"),
    "quality_classifier": ("NB train+score: word-occ agg persisted, "
                           "class counts vocabulary-bounded, priors "
                           "1-row broadcast, scoring one left join "
                           "on w + per-doc sum, no Python"),
    "pack_sequences": ("two-phase distributed cumsum: bucket totals "
                       "agg + broadcast offsets over bounded "
                       "per-bucket windows"),
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from docling_core_spark.queries import registry
    from docling_core_spark.session import get_spark

    spark = get_spark(app_name="capture-plans", master="local[4]",
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    reg = registry()
    out_path = os.path.join(ROOT, "BENCH", "PLANS.txt")
    with open(out_path, "w") as out:
        for name, note in CAPTURE.items():
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                reg[name](spark, sf_dir).explain("formatted")
            out.write(f"##### {name}: {note}\n")
            out.write(buf.getvalue())
            out.write("\n")
    print(out_path)
    spark.stop()


if __name__ == "__main__":
    main()
