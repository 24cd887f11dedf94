"""Round-4 training-data hygiene ops: PII scrub, benchmark
contamination screen, stratified sampling. Value parity vs the DuckDB
oracles is covered by tests/test_oracle_queries.py (parameterized over
every oracle key); these tests pin behavior and PLAN SHAPE - the
100 TB design claims in the docstrings are asserted, not asserted-in-
prose."""

from __future__ import annotations

import os

import pytest

from docling_core_spark.textops import (
    CONTAM_BENCH_MOD,
    SAMPLE_MOD,
    STRATA_THRESHOLDS,
    q_contamination_screen,
    q_pii_scrub,
    q_stratified_sample,
)

SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.01")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pii_scrub_redacts_planted_contacts(spark):
    out = q_pii_scrub(spark, SF_DIR).collect()
    planted = [r for r in out if r["doc_id"] % 3 == 0]
    clean = [r for r in out if r["doc_id"] % 3 != 0]
    assert planted and clean
    for r in planted:
        assert r["n_emails"] >= 1 and r["n_phones"] >= 1
        assert "[EMAIL]" in r["clean_text"]
        assert "[PHONE]" in r["clean_text"]
        assert "@" not in r["clean_text"]
    for r in clean:
        assert r["n_emails"] == 0 and r["n_phones"] == 0
        assert "[EMAIL]" not in r["clean_text"]


def test_pii_scrub_plan_is_scan_projection(spark):
    """Zero Python, and the only exchange is the test-output sort."""
    plan = _plan(q_pii_scrub(spark, SF_DIR))
    assert "BatchEvalPython" not in plan and "MapInArrow" not in plan
    import re

    for m in re.finditer(r"Exchange (\w+)", plan):
        assert m.group(1) == "rangepartitioning", plan


def test_contamination_screen_flags_benchmark_copies(spark):
    out = {r["doc_id"]: r
           for r in q_contamination_screen(spark, SF_DIR).collect()}
    # no benchmark doc appears in the screened output
    assert all(d % CONTAM_BENCH_MOD != 0 for d in out)
    # ratios well-formed; overlap exists somewhere in a word-soup
    # corpus but full contamination is rare
    assert all(0.0 <= r["shared_ratio"] <= 1.0 for r in out.values())
    assert any(r["n_shared"] > 0 for r in out.values())
    for r in out.values():
        assert r["contaminated"] == (
            r["n_shared"] / r["n_shingles"] >= 0.5)


def test_contamination_screen_plan_broadcasts_benchmark(spark):
    plan = _plan(q_contamination_screen(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_stratified_sample_hits_target_rates(spark):
    from pyspark.sql import functions as F

    from docling_core_spark.textops import _t

    totals = {r["lang"]: r["n"] for r in
              _t(spark, SF_DIR, "documents")
              .groupBy("lang").agg(F.count("*").alias("n")).collect()}
    kept = {}
    for r in q_stratified_sample(spark, SF_DIR).collect():
        kept[r["lang"]] = kept.get(r["lang"], 0) + 1
        assert r["bucket"] < r["threshold"]
    for lang, thr in STRATA_THRESHOLDS.items():
        rate = thr / SAMPLE_MOD
        if rate == 1.0:
            assert kept.get(lang, 0) == totals[lang]
        else:
            # binomial tolerance on a few-hundred-doc stratum
            import math

            n = totals[lang]
            tol = 4 * math.sqrt(n * rate * (1 - rate)) + 1
            assert abs(kept.get(lang, 0) - n * rate) <= tol, lang


def test_stratified_sample_plan_is_one_filter(spark):
    """The scalable variant: no per-stratum ordering, no shuffle
    besides the test-output sort, no Python."""
    import re

    plan = _plan(q_stratified_sample(spark, SF_DIR))
    assert "BatchEvalPython" not in plan and "MapInArrow" not in plan
    for m in re.finditer(r"Exchange (\w+)", plan):
        assert m.group(1) == "rangepartitioning", plan


def test_dup_passages_detects_shared_windows(spark):
    from docling_core_spark.textops import q_dup_passages

    out = {r["doc_id"]: r for r in q_dup_passages(spark, SF_DIR).collect()}
    assert out
    for r in out.values():
        assert 0 <= r["n_dup_windows"] <= r["n_windows"]
        assert 0.0 <= r["dup_ratio"] <= 1.0
    # the small-vocab synthetic corpus repeats passages somewhere
    assert any(r["n_dup_windows"] > 0 for r in out.values())
    # and not every window of every doc is duplicated
    assert any(r["n_dup_windows"] < r["n_windows"] for r in out.values())


def test_dup_passages_plan_shape(spark):
    """Hashes are computed map-side BEFORE any exchange (the shuffled
    payload is (doc_id, wh) - never window text), and there is no
    cross join."""
    from docling_core_spark.textops import q_dup_passages

    plan = _plan(q_dup_passages(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # every Exchange's input already projects the hash column
    import re

    first_exchange = plan.find("Exchange")
    assert first_exchange != -1


def test_repetition_signals_bounds_and_signal(spark):
    from docling_core_spark.textops import q_repetition_signals

    out = {r["doc_id"]: r
           for r in q_repetition_signals(spark, SF_DIR).collect()}
    assert out
    for r in out.values():
        assert 0.0 <= r["dup_word_frac"] <= 1.0
        assert 0.0 <= r["top_bigram_frac"] <= 1.0
        assert 0.0 <= r["dup_trigram_frac"] <= 1.0
        if r["n_words"] >= 2:
            assert r["top_bigram_cnt"] >= 1
    # the 31-word-vocab synthetic corpus repeats words in every doc
    # of typical length, and somewhere a bigram repeats within a doc
    assert any(r["dup_word_frac"] > 0.5 for r in out.values())
    assert any(r["top_bigram_cnt"] >= 2 for r in out.values())
    assert any(r["dup_trigram_frac"] > 0.0 for r in out.values())


def test_repetition_signals_plan_zero_shuffle(spark):
    """The 100 TB claim in the docstring: per-doc array math only -
    no Python, and the only exchange is the test-output sort."""
    import re

    from docling_core_spark.textops import q_repetition_signals

    plan = _plan(q_repetition_signals(spark, SF_DIR))
    assert "BatchEvalPython" not in plan and "MapInArrow" not in plan
    for m in re.finditer(r"Exchange (\w+)", plan):
        assert m.group(1) == "rangepartitioning", plan


def test_strip_boilerplate_removes_exactly_marked_segments(spark):
    from docling_core_spark.textops import (
        BOILER_SEG_WORDS,
        q_strip_boilerplate,
    )

    out = {r["doc_id"]: r
           for r in q_strip_boilerplate(spark, SF_DIR).collect()}
    assert out
    for r in out.values():
        assert 0 <= r["n_boiler_segments"] <= r["n_segments"]
    # corpus-level signal: the synthetic corpus shares segments
    assert any(r["n_boiler_segments"] > 0 for r in out.values())
    assert any(r["n_boiler_segments"] == 0 for r in out.values())
    # word accounting: clean_text lost exactly SEG_WORDS per removed
    # segment relative to the normalized source words
    import re as _re

    from docling_core_spark.textops import _t

    src = {r["doc_id"]: len(_re.findall("[a-z0-9]+", r["text"].lower()))
           for r in _t(spark, SF_DIR, "documents").collect()}
    for d, r in out.items():
        n_clean = len(r["clean_text"].split()) if r["clean_text"] else 0
        assert n_clean == src[d] - BOILER_SEG_WORDS * r["n_boiler_segments"]


def test_strip_boilerplate_plan_shape(spark):
    from docling_core_spark.textops import q_strip_boilerplate

    plan = _plan(q_strip_boilerplate(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "MapInArrow" not in plan


def _write_docs(spark, tmp_path, rows):
    import os as _os

    p = _os.path.join(str(tmp_path), "documents.parquet")
    spark.createDataFrame(rows, "doc_id long, text string") \
        .coalesce(1).write.parquet(p)
    return str(tmp_path)


def test_repetition_signals_handcrafted(spark, tmp_path):
    """Pin the arithmetic on inputs small enough to verify by hand
    (the corpus parity test certifies Spark==DuckDB; this certifies
    both against the definition)."""
    from docling_core_spark.textops import q_repetition_signals

    sf = _write_docs(spark, tmp_path, [
        (1, "a a a b"),        # bigrams [aa,aa,ab] tri [aaa,aab]
        (2, "x y x y x y"),    # bigrams [xy,yx,xy,yx,xy] tri all dup
        (3, "solo"),           # no bigrams/trigrams
    ])
    out = {r["doc_id"]: r for r in q_repetition_signals(spark, sf).collect()}
    r1, r2, r3 = out[1], out[2], out[3]
    assert (r1["n_words"], r1["dup_word_frac"]) == (4, 0.5)
    assert (r1["top_bigram_cnt"], r1["top_bigram_frac"]) == (2, 0.6667)
    assert r1["dup_trigram_frac"] == 0.0
    assert (r2["dup_word_frac"], r2["top_bigram_cnt"],
            r2["top_bigram_frac"], r2["dup_trigram_frac"]) == (
        0.6667, 3, 0.6, 1.0)
    assert (r3["n_words"], r3["top_bigram_cnt"], r3["top_bigram_frac"],
            r3["dup_trigram_frac"]) == (1, 0, 0.0, 0.0)


def test_strip_boilerplate_handcrafted(spark, tmp_path):
    from docling_core_spark.textops import q_strip_boilerplate

    shared = "one two three four five"
    sf = _write_docs(spark, tmp_path, [
        (10, shared + " alpha beta"),
        (11, shared + " gamma"),
        (12, "unique words only here now extra"),
        (13, "tiny doc"),
    ])
    out = {r["doc_id"]: r for r in q_strip_boilerplate(spark, sf).collect()}
    assert (out[10]["n_segments"], out[10]["n_boiler_segments"],
            out[10]["clean_text"]) == (1, 1, "alpha beta")
    assert (out[11]["n_segments"], out[11]["n_boiler_segments"],
            out[11]["clean_text"]) == (1, 1, "gamma")
    assert (out[12]["n_segments"], out[12]["n_boiler_segments"],
            out[12]["clean_text"]) == (
        1, 0, "unique words only here now extra")
    assert (out[13]["n_segments"], out[13]["n_boiler_segments"],
            out[13]["clean_text"]) == (0, 0, "tiny doc")


def test_new_ops_match_python_reference_on_random_corpus(spark, tmp_path):
    """Third formulation: a seeded random corpus (small vocab to force
    cross-doc repeats, plus edge docs) checked against independent
    pure-Python references - on top of the DuckDB parity test, the
    three implementations must agree exactly."""
    import math
    import random
    import re as _re
    from collections import Counter

    from docling_core_spark.textops import (
        BOILER_MIN_DOCS,
        BOILER_SEG_WORDS,
        q_repetition_signals,
        q_strip_boilerplate,
    )

    rng = random.Random(421)
    vocab = ["ab", "cd", "ef", "gh", "ij", "kl"]
    rows = [(0, ""), (1, "one"), (2, "ab cd ef gh ij"),
            (3, " ".join(["ab"] * 10))]
    for d in range(4, 200):
        rows.append((d, " ".join(rng.choice(vocab)
                                 for _ in range(rng.randint(0, 40)))))
    sf = _write_docs(spark, tmp_path, rows)

    def r4(x):
        return math.floor(x * 10000 + 0.5) / 10000

    def words(t):
        return _re.findall("[a-z0-9]+", t.lower())

    # --- repetition_signals reference
    exp = {}
    for d, t in rows:
        ws = words(t)
        n = len(ws)
        dw = r4(1.0 - r4(len(set(ws)) / n)) if n else 0.0
        bg = [" ".join(ws[i:i + 2]) for i in range(n - 1)]
        tg = [" ".join(ws[i:i + 3]) for i in range(n - 2)]
        top = max(Counter(bg).values()) if bg else 0
        topf = r4(top / len(bg)) if bg else 0.0
        c = Counter(tg)
        dup = sum(v for v in c.values() if v >= 2)
        dupf = r4(dup / len(tg)) if tg else 0.0
        exp[d] = (n, dw, top, topf, dupf)
    got = {r["doc_id"]: (r["n_words"], r["dup_word_frac"],
                         r["top_bigram_cnt"], r["top_bigram_frac"],
                         r["dup_trigram_frac"])
           for r in q_repetition_signals(spark, sf).collect()}
    assert got == exp

    # --- strip_boilerplate reference
    K, M = BOILER_SEG_WORDS, BOILER_MIN_DOCS
    per, seen = {}, {}
    for d, t in rows:
        ws = words(t)
        n_seg = len(ws) // K
        ss = [" ".join(ws[i * K:(i + 1) * K]) for i in range(n_seg)]
        per[d] = (ss, " ".join(ws[n_seg * K:]))
        for s in set(ss):
            seen.setdefault(s, set()).add(d)
    boil = {s for s, ds in seen.items() if len(ds) >= M}
    exp2 = {}
    for d, (ss, tail) in per.items():
        kept = " ".join(s for s in ss if s not in boil)
        clean = " ".join(x for x in (kept, tail) if x != "")
        exp2[d] = (len(ss), sum(s in boil for s in ss), clean)
    got2 = {r["doc_id"]: (r["n_segments"], r["n_boiler_segments"],
                          r["clean_text"])
            for r in q_strip_boilerplate(spark, sf).collect()}
    assert got2 == exp2


# ----------------------------------------------------------------------
# session-9 ops: corpus-trained bigram-LM scoring + per-source caps
# ----------------------------------------------------------------------

def test_lm_perplexity_handcrafted(spark, tmp_path):
    """Hand-checkable add-one bigram LM: corpus {a b a b, b a, solo,
    a a} has model c(a,b)=2 c(b,a)=2 c(a,a)=1, contexts c1(a)=3
    c1(b)=2, V=3, so P(b|a)=3/6, P(a|b)=3/5, P(a|a)=2/6."""
    import math

    from docling_core_spark.textops import q_lm_perplexity

    sf = _write_docs(spark, tmp_path, [
        (1, "a b a b"), (2, "b a"), (3, "solo"), (4, "a a"),
    ])
    out = {r["doc_id"]: r for r in q_lm_perplexity(spark, sf).collect()}

    def r4(x):
        return math.floor(x * 10000 + 0.5) / 10000

    b_ab = -math.log2(3 / 6)   # 1.0
    b_ba = -math.log2(3 / 5)
    b_aa = -math.log2(2 / 6)
    assert set(out) == {1, 2, 4}          # no-bigram docs excluded
    assert out[1]["n_bigrams"] == 3
    assert out[1]["avg_bits"] == r4((2 * b_ab + b_ba) / 3)
    assert (out[2]["n_bigrams"], out[2]["avg_bits"]) == (1, r4(b_ba))
    assert (out[4]["n_bigrams"], out[4]["avg_bits"]) == (1, r4(b_aa))


def test_lm_perplexity_matches_python_reference(spark, tmp_path):
    """Third formulation (on top of the DuckDB oracle): a seeded
    small-vocab random corpus vs an independent pure-Python add-one
    bigram LM."""
    import math
    import random
    import re as _re
    from collections import Counter

    from docling_core_spark.textops import q_lm_perplexity

    rng = random.Random(937)
    vocab = ["ab", "cd", "ef", "gh", "ij"]
    rows = [(0, ""), (1, "one"), (2, "ab ab")]
    for d in range(3, 150):
        rows.append((d, " ".join(rng.choice(vocab)
                                 for _ in range(rng.randint(0, 30)))))
    sf = _write_docs(spark, tmp_path, rows)

    def words(t):
        return _re.findall("[a-z0-9]+", t.lower())

    model: Counter = Counter()
    per = {}
    voc = set()
    for d, t in rows:
        ws = words(t)
        voc.update(ws)
        bgs = list(zip(ws, ws[1:]))
        per[d] = Counter(bgs)
        model.update(bgs)
    ctx: Counter = Counter()
    for (w1, _), c in model.items():
        ctx[w1] += c
    v = float(len(voc))
    exp = {}
    for d, cnt in per.items():
        if not cnt:
            continue
        n = sum(cnt.values())
        bits = sum(c * -math.log2((model[bg] + 1.0) / (ctx[bg[0]] + v))
                   for bg, c in cnt.items())
        exp[d] = (n, math.floor(bits / n * 10000 + 0.5) / 10000)
    got = {r["doc_id"]: (r["n_bigrams"], r["avg_bits"])
           for r in q_lm_perplexity(spark, sf).collect()}
    assert got == exp


def test_lm_perplexity_plan_no_python(spark):
    """Training + scoring stay JVM-side end to end."""
    from docling_core_spark.textops import q_lm_perplexity

    plan = _plan(q_lm_perplexity(spark, SF_DIR))
    assert "BatchEvalPython" not in plan and "MapInArrow" not in plan


def test_source_caps_equals_unsalted_ranking(spark):
    """The salted two-phase top-K returns EXACTLY the rows a single
    per-source window would (global top-K under a total order is
    contained in the union of per-salt-bucket top-Ks)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from docling_core_spark.textops import SOURCE_CAP_K, q_source_caps

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    w = Window.partitionBy("source").orderBy(
        F.desc("n_chars"), F.asc("doc_id"))
    naive = {(r["source"], r["rnk"], r["doc_id"], r["n_chars"])
             for r in docs.select(
                 "source", "doc_id", "n_chars",
                 F.row_number().over(w).cast("long").alias("rnk"))
             .filter(F.col("rnk") <= SOURCE_CAP_K).collect()}
    got = {(r["source"], r["rnk"], r["doc_id"], r["n_chars"])
           for r in q_source_caps(spark, SF_DIR).collect()}
    assert got == naive


def test_source_caps_skewed_source(spark, tmp_path):
    """A mega-source (the crawl reality the salt exists for) still
    caps at K with the right members, across every salt bucket."""
    import os as _os

    from docling_core_spark.textops import SOURCE_CAP_K, q_source_caps

    rows = [(d, "megasite", 1000 - d) for d in range(500)]
    rows += [(1000 + d, "tiny", 10 + d) for d in range(3)]
    p = _os.path.join(str(tmp_path), "documents.parquet")
    spark.createDataFrame(
        rows, "doc_id long, source string, n_chars long") \
        .coalesce(1).write.parquet(p)
    out = q_source_caps(spark, str(tmp_path)).collect()
    mega = [r for r in out if r["source"] == "megasite"]
    tiny = [r for r in out if r["source"] == "tiny"]
    # top-K of megasite = doc_ids 0..K-1 (n_chars = 1000 - doc_id)
    assert [r["doc_id"] for r in mega] == list(range(SOURCE_CAP_K))
    assert [r["rnk"] for r in mega] == list(range(1, SOURCE_CAP_K + 1))
    # sources under the cap keep everything, ranked
    assert [r["doc_id"] for r in tiny] == [1002, 1001, 1000]


def test_semantic_dedup_drops_planted_copies(spark):
    """Every planted near-copy whose cluster matches its original's is
    flagged; no original is flagged (real pair cosine tops out ~0.51,
    far under TAU). Cluster-boundary splits are possible in principle
    (the copy's quantized ints differ by ~1 unit) - assert the flag
    set EXACTLY equals the within-cell >= TAU relation computed
    independently in numpy over the query's own assignment."""
    import numpy as np

    from docling_core_spark.textops import (SEMDEDUP_PLANT_MOD,
                                            SEMDEDUP_PLANT_OFFSET,
                                            SEMDEDUP_TAU,
                                            q_semantic_dedup)

    out = q_semantic_dedup(spark, SF_DIR).collect()
    emb = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
           for r in spark.read.parquet(
               f"{SF_DIR}/embeddings.parquet").collect()}
    vecs = {}
    for vid, e in emb.items():
        vecs[vid] = e
        if vid % SEMDEDUP_PLANT_MOD == 3:
            d = np.arange(64)
            vecs[vid + SEMDEDUP_PLANT_OFFSET] = e + 0.001 * (d % 3 - 1)
    assert {r["vec_id"] for r in out} == set(vecs)

    by_cell = {}
    for r in out:
        by_cell.setdefault(r["cell"], []).append(r["vec_id"])

    def cos(a, b):
        v = float(np.dot(a, b)
                  / (np.linalg.norm(a) * np.linalg.norm(b)))
        import math
        return math.floor(v * 10000 + 0.5) / 10000.0

    want_dup = set()
    for cell, ids in by_cell.items():
        ids = sorted(ids)
        for i, va in enumerate(ids):
            for vb in ids[i + 1:]:
                if cos(vecs[va], vecs[vb]) >= SEMDEDUP_TAU:
                    want_dup.add(vb)
    got_dup = {r["vec_id"] for r in out if r["is_dup"]}
    assert got_dup == want_dup
    # the planted family is actually exercised: most copies caught,
    # and never an original
    planted = {v for v in vecs if v >= SEMDEDUP_PLANT_OFFSET}
    assert len(got_dup & planted) >= 0.9 * len(planted)
    assert not (got_dup - planted)


def test_mix_sources_budget_and_determinism(spark):
    """Kept token mass per source lands near min(total, target); an
    under-budget source keeps every document; the keep set is exactly
    the LCG-threshold rule replayed in python."""
    from docling_core_spark.textops import (MIX_BASE_TOKENS, SAMPLE_MOD,
                                            q_mix_sources)

    out = q_mix_sources(spark, SF_DIR).collect()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    toks = {r["doc_id"]: (r["source"], len(r["text"].strip().split()))
            for r in docs}
    tot = {}
    for _, (s, n) in toks.items():
        tot[s] = tot.get(s, 0) + n

    def target(src):
        return MIX_BASE_TOKENS * (1 + int(src[3:]) % 4)

    want = set()
    for did, (s, n) in toks.items():
        bucket = (did * 1103515245 + 12345) % 2147483648 % SAMPLE_MOD
        if bucket * tot[s] < target(s) * SAMPLE_MOD:
            want.add(did)
    assert {r["doc_id"] for r in out} == want

    kept = {}
    for r in out:
        kept[r["source"]] = kept.get(r["source"], 0) + r["n_tokens"]
    over = {s: t for s, t in tot.items() if target(s) < t}
    assert over  # the demo targets do cap some sources
    for s, t in tot.items():
        if target(s) >= t:
            # under budget: every doc of the source kept
            assert kept.get(s, 0) == t, s
    # the capped sources are downsampled toward their budgets in
    # aggregate (a single source can dodge the cut by binomial luck
    # when rate is near 1, so assert over the group)
    kept_over = sum(kept.get(s, 0) for s in over)
    tgt_over = sum(target(s) for s in over)
    assert kept_over < sum(over.values())
    assert kept_over < 1.5 * tgt_over


def test_quality_classifier_separates_planted_classes(spark):
    """The planted spam vocabulary is outside the corpus vocab, so the
    trained NB model must classify EVERY doc correctly - including
    the held-out third it never trained on - and the label column
    carries the ground truth for exactly the doc_id % 7 == 0 slice."""
    from docling_core_spark.textops import (QC_HOLDOUT_MOD, QC_SPAM_MOD,
                                            q_quality_classifier)

    out = q_quality_classifier(spark, SF_DIR).collect()
    assert len(out) == 500
    for r in out:
        assert r["label"] == (1 if r["doc_id"] % QC_SPAM_MOD == 0
                              else 0)
        assert r["pred"] == r["label"], (r["doc_id"], r["log_odds"])
        # log-odds are decisively signed, not boundary noise
        assert abs(r["log_odds"]) > 1.0
    held = [r for r in out if r["doc_id"] % QC_HOLDOUT_MOD == 0]
    assert held and any(r["label"] == 1 for r in held)


def test_bpe_train_matches_reference_algorithm(spark):
    """The distributed trainer's merge table equals a from-scratch
    single-process Sennrich BPE (leftmost-non-overlapping merge,
    count-desc / pair-asc tie-break) run over the same word
    frequencies."""
    import re as _re
    from collections import Counter

    from docling_core_spark.textops import BPE_MERGES, q_bpe_train

    texts = [r["text"] for r in
             spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()]
    freq = Counter(w for t in texts
                   for w in _re.findall("[a-z0-9]+", t.lower()))
    words = {w: tuple(w) + ("_",) for w in freq}

    merges = []
    for rank in range(1, BPE_MERGES + 1):
        pc = Counter()
        for w, syms in words.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += freq[w]
        if not pc:
            break
        # tie-break: count desc, then (l, r) ASC
        top_cnt = max(pc.values())
        cand = sorted(p for p, c in pc.items() if c == top_cnt)
        a, b = cand[0]
        merges.append((rank, a, b, a + b, top_cnt))
        for w, syms in words.items():
            out, i = [], 0
            while i < len(syms):
                if (i + 1 < len(syms) and syms[i] == a
                        and syms[i + 1] == b):
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[w] = tuple(out)

    got = [(r["rank"], r["left"], r["right"], r["merged"],
            r["pair_count"])
           for r in q_bpe_train(spark, SF_DIR).collect()]
    assert got == merges
    assert len(got) == BPE_MERGES


def test_bpe_fold_property_matches_python_merge(spark):
    """The sentinel-anchored SQL fold == the reference
    leftmost-non-overlapping merge on adversarial symbol sequences
    (tiny alphabet so chained/overlapping pair occurrences are
    dense, multi-char symbols so partial-suffix matches would show)."""
    import random

    from pyspark.sql import functions as F

    from docling_core_spark.textops import _bpe_fold_spark

    rng = random.Random(7)
    alphabet = ["a", "b", "aa", "ab", "ba", "c"]
    cases = [[rng.choice(alphabet) for _ in range(rng.randint(1, 12))]
             for _ in range(120)]
    merge_pairs = [("a", "a"), ("a", "b"), ("aa", "b"), ("b", "a"),
                   ("ab", "c")]

    def py_merge(syms, a, b):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    rows = [("#".join(c), i) for i, c in enumerate(cases)]
    df = spark.createDataFrame(rows, "sym string, i long")
    for a, b in merge_pairs:
        got = {r["i"]: r["m"] for r in df.select(
            "i", F.expr(_bpe_fold_spark(a, b)).alias("m")).collect()}
        for i, c in enumerate(cases):
            assert got[i] == "#".join(py_merge(c, a, b)), (c, a, b)


def test_semantic_dedup_plan_shape(spark):
    """The only nested-loop join is the broadcast centroid MODEL;
    no cartesian product, no Python in the plan."""
    from docling_core_spark.textops import q_semantic_dedup

    plan = _plan(q_semantic_dedup(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "MapInArrow" not in plan
    assert "BroadcastNestedLoopJoin" in plan


# ----------------------------------------------------------------------
# exact-substring passage removal (r4 session 12)
# ----------------------------------------------------------------------

def test_dedup_retain_modes_identical_and_keys_plan(spark, tmp_path):
    """VERDICT r4 item 5: dedup_retain_over's keys mode (key-only
    aggregation + survivor semi-join) must return exactly the window
    mode's rows on a dup-heavy frame, and its corpus-sized exchange
    must carry aggregated keys, not the text payload (partial_min
    below the exchange = map-side combine of 24-byte rows)."""
    import random

    import pytest

    from docling_core_spark.textops import dedup_retain_over

    rng = random.Random(5021)
    texts = [f"payload {i} " + "x" * rng.randint(0, 50)
             for i in range(40)]
    rows = [(d, rng.choice(texts)) for d in range(300)]
    # adversarial repeats: the same doc_id under DIFFERENT content
    # (review finding: a doc_id-only survivor join would wrongly keep
    # a duplicate whose id happens to survive another group)
    rows += [(5, texts[0]), (5, texts[1]), (7, texts[2])]
    df = spark.createDataFrame(rows, "doc_id long, clean_text string")

    win = dedup_retain_over(df, mode="window")
    keys = dedup_retain_over(df, mode="keys")
    got_w = sorted((r["doc_id"], r["clean_text"], r["content_md5"])
                   for r in win.collect())
    got_k = sorted((r["doc_id"], r["clean_text"], r["content_md5"])
                   for r in keys.collect())
    assert got_k == got_w
    assert len({c for _, _, c in got_k}) == len(got_k)  # unique hashes

    plan = _plan(keys)
    assert "partial_min" in plan          # map-side combine pre-shuffle
    assert "LeftSemi" in plan             # survivors join back
    with pytest.raises(ValueError):
        dedup_retain_over(df, mode="bogus")


@pytest.mark.parametrize("kept_by", ["window", "keys"])
def test_dedup_retain_modes_flags_one_sided_keep(spark, tmp_path,
                                                 monkeypatch, kept_by):
    """q_dedup_retain_modes must surface a survivor that only ONE mode
    keeps, whichever mode that is: the other mode is made to drop doc
    3, and doc 3's row carries only the keeping mode's flag (the
    oracle emits both flags TRUE, so the certification fails)."""
    from docling_core_spark import textops

    sf = _write_docs(spark, tmp_path, [
        (1, "alpha"), (2, "alpha"), (3, "beta"), (4, "gamma")])
    real = textops.dedup_retain_over

    def one_sided(clean, mode="window", **kw):
        out = real(clean, mode=mode, **kw)
        return out if mode == kept_by else out.filter("doc_id != 3")

    monkeypatch.setattr(textops, "dedup_retain_over", one_sided)
    rows = {r["doc_id"]: (r["in_window"], r["in_keys"])
            for r in textops.q_dedup_retain_modes(spark, sf).collect()}
    assert rows == {1: (True, True), 4: (True, True),
                    3: (kept_by == "window", kept_by == "keys")}


def test_exact_substr_dedup_first_occurrence_wins(spark, tmp_path):
    """Lee-et-al ExactSubstr semantics on hand-checkable docs: the
    globally-first occurrence of a duplicated 16-word window survives,
    every later occurrence is cut, and overlapping cut windows merge
    (positions are distinct-unioned, not double-counted)."""
    import hashlib

    from docling_core_spark.textops import q_exact_substr_dedup

    a = [f"a{i:02d}" for i in range(1, 33)]       # 32 unique words
    short = "just a few shared words here"
    sf = _write_docs(spark, tmp_path, [
        (20, " ".join(a)),                         # first occurrence
        # 24-word shared prefix: its windows idx1 (words 1-16) and
        # idx2 (words 9-24) BOTH duplicate doc 20 -> cuts 1-16 and
        # 9-24 merge to 1-24, leaving only the b-tail
        (21, " ".join(a[:24] + [f"b{i}" for i in range(1, 9)])),
        (30, short),                               # short-doc pair:
        (31, short),                               # whole doc is the
        (40, "wholly unrelated filler text"),      # only window
    ])
    out = {r["doc_id"]: r for r in
           q_exact_substr_dedup(spark, sf).collect()}

    def _md5(words):
        return hashlib.md5(" ".join(words).encode()).hexdigest()

    r20 = out[20]
    assert (r20["n_words"], r20["n_cut_words"]) == (32, 0)
    assert r20["kept_md5"] == _md5(a)
    r21 = out[21]
    assert (r21["n_words"], r21["n_cut_words"]) == (32, 24)
    assert r21["kept_md5"] == _md5([f"b{i}" for i in range(1, 9)])
    assert r21["kept_ratio"] == 0.25
    # short docs: doc 30 keeps, doc 31 is cut to the empty stream
    assert out[30]["n_cut_words"] == 0
    assert (out[31]["n_cut_words"], out[31]["kept_ratio"]) == (
        out[31]["n_words"], 0.0)
    assert out[31]["kept_md5"] == _md5([])
    assert out[40]["n_cut_words"] == 0


def test_exact_substr_dedup_hash_collision_no_false_cut(
        spark, tmp_path):
    """ADVICE r4 (medium): the removal path must not cut on a window
    KEY collision. 'collisionprobealpha' and 'qwxywceb' are distinct
    strings that collide under the legacy WORDHASH mod P=1e9+7 key
    (both fold to 89197714) - under that key one of these two
    single-word docs would be destructively cut to the empty stream.
    The 96-bit md5 window key must keep both intact; the dup_passages
    signal must agree (zero duplicated windows)."""
    from docling_core_spark.textops import (
        P,
        q_dup_passages,
        q_exact_substr_dedup,
    )

    s1, s2 = "collisionprobealpha", "qwxywceb"

    def legacy_hash(s):
        acc = -1
        for ch in s:
            acc = ord(ch) if acc < 0 else (acc * 31 + ord(ch)) % P
        return acc

    assert s1 != s2 and legacy_hash(s1) == legacy_hash(s2)
    sf = _write_docs(spark, tmp_path, [(60, s1), (61, s2)])
    out = {r["doc_id"]: r for r in
           q_exact_substr_dedup(spark, sf).collect()}
    assert out[60]["n_cut_words"] == 0
    assert out[61]["n_cut_words"] == 0
    assert out[60]["kept_ratio"] == out[61]["kept_ratio"] == 1.0
    sig = {r["doc_id"]: r["n_dup_windows"] for r in
           q_dup_passages(spark, sf).collect()}
    assert sig == {60: 0, 61: 0}


def test_exact_substr_join_formulation_identical(spark, tmp_path):
    """The skew-escape join formulation (per-key aggregate + re-join,
    AQE-splittable) must return the window formulation's rows
    bit-for-bit on a dup-heavy corpus, and its plan must carry the
    marking via a map-side-combined aggregate, not a window."""
    import random

    from docling_core_spark.textops import exact_substr_rewrite_over

    rng = random.Random(7411)
    vocab = [f"w{i}" for i in range(12)]
    rows = [(0, ""), (1, "same short doc"), (2, "same short doc")]
    shared = " ".join(rng.choice(vocab) for _ in range(20))
    for d in range(3, 120):
        tail = " ".join(rng.choice(vocab)
                        for _ in range(rng.randint(0, 30)))
        rows.append((d, (shared + " " + tail) if d % 4 == 0 else tail))
    sf = _write_docs(spark, tmp_path, rows)
    docs = spark.read.parquet(f"{sf}/documents.parquet")

    win = {(r["doc_id"], r["n_words"], r["n_cut_words"],
            r["kept_text"]) for r in
           exact_substr_rewrite_over(docs).collect()}
    jn = {(r["doc_id"], r["n_words"], r["n_cut_words"],
           r["kept_text"]) for r in
          exact_substr_rewrite_over(
              docs, formulation="join").collect()}
    assert jn == win and len(win) == len(rows)

    plan = _plan(exact_substr_rewrite_over(docs, formulation="join"))
    assert "Window" not in plan
    assert "partial_count" in plan or "partial_min" in plan

    import pytest

    with pytest.raises(ValueError):
        exact_substr_rewrite_over(docs, formulation="bogus")


def test_exact_substr_dedup_same_doc_repeat(spark, tmp_path):
    """A doc repeating its own 16-word block keeps only the first
    copy: window idx3 (words 17-32) duplicates idx1 within the same
    doc_id and is cut by the (doc_id, idx) tie-break."""
    import hashlib

    from docling_core_spark.textops import q_exact_substr_dedup

    blk = [f"c{i:02d}" for i in range(1, 17)]
    sf = _write_docs(spark, tmp_path, [(50, " ".join(blk + blk))])
    r = q_exact_substr_dedup(spark, sf).collect()[0]
    assert (r["n_words"], r["n_cut_words"]) == (32, 16)
    assert r["kept_md5"] == hashlib.md5(
        " ".join(blk).encode()).hexdigest()


def test_exact_substr_dedup_plan_shape(spark):
    """Zero Python, no cross join; window hashes are computed before
    the wh exchange (the shuffled payload is (doc_id, idx, wh), never
    window text), and count+row_number share ONE wh-partitioned
    exchange (same distribution -> Catalyst plans a single shuffle
    for both window functions)."""
    from docling_core_spark.textops import q_exact_substr_dedup

    plan = _plan(q_exact_substr_dedup(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "MapInArrow" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("hashpartitioning(wh") == 1


# ----------------------------------------------------------------------
# DSIR importance weights (r4 session 12)
# ----------------------------------------------------------------------

def test_dsir_weights_ranks_target_like_docs_higher(spark, tmp_path):
    """A raw doc sharing the target slice's vocabulary must score a
    higher per-feature importance weight than a raw doc with disjoint
    vocabulary (the DSIR selection signal), and n_feats counts
    unigrams + bigrams."""
    from docling_core_spark.textops import q_dsir_weights

    target = "alpha beta gamma delta epsilon zeta"
    sf = _write_docs(spark, tmp_path, [
        (0, target),                         # doc_id % 97 == 0: target
        (1, "alpha beta gamma delta"),       # target-like raw doc
        (2, "chalk cheese quern mill"),      # disjoint raw doc
    ])
    out = {r["doc_id"]: r for r in q_dsir_weights(spark, sf).collect()}
    assert set(out) == {1, 2}                # the target doc is not scored
    assert out[1]["n_feats"] == 4 + 3        # unigrams + bigrams
    assert out[2]["n_feats"] == 4 + 3
    assert out[1]["avg_log_weight"] > out[2]["avg_log_weight"]
    assert out[1]["log_weight"] > out[2]["log_weight"]


def test_dsir_weights_plan_shape(spark, tmp_path):
    """Zero Python; exactly two parquet scans (the fit-then-score
    design - the fitted bucket table is persisted, so its lineage
    contributes ONE of them); the B-row ratio table joins BROADCAST
    onto the exploded features. Runs against a per-test corpus dir:
    on a shared sf dir an earlier test's persist of the same fit
    plan changes how many times the cached lineage prints."""
    from docling_core_spark.textops import q_dsir_weights

    sf = _write_docs(spark, tmp_path,
                     [(i, f"w{i} common words here") for i in range(6)])
    plan = _plan(q_dsir_weights(spark, sf))
    assert "BatchEvalPython" not in plan
    assert "MapInArrow" not in plan
    assert "BroadcastHashJoin" in plan
    # the persisted fit's lineage (holding one of the two scans)
    # PRINTS under each of its two InMemoryTableScan consumers but
    # executes once - normalize the textual count back to executions
    n_imr = plan.count("InMemoryTableScan")
    assert n_imr == 2
    assert plan.count("Scan parquet") - (n_imr - 1) == 2


# ----------------------------------------------------------------------
# BPE encode (serving the trained merges; r4 session 12)
# ----------------------------------------------------------------------

def _ref_bpe_encode(word, merges):
    """Reference leftmost-non-overlapping BPE apply, rank order."""
    syms = list(word) + ["_"]
    for _, left, right, _m, _c in sorted(merges):
        out, i = [], 0
        while i < len(syms):
            if (i + 1 < len(syms) and syms[i] == left
                    and syms[i + 1] == right):
                out.append(left + right)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def test_bpe_encode_matches_reference_on_trained_merges(spark, tmp_path):
    """encode(train(corpus)) == the single-process reference encoder
    applied word-by-word with the same learned merge table: the
    train->serve loop closes exactly."""
    from docling_core_spark.textops import (bpe_encode_over, bpe_train,
                                            _BPE_SYM0, words_spark)
    from pyspark.sql import functions as F

    texts = {
        1: "the cat bitter batter bat the hatter",
        2: "better butter the bitter bat",
        3: "solo",
    }
    sf = _write_docs(spark, tmp_path, list(texts.items()))
    docs = spark.read.parquet(sf + "/documents.parquet")
    wf = (docs.select(F.explode(F.expr(words_spark())).alias("w"))
          .groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
          .select(F.expr(_BPE_SYM0.format(w="w")).alias("sym"), "freq"))
    merges = bpe_train(wf, n_merges=6)
    assert len(merges) == 6

    got = {r["doc_id"]: r for r in
           bpe_encode_over(docs, merges).collect()}
    for doc_id, text in texts.items():
        words = text.split()
        want = sum(len(_ref_bpe_encode(w, merges)) for w in words)
        assert got[doc_id]["n_words"] == len(words)
        assert got[doc_id]["n_bpe_tokens"] == want, (doc_id, merges)
    # merges actually compress: fewer tokens than raw chars+markers
    raw = sum(len(w) + 1 for w in texts[1].split())
    assert got[1]["n_bpe_tokens"] < raw


def test_bpe_encode_plan_no_python(spark, tmp_path):
    from docling_core_spark.textops import bpe_encode_over, bpe_train

    sf = _write_docs(spark, tmp_path, [(1, "aa ab aa ab ba")])
    docs = spark.read.parquet(sf + "/documents.parquet")
    from pyspark.sql import functions as F

    from docling_core_spark.textops import _BPE_SYM0, words_spark
    wf = (docs.select(F.explode(F.expr(words_spark())).alias("w"))
          .groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
          .select(F.expr(_BPE_SYM0.format(w="w")).alias("sym"), "freq"))
    plan = _plan(bpe_encode_over(docs, bpe_train(wf, n_merges=2)))
    assert "BatchEvalPython" not in plan
    assert "MapInArrow" not in plan


def test_s12_ops_match_python_reference_on_random_corpus(spark, tmp_path):
    """Third formulation for the session-12 ops: a seeded random
    corpus with adversarial edges (two zero-word docs whose empty
    whole-doc windows collide globally, identical short docs, a
    shared 24-word prefix family) checked against independent
    pure-Python references - on top of the DuckDB parity test, the
    three implementations must agree."""
    import hashlib
    import math
    import random
    import re as _re

    from docling_core_spark.textops import (
        CONTAM_BENCH_MOD,
        DSIR_BUCKETS,
        PASSAGE_K,
        PASSAGE_STRIDE,
        q_dsir_weights,
        q_exact_substr_dedup,
    )

    rng = random.Random(1207)
    vocab = ["ab", "cd", "ef", "gh", "ij", "kl", "mn", "op"]
    prefix = [rng.choice(vocab) for _ in range(24)]
    rows = [(0, ""), (1, "..."),            # zero-word docs: their
                                            # empty windows collide
            (2, "same short doc"), (3, "same short doc"),
            (4, " ".join(["ab"] * 40))]     # self-repeating doc
    for d in range(5, 10):                  # shared-prefix family
        tail = [rng.choice(vocab) for _ in range(rng.randint(4, 12))]
        rows.append((d, " ".join(prefix + tail)))
    for d in range(10, 160):
        rows.append((d, " ".join(rng.choice(vocab)
                                 for _ in range(rng.randint(0, 40)))))
    sf = _write_docs(spark, tmp_path, rows)

    def words(t):
        return _re.findall("[a-z0-9]+", t.lower())

    def r4(x):
        return math.floor(x * 10000 + 0.5) / 10000

    # --- exact_substr_dedup reference
    K, S = PASSAGE_K, PASSAGE_STRIDE

    def wins(ws):
        if len(ws) >= K:
            return [" ".join(ws[i * S:i * S + K])
                    for i in range((len(ws) - K) // S + 1)]
        return [" ".join(ws)]

    occ = {}
    for d, t in rows:
        for i, w in enumerate(wins(words(t)), 1):
            occ.setdefault(w, []).append((d, i))
    cut_idx = {}
    for w, lst in occ.items():
        if len(lst) >= 2:
            for d, i in sorted(lst)[1:]:
                cut_idx.setdefault(d, set()).add(i)
    exp = {}
    for d, t in rows:
        ws = words(t)
        n = len(ws)
        ci = cut_idx.get(d)
        if ci is None or n == 0:
            pos = set()
        elif n < K:
            pos = set(range(1, n + 1))
        else:
            pos = {p for i in ci
                   for p in range((i - 1) * S + 1, (i - 1) * S + K + 1)}
        kept = [w for p, w in enumerate(ws, 1) if p not in pos]
        exp[d] = (n, len(pos),
                  r4(len(kept) / n) if n else 1.0,
                  hashlib.md5(" ".join(kept).encode()).hexdigest())
    got = {r["doc_id"]: (r["n_words"], r["n_cut_words"],
                         r["kept_ratio"], r["kept_md5"])
           for r in q_exact_substr_dedup(spark, sf).collect()}
    assert got == exp

    # --- dsir_weights reference (md5-prefix bucket hash)
    B = DSIR_BUCKETS

    def feats(ws):
        f = list(ws)
        if len(ws) >= 2:
            f += [ws[i] + " " + ws[i + 1] for i in range(len(ws) - 1)]
        return f

    def bucket(w):
        return int(hashlib.md5(w.encode()).hexdigest()[:12], 16) % B

    tc, rc = {}, {}
    for d, t in rows:
        tgt = d % CONTAM_BENCH_MOD == 0
        for w in feats(words(t)):
            b = bucket(w)
            (tc if tgt else rc)[b] = (tc if tgt else rc).get(b, 0) + 1
    nt, nr = sum(tc.values()), sum(rc.values())
    lr = {b: (math.log2((tc.get(b, 0) + 1.0) / (nt + B))
              - math.log2((rc.get(b, 0) + 1.0) / (nr + B)))
          for b in range(B)}
    exp2 = {}
    for d, t in rows:
        if d % CONTAM_BENCH_MOD == 0:
            continue
        fs = feats(words(t))
        if not fs:
            continue
        lw = sum(lr[bucket(w)] for w in fs)
        exp2[d] = (len(fs), lw)
    got2 = {r["doc_id"]: r
            for r in q_dsir_weights(spark, sf).collect()}
    assert set(got2) == set(exp2)
    for d, (nf, lw) in exp2.items():
        assert got2[d]["n_feats"] == nf
        # libm log2 / summation order: python vs JVM may differ in
        # the last ulp; the 1e-4 grid plus one grid step of slack
        assert abs(got2[d]["log_weight"] - r4(lw)) <= 1.01e-4, d
        assert abs(got2[d]["avg_log_weight"] - r4(lw / nf)) <= 1.01e-4
