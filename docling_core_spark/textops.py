"""Training-data text/embedding operators over the driver's tables.

Every operator here exists in two exactly-equivalent forms: a Spark
DataFrame builder and a DuckDB oracle SQL string, generated from the
same templates so the hash arithmetic stays in lockstep. Shared
primitives (all pure integer math - no float divergence between JVM
and C++):

* wordhash(w)    - polynomial rolling hash of ascii codes, seeded with
                   the first code (DuckDB list_reduce semantics),
                   ``(acc*31 + c) % 1e9+7``
* seeded hash j  - ``((2j+31)*h + 17j+7) % P`` (minhash permutations)
* shingles       - word 3-grams of ``[a-z0-9]+`` tokens of lower(text);
                   docs with <3 words fall back to the whole token join
* simhash30      - 30-bit simhash over wordhashes (+1/-1 bit votes)
* LSH bands      - minhash sig k=16 in 8 bands of r=2; simhash in
                   3 bands of 10 bits; hyperplane sigs of 16 bits over
                   integer-quantized embeddings

Scale notes (100 TB): every per-doc signature is a single JVM-side
projection (whole-stage codegen, no UDF, no shuffle); candidate
generation shuffles only (band_key, doc_id) pairs - the classic
MinHashLSH / SimHash-band plan; verification joins touch only the
candidate set. The exact n-gram Jaccard uses the explode-join
(inverted index) plan, never an all-pairs cross join.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

P = 1000000007
WORD_RE = "[a-z0-9]+"
# "BPE-ish": word pieces plus each punctuation mark as its own token.
# Spark SQL string literals eat single backslashes; DuckDB does not -
# keep a dialect pair so '\s' survives both parsers.
BPE_RE = r"[a-zA-Z0-9_]+|[^a-zA-Z0-9_\s]"
BPE_RE_SPARK = BPE_RE.replace("\\", "\\\\")
PUNCT_CLASS = r"[a-zA-Z0-9_\s]"
PUNCT_CLASS_SPARK = PUNCT_CLASS.replace("\\", "\\\\")

STOPWORDS = {
    "en": ["the", "a", "of", "to", "and", "in", "is", "on", "for", "with"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "ein", "auf",
           "nicht"],
    "es": ["el", "los", "las", "y", "un", "una", "es", "por", "como",
           "pero"],
    "fr": ["le", "les", "des", "et", "une", "est", "dans", "pour", "que",
           "pas"],
}

N_MINHASH = 16
MINHASH_BANDS = 8  # r = 2
SIMHASH_BITS = 30
SIMHASH_BANDS = 3  # 10 bits each
HAMMING_MAX = 1
JACCARD_MIN = 0.5
N_PLANES = 16
ANN_HAMMING_MAX = 5


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _data_fingerprint(sf_dir: str, name: str) -> tuple:
    """Cheap identity of a source table: (mtime_ns, size) of its
    parquet file (or of every part file when it is a directory)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        if os.path.isdir(path):
            parts = []
            for fn in sorted(os.listdir(path)):
                st = os.stat(os.path.join(path, fn))
                parts.append((fn, st.st_mtime_ns, st.st_size))
            return tuple(parts)
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return ()


# ----------------------------------------------------------------------
# dialect templates
# ----------------------------------------------------------------------

def _let_col(expr, fn):
    """Column-API let-binding (the docops._sql_let idiom): ``expr`` is
    evaluated exactly ONCE per row and ``fn`` receives it as a lambda
    variable. Unlike a column alias, a lambda variable survives every
    optimizer rewrite - PushDownPredicate and CollapseProject
    re-substitute aliases textually (each pushed predicate then carries
    a full copy of the defining expression down to the scan), but a
    NamedLambdaVariable is a bound VALUE and cannot be duplicated."""
    return F.element_at(F.transform(F.array(expr), fn), 1)


def _gen_bind(df, key_cols, expr, name):
    """Projection BARRIER: bind ``expr`` as a generated attribute.

    A plain ``select(expr.alias(name))`` is porous - CollapseProject
    and PushDownPredicate re-substitute the alias textually, so N
    downstream field accesses / pushed predicates plant N copies of
    the whole defining expression (clean_corpus measured x10 even with
    the _let_col interior). A Generate node is not collapsible:
    downstream references resolve to the GENERATED attribute, which is
    evaluated exactly once per row. explode_outer, not explode - the
    non-outer form triggers InferFiltersFromGenerate, which clones the
    generator child into an inferred size()>0 filter. ``expr`` must
    never be null (structs are not), so outer adds no rows and the
    isNotNull is a no-op guard on the generated column."""
    return (df.select(*key_cols,
                      F.explode_outer(F.array(expr)).alias(name))
            .filter(F.col(name).isNotNull()))


def words_spark(col: str = "text") -> str:
    return f"regexp_extract_all(lower({col}), '{WORD_RE}', 0)"


def words_duck() -> str:
    return f"regexp_extract_all(lower(text), '{WORD_RE}')"


# wordhash over a lambda variable named ``w``
WORDHASH_SPARK = (
    "aggregate(transform(split(w, ''), c -> ascii(c)), -1L, "
    f"(acc, c) -> IF(acc < 0, CAST(c AS LONG), (acc*31 + c) % {P}))")
WORDHASH_DUCK = (
    "list_reduce(list_transform(string_split(w, ''), "
    f"c -> CAST(ascii(c) AS BIGINT)), (acc, c) -> (acc*31 + c) % {P})")

# Collision-safe window key for the exact-substring family (ADVICE
# r4): WORDHASH's ~2^30 key space birthday-collides once distinct
# windows reach ~10^4-10^5, and exact_substr_rewrite_over CUTS text on
# key equality, so a collision there is silent data loss at corpus
# scale (at 10^12 windows nearly every window would collide). Two
# independent 48-bit md5 slices give a 96-bit key - expected false
# pairs at 10^12 windows ~6e-6 - while keeping the shuffle row
# fixed-width (two BIGINTs; the window STRING never shuffles). The
# same-hex-prefix construction as _MD5_48_* makes both engines agree
# bit-for-bit; WORDHASH stays the shared idiom where minhash-family
# compatibility matters (signatures tolerate collisions by design).
WINKEY1_SPARK = "CAST(conv(substring(md5(w), 1, 12), 16, 10) AS BIGINT)"
WINKEY2_SPARK = ("CAST(conv(substring(md5(w), 13, 12), 16, 10) "
                 "AS BIGINT)")
WINKEY1_DUCK = "('0x' || substr(md5(w), 1, 12))::BIGINT"
WINKEY2_DUCK = "('0x' || substr(md5(w), 13, 12))::BIGINT"

# word 3-gram shingle strings from a words column ``ws``
# (the Spark side builds shingles relationally in _shingle_rows; these
# DUCK twins are the oracle's definitions)
SHINGLES_DUCK = (
    "CASE WHEN len(ws) >= 3 THEN list_distinct(list_transform("
    "range(1, len(ws) - 1), "
    "i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) "
    "ELSE [array_to_string(ws, ' ')] END")

# shingle hashes from a shingle-strings column ``sh`` (w = shingle)
SHASH_DUCK = f"list_transform(sh, w -> {WORDHASH_DUCK})"

# minhash signature (array of N_MINHASH mins) from hash column ``hs``
MINSIG_DUCK = (
    f"list_transform(range(0, {N_MINHASH}), j -> "
    f"list_min(list_transform(hs, h -> ((2*j + 31)*h + 17*j + 7) % {P})))")

# 30-bit simhash from wordhash column ``hs`` (bit votes +1/-1)
SIMHASH_SPARK = (
    "CASE WHEN size(hs) = 0 THEN 0L ELSE "
    f"aggregate(transform(sequence(0, {SIMHASH_BITS - 1}), i -> "
    "IF(aggregate(transform(hs, h -> IF((shiftright(h, i) & 1) = 1, 1, -1)), "
    "0L, (a, x) -> a + x) >= 0, shiftleft(1L, i), 0L)), "
    "0L, (a, x) -> a + x) END")
SIMHASH_DUCK = (
    "CASE WHEN len(hs) = 0 THEN 0 ELSE "
    f"CAST(list_sum(list_transform(range(0, {SIMHASH_BITS}), i -> "
    "CASE WHEN list_sum(list_transform(hs, h -> "
    "CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END)) >= 0 "
    "THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) END")


# round-half-up via integer floor - bit-identical on any IEEE engine,
# unlike ROUND whose tie behavior differs between Spark and DuckDB
def _r2(col):
    return F.floor(col * 100 + F.lit(0.5)) / 100.0


def _r4(col):
    return F.floor(col * 10000 + F.lit(0.5)) / 10000.0


def _sql_r(expr: str, digits: int) -> str:
    scale = 10 ** digits
    return f"FLOOR(({expr}) * {scale} + 0.5) / {scale}.0"


def _stop_count_spark(lang: str) -> str:
    lst = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"size(filter(ws, w -> array_contains(array({lst}), w)))"


def _stop_count_duck(lang: str) -> str:
    lst = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_filter(ws, w -> list_contains([{lst}], w)))"


# argmax with fixed tie-break order en > de > es > fr; no hits -> 'und'
LANG_PRED_CASE = (
    "CASE WHEN c_en > 0 AND c_en >= c_de AND c_en >= c_es AND c_en >= c_fr"
    " THEN 'en'"
    " WHEN c_de > 0 AND c_de >= c_es AND c_de >= c_fr THEN 'de'"
    " WHEN c_es > 0 AND c_es >= c_fr THEN 'es'"
    " WHEN c_fr > 0 THEN 'fr'"
    " ELSE 'und' END")


# ----------------------------------------------------------------------
# quality scoring
# ----------------------------------------------------------------------

def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality signals - all whole-stage-codegen projections
    over the scan, so at 100 TB this runs at I/O speed with zero
    shuffle (the final orderBy is for the small result only)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("ws", F.expr(words_spark()))
        .select(
            "doc_id",
            F.size("ws").cast("long").alias("n_words"),
            F.expr(f"CAST(size(regexp_extract_all(text, '{BPE_RE_SPARK}', "
                   "0)) AS LONG)").alias("n_tokens_bpe"),
            F.when(F.size("ws") > 0, _r2(
                F.expr("aggregate(ws, 0L, (a, w) -> a + length(w))")
                / F.size("ws"))).otherwise(F.lit(0.0))
            .alias("avg_word_len"),
            _r4(F.length(F.expr(
                f"regexp_replace(text, '{PUNCT_CLASS_SPARK}', '')"))
                / F.greatest(F.length("text"), F.lit(1)))
            .alias("punct_ratio"),
            F.when(F.size("ws") > 0, _r4(
                F.expr(_stop_count_spark("en")) / F.size("ws")))
            .otherwise(F.lit(0.0)).alias("stopword_ratio"),
        )
        .withColumn(
            "quality_ok",
            (F.col("n_words") >= 5) & (F.col("n_words") <= 100000)
            & (F.col("stopword_ratio") >= 0.01))
        .orderBy("doc_id")
    )


SQL_QUALITY_SCORES = f"""
WITH t AS (SELECT doc_id, text, {words_duck()} AS ws FROM documents),
s AS (
  SELECT doc_id,
         CAST(len(ws) AS BIGINT) AS n_words,
         CAST(len(regexp_extract_all(text, '{BPE_RE}')) AS BIGINT)
             AS n_tokens_bpe,
         CASE WHEN len(ws) > 0 THEN {_sql_r(
             "CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE)"
             " / len(ws)", 2)} ELSE 0.0 END AS avg_word_len,
         {_sql_r("CAST(length(regexp_replace(text, '" + PUNCT_CLASS +
                 "', '', 'g')) AS DOUBLE) / greatest(length(text), 1)", 4)}
             AS punct_ratio,
         CASE WHEN len(ws) > 0 THEN {_sql_r(
             "CAST(" + _stop_count_duck("en") + " AS DOUBLE) / len(ws)", 4)}
         ELSE 0.0 END AS stopword_ratio
  FROM t)
SELECT *, (n_words >= 5 AND n_words <= 100000 AND stopword_ratio >= 0.01)
       AS quality_ok
FROM s ORDER BY doc_id
"""


# ----------------------------------------------------------------------
# language ID (stopword vote heuristic)
# ----------------------------------------------------------------------

def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    out = docs.withColumn("ws", F.expr(words_spark()))
    for lang in STOPWORDS:
        out = out.withColumn(f"c_{lang}", F.expr(_stop_count_spark(lang)))
    return (
        out.select(
            "doc_id", F.col("lang").alias("lang_label"),
            F.expr(LANG_PRED_CASE).alias("pred_lang"),
            *[F.col(f"c_{lang}").cast("long").alias(f"c_{lang}")
              for lang in STOPWORDS])
        .orderBy("doc_id")
    )


SQL_LANG_ID = f"""
WITH t AS (SELECT doc_id, lang, {words_duck()} AS ws FROM documents),
c AS (
  SELECT doc_id, lang AS lang_label,
         {", ".join(f'CAST({_stop_count_duck(lang)} AS BIGINT) AS c_{lang}'
                    for lang in STOPWORDS)}
  FROM t)
SELECT doc_id, lang_label, {LANG_PRED_CASE} AS pred_lang,
       {", ".join(f"c_{lang}" for lang in STOPWORDS)}
FROM c ORDER BY doc_id
"""


# ----------------------------------------------------------------------
# fingerprints: md5 + winnowing-min + simhash
# ----------------------------------------------------------------------

def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three fingerprints per doc - exact (md5), winnowing-min (min
    shingle hash), simhash - each from its relational sub-plan, joined
    on doc_id (co-partitioned after the aggregations)."""
    docs = _t(spark, sf_dir, "documents")
    md5 = docs.select("doc_id", F.md5("text").alias("content_md5"))
    hashed = (shingle_index_df(spark, sf_dir)
              .withColumnRenamed("sh", "w")
              .select("doc_id", F.expr(WORDHASH_SPARK).alias("h")))
    # fp_min and the 30 simhash bit votes in ONE aggregation pass;
    # this simhash is over shingle hashes (winnowing-compatible), vs.
    # q_simhash_dups' word-level simhash
    agg = hashed.groupBy("doc_id").agg(
        F.min("h").alias("fp_min"),
        *[F.sum(F.when(F.shiftright("h", i).bitwiseAND(1) == 1, 1)
                .otherwise(-1)).alias(f"v{i}")
          for i in range(SIMHASH_BITS)])
    bits = [F.when(F.col(f"v{i}") >= 0, F.lit(1 << i)).otherwise(F.lit(0))
            for i in range(SIMHASH_BITS)]
    total = bits[0]
    for b in bits[1:]:
        total = total + b
    fp = agg.select("doc_id", "fp_min", total.cast("long").alias("simhash"))
    return (md5.join(fp, "doc_id")
            .select("doc_id", "content_md5", "fp_min", "simhash")
            .orderBy("doc_id"))


SQL_DOC_FINGERPRINTS = f"""
WITH t AS (SELECT doc_id, text, {words_duck()} AS ws FROM documents),
s AS (SELECT doc_id, text, {SHINGLES_DUCK} AS sh FROM t),
h AS (SELECT doc_id, text, {SHASH_DUCK} AS hs FROM s)
SELECT doc_id, md5(text) AS content_md5,
       list_min(hs) AS fp_min,
       {SIMHASH_DUCK} AS simhash
FROM h ORDER BY doc_id
"""


# ----------------------------------------------------------------------
# MinHash + LSH near-dup candidate pairs (verified Jaccard)
# ----------------------------------------------------------------------

_SHINGLES_SPARK = (
    "IF(size(ws) >= 3, "
    "transform(sequence(0, size(ws)-3), i -> concat_ws(' ', "
    "element_at(ws, i+1), element_at(ws, i+2), element_at(ws, i+3))), "
    "array(concat_ws(' ', ws)))")


def _shingle_rows_of(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, sh) distinct shingles of ``docs[text_col]``. Same
    shingle set as SHINGLES_DUCK: word 3-grams, or the whole-words
    string for docs under 3 words.

    ZERO shuffle before the distinct: the word regexp binds once per
    doc behind a Generate barrier (_gen_bind - a plain alias is
    re-substituted per consumer), the 3-grams are an array transform
    over that bound ATTRIBUTE (lambda references to attributes are
    values; only referenced EXPRESSIONS get re-evaluated per element,
    the Catalyst trap the repetition_signals fold documents), and
    explode_outer avoids the InferFiltersFromGenerate clone. The
    previous formulation built 3-grams with window lead() - correct,
    but it cost a full corpus hash-shuffle + per-doc sort and scanned
    the corpus twice (union of the tri/short branches); this one
    explodes ready-made shingles off the scan in one pass."""
    arrs = _gen_bind(docs, ["doc_id"],
                     F.expr(words_spark(text_col)), "ws")
    return (arrs.select(
                "doc_id",
                F.explode_outer(F.expr(_SHINGLES_SPARK)).alias("sh"))
            .filter(F.col("sh").isNotNull())
            .distinct())


def _shingle_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _shingle_rows_of(_t(spark, sf_dir, "documents"))


def minhash_sig_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, s0..s{k-1}) minhash signature table: explode shingles
    (one row each, hashed once), groupBy(doc_id) with one MIN aggregate
    per signature slot - whole-stage-codegen hash aggregation with
    map-side partials, instead of per-row lambda towers (Catalyst
    re-evaluates a referenced array expression inside interpreted
    higher-order functions, which makes the nested form quadratic)."""
    hashed = (shingle_index_df(spark, sf_dir)
              .withColumnRenamed("sh", "w")
              .select("doc_id", F.expr(WORDHASH_SPARK).alias("h")))
    return hashed.groupBy("doc_id").agg(*[
        F.min((F.lit(2 * j + 31) * F.col("h") + F.lit(17 * j + 7)) % P)
        .alias(f"s{j}") for j in range(N_MINHASH)])


def minhash_bands_df(sig: DataFrame) -> DataFrame:
    """(doc_id, band, bh) LSH band keys off a signature table: r=2
    rows per band, ~MINHASH_BANDS rows per doc cross the shuffle."""
    return sig.select(
        "doc_id",
        F.posexplode(F.array(*[
            ((F.col(f"s{2 * b}") * 31 + F.col(f"s{2 * b + 1}")) % P)
            for b in range(MINHASH_BANDS)])).alias("band", "bh"))


def q_minhash_lsh_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHashLSH plan, relational formulation (minhash_sig_df).
    Bands explode to (band, band_hash) keys -> candidate pairs ->
    Jaccard verification join on the candidate set only. At 100 TB the
    shuffles carry (doc_id, h) and ~8 band rows per doc."""
    # persist: the banded self-join below consumes the signature table
    # on both sides; unpersisted, the shingle scan + 16-way min
    # aggregation re-runs per side (same shape as _simhash_table)
    sig = minhash_sig_df(spark, sf_dir).persist()
    bands = minhash_bands_df(sig)
    cand = (bands.alias("a").join(
        bands.alias("b"),
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bh") == F.col("b.bh"))
        & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct())
    sh = (shingle_index_df(spark, sf_dir)
          .groupBy("doc_id").agg(F.collect_list("sh").alias("sh")))
    verified = (cand
                .join(sh.select(F.col("doc_id").alias("doc_a"),
                                F.col("sh").alias("sh_a")), "doc_a")
                .join(sh.select(F.col("doc_id").alias("doc_b"),
                                F.col("sh").alias("sh_b")), "doc_b")
                .withColumn("jaccard", _r4(
                    F.size(F.array_intersect("sh_a", "sh_b"))
                    / F.size(F.array_union("sh_a", "sh_b")))))
    return (verified.filter(F.col("jaccard") >= JACCARD_MIN)
            .select("doc_a", "doc_b", "jaccard")
            .orderBy("doc_a", "doc_b"))


SQL_MINHASH_LSH_DUPS = f"""
WITH t AS (SELECT doc_id, {words_duck()} AS ws FROM documents),
s AS (SELECT doc_id, {SHINGLES_DUCK} AS sh FROM t),
g AS (SELECT doc_id, sh, {SHASH_DUCK} AS hs FROM s),
sig AS (SELECT doc_id, sh, {MINSIG_DUCK} AS sig FROM g),
bands AS (
  SELECT doc_id, b.band, (sig[2*b.band + 1]*31 + sig[2*b.band + 2]) % {P}
         AS bh
  FROM sig, (SELECT unnest(range(0, {MINHASH_BANDS})) AS band) b),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
v AS (
  SELECT c.doc_a, c.doc_b,
         {_sql_r("CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)"
                 " / len(list_distinct(list_concat(x.sh, y.sh)))", 4)}
             AS jaccard
  FROM cand c
  JOIN sig x ON x.doc_id = c.doc_a
  JOIN sig y ON y.doc_id = c.doc_b)
SELECT doc_a, doc_b, jaccard FROM v
WHERE jaccard >= {JACCARD_MIN}
ORDER BY doc_a, doc_b
"""


# ----------------------------------------------------------------------
# exact n-gram Jaccard via inverted-index join (ground truth for LSH)
# ----------------------------------------------------------------------

def prefix_candidates(sh_rows: DataFrame,
                      threshold: float = JACCARD_MIN) -> DataFrame:
    """Candidate (doc_a, doc_b) pairs from the prefix-filtered inverted
    index - provably a superset of all pairs with Jaccard >= threshold
    (see jaccard_pairs_prefix for the lemma)."""
    from pyspark.sql import Window

    sizes = (sh_rows.groupBy("doc_id")
             .agg(F.count(F.lit(1)).alias("n_sh")))
    dfreq = sh_rows.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    ranked = (sh_rows.join(dfreq, "sh")
              .withColumn("rnk", F.row_number().over(
                  Window.partitionBy("doc_id").orderBy("df", "sh")))
              .join(sizes, "doc_id"))
    # alpha = ceil(t*n) with an epsilon so float noise on an exactly-
    # integer t*n can only LENGTHEN the prefix (shorter would lose pairs)
    alpha = F.ceil(F.lit(threshold) * F.col("n_sh") - F.lit(1e-9))
    prefix = (ranked.filter(F.col("rnk") <= F.col("n_sh") - alpha + 1)
              .select("doc_id", "sh", "rnk", "n_sh"))
    t = float(threshold)
    joined = prefix.alias("a").join(
        prefix.alias("b"),
        (F.col("a.sh") == F.col("b.sh"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        # size filter: J >= t forces t*|A| <= |B| and t*|B| <= |A|
        & (F.col("a.n_sh") * t <= F.col("b.n_sh") + 1e-9)
        & (F.col("b.n_sh") * t <= F.col("a.n_sh") + 1e-9))
    # positional filter (PPJoin, exact): for a shared token at 1-based
    # ranks (i, j) of the df-sorted lists, overlap <= min(i-1, j-1) + 1
    # + min(|A|-i, |B|-j); prune rows whose bound is below the minimum
    # overlap c >= t*(|A|+|B|)/(1+t). A true pair satisfies the bound
    # at EVERY shared token, so row-filter + distinct keeps them all.
    min_overlap = F.ceil(
        F.lit(t) * (F.col("a.n_sh") + F.col("b.n_sh")) / F.lit(1.0 + t)
        - F.lit(1e-9))
    ubound = (F.least(F.col("a.rnk") - 1, F.col("b.rnk") - 1) + 1
              + F.least(F.col("a.n_sh") - F.col("a.rnk"),
                        F.col("b.n_sh") - F.col("b.rnk")))
    return (joined.filter(ubound >= min_overlap)
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())


def jaccard_pairs_prefix(sh_rows: DataFrame,
                         threshold: float = JACCARD_MIN) -> DataFrame:
    """Exact pairwise Jaccard >= threshold via PREFIX-FILTERED inverted
    index (AllPairs/PPJoin prefix principle - public literature):

    * J(A,B) >= t implies |A∩B| >= ceil(t*|A|) (since c(1+t) >= t(|A|+|B|)
      and |B| >= c), so under ANY global total order of shingles the
      (|A| - ceil(t*|A|) + 1)-prefixes of A and B must share a shingle.
    * Candidates therefore come from joining PREFIX postings only. We
      order shingles by ascending document frequency (rarest first,
      ties by value): a stopword shingle present in every document
      sorts LAST and lands in almost no prefix - the posting list for
      hot keys collapses instead of going quadratic. This is the exact
      version of the "cap the posting list" mitigation: recall is
      provably 100%, so the brute-force oracle must agree.
    * Verification computes the true intersection on candidate pairs
      only, from the per-doc shingle arrays (bounded by doc size).

    Input: (doc_id, sh) rows, one per DISTINCT shingle per doc.
    Shuffles at scale: df count (shingle keys, partial-agg), df join
    (shingle-partitioned, same key), per-doc rank (doc_id keys), prefix
    self-join (prefix postings only), verify join (candidates only).

    The shingle index feeds FOUR subtrees (sizes, df counts, ranked
    prefix, verification arrays); Catalyst does not share common
    subplans, so without materialization the explode+window build runs
    four times. Callers therefore pass a MATERIALIZED index (see
    shingle_index_df: written once, scanned per stage - the local
    analogue of an Iceberg intermediate at cluster scale).
    """
    cand = prefix_candidates(sh_rows, threshold)
    full = sh_rows.groupBy("doc_id").agg(F.collect_list("sh").alias("shs"))
    verified = (cand
                .join(full.select(F.col("doc_id").alias("doc_a"),
                                  F.col("shs").alias("sh_a")), "doc_a")
                .join(full.select(F.col("doc_id").alias("doc_b"),
                                  F.col("shs").alias("sh_b")), "doc_b")
                .withColumn("c", F.size(F.array_intersect("sh_a", "sh_b")))
                .withColumn("jaccard", _r4(
                    F.col("c") / (F.size("sh_a") + F.size("sh_b")
                                  - F.col("c")))))
    return (verified.filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard")
            .orderBy("doc_a", "doc_b"))


SHINGLE_INDEX_VERSION = 1


def _shingle_index_path(sf_dir: str) -> str:
    from docling_core_spark.io.materialize import scratch_path, source_key

    return scratch_path(f"docling_shingles_{source_key(sf_dir)}"
                        f"_v{SHINGLE_INDEX_VERSION}.parquet")


def shingle_index_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_id, sh) inverted index, materialized once per sf: the
    explode+window build is paid a single time and every downstream
    consumer (df counts, prefix ranking, verification) runs off a
    columnar scan - at cluster scale this is an Iceberg intermediate
    table bucketed by sh."""
    from docling_core_spark.io.materialize import materialize_df

    return materialize_df(spark, _shingle_index_path(sf_dir),
                          lambda: _shingle_rows(spark, sf_dir))


def shingle_index_stats(spark: SparkSession, sf_dir: str) -> dict:
    """Write-side table statistics for the shingle index (what an
    Iceberg table's column stats would carry): computed ONCE when the
    index is materialized and served afterwards from ``_stats.json``
    inside the index directory (a rebuilt index drops it), so
    cost-based plan selection reads a file instead of running a stats
    job per query (ADVICE r2)."""
    import json

    stats_path = os.path.join(_shingle_index_path(sf_dir), "_stats.json")
    if os.path.exists(stats_path):
        with open(stats_path) as fh:
            return json.load(fh)
    idx = shingle_index_df(spark, sf_dir)
    row = (idx.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
           .agg(F.max("df").alias("max_df"),
                F.count(F.lit(1)).alias("n_shingles")).collect()[0])
    stats = {"max_df": int(row["max_df"] or 0),
             "n_shingles": int(row["n_shingles"])}
    tmp = stats_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(stats, fh)
    os.replace(tmp, stats_path)
    return stats


# a shingle with document frequency above this makes the plain posting
# join risk df^2 blowup; below it the posting join is strictly cheaper
# than prefix ranking (3 fewer shuffles)
HOT_SHINGLE_DF_LIMIT = 10_000


def jaccard_pairs_postings(sh_rows: DataFrame,
                           threshold: float = JACCARD_MIN) -> DataFrame:
    """Exact pairwise Jaccard via the plain inverted-index join
    (posting self-join + pair-count aggregation - the same plan as the
    DuckDB oracle). Work is sum(df^2) over shingles: optimal when no
    posting list is hot, quadratic when one is."""
    sizes = (sh_rows.groupBy("doc_id")
             .agg(F.count(F.lit(1)).alias("n_sh")))
    inv = sh_rows.join(sizes, "doc_id")
    pairs = (inv.alias("a").join(
        inv.alias("b"),
        (F.col("a.sh") == F.col("b.sh"))
        & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"),
                 F.col("a.n_sh").alias("na"),
                 F.col("b.n_sh").alias("nb"))
        .agg(F.count(F.lit(1)).alias("c")))
    jac = _r4(F.col("c") / (F.col("na") + F.col("nb") - F.col("c")))
    return (pairs.withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard")
            .orderBy("doc_a", "doc_b"))


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs (ground truth for LSH), with
    COST-BASED plan selection off the materialized index's df stats
    (what a real engine's optimizer does with table statistics): the
    plain posting join when no shingle is hot - 3 fewer shuffles - and
    the prefix-filtered AllPairs/PPJoin plan when a posting list could
    go quadratic. Both plans are exact, so the choice cannot change
    the result (tests force both paths)."""
    idx = shingle_index_df(spark, sf_dir)
    max_df = shingle_index_stats(spark, sf_dir)["max_df"]
    if max_df > HOT_SHINGLE_DF_LIMIT:
        return jaccard_pairs_prefix(idx, JACCARD_MIN)
    return jaccard_pairs_postings(idx, JACCARD_MIN)


SQL_NGRAM_JACCARD_PAIRS = f"""
WITH t AS (SELECT doc_id, {words_duck()} AS ws FROM documents),
s AS (SELECT doc_id, {SHINGLES_DUCK} AS sh FROM t),
inv AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM s),
p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS na, b.n_sh AS nb,
         COUNT(*) AS c
  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4),
j AS (
  SELECT doc_a, doc_b,
         {_sql_r("CAST(c AS DOUBLE) / (na + nb - c)", 4)} AS jaccard
  FROM p)
SELECT doc_a, doc_b, jaccard
FROM j WHERE jaccard >= {JACCARD_MIN}
ORDER BY doc_a, doc_b
"""


# ----------------------------------------------------------------------
# SimHash near-dup pairs (banded hamming)
# ----------------------------------------------------------------------

def _simhash_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash) via the relational plan: explode words, hash
    each once, groupBy(doc_id) with one conditional SUM per bit -
    codegen'd aggregation (see minhash note on why not nested lambdas).
    """
    docs = _t(spark, sf_dir, "documents")
    # explode_OUTER + null-drop, not plain explode: the inferred
    # size(ws)>0 filter of a non-outer explode is pushed through the
    # ws projection and re-runs the word regexp per raw row (see
    # _shingle_rows_of); the isNotNull here tests the GENERATED column
    hashed = (docs
              .withColumn("ws", F.expr(words_spark()))
              .select("doc_id", F.explode_outer("ws").alias("w"))
              .filter(F.col("w").isNotNull())
              .select("doc_id", F.expr(WORDHASH_SPARK).alias("h")))
    votes = hashed.groupBy("doc_id").agg(*[
        F.sum(F.when(F.shiftright("h", i).bitwiseAND(1) == 1, 1)
              .otherwise(-1)).alias(f"v{i}")
        for i in range(SIMHASH_BITS)])
    bits = [F.when(F.col(f"v{i}") >= 0, F.lit(1 << i)).otherwise(F.lit(0))
            for i in range(SIMHASH_BITS)]
    total = bits[0]
    for b in bits[1:]:
        total = total + b
    sig = votes.select("doc_id", total.cast("long").alias("simhash"))
    # explode drops wordless docs, but the oracle's CASE len(hs)=0
    # branch gives them simhash 0 — keep every doc on both sides.
    # persist: the banded LSH self-join consumes this table on BOTH
    # sides and Spark re-executes shared subplans per consumer — the
    # whole tokenize+hash+vote pipeline ran twice (plan-audited). The
    # signature table is 2 scalars per doc, the standard materialized
    # artifact of a simhash pass at any scale.
    return (docs.select("doc_id").join(sig, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("simhash", F.lit(0)).cast("long")
                    .alias("simhash"))
            .persist())


def q_simhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash plan: 30-bit signature via explode+groupBy, 3 bands of
    10 bits as LSH keys, hamming verification by bit_count(xor) on the
    candidate set. Recall bound: hamming <= 2 pairs are guaranteed
    found (pigeonhole over 3 bands); deeper hamming is best-effort -
    identical logic on both engines, so results match exactly."""
    sim = _simhash_table(spark, sf_dir)
    bands = sim.select(
        "doc_id", "simhash",
        F.posexplode(F.array(*[
            F.shiftright("simhash", 10 * b).bitwiseAND(1023)
            for b in range(SIMHASH_BANDS)])).alias("band", "bv"))
    cand = (bands.alias("a").join(
        bands.alias("b"),
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bv") == F.col("b.bv"))
        & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("a.simhash").alias("ha"),
                F.col("b.simhash").alias("hb"))
        .distinct())
    return (cand
            .withColumn("hamming", F.expr(
                "bit_count(ha ^ hb)").cast("int"))
            .filter(F.col("hamming") <= HAMMING_MAX)
            .select("doc_a", "doc_b", "hamming")
            .orderBy("doc_a", "doc_b"))


SQL_SIMHASH_DUPS = f"""
WITH t AS (SELECT doc_id, {words_duck()} AS ws FROM documents),
g AS (SELECT doc_id, list_transform(ws, w -> {WORDHASH_DUCK}) AS hs FROM t),
sim AS (SELECT doc_id, {SIMHASH_DUCK} AS simhash FROM g),
bands AS (
  SELECT doc_id, simhash, b.band, (simhash >> (10*b.band)) & 1023 AS bv
  FROM sim, (SELECT unnest(range(0, {SIMHASH_BANDS})) AS band) b),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS ha, b.simhash AS hb
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b,
       CAST(bit_count(CAST(xor(ha, hb) AS BIGINT)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(CAST(xor(ha, hb) AS BIGINT)) <= {HAMMING_MAX}
ORDER BY doc_a, doc_b
"""


# ----------------------------------------------------------------------
# embedding near-dup pairs (label-blocked cosine)
# ----------------------------------------------------------------------

_DOT_SPARK = (
    "aggregate(zip_with(ea, eb, (x, y) -> CAST(x AS DOUBLE) * "
    "CAST(y AS DOUBLE)), 0D, (a, x) -> a + x)")
_NORM_SPARK = ("sqrt(aggregate(transform({c}, x -> CAST(x AS DOUBLE) * "
               "CAST(x AS DOUBLE)), 0D, (a, x) -> a + x))")


def embedding_top_pairs(emb: DataFrame, tile_size: int = 4096,
                        k: int = 20) -> DataFrame:
    """Most-similar embedding pairs inside each label block, with
    BOUNDED memory per task. The label is the blocking key (stand-in
    for the LSH bucket id that the ann query computes); blocking turns
    the O(n^2) global cross join into per-block quadratics - the
    production near-dup plan.

    Scale design (the all-pairs COST within a block is inherent; the
    fix is bounding the UNIT of work):

    * rows are ranked within their label and cut into tiles of
      ``tile_size``; each pandas group is one TILE PAIR (<= 2*tile_size
      rows), so a 10^6-row hot label becomes ~n_tiles^2/2 bounded matmul
      tasks instead of one unbounded pandas group (OOM).
    * each row is replicated once per partner tile (explode over the
      label's tile range) - the shuffle carries n_tiles copies, which
      is the unavoidable replication of a distributed blocked matmul.
    * per tile pair the cosine runs as one BLAS A @ B.T instead of a
      self-join with higher-order-function dot products: Catalyst
      interprets HOF lambdas per pair (measured ~4s for 200k pairs at
      sf0.1 vs sub-second for the matmul).
    * tiles are vec_id-ranked, so for ti < tj every A-side id < every
      B-side id and the (vec_a < vec_b) orientation is free.

    The round/order/limit tail stays in the plan so the comparator is
    identical to the oracle's."""
    import pandas as pd

    from pyspark.sql import Window

    w = Window.partitionBy("label").orderBy("vec_id")
    tiled = (emb.select("vec_id", "label", "embedding")
             .withColumn("tile", ((F.row_number().over(w) - 1)
                                  / tile_size).cast("int")))
    ntiles = tiled.groupBy("label").agg(F.max("tile").alias("max_tile"))
    rep = (tiled.join(F.broadcast(ntiles), "label")
           .select("label", "vec_id", "embedding", "tile",
                   F.explode(F.sequence(F.lit(0), F.col("max_tile")))
                   .alias("other"))
           .withColumn("ti", F.least("tile", "other"))
           .withColumn("tj", F.greatest("tile", "other"))
           # a (t, u != t) row pair appears once from each side; a
           # (t, t) row exactly once (other == tile)
           .filter((F.col("tile") == F.col("ti"))
                   | (F.col("tile") == F.col("tj")))
           .drop("other"))

    def block(key, pdf):
        import numpy as np
        label, ti, tj = key
        order = np.argsort(pdf["vec_id"].to_numpy())
        pdf = pdf.iloc[order]
        ids = pdf["vec_id"].to_numpy()
        e = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
        e = e / np.linalg.norm(e, axis=1, keepdims=True)
        if ti == tj:
            sim = e @ e.T
            ia, ib = np.triu_indices(len(ids), k=1)
            return pd.DataFrame({
                "vec_a": ids[ia], "vec_b": ids[ib],
                "label": label, "cos_raw": sim[ia, ib]})
        a = pdf["tile"].to_numpy() == ti
        ea, eb = e[a], e[~a]
        sim = ea @ eb.T
        ia, ib = np.indices(sim.shape)
        return pd.DataFrame({
            "vec_a": ids[a][ia.ravel()], "vec_b": ids[~a][ib.ravel()],
            "label": label, "cos_raw": sim.ravel()})

    pairs = rep.groupBy("label", "ti", "tj").applyInPandas(
        block, schema="vec_a long, vec_b long, label int, cos_raw double")
    return (pairs.select("vec_a", "vec_b", "label",
                         _r4(F.col("cos_raw")).alias("cos_sim"))
            .orderBy(F.desc("cos_sim"), "vec_a", "vec_b")
            .limit(k))


def q_embedding_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked pairwise cosine top-k; see embedding_top_pairs."""
    return embedding_top_pairs(
        _t(spark, sf_dir, "embeddings"))


_COS_DUCK = ("list_cosine_similarity(CAST({a} AS DOUBLE[]), "
             "CAST({b} AS DOUBLE[]))")

SQL_EMBEDDING_TOP_PAIRS = f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
       {_sql_r(_COS_DUCK.format(a='a.embedding', b='b.embedding'), 4)}
           AS cos_sim
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
ORDER BY cos_sim DESC, vec_a, vec_b
LIMIT 20
"""


# ----------------------------------------------------------------------
# ANN: random-hyperplane LSH bucketing + exact re-rank
# ----------------------------------------------------------------------
# deterministic integer "hyperplanes": w(p,d) in [-1000, 1000], from an
# LCG over the (plane, dim) index; embeddings quantized to 1e-3 ints so
# the signature bit (sign of an integer dot product) is exactly
# reproducible on any engine.

_W_DUCK = "((1103515245::BIGINT * (p*64 + d) + 12345) % 2001) - 1000"


def _plane_weights(p: int) -> list:
    """The deterministic integer hyperplane, identical to _W_DUCK."""
    return [((1103515245 * (p * 64 + d) + 12345) % 2001) - 1000
            for d in range(64)]


def _plane_sig_spark(emb_col: str = "embedding") -> str:
    """16-bit signature: one zip_with per plane against a LITERAL
    weight vector, quantization fused into the lambda. Constant-folded
    weights keep this linear in dims*planes - indexing a transform()'d
    array inside interpreted lambdas re-evaluates the whole array per
    access, which is the quadratic trap the literal form avoids."""
    plane_bits = []
    for p in range(N_PLANES):
        w_lit = "array(" + ",".join(f"{w}L" for w in _plane_weights(p)) + ")"
        dot = (f"aggregate(zip_with({emb_col}, {w_lit}, (x, w) -> "
               "CAST(ROUND(CAST(x AS DOUBLE) * 1000, 0) AS LONG) * w), "
               "0L, (a, v) -> a + v)")
        plane_bits.append(f"IF({dot} >= 0, {1 << p}L, 0L)")
    return " + ".join(plane_bits)


_PLANE_SIG_DUCK = (
    f"CAST(list_sum(list_transform(range(0, {N_PLANES}), p -> "
    "CASE WHEN list_sum(list_transform(range(0, 64), d -> qe[d+1] * "
    f"({_W_DUCK}))) >= 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)) "
    "AS BIGINT)")


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN for the vec_id=0 query: 16-bit hyperplane signature per
    vector (pure projection), candidates = hamming <= ANN_HAMMING_MAX
    from the query signature, exact cosine re-rank of candidates only.
    At 100 TB the signature becomes the partition/bucket key and the
    query touches only matching buckets instead of the full scan."""
    emb = (_t(spark, sf_dir, "embeddings")
           .select("vec_id", "embedding",
                   F.expr(_plane_sig_spark()).alias("sig")))
    q = (emb.filter(F.col("vec_id") == 0)
         .select(F.col("embedding").alias("eb"),
                 F.col("sig").alias("qsig")))
    cand = (emb.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
            .withColumn("hamming",
                        F.expr("bit_count(sig ^ qsig)").cast("int"))
            .filter(F.col("hamming") <= ANN_HAMMING_MAX))
    cos = (F.expr(_DOT_SPARK.replace("ea", "embedding"))
           / (F.expr(_NORM_SPARK.format(c="embedding"))
              * F.expr(_NORM_SPARK.format(c="eb"))))
    return (cand.select("vec_id", "hamming",
                        _r4(cos).alias("cos_sim"))
            .orderBy(F.desc("cos_sim"), "vec_id")
            .limit(10))


SQL_ANN_LSH_TOPK = f"""
WITH e AS (
  SELECT vec_id, embedding,
         list_transform(embedding,
             x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS qe
  FROM embeddings),
s AS (SELECT vec_id, embedding, {_PLANE_SIG_DUCK} AS sig FROM e),
q AS (SELECT embedding AS qemb, sig AS qsig FROM s WHERE vec_id = 0),
c AS (
  SELECT vec_id,
         CAST(bit_count(CAST(xor(sig, qsig) AS BIGINT)) AS INTEGER)
             AS hamming,
         {_sql_r(_COS_DUCK.format(a='embedding', b='qemb'), 4)} AS cos_sim
  FROM s, q WHERE vec_id <> 0)
SELECT vec_id, hamming, cos_sim FROM c
WHERE hamming <= {ANN_HAMMING_MAX}
ORDER BY cos_sim DESC, vec_id
LIMIT 10
"""


# ----------------------------------------------------------------------
# ANN, trained-IVF variant: coarse quantizer cells + probed exact
# re-rank, with Lloyd k-means refinement of the quantizer in exact
# integer arithmetic
# ----------------------------------------------------------------------
# The quantizer is TRAINED: N_KMEANS_ITERS rounds of Lloyd's algorithm
# over the integer-quantized vectors, with the per-dimension centroid
# mean rounded half-up to an integer so every quantity in the pipeline
# stays an exact BIGINT and the DuckDB oracle reproduces the identical
# cells bit-for-bit (float means would drift across engines at
# assignment boundaries).
#
# round-half-up(s / c) = floor((2s + c) / (2c)), computed with the
# engine-independent floor-division identity
#     fdiv(a, b) = (a - ((a % b + b) % b)) / b          (b > 0)
# - Spark's and DuckDB's % both follow the dividend's sign, so the
# identity yields the same floor on both, and the final division is
# exact (the numerator is a multiple of b).

N_CELLS = 8
N_PROBES = 3
N_KMEANS_ITERS = 2

_QINT = ("transform({c}, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000, 0) "
         "AS LONG))")
_L2Q = ("aggregate(zip_with(qa, qb, (x, y) -> (x - y) * (x - y)), 0L, "
        "(a, v) -> a + v)")


def _ivf_assign(dists: DataFrame) -> DataFrame:
    """Nearest centroid per vector from (vector x centroid) distance
    rows. min_by instead of a row_number window: it partial-aggregates
    map-side, so the shuffle carries one row per vector, not one per
    (vector, centroid)."""
    return dists.groupBy("vec_id").agg(
        F.expr("min_by(cid, struct(d2, cid))").alias("cell"),
        F.expr("any_value(qa)").alias("qa"),
        F.expr("any_value(embedding)").alias("embedding"))


def _ivf_update(assigned: DataFrame) -> DataFrame:
    """Per-cell integer centroid: round-half-up mean per dimension.

    posexplode + groupBy(cell, pos) is the scale shape for an
    elementwise array-sum: the 64x row expansion partial-aggregates
    map-side down to (n_cells * dims) rows per partition before the
    shuffle, so a 10^9-vector cell never materializes as one group
    (the applyInPandas-per-cell alternative is the unbounded-group
    OOM trap)."""
    ex = assigned.select("cell", F.posexplode("qa").alias("pos", "v"))
    agg = (ex.groupBy("cell", "pos")
           .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("c")))
    a = 2 * F.col("s") + F.col("c")
    b = 2 * F.col("c")
    m = ((a - (((a % b) + b) % b)) / b).cast("long")
    return (agg.withColumn("m", m)
            .groupBy("cell")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda st: st["m"]).alias("qb"))
            .select(F.col("cell").alias("cid"), "qb"))


# ---- k-means|| seeding (Bahmani et al., VLDB'12), deterministic ----
# Production k-means|| samples each point with prob l*d2(x,C)/phi(C);
# the deterministic variant replaces the coin with a shared integer
# hash so Spark and the DuckDB oracle pick IDENTICAL seeds:
#     select x  iff  (h(x, round) mod M) * phi < l * M * d2(x, C)
# (exact BIGINT comparison - h<=M=2^16 keeps h*phi inside int64 for
# phi up to ~1.4e14, far above the tested corpora; production swaps
# the guard for float probabilities). After KPP_ROUNDS rounds the
# candidate pool is topped up with the first-k vec_ids (deterministic
# floor so >=k candidates always exist), every point votes for its
# nearest candidate, and the k heaviest candidates (weight desc,
# vec_id asc) seed Lloyd - fixing the r2 weakness that first-N
# seeding on sorted data makes a skewed quantizer.
KPP_L = 2 * N_CELLS       # oversampling factor per round
KPP_ROUNDS = 2
KPP_M = 65536
# shared LCG-style hash: all ops exact in BIGINT on both engines
_H = ("((vec_id % 2147483647) * 1103515245 + {r} * 12345 + 12345) "
      "% 2147483647 % {m}")


def kpp_seed_ids(emb: DataFrame) -> list:
    """Deterministic k-means|| candidate selection + weighting;
    returns the k seed vec_ids. Each round is one broadcast join +
    partial-aggregated min/sum over the data; only candidate IDs and
    the scalar phi (model-sized statistics) reach the driver."""
    spark = emb.sparkSession
    init = (emb.select(
        "vec_id", F.expr(_H.format(r=0, m=2147483647)).alias("h"))
        .orderBy("h", "vec_id").limit(1).collect()[0]["vec_id"])
    cand = {int(init)}
    for r in range(1, KPP_ROUNDS + 1):
        cdf = F.broadcast(spark.createDataFrame(
            [(int(c),) for c in sorted(cand)], "cid long"))
        seeds = (emb.join(cdf, emb["vec_id"] == cdf["cid"])
                 .select(F.col("qa").alias("qb")))
        mind = (emb.crossJoin(F.broadcast(seeds))
                .withColumn("d2", F.expr(_L2Q))
                .groupBy("vec_id").agg(F.min("d2").alias("d2")))
        phi = mind.agg(F.sum("d2").alias("p")).collect()[0]["p"]
        if not phi:
            break
        hits = (mind.withColumn(
            "h", F.expr(_H.format(r=r, m=KPP_M)))
            .filter(F.col("h") * F.lit(int(phi))
                    < F.lit(KPP_L * KPP_M) * F.col("d2"))
            .select("vec_id").collect())
        cand |= {int(row["vec_id"]) for row in hits}
    cand |= set(range(N_CELLS))  # deterministic floor (vec_ids dense)
    cdf = F.broadcast(spark.createDataFrame(
        [(int(c),) for c in sorted(cand)], "cid long"))
    seeds = (emb.join(cdf, emb["vec_id"] == cdf["cid"])
             .select("cid", F.col("qa").alias("qb")))
    d = (emb.crossJoin(F.broadcast(seeds))
         .withColumn("d2", F.expr(_L2Q)))
    weights = (d.groupBy("vec_id")
               .agg(F.expr("min_by(cid, struct(d2, cid))").alias("cid"))
               .groupBy("cid").agg(F.count(F.lit(1)).alias("w")))
    top = (weights.orderBy(F.desc("w"), "cid").limit(N_CELLS)
           .collect())
    return sorted(int(r["cid"]) for r in top)


def ivf_kmeans_fit(emb: DataFrame, n_iters: int = N_KMEANS_ITERS
                   ) -> list:
    """Train the coarse quantizer: returns [(cid, [centroid ints])].

    Seeding is deterministic k-means|| (kpp_seed_ids); each Lloyd
    round is one broadcast-join assignment + one partial-aggregated
    update; the k x dims centroid table (the MODEL, a few KB
    regardless of corpus size) is collected to the driver between
    rounds and re-broadcast as literals - the standard distributed
    k-means loop (what MLlib's KMeans does too), NOT a driver-side
    data loop: data rows never leave the cluster."""
    from pyspark import StorageLevel

    # the fit scans its input once per round (plus the seed rounds);
    # cache for the duration of training only - the caller's serving
    # plan reads the source fresh
    emb = emb.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        seed_ids = kpp_seed_ids(emb)
        spark = emb.sparkSession
        sdf = F.broadcast(spark.createDataFrame(
            [(s,) for s in seed_ids], "sid long"))
        cent = (emb.join(sdf, emb["vec_id"] == sdf["sid"])
                .select(F.col("vec_id").alias("cid"),
                        F.col("qa").alias("qb")))
        rows = sorted((r["cid"], list(r["qb"])) for r in cent.collect())
        for _ in range(n_iters):
            cdf = spark.createDataFrame(rows, "cid long, qb array<long>")
            d = (emb.crossJoin(F.broadcast(cdf))
                 .withColumn("d2", F.expr(_L2Q)))
            cent = _ivf_update(_ivf_assign(d))
            rows = sorted((r["cid"], list(r["qb"]))
                          for r in cent.collect())
        return rows
    finally:
        emb.unpersist()


# trained quantizers are build-once artifacts (an IVF index is
# trained once and serves every query after); memoized per corpus so
# repeated queries in one session pay only the serving plan
_IVF_CENT_CACHE: dict = {}


def _ivf_centroids(spark: SparkSession, sf_dir: str):
    """(quantized embeddings frame, broadcast trained-centroid frame
    ``cid long, qb array<long>``), fitting the centroids once per
    corpus. The memo key carries a data fingerprint (mtime+size of the
    source file(s)) so a regenerated corpus at the same path retrains
    instead of silently serving stale centroids."""
    emb = (_t(spark, sf_dir, "embeddings")
           .select("vec_id", "embedding",
                   F.expr(_QINT.format(c="embedding")).alias("qa")))
    key = (sf_dir, _data_fingerprint(sf_dir, "embeddings"),
           N_CELLS, N_KMEANS_ITERS)
    cent_rows = _IVF_CENT_CACHE.get(key)
    if cent_rows is None:
        cent_rows = _IVF_CENT_CACHE[key] = ivf_kmeans_fit(emb)
    return emb, F.broadcast(spark.createDataFrame(
        cent_rows, "cid long, qb array<long>"))


def q_ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-IVF ANN: k-means-refined cells (exact integer Lloyd
    rounds, see ivf_kmeans_fit), then the query probes its N_PROBES
    nearest cells and re-ranks only their members by exact cosine. At
    scale the trained cell id is the partition/bucket key; training
    cost amortizes over every query served from the index."""
    emb, cent = _ivf_centroids(spark, sf_dir)
    d = emb.crossJoin(cent).withColumn("d2", F.expr(_L2Q))
    assigned = _ivf_assign(d)
    probe_cells = (d.filter(F.col("vec_id") == 0)
                   .orderBy("d2", "cid").limit(N_PROBES)
                   .select(F.col("cid").alias("cell")))
    q = (emb.filter(F.col("vec_id") == 0)
         .select(F.col("embedding").alias("eb")))
    cand = (assigned.join(F.broadcast(probe_cells), "cell")
            .filter(F.col("vec_id") != 0)
            .crossJoin(F.broadcast(q)))
    cos = (F.expr(_DOT_SPARK.replace("ea", "embedding"))
           / (F.expr(_NORM_SPARK.format(c="embedding"))
              * F.expr(_NORM_SPARK.format(c="eb"))))
    return (cand.select("vec_id", F.col("cell").cast("long").alias("cell"),
                        _r4(cos).alias("cos_sim"))
            .orderBy(F.desc("cos_sim"), "vec_id")
            .limit(10))


def _sql_kmeans_round(prev_cent: str, tag: str) -> str:
    """One Lloyd round as CTE text: assign to ``prev_cent``, then
    integer round-half-up centroid update. Emits CTEs d{tag}, a{tag},
    u{tag}, c{tag}."""
    return f"""
d{tag} AS (
  SELECT e.vec_id, e.qa, c.cid,
         list_sum(list_transform(range(0, 64),
             i -> (qa[i+1] - qb[i+1]) * (qa[i+1] - qb[i+1]))) AS d2
  FROM e, {prev_cent} c),
a{tag} AS (
  SELECT vec_id, qa, cid AS cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY d2, cid) AS rn FROM d{tag})
  WHERE rn = 1),
u{tag} AS (
  SELECT cell, dim, SUM(qa[dim+1]) AS s, COUNT(*) AS c
  FROM a{tag}, (SELECT unnest(range(0, 64)) AS dim) dims
  GROUP BY cell, dim),
c{tag} AS (
  SELECT cell AS cid, list(m ORDER BY dim) AS qb FROM (
    SELECT cell, dim,
           CAST((2*s + c - ((((2*s + c) % (2*c)) + 2*c) % (2*c)))
                / (2*c) AS BIGINT) AS m
    FROM u{tag})
  GROUP BY cell)"""


# the round chains (k-means|| seeding + Lloyd refinement) are built
# programmatically so the oracle can never desync from the Spark
# side's KPP_ROUNDS / N_KMEANS_ITERS loops (ADVICE r2)
_SQL_L2 = ("list_sum(list_transform(range(0, 64), "
           "i -> (v.qa[i+1] - c.qa[i+1]) * (v.qa[i+1] - c.qa[i+1])))")


def _sql_kpp_round(prev: str, r: int) -> str:
    """One deterministic k-means|| sampling round as CTE text."""
    h = _H.format(r=r, m=KPP_M).replace("vec_id", "d.vec_id")
    return f"""
kd{r} AS (
  SELECT v.vec_id, MIN({_SQL_L2}) AS d2
  FROM e v, e c JOIN {prev} s ON c.vec_id = s.vec_id
  GROUP BY v.vec_id),
kphi{r} AS (SELECT SUM(d2) AS phi FROM kd{r}),
kc{r} AS (
  SELECT vec_id FROM {prev}
  UNION
  SELECT d.vec_id FROM kd{r} d, kphi{r}
  WHERE ({h}) * phi < {KPP_L * KPP_M} * d.d2)"""


_SQL_KPP_ROUNDS = ",".join(
    _sql_kpp_round(f"kc{r - 1}", r) for r in range(1, KPP_ROUNDS + 1))

_SQL_KPP_SEEDING = f"""
kc0 AS (
  SELECT vec_id FROM e
  ORDER BY {_H.format(r=0, m=2147483647)}, vec_id LIMIT 1),
{_SQL_KPP_ROUNDS},
kcf AS (SELECT vec_id FROM kc{KPP_ROUNDS}
        UNION SELECT vec_id FROM e WHERE vec_id < {N_CELLS}),
kwd AS (
  SELECT v.vec_id, c.vec_id AS cid, {_SQL_L2} AS d2
  FROM e v, e c JOIN kcf s ON c.vec_id = s.vec_id),
kassign AS (
  SELECT vec_id, cid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY d2, cid) AS rn FROM kwd)
  WHERE rn = 1),
kw AS (SELECT cid, COUNT(*) AS w FROM kassign GROUP BY cid),
kseeds AS (SELECT cid FROM kw ORDER BY w DESC, cid LIMIT {N_CELLS}),
c0 AS (SELECT e.vec_id AS cid, e.qa AS qb
       FROM e JOIN kseeds k ON e.vec_id = k.cid)"""

_SQL_KMEANS_ROUNDS = ",".join(
    _sql_kmeans_round(f"c{i}", str(i + 1)) for i in range(N_KMEANS_ITERS))
_SQL_KMEANS_FINAL = f"c{N_KMEANS_ITERS}"

SQL_ANN_IVF_KMEANS_TOPK = f"""
WITH e AS (
  SELECT vec_id, embedding,
         list_transform(embedding,
             x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS qa
  FROM embeddings),
{_SQL_KPP_SEEDING},
{_SQL_KMEANS_ROUNDS},
df AS (
  SELECT e.vec_id, e.embedding, c.cid,
         list_sum(list_transform(range(0, 64),
             i -> (qa[i+1] - qb[i+1]) * (qa[i+1] - qb[i+1]))) AS d2
  FROM e, {_SQL_KMEANS_FINAL} c),
af AS (
  SELECT vec_id, embedding, cid AS cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY d2, cid) AS rn FROM df)
  WHERE rn = 1),
probes AS (
  SELECT cid AS cell FROM df WHERE vec_id = 0 ORDER BY d2, cid
  LIMIT {N_PROBES}),
q AS (SELECT embedding AS qemb FROM e WHERE vec_id = 0)
SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell,
       {_sql_r(_COS_DUCK.format(a='a.embedding', b='qemb'), 4)} AS cos_sim
FROM af a JOIN probes p ON a.cell = p.cell, q
WHERE a.vec_id <> 0
ORDER BY cos_sim DESC, a.vec_id
LIMIT 10
"""


# ----------------------------------------------------------------------
# duplicate clusters: connected components over the near-dup pair graph
# ----------------------------------------------------------------------

def _cc_large_star(e: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., 'Connected Components in
    MapReduce and Beyond', SoCC'14): every neighbor v > u re-links to
    m(u) = min(neighborhood of u, incl. u). One groupBy + one join."""
    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (sym.groupBy("u").agg(F.min("v").alias("mn"))
            .select("u", F.least("u", "mn").alias("m")))
    # emitted edges satisfy new_u = v > u >= m = new_v: always
    # (larger, smaller) orientation, never a self-loop
    return (sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct())


def _cc_small_star(e: DataFrame) -> DataFrame:
    """Small-star round: orient edges large->small; u and all its
    smaller neighbors re-link to the minimum of that set."""
    d = e.select(F.greatest("u", "v").alias("u"),
                 F.least("u", "v").alias("v"))
    mins = d.groupBy("u").agg(F.min("v").alias("m"))
    out = (d.join(mins, "u")
           .select(F.col("v").alias("u"), F.col("m").alias("v"))
           .unionByName(mins.select("u", F.col("m").alias("v"))))
    return (out.filter(F.col("u") != F.col("v"))
            .select(F.greatest("u", "v").alias("u"),
                    F.least("u", "v").alias("v"))
            .distinct())


def connected_components(pairs: DataFrame, max_iter: int = 30,
                         small_graph_threshold: int = 200_000
                         ) -> DataFrame:
    """(doc_a, doc_b) edges -> (doc_id, cluster_id) via alternating
    large-star / small-star contraction (Kiveris et al., SoCC'14).

    Scale shape: converges in O(log n) rounds regardless of component
    DIAMETER — the property plain min-label propagation lacks (a
    chain-shaped near-dup cluster, common in crawl data, needs
    diameter-many rounds there). Each round is two groupBy+join
    passes over an edge list that only shrinks toward the star
    fixpoint: every component collapses to a star centered at its
    minimum node, which becomes the cluster label. max_iter=30 covers
    graphs far beyond 2^30 nodes; the guard raises rather than
    returning labels that would disagree with the exact-closure
    oracle.

    Deduped edge lists at or below ``small_graph_threshold`` take a
    driver-side union-find instead: the near-dup PAIR graph is
    usually statistic-sized even when the corpus is not (it holds
    only docs with a near-duplicate), and a sub-second exact
    union-find beats ~6 Spark jobs per contraction round. The
    distributed path is what runs when the graph genuinely is big;
    pass 0 to force it (the long-chain test does)."""
    from pyspark import StorageLevel

    # persist the INPUT pair plan: nodes and edges both derive from it
    # and the pair generation (an LSH/Jaccard pipeline) is the
    # expensive part - without this it would execute twice
    pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    nodes = (pairs.select(F.col("doc_a").alias("doc_id"))
             .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
             .distinct()
             .persist(StorageLevel.MEMORY_AND_DISK))
    edges = (pairs.select(F.col("doc_a").alias("u"),
                          F.col("doc_b").alias("v"))
             .filter(F.col("u") != F.col("v"))
             .select(F.greatest("u", "v").alias("u"),
                     F.least("u", "v").alias("v"))
             .distinct()
             # the edge list feeds every contraction round
             .persist(StorageLevel.MEMORY_AND_DISK))
    n_edges = edges.count()
    if n_edges <= small_graph_threshold:
        parent: dict = {}

        def find(x):
            parent.setdefault(x, x)
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in edges.collect():
            ra, rb = find(r["u"]), find(r["v"])
            if ra != rb:
                # union by MIN so the root IS the cluster label
                parent[max(ra, rb)] = min(ra, rb)
        labels_local = [(n["doc_id"], find(n["doc_id"]))
                        for n in nodes.collect()]
        from pyspark.sql.types import StructField, StructType

        id_type = nodes.schema["doc_id"].dataType  # preserve key type
        schema = StructType([StructField("doc_id", id_type),
                             StructField("cluster_id", id_type)])
        edges.unpersist()
        nodes.unpersist()
        pairs.unpersist()
        return pairs.sparkSession.createDataFrame(labels_local, schema)
    nodes.count()      # materialize off the cached pairs ...
    pairs.unpersist()  # ... then the input plan can go
    converged = n_edges == 0
    for _ in range(max_iter):
        if converged:
            break
        ls = _cc_large_star(edges).persist(StorageLevel.MEMORY_AND_DISK)
        new_edges = (_cc_small_star(ls)
                     # localCheckpoint truncates the per-round lineage
                     # chain (plans would otherwise nest one level per
                     # round even though data is persisted)
                     .localCheckpoint(eager=True))
        n_new = new_edges.count()
        # both sets are distinct: equal counts + empty one-way
        # difference <=> fixpoint reached
        converged = (n_new == n_edges
                     and new_edges.subtract(edges).count() == 0)
        ls.unpersist()
        edges.unpersist()
        edges = new_edges
        n_edges = n_new
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "alternating rounds; the input graph is astronomically "
            "deep or adversarial - raise max_iter")
    # fixpoint edges form stars (member u -> component-min v)
    labels = (nodes.join(
        edges.select(F.col("u").alias("doc_id"),
                     F.col("v").alias("lbl")),
        "doc_id", "left")
        .groupBy("doc_id")
        .agg(F.min("lbl").alias("lbl"))
        .select("doc_id",
                F.coalesce("lbl", F.col("doc_id")).alias("cluster_id")))
    return labels


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS from the exact near-dup pairs: connected
    components + cluster sizes + the retention choice (keep the
    cluster's minimum doc_id - the canonical survivor a dedup pass
    would retain)."""
    pairs = q_ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    cc = connected_components(pairs)
    sizes = cc.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size"))
    return (cc.join(sizes, "cluster_id")
            .select("doc_id", "cluster_id", "cluster_size",
                    (F.col("doc_id") == F.col("cluster_id"))
                    .alias("keep"))
            .orderBy("doc_id"))


def sql_dup_clusters() -> str:
    """DuckDB oracle: reachability closure by recursive CTE, labels =
    min over the reachable set (tiny clusters -> closure is cheap)."""
    inner = SQL_NGRAM_JACCARD_PAIRS.replace("ORDER BY doc_a, doc_b", "")
    return f"""
WITH RECURSIVE jp AS ({inner}),
sym AS (
  SELECT doc_a AS a, doc_b AS b FROM jp
  UNION
  SELECT doc_b, doc_a FROM jp),
reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
lab AS (
  SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
  FROM reach GROUP BY a),
sz AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM lab GROUP BY cluster_id)
SELECT l.doc_id, l.cluster_id, s.cluster_size,
       l.doc_id = l.cluster_id AS keep
FROM lab l JOIN sz s USING (cluster_id)
ORDER BY l.doc_id
"""


def q_dedup_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The last stage of a crawl-dedup pipeline: quality-aware
    canonical selection over the WHOLE corpus. Near-dup clusters come
    from the exact n-gram pairs + connected components; within each
    cluster the survivor is the highest-quality doc (n_words, ties to
    the smallest doc_id); docs with no near-duplicate survive
    trivially.

    Scale shape: the cluster-label table holds only docs that HAVE a
    near-duplicate - statistic-sized next to a 100 TB corpus - so both
    the label join and the per-cluster argmax broadcast against the
    full scan; the corpus itself is touched once, no wide shuffle.
    (The argmax is max(n_words) then min(doc_id) among the maxima -
    expressible as one groupBy over the tiny labeled slice.)"""
    pairs = q_ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components(pairs)  # (doc_id, cluster_id), tiny
    docs_tbl = _t(spark, sf_dir, "documents")
    quality = (docs_tbl
               .withColumn("ws", F.expr(words_spark()))
               .select("doc_id",
                       F.size("ws").cast("long").alias("n_words")))
    # survivor branch: semi-join to clustered docs FIRST, so the
    # regex word split runs over the statistic-sized slice only
    labeled = (docs_tbl.join(F.broadcast(labels), "doc_id")
               .withColumn("ws", F.expr(words_spark()))
               .select("doc_id", "cluster_id",
                       F.size("ws").cast("long").alias("n_words")))
    best = (labeled.groupBy("cluster_id")
            .agg(F.max("n_words").alias("best_q")))
    survivors = (labeled.join(F.broadcast(best), "cluster_id")
                 .where(F.col("n_words") == F.col("best_q"))
                 .groupBy("cluster_id")
                 .agg(F.min("doc_id").alias("survivor")))
    return (quality
            .join(F.broadcast(labels), "doc_id", "left")
            .withColumn("cluster_id",
                        F.coalesce("cluster_id", "doc_id"))
            .join(F.broadcast(survivors), "cluster_id", "left")
            .withColumn("survivor", F.coalesce("survivor", "doc_id"))
            .select("doc_id", "cluster_id", "n_words", "survivor",
                    (F.col("doc_id") == F.col("survivor")).alias("keep"))
            .orderBy("doc_id"))


def sql_dedup_retention() -> str:
    """DuckDB oracle: exact-closure clusters (as sql_dup_clusters) +
    the same quality argmax, independently in SQL."""
    inner = SQL_NGRAM_JACCARD_PAIRS.replace("ORDER BY doc_a, doc_b", "")
    return f"""
WITH RECURSIVE jp AS ({inner}),
sym AS (
  SELECT doc_a AS a, doc_b AS b FROM jp
  UNION
  SELECT doc_b, doc_a FROM jp),
reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
lab AS (
  SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
  FROM reach GROUP BY a),
q AS (SELECT doc_id, CAST(len({words_duck()}) AS BIGINT) AS n_words
      FROM documents),
full_lab AS (
  SELECT q.doc_id, COALESCE(lab.cluster_id, q.doc_id) AS cluster_id,
         q.n_words
  FROM q LEFT JOIN lab ON q.doc_id = lab.doc_id),
best AS (
  SELECT cluster_id, MAX(n_words) AS best_q
  FROM full_lab GROUP BY cluster_id),
surv AS (
  SELECT f.cluster_id, MIN(f.doc_id) AS survivor
  FROM full_lab f JOIN best b
    ON f.cluster_id = b.cluster_id AND f.n_words = b.best_q
  GROUP BY f.cluster_id)
SELECT f.doc_id, f.cluster_id, f.n_words, s.survivor,
       f.doc_id = s.survivor AS keep
FROM full_lab f JOIN surv s USING (cluster_id)
ORDER BY f.doc_id
"""


# ----------------------------------------------------------------------
# PII scrubbing (training-data hygiene)
# ----------------------------------------------------------------------

# Java regex (Spark) and RE2 (DuckDB) agree on these leftmost-first
# greedy patterns; the driver hash-compares the scrubbed text bytes.
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PHONE_RE = "\\+1-555-[0-9]{4}"


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass: count and redact email/phone matches. The
    synthetic corpus carries no contact strings, so the query first
    plants deterministic PII in every third document (both engines run
    the identical augmentation), then scrubs - the driver hash checks
    the scrubbed bytes, so a missed or mangled redaction fails.

    100 TB design: pure whole-stage-codegen projection over the scan
    (regexp_count/regexp_replace are JVM expressions) - zero shuffle,
    zero Python, I/O-bound; the orderBy is for the small test result
    only."""
    docs = _t(spark, sf_dir, "documents")
    aug = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(F.col("text"), F.lit(" Contact user"),
                 F.col("doc_id").cast("string"),
                 F.lit("@example.com or +1-555-"),
                 F.lpad((F.col("doc_id") % 10000).cast("string"),
                        4, "0"),
                 F.lit("."))).otherwise(F.col("text"))
    return (docs.select("doc_id", aug.alias("t"))
            .select(
                "doc_id",
                F.regexp_count("t", F.lit(EMAIL_RE)).cast("long")
                .alias("n_emails"),
                F.regexp_count("t", F.lit(PHONE_RE)).cast("long")
                .alias("n_phones"),
                F.regexp_replace(
                    F.regexp_replace("t", EMAIL_RE, "[EMAIL]"),
                    PHONE_RE, "[PHONE]").alias("clean_text"))
            .orderBy("doc_id"))


SQL_PII_SCRUB = f"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN
           text || ' Contact user' || CAST(doc_id AS VARCHAR)
                || '@example.com or +1-555-'
                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '.'
         ELSE text END AS t
  FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{EMAIL_RE}')) AS BIGINT)
           AS n_emails,
       CAST(len(regexp_extract_all(t, '{PHONE_RE}')) AS BIGINT)
           AS n_phones,
       regexp_replace(regexp_replace(t, '{EMAIL_RE}', '[EMAIL]', 'g'),
                      '{PHONE_RE}', '[PHONE]', 'g') AS clean_text
FROM t ORDER BY doc_id
"""


# ----------------------------------------------------------------------
# benchmark-contamination screen
# ----------------------------------------------------------------------

CONTAM_BENCH_MOD = 97  # ~1% of docs play the held-out benchmark
CONTAM_MIN_SHARE = 0.5


def q_contamination_screen(spark: SparkSession, sf_dir: str
                           ) -> DataFrame:
    """Benchmark-contamination screen: flag corpus documents whose
    word-3-gram shingles overlap a held-out benchmark set (here: every
    97th document) above CONTAM_MIN_SHARE - the standard pre-training
    decontamination pass (n-gram collision against eval sets).

    100 TB design: the screen is ONE broadcast left-join on the
    shingle string shuffling only (shingle, doc_id) pairs - never
    document payloads - then ONE partial-agg pass computing total and
    shared counts together (count(bsh) counts join hits). The corpus
    shingle stream is built and scanned exactly once; the benchmark
    branch's doc_id filter pushes to its own scan, so that branch
    touches ~1/MOD of the corpus. Broadcast the benchmark side when
    it is statistic-sized; at eval-set scale (millions of n-grams)
    that is the default."""
    sh = _shingle_rows(spark, sf_dir)
    is_bench = F.col("doc_id") % CONTAM_BENCH_MOD == 0
    bench = (sh.filter(is_bench)
             .select(F.col("sh").alias("bsh")).distinct())
    corpus = sh.filter(~is_bench)
    per_doc = (corpus.join(F.broadcast(bench),
                           corpus.sh == bench.bsh, "left")
               .groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n_shingles"),
                    F.count("bsh").alias("n_shared")))
    return (per_doc
            .select(
                "doc_id", "n_shingles", "n_shared",
                _r4(F.col("n_shared")
                    / F.col("n_shingles")).alias("shared_ratio"))
            .withColumn(
                "contaminated",
                F.col("n_shared") / F.col("n_shingles")
                >= F.lit(CONTAM_MIN_SHARE))
            .orderBy("doc_id"))


SQL_CONTAMINATION_SCREEN = f"""
WITH w AS (SELECT doc_id, {words_duck()} AS ws FROM documents),
s AS (SELECT doc_id, unnest({SHINGLES_DUCK}) AS sh FROM w),
bench AS (SELECT DISTINCT sh FROM s WHERE doc_id % {CONTAM_BENCH_MOD} = 0),
corpus AS (SELECT * FROM s WHERE doc_id % {CONTAM_BENCH_MOD} != 0),
tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM corpus GROUP BY doc_id),
shr AS (SELECT c.doc_id, COUNT(*) AS n_shared
        FROM corpus c JOIN bench b USING (sh) GROUP BY c.doc_id)
SELECT t.doc_id, t.n_shingles,
       COALESCE(s2.n_shared, 0) AS n_shared,
       {_sql_r("CAST(COALESCE(s2.n_shared, 0) AS DOUBLE) / t.n_shingles",
               4)} AS shared_ratio,
       CAST(COALESCE(s2.n_shared, 0) AS DOUBLE) / t.n_shingles
           >= {CONTAM_MIN_SHARE} AS contaminated
FROM tot t LEFT JOIN shr s2 USING (doc_id) ORDER BY t.doc_id
"""


# ----------------------------------------------------------------------
# stratified sampling (corpus mix control)
# ----------------------------------------------------------------------

# per-language keep thresholds out of SAMPLE_MOD buckets (downsample
# the dominant languages, keep the rare ones whole)
SAMPLE_MOD = 10000
STRATA_THRESHOLDS = {"en": 5000, "zh": 8000, "de": 10000, "es": 2500,
                     "fr": 1000}
SAMPLE_DEFAULT_THRESHOLD = 10000


def _sample_bucket_sql() -> str:
    """Deterministic per-doc bucket in [0, SAMPLE_MOD): an LCG step on
    doc_id, pure BIGINT arithmetic so Spark and DuckDB agree bit-for-
    bit (no float, no engine hash)."""
    return (f"CAST((doc_id * 1103515245 + 12345) % 2147483648 "
            f"% {SAMPLE_MOD} AS BIGINT)")


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified corpus sampling: keep each document iff its
    deterministic bucket clears the language's threshold - rate
    control per stratum without any shuffle (the scalable variant: a
    rank-per-stratum sampler would need a total order inside each
    language partition, a straggler at web scale; the hash-threshold
    form is one codegen filter over the scan and hits the target rate
    to within binomial noise)."""
    docs = _t(spark, sf_dir, "documents")
    thr = F.coalesce(
        *[F.when(F.col("lang") == lang, F.lit(t))
          for lang, t in sorted(STRATA_THRESHOLDS.items())],
        F.lit(SAMPLE_DEFAULT_THRESHOLD))
    return (docs
            .withColumn("bucket", F.expr(_sample_bucket_sql()))
            .withColumn("threshold", thr.cast("long"))
            .filter(F.col("bucket") < F.col("threshold"))
            .select("doc_id", "lang", "bucket", "threshold")
            .orderBy("doc_id"))


def _strata_case_sql() -> str:
    whens = " ".join(
        f"WHEN lang = '{lang}' THEN {t}"
        for lang, t in sorted(STRATA_THRESHOLDS.items()))
    return f"CASE {whens} ELSE {SAMPLE_DEFAULT_THRESHOLD} END"


SQL_STRATIFIED_SAMPLE = f"""
WITH t AS (
  SELECT doc_id, lang,
         {_sample_bucket_sql()} AS bucket,
         CAST({_strata_case_sql()} AS BIGINT) AS threshold
  FROM documents)
SELECT doc_id, lang, bucket, threshold
FROM t WHERE bucket < threshold ORDER BY doc_id
"""


# ----------------------------------------------------------------------
# duplicate-passage detection (substring-level dedup signal)
# ----------------------------------------------------------------------

PASSAGE_K = 16  # words per window
PASSAGE_STRIDE = 8


def _windows_spark() -> str:
    """Word windows of PASSAGE_K, stride PASSAGE_STRIDE, over ``ws``
    (short docs fall back to one whole-doc window, like shingles)."""
    k, s = PASSAGE_K, PASSAGE_STRIDE
    return (f"CASE WHEN size(ws) >= {k} THEN "
            f"transform(sequence(0, (size(ws) - {k}) div {s}), "
            f"i -> concat_ws(' ', slice(ws, i * {s} + 1, {k}))) "
            "ELSE array(concat_ws(' ', ws)) END")


def _windows_duck() -> str:
    k, s = PASSAGE_K, PASSAGE_STRIDE
    return (f"CASE WHEN len(ws) >= {k} THEN "
            f"list_transform(range(0, ((len(ws) - {k}) // {s}) + 1), "
            f"i -> array_to_string(ws[i * {s} + 1 : i * {s} + {k}], ' ')) "
            "ELSE [array_to_string(ws, ' ')] END")


def q_dup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level (substring) duplication signal: hash overlapping
    word windows (PASSAGE_K words, stride PASSAGE_STRIDE), count the
    occurrences of each window hash across the corpus, and report per
    document how many of its windows are duplicated elsewhere - the
    windowed-hash form of exact substring dedup (suffix-array dedup's
    distributed stand-in: same signal, bounded state).

    100 TB design: the window build is a codegen projection; the only
    shuffles carry (window_hash) and (doc_id) - never text beyond the
    window strings in the first explode, and those can be hashed
    map-side before shuffling (here the hash IS computed pre-shuffle).
    The duplicated-hash table is corpus-dependent but
    heavy-hitter-shaped; at web scale it is the standard
    count-then-join passage dedup plan (one aggregation + one
    re-join), embarrassingly partitionable by hash."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    wins = (docs
            .withColumn("ws", F.expr(words_spark()))
            .select("doc_id",
                    F.explode(F.expr(_windows_spark())).alias("w"))
            # same 96-bit window key as the removal path (WINKEY1/2
            # note): the signal would only be INFLATED by collisions,
            # but signal and removal must agree on what "duplicated
            # window" means or the reported dup_ratio misstates what
            # --exact-substr would actually cut
            .select("doc_id", F.expr(WINKEY1_SPARK).alias("wh1"),
                    F.expr(WINKEY2_SPARK).alias("wh2")))
    # single corpus scan: per-hash occurrence counts via a window over
    # the hash partitioning, then one re-aggregation per doc - two
    # shuffles total ((wh1,wh2) then (doc_id)), vs the naive
    # count-table + re-join form that scans the corpus three times
    occ = wins.withColumn(
        "n_occ",
        F.count(F.lit(1)).over(Window.partitionBy("wh1", "wh2")))
    return (occ.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_windows"),
                 F.sum(F.when(F.col("n_occ") >= 2, 1).otherwise(0))
                 .alias("n_dup_windows"))
            .select(
                "doc_id", "n_windows", "n_dup_windows",
                _r4(F.col("n_dup_windows") / F.col("n_windows"))
                .alias("dup_ratio"))
            .orderBy("doc_id"))


SQL_DUP_PASSAGES = f"""
WITH d AS (SELECT doc_id, {words_duck()} AS ws FROM documents),
wn AS (SELECT doc_id, unnest({_windows_duck()}) AS w FROM d),
h AS (SELECT doc_id, {WINKEY1_DUCK} AS wh1,
             {WINKEY2_DUCK} AS wh2 FROM wn),
dup AS (SELECT wh1, wh2 FROM h GROUP BY wh1, wh2
        HAVING COUNT(*) >= 2),
tot AS (SELECT doc_id, COUNT(*) AS n_windows FROM h GROUP BY doc_id),
dd AS (SELECT h.doc_id, COUNT(*) AS n_dup
       FROM h JOIN dup USING (wh1, wh2) GROUP BY h.doc_id)
SELECT t.doc_id, t.n_windows,
       COALESCE(dd.n_dup, 0) AS n_dup_windows,
       {_sql_r("CAST(COALESCE(dd.n_dup, 0) AS DOUBLE) / t.n_windows",
               4)} AS dup_ratio
FROM tot t LEFT JOIN dd USING (doc_id) ORDER BY t.doc_id
"""


# ----------------------------------------------------------------------
# exact-substring deduplication (passage REMOVAL, not just the signal)
# ----------------------------------------------------------------------

def _cut_positions_spark() -> str:
    """Word positions (1-based) covered by the cut windows in
    ``cut_idx`` over the word array ``ws``: window i (1-based) spans
    [(i-1)*STRIDE+1, (i-1)*STRIDE+K]; a short doc's single whole-doc
    window spans everything. Overlapping windows merge via distinct."""
    k, s = PASSAGE_K, PASSAGE_STRIDE
    # the size(ws) = 0 arm is load-bearing: Spark's sequence(1, 0) is
    # the DESCENDING [1, 0], so a zero-word doc whose (empty)
    # whole-doc window is cut would otherwise report two phantom cut
    # positions (DuckDB's range(1, 1) is already empty)
    return (f"CASE WHEN cut_idx IS NULL OR size(ws) = 0 THEN array() "
            f"WHEN size(ws) < {k} THEN sequence(1, size(ws)) "
            f"ELSE array_distinct(flatten(transform(cut_idx, "
            f"i -> sequence((i - 1) * {s} + 1, (i - 1) * {s} + {k})))) "
            "END")


def exact_substr_rewrite_over(docs: DataFrame, text_col: str = "text",
                              formulation: str = "window"
                              ) -> DataFrame:
    """Exact-substring passage REMOVAL over any (doc_id, <text_col>)
    frame, returning the input columns plus (n_words, n_cut_words,
    kept_text) - the composable production surface
    (jobs/build_training_corpus.py --exact-substr runs it on
    clean_text after global dedup); q_exact_substr_dedup projects the
    driver contract (counts + kept-stream md5) off this same plan.
    Semantics and scale notes: see exact_substr_dedup_over.

    ``formulation="window"`` (default): first-occurrence marking rides
    ONE hash-partitioned exchange (count + row_number share the key
    distribution). A mega-duplicated window key serializes its
    occurrences into a single partition - the documented skew caveat.
    ``formulation="join"`` is the escape: aggregate per key
    (count, min (doc_id, idx)) - map-side combined, heavy hitters
    collapse to one row - then re-join the marks; the join is a plain
    shuffle join AQE's skew-split CAN divide, at the cost of a second
    exchange. Same rows bit-for-bit (pinned in tests)."""
    from pyspark.sql import Window

    wins = (docs
            .withColumn("ws", F.expr(words_spark(text_col)))
            .select("doc_id",
                    F.posexplode(F.expr(_windows_spark()))
                    .alias("i", "w"))
            # 96-bit collision-safe key (see WINKEY1/2 note): cuts
            # are destructive, so the key must not birthday-collide
            # at corpus scale the way WORDHASH mod P would
            .select("doc_id", (F.col("i") + 1).alias("idx"),
                    F.expr(WINKEY1_SPARK).alias("wh1"),
                    F.expr(WINKEY2_SPARK).alias("wh2")))
    if formulation == "join":
        marks = (wins.groupBy("wh1", "wh2")
                 .agg(F.count(F.lit(1)).alias("n_occ"),
                      F.min(F.struct("doc_id", "idx")).alias("first"))
                 .filter(F.col("n_occ") >= 2))
        cuts = (wins.join(marks, ["wh1", "wh2"])
                .filter(F.struct("doc_id", "idx") != F.col("first"))
                .groupBy("doc_id")
                .agg(F.sort_array(F.collect_list("idx"))
                     .alias("cut_idx")))
    elif formulation == "window":
        occ = Window.partitionBy("wh1", "wh2")
        first = Window.partitionBy("wh1", "wh2").orderBy(
            "doc_id", "idx")
        cuts = (wins
                .withColumn("n_occ", F.count(F.lit(1)).over(occ))
                .withColumn("rn", F.row_number().over(first))
                .filter((F.col("n_occ") >= 2) & (F.col("rn") > 1))
                .groupBy("doc_id")
                .agg(F.sort_array(F.collect_list("idx"))
                     .alias("cut_idx")))
    else:
        raise ValueError(f"unknown formulation {formulation!r}")
    return (docs.join(cuts, "doc_id", "left")
            .withColumn("ws", F.expr(words_spark(text_col)))
            .withColumn("cut_pos", F.expr(_cut_positions_spark()))
            .withColumn(
                "kept_pos",
                F.expr("CASE WHEN size(ws) = 0 THEN array() "
                       "ELSE array_except(sequence(1, size(ws)), "
                       "cut_pos) END"))
            .withColumn("n_words", F.size("ws").cast("long"))
            .withColumn("n_cut_words", F.size("cut_pos").cast("long"))
            .withColumn(
                "kept_text",
                F.concat_ws(" ", F.expr("transform(kept_pos, "
                                        "p -> element_at(ws, p))")))
            .drop("ws", "cut_idx", "cut_pos", "kept_pos"))


def exact_substr_dedup_over(docs: DataFrame) -> DataFrame:
    """Exact-substring passage REMOVAL over any (doc_id, text) frame -
    the rewrite half of ``q_dup_passages``'s signal, the windowed-hash
    distributed stand-in for suffix-array ExactSubstr dedup (Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): every duplicated PASSAGE_K-word window keeps exactly its
    globally-first occurrence (min (doc_id, idx)); every later
    occurrence's word span is cut, overlapping cuts merged, and the
    surviving word stream re-emitted. Output per doc: word counts
    before/after, kept_ratio, and md5 of the deduplicated stream (the
    hash-checked rewrite contract, like pii_scrub's scrubbed bytes).

    100 TB design: the window build is a codegen projection; the only
    corpus-sized shuffle carries (doc_id, idx, wh1, wh2) - 32-byte
    rows with a 96-bit collision-safe window key (WINKEY1/2 note:
    cuts are destructive, so the key must not birthday-collide),
    never text. First-occurrence marking rides ONE hash-partitioned
    shuffle (count + row_number share the key distribution, so
    Catalyst plans a single Exchange); the per-doc cut lists are
    dup-density-bounded and AQE broadcasts them back onto the scan;
    the rebuild itself is a zero-shuffle projection whose
    array_except membership test is hash-based O(n+m). Known skew
    caveat (shared with q_dup_passages, documented there): a
    mega-duplicated window hash serializes its occurrences into one
    window partition; the escape at that point is the
    groupBy(min_by)+join rewrite, which AQE skew-join can split."""
    return (exact_substr_rewrite_over(docs)
            .select(
                "doc_id", "n_words", "n_cut_words",
                _r4(F.when(F.col("n_words") > 0,
                           (F.col("n_words") - F.col("n_cut_words"))
                           / F.col("n_words"))
                    .otherwise(F.lit(1.0))).alias("kept_ratio"),
                F.md5("kept_text").alias("kept_md5"))
            .orderBy("doc_id"))


def q_exact_substr_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_substr_dedup_over(_t(spark, sf_dir, "documents"))


SQL_EXACT_SUBSTR_DEDUP = f"""
WITH d AS (SELECT doc_id, {words_duck()} AS ws FROM documents),
w0 AS (SELECT doc_id, ws, {_windows_duck()} AS wins FROM d),
wn AS (SELECT doc_id,
              unnest(list_transform(range(1, len(wins) + 1),
                     i -> {{'idx': i, 'w': wins[i]}})) AS u
       FROM w0),
wx AS (SELECT doc_id, u.idx AS idx, u.w AS w FROM wn),
h AS (SELECT doc_id, idx, {WINKEY1_DUCK} AS wh1,
             {WINKEY2_DUCK} AS wh2 FROM wx),
m AS (SELECT doc_id, idx,
             COUNT(*) OVER (PARTITION BY wh1, wh2) AS n_occ,
             ROW_NUMBER() OVER (PARTITION BY wh1, wh2
                                ORDER BY doc_id, idx) AS rn
      FROM h),
c AS (SELECT doc_id, list_sort(list(idx)) AS cut_idx
      FROM m WHERE n_occ >= 2 AND rn > 1 GROUP BY doc_id),
p AS (SELECT d.doc_id, d.ws,
             CASE WHEN c.cut_idx IS NULL THEN []
                  WHEN len(d.ws) < {PASSAGE_K}
                       THEN range(1, len(d.ws) + 1)
                  ELSE list_distinct(flatten(list_transform(c.cut_idx,
                       i -> range((i - 1) * {PASSAGE_STRIDE} + 1,
                                  (i - 1) * {PASSAGE_STRIDE}
                                  + {PASSAGE_K} + 1))))
             END AS cut_pos
      FROM d LEFT JOIN c USING (doc_id)),
r AS (SELECT doc_id, ws, cut_pos,
             list_filter(range(1, len(ws) + 1),
                         pos -> NOT list_contains(cut_pos, pos))
             AS kept_pos
      FROM p)
SELECT doc_id,
       CAST(len(ws) AS BIGINT) AS n_words,
       CAST(len(cut_pos) AS BIGINT) AS n_cut_words,
       {_sql_r("CASE WHEN len(ws) > 0 THEN CAST(len(kept_pos) AS "
               "DOUBLE) / len(ws) ELSE 1.0 END", 4)} AS kept_ratio,
       md5(COALESCE(array_to_string(list_select(ws, kept_pos), ' '),
                    '')) AS kept_md5
FROM r ORDER BY doc_id
"""


# ----------------------------------------------------------------------
# DSIR importance weights (data selection with importance resampling)
# ----------------------------------------------------------------------

DSIR_BUCKETS = 1024  # hashed n-gram feature space (paper uses 10k)

# unigram + bigram feature strings over a bound words column ``ws``
_DSIR_FEATS_SPARK = (
    "CASE WHEN size(ws) >= 2 THEN concat(ws, "
    "transform(sequence(1, size(ws) - 1), "
    "i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))) "
    "ELSE ws END")
_DSIR_FEATS_DUCK = (
    "CASE WHEN len(ws) >= 2 THEN ws || "
    "list_transform(range(1, len(ws)), "
    "i -> ws[i] || ' ' || ws[i + 1]) ELSE ws END")

# Portable fast feature hash: the md5 intrinsic's first 48 bits, read
# as an integer from the SAME hex prefix on both engines (Spark conv
# base-16, DuckDB '0x'-prefixed varchar cast - bit-identical by
# construction, and ~JVM-intrinsic speed vs the interpreted per-char
# WORDHASH fold, which stays the shared idiom where minhash
# compatibility matters).
# ONE definition: the DSIR feature hash and the exact-substring
# window key's first slice are the same 48-bit md5-prefix idiom
# (WINKEY1_* at the top of this module); aliasing keeps a future
# change to the construction from silently desynchronizing them.
_MD5_48_SPARK = WINKEY1_SPARK
_MD5_48_DUCK = WINKEY1_DUCK


def dsir_weights_over(docs: DataFrame, spark: SparkSession,
                      is_target=None, text_col: str = "text"
                      ) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw
    document by how target-like its hashed n-gram distribution is.
    Features are word unigrams+bigrams hashed into DSIR_BUCKETS
    buckets; the target distribution is fitted on the held-out
    benchmark slice (doc_id % CONTAM_BENCH_MOD == 0, the same slice
    contamination_screen guards), the raw distribution on everything
    else, both add-one smoothed over the full bucket domain. A raw
    doc's ``log_weight`` is sum over its feature occurrences of
    log2(p_target(b)/p_raw(b)); ``avg_log_weight`` is the
    length-normalized form (the paper resamples by the raw weight;
    the per-feature average is the scale-free ranking signal).
    Float contract matches lm_perplexity: per-bucket log-ratios are
    IEEE-identical across engines up to 1 ulp of libm log2 and the
    1e-4 output grid sits ~9 orders above summation-order noise.
    Docs with zero extractable words have no feature rows and are
    absent, like the other explode-based scorers.

    100 TB design: TWO corpus scans by design (the paper's own
    fit-then-score shape): scan 1 fits BOTH bucket tables in one
    hash aggregation (bucket, target-count, raw-count - map-side
    partial aggs, B-bounded shuffle); scan 2 scores, joining the
    B-row smoothed log-ratio table BROADCAST onto the exploded
    features and re-aggregating per doc (map-side partials again, so
    the doc_id shuffle carries one row per (doc, partition)). The
    bucket domain/totals are statistic-sized; no corpus-sized state
    is pinned in memory.

    ``is_target`` (a boolean Column over the input frame; default =
    the benchmark-slice convention) and ``text_col`` make this the
    composable production surface: the assembly job unions the
    held-out benchmark table (flagged true) with the corpus and
    scores clean_text against it (jobs/build_training_corpus.py
    --dsir-top-frac)."""
    is_t = (F.col("doc_id") % CONTAM_BENCH_MOD == 0
            if is_target is None else is_target)
    base = _gen_bind(docs.withColumn("__dsir_t", is_t),
                     ["doc_id", "__dsir_t"],
                     F.expr(words_spark(text_col)), "ws")
    # bucket rides a _gen_bind barrier: the broadcast join's inferred
    # isnotnull(join key) otherwise re-substitutes the whole hash
    # expression below the projection (plan-audited x2 per scored row)
    hb = _gen_bind(
        base.select("doc_id", "__dsir_t",
                    F.explode(F.expr(_DSIR_FEATS_SPARK)).alias("w")),
        ["doc_id", "__dsir_t"],
        (F.expr(_MD5_48_SPARK) % DSIR_BUCKETS).cast("long"),
        "bucket")
    # the flag column is a plain project alias, so Catalyst still
    # substitutes it through to a pushed doc_id filter in the default
    # (benchmark-slice) case; a caller-supplied column works the same
    is_t = F.col("__dsir_t")
    # scan 1: both distributions in ONE aggregation. Persisted because
    # it feeds two consumers (the ratio join and the totals agg) and
    # an unpersisted DAG-shared subplan re-executes per consumer -
    # the bucket table is B-bounded (statistic-sized), exactly the
    # state a real pipeline would write out as the fitted model.
    counts = (hb.groupBy("bucket").agg(
        F.sum(F.when(is_t, 1).otherwise(0)).alias("tc"),
        F.sum(F.when(is_t, 0).otherwise(1)).alias("rc"))
        .persist())
    tot = counts.agg(F.sum("tc").alias("nt"), F.sum("rc").alias("nr"))
    dom = spark.range(DSIR_BUCKETS).select(
        F.col("id").cast("long").alias("bucket"))
    b = float(DSIR_BUCKETS)
    ratio = (dom.join(counts, "bucket", "left")
             .crossJoin(F.broadcast(tot))
             .select(
                 "bucket",
                 (F.log2((F.coalesce(F.col("tc"), F.lit(0)) + 1.0)
                         / (F.coalesce(F.col("nt"), F.lit(0)) + b))
                  - F.log2((F.coalesce(F.col("rc"), F.lit(0)) + 1.0)
                           / (F.coalesce(F.col("nr"), F.lit(0)) + b)))
                 .alias("lr")))
    # scan 2: score the raw slice against the broadcast ratio table
    per = (hb.filter(~is_t)
           .join(F.broadcast(ratio), "bucket")
           .groupBy("doc_id")
           .agg(F.count(F.lit(1)).alias("n_feats"),
                F.sum("lr").alias("lw")))
    return per.select(
        "doc_id",
        F.col("n_feats").cast("long").alias("n_feats"),
        _r4(F.col("lw")).alias("log_weight"),
        _r4(F.col("lw") / F.col("n_feats")).alias("avg_log_weight"))


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (dsir_weights_over(_t(spark, sf_dir, "documents"), spark)
            .orderBy("doc_id"))


SQL_DSIR_WEIGHTS = f"""
WITH t AS (SELECT doc_id, {words_duck()} AS ws FROM documents),
f AS (SELECT doc_id, unnest({_DSIR_FEATS_DUCK}) AS w FROM t),
hb AS (SELECT doc_id, ({_MD5_48_DUCK}) % {DSIR_BUCKETS} AS bucket
       FROM f),
cnt AS (SELECT bucket,
               COUNT(*) FILTER (doc_id % {CONTAM_BENCH_MOD} = 0)
                   AS tc,
               COUNT(*) FILTER (doc_id % {CONTAM_BENCH_MOD} != 0)
                   AS rc
        FROM hb GROUP BY bucket),
tot AS (SELECT COALESCE(SUM(tc), 0) AS nt,
               COALESCE(SUM(rc), 0) AS nr FROM cnt),
dom AS (SELECT unnest(range(0, {DSIR_BUCKETS})) AS bucket),
r AS (SELECT d.bucket,
             log2((COALESCE(c.tc, 0) + 1.0)
                  / (tot.nt + {DSIR_BUCKETS}.0))
             - log2((COALESCE(c.rc, 0) + 1.0)
                    / (tot.nr + {DSIR_BUCKETS}.0)) AS lr
      FROM dom d LEFT JOIN cnt c USING (bucket), tot),
s AS (SELECT doc_id, COUNT(*) AS n_feats, SUM(lr) AS lw
      FROM hb JOIN r USING (bucket)
      WHERE doc_id % {CONTAM_BENCH_MOD} != 0 GROUP BY doc_id)
SELECT doc_id, CAST(n_feats AS BIGINT) AS n_feats,
       {_sql_r("lw", 4)} AS log_weight,
       {_sql_r("lw / n_feats", 4)} AS avg_log_weight
FROM s ORDER BY doc_id
"""


# ----------------------------------------------------------------------
# end-to-end clean-corpus pipeline (composite hygiene pass)
# ----------------------------------------------------------------------

CLEAN_MIN_WORDS = 5
CLEAN_MAX_WORDS = 100000


def hygiene_over(docs: DataFrame, text=None) -> DataFrame:
    """Per-document hygiene projection over any (doc_id, text) frame:
    PII scrub -> language ID -> quality gate, all in one zero-shuffle
    whole-stage-codegen pass. Returns
    (doc_id, n_pii, clean_text, n_words, pred_lang, keep).

    ``text`` is a Column (default ``F.col("text")``) so callers can
    feed a derived expression without an intermediate Project — the
    driver query q_clean_corpus passes its planted-PII augmentation
    straight through, keeping the audited plan bit-identical. This is
    the production surface jobs/build_training_corpus.py runs as its
    embarrassingly-parallel stage 1 (per-doc only — safe inside a
    resumable doc_id-hash bucket)."""
    if text is None:
        text = F.col("text")
    # the whole scrub -> words -> stop-counts -> lang/keep derivation
    # as ONE nested-let expression (see _let_col): spelling it as a
    # withColumn chain let PushDownPredicate substitute the aliases
    # through every derivation Project, planting the scrub regexp
    # chain ~98 TIMES in the optimized plan (audited by
    # tools/plan_audit.py). Inside lambda variables nothing can be
    # re-substituted, so the chain runs at most twice per raw row
    # (the pushed keep-filter + the surviving row's projection).
    def _pred(c):
        # LANG_PRED_CASE over let-bound counts (same argmax + tie order)
        return (F.when((c["c_en"] > 0) & (c["c_en"] >= c["c_de"])
                       & (c["c_en"] >= c["c_es"])
                       & (c["c_en"] >= c["c_fr"]), "en")
                .when((c["c_de"] > 0) & (c["c_de"] >= c["c_es"])
                      & (c["c_de"] >= c["c_fr"]), "de")
                .when((c["c_es"] > 0) & (c["c_es"] >= c["c_fr"]), "es")
                .when(c["c_fr"] > 0, "fr")
                .otherwise("und"))

    def _stops(lang):
        return F.array(*[F.lit(w) for w in STOPWORDS[lang]])

    m = _let_col(text, lambda t: _let_col(
        F.struct(
            (F.regexp_count(t, F.lit(EMAIL_RE))
             + F.regexp_count(t, F.lit(PHONE_RE)))
            .cast("long").alias("n_pii"),
            F.regexp_replace(
                F.regexp_replace(t, EMAIL_RE, "[EMAIL]"),
                PHONE_RE, "[PHONE]").alias("ct")),
        lambda s: _let_col(
            F.regexp_extract_all(F.lower(s["ct"]), F.lit(WORD_RE),
                                 F.lit(0)),
            lambda ws: _let_col(
                F.struct(
                    *[F.size(F.filter(
                        ws, lambda w: F.array_contains(_stops(lg), w)))
                      .alias(f"c_{lg}") for lg in STOPWORDS],
                    F.size(ws).cast("long").alias("nw")),
                lambda c: F.struct(
                    s["n_pii"].alias("n_pii"),
                    s["ct"].alias("clean_text"),
                    c["nw"].alias("n_words"),
                    _pred(c).alias("pred_lang"),
                    ((_pred(c) != "und")
                     & (c["nw"] >= CLEAN_MIN_WORDS)
                     & (c["nw"] <= CLEAN_MAX_WORDS)).alias("keep"))))))
    # _gen_bind: the five field accesses below (and the pushed keep /
    # bench-mod filters) must reference a generated ATTRIBUTE - a plain
    # alias would be re-substituted per consumer, x10 measured
    return (_gen_bind(docs, ["doc_id"], m, "m")
            .select("doc_id",
                    F.col("m.n_pii").alias("n_pii"),
                    F.col("m.clean_text").alias("clean_text"),
                    F.col("m.n_words").alias("n_words"),
                    F.col("m.pred_lang").alias("pred_lang"),
                    F.col("m.keep").alias("keep")))


def dedup_retain_over(clean: DataFrame, mode: str = "window",
                      text_col: str = "clean_text") -> DataFrame:
    """Exact-dedup retention over a hygiene frame: keep the min-doc_id
    representative per content_md5. Adds content_md5 if absent (md5 of
    ``text_col``). Both modes return the same rows; they differ only
    in WHAT crosses the exchange:

    ``mode="window"``: ONE shuffle of the full rows on the content
    hash, min-over-window, filter. Simple, and the window never sees
    more rows per partition than one hash bucket's worth.

    ``mode="keys"`` (VERDICT r4 item 5): aggregate
    (content_md5 -> min doc_id) first - the exchange carries key rows
    (md5 + id, map-side-combined), never the text payload - then
    BROADCAST-semi-join the survivor doc_ids back onto the unshuffled
    scan, so the payload crosses ZERO exchanges. Two preconditions,
    both measured in BENCH/BASELINE.md's dedup-mode ladder:

    * ``clean`` should be a MATERIALIZED table (the assembly job's
      stage1 parquet), because the keys plan scans it twice (once to
      build keys, once under the semi-join) - over a computed
      projection like an inline hygiene_over both scans re-derive the
      projection and the mode loses outright (measured 2x slower);
    * the survivor id set must fit the broadcast budget (8 bytes/doc;
      ~1M survivors = ~9 MB). Beyond that, persist the keys table as
      an artifact and feed a storage-partitioned or bloom-filter
      join - or use the window mode, whose one full-row exchange is
      bandwidth-bound but single-scan.

    Prefer "keys" when rows are wide relative to the key (payload
    bandwidth dominates the window formulation's exchange) and the
    input is a real table; prefer "window" for computed inputs or
    unbroadcastable survivor sets."""
    from pyspark.sql import Window

    if "content_md5" not in clean.columns:
        clean = clean.withColumn("content_md5", F.md5(text_col))
    if mode == "keys":
        # semi-join on the (hash, id) PAIR, not the id alone: a row
        # survives iff ITS group's min is its own id, which is
        # exactly the window mode's doc_id == min filter even when
        # doc_id values repeat across different content groups
        survivors = (clean.groupBy("content_md5")
                     .agg(F.min("doc_id").alias("doc_id")))
        return clean.join(F.broadcast(survivors),
                          ["content_md5", "doc_id"], "left_semi")
    if mode != "window":
        raise ValueError(f"unknown dedup mode {mode!r}")
    return (clean.withColumn(
                "min_id",
                F.min("doc_id").over(Window.partitionBy("content_md5")))
            .filter(F.col("doc_id") == F.col("min_id"))
            .drop("min_id"))


def q_dedup_retain_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver certification that the two dedup_retain_over
    formulations are row-identical (VERDICT r4 item 5): run BOTH the
    window mode (full-row shuffle on content_md5) and the keys mode
    (24-byte key aggregation + survivor semi-join, payload unshuffled)
    over the documents table and full-outer-join the survivor sets on
    (doc_id, content_md5), with one presence flag per mode. The oracle
    emits both flags TRUE on every row, so a row only one mode keeps
    fails the single oracle row-count/hash check, whichever mode keeps
    it."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").alias("clean_text"))
    # bind the hash ONCE as a generated attribute (plan_audit: letting
    # each mode add its own md5 column planted the cast/md5 5x in the
    # joined plan; after the bind each self-join side evaluates it
    # once - the minimum for a two-plan certification)
    docs = _gen_bind(docs, ["doc_id", "clean_text"],
                     F.md5("clean_text"), "content_md5")
    win = dedup_retain_over(docs, mode="window").select(
        "doc_id", "content_md5", F.lit(True).alias("in_window"))
    keys = dedup_retain_over(docs, mode="keys").select(
        "doc_id", "content_md5", F.lit(True).alias("in_keys"))
    return (win.join(keys, ["doc_id", "content_md5"], "full")
            .select("doc_id", "content_md5",
                    F.coalesce("in_window", F.lit(False)).alias("in_window"),
                    F.coalesce("in_keys", F.lit(False)).alias("in_keys"))
            .orderBy("doc_id"))


SQL_DEDUP_RETAIN_MODES = """
WITH h AS (SELECT doc_id, md5(text) AS content_md5 FROM documents)
SELECT MIN(doc_id) AS doc_id, content_md5,
       TRUE AS in_window, TRUE AS in_keys
FROM h GROUP BY content_md5 ORDER BY doc_id
"""


def decontaminate_over(clean: DataFrame, bench: DataFrame,
                       bench_text_col: str = "text") -> DataFrame:
    """Drop documents whose word-3-gram shingle share against the
    held-out benchmark frame (doc_id, <bench_text_col>) reaches
    CONTAM_MIN_SHARE. ``clean`` must carry (doc_id, clean_text). One
    broadcast left-join on shingles (the benchmark set is
    statistic-sized by construction) + one anti-join back."""
    bench_sh = (_shingle_rows_of(
        bench.select("doc_id",
                     F.col(bench_text_col).alias("text")))
        .select(F.col("sh").alias("bsh")).distinct())
    corp_sh = _shingle_rows_of(
        clean.select("doc_id", F.col("clean_text").alias("text")))
    contam = (corp_sh.join(F.broadcast(bench_sh),
                           corp_sh.sh == bench_sh.bsh, "left")
              .groupBy("doc_id")
              .agg(F.count(F.lit(1)).alias("n_sh"),
                   F.count("bsh").alias("n_shared"))
              .filter(F.col("n_shared") / F.col("n_sh")
                      >= F.lit(CONTAM_MIN_SHARE))
              .select("doc_id"))
    return clean.join(contam, "doc_id", "left_anti")


def q_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data hygiene pipeline, end to end in ONE
    plan: plant-and-scrub PII -> language ID -> quality gate -> exact
    dedup retention -> benchmark-decontamination -> surviving clean
    documents. Each stage reuses the standalone operator's exact
    definition (q_pii_scrub, q_lang_id, q_quality_scores,
    q_contamination_screen), so this query certifies the COMPOSITION -
    the order-sensitive part a real pipeline gets wrong (scrub before
    analysis; held-out set excluded from the output but never
    quality-filtered; dedup before the contamination join). The df
    stages themselves are the production surfaces hygiene_over /
    dedup_retain_over / decontaminate_over that
    jobs/build_training_corpus.py composes.

    100 TB design: stages 1-3 are whole-stage-codegen projections over
    the scan (zero shuffle); dedup adds one shuffle on content_md5
    (min-doc_id retention inside each hash partition); decontamination
    is one broadcast join on shingles of the SURVIVORS only (the
    filters run before the explode, so the shingle volume is the clean
    corpus, not the raw scan). Nothing materializes more than
    (doc_id, shingle) pairs post-filter."""
    docs = _t(spark, sf_dir, "documents")
    aug = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(F.col("text"), F.lit(" Contact user"),
                 F.col("doc_id").cast("string"),
                 F.lit("@example.com or +1-555-"),
                 F.lpad((F.col("doc_id") % 10000).cast("string"),
                        4, "0"),
                 F.lit("."))).otherwise(F.col("text"))
    base = hygiene_over(docs, text=aug)
    surv = (base.filter(
                F.col("keep")
                & (F.col("doc_id") % CONTAM_BENCH_MOD != 0))
            .withColumn("content_md5", F.md5("clean_text")))
    # ded feeds TWO consumers (the contamination shingles and the
    # final anti-join) and Spark re-executes a DAG-shared subplan per
    # consumer - unpersisted, the scrub + dedup-window shuffle ran 5x
    # (plan-audited: 7 scans, 8 windows, 0 ReusedExchange). Persisting
    # the statistic-per-doc survivor slice runs them once; at cluster
    # scale this is the cleaned-corpus intermediate a real pipeline
    # materializes as a table anyway.
    ded = dedup_retain_over(surv).persist()
    bench = (base.filter(F.col("doc_id") % CONTAM_BENCH_MOD == 0)
             .select("doc_id", F.col("clean_text").alias("text")))
    # decontaminate_over folds total + shared shingle counts into ONE
    # broadcast left-join pass - the previous tot/shr two-branch shape
    # re-derived the corpus shingles twice more (plan-audited)
    return (decontaminate_over(ded, bench)
            .select("doc_id", "pred_lang", "n_words", "n_pii",
                    "content_md5", "clean_text")
            .orderBy("doc_id"))


_CLEAN_WS_DUCK = f"regexp_extract_all(lower(clean_text), '{WORD_RE}')"

SQL_CLEAN_CORPUS = f"""
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN
           text || ' Contact user' || CAST(doc_id AS VARCHAR)
                || '@example.com or +1-555-'
                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '.'
         ELSE text END AS t
  FROM documents),
scr AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(t, '{EMAIL_RE}'))
              + len(regexp_extract_all(t, '{PHONE_RE}')) AS BIGINT)
             AS n_pii,
         regexp_replace(regexp_replace(t, '{EMAIL_RE}', '[EMAIL]', 'g'),
                        '{PHONE_RE}', '[PHONE]', 'g') AS clean_text
  FROM aug),
w AS (SELECT *, {_CLEAN_WS_DUCK} AS ws FROM scr),
b AS (
  SELECT *, CAST(len(ws) AS BIGINT) AS n_words,
         {", ".join(f'CAST({_stop_count_duck(lang)} AS BIGINT) AS c_{lang}'
                    for lang in STOPWORDS)}
  FROM w),
p AS (SELECT *, {LANG_PRED_CASE} AS pred_lang FROM b),
surv AS (
  SELECT *, md5(clean_text) AS content_md5 FROM p
  WHERE pred_lang != 'und' AND n_words >= {CLEAN_MIN_WORDS}
    AND n_words <= {CLEAN_MAX_WORDS}
    AND doc_id % {CONTAM_BENCH_MOD} != 0),
ded AS (
  SELECT * FROM surv
  QUALIFY doc_id = min(doc_id) OVER (PARTITION BY content_md5)),
bsh AS (SELECT DISTINCT unnest({SHINGLES_DUCK}) AS sh FROM p
        WHERE doc_id % {CONTAM_BENCH_MOD} = 0),
csh AS (SELECT doc_id, unnest({SHINGLES_DUCK}) AS sh FROM ded),
tot AS (SELECT doc_id, COUNT(*) AS n_sh FROM csh GROUP BY doc_id),
shr AS (SELECT c.doc_id, COUNT(*) AS n_shared
        FROM csh c JOIN bsh USING (sh) GROUP BY c.doc_id),
contam AS (
  SELECT t.doc_id FROM tot t LEFT JOIN shr USING (doc_id)
  WHERE CAST(COALESCE(n_shared, 0) AS DOUBLE) / n_sh
        >= {CONTAM_MIN_SHARE})
SELECT doc_id, pred_lang, n_words, n_pii, content_md5, clean_text
FROM ded WHERE doc_id NOT IN (SELECT doc_id FROM contam)
ORDER BY doc_id
"""


# ----------------------------------------------------------------------
# corpus term statistics: per-language TF-IDF top terms
# ----------------------------------------------------------------------

TFIDF_TOP_K = 10


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-K terms by TF-IDF over the corpus - the
    corpus-statistics operator of a training-data pipeline (vocabulary
    health checks, boilerplate-term detection). IDF uses an
    integer-scaled surrogate, ``idf_x1000 = (n_docs * 1000) div df``,
    so Spark and DuckDB agree bit-for-bit (libm log implementations
    are not guaranteed identical across engines); the ranking it
    induces is the same as n/df up to the x1000 quantization.

    100 TB design: the explode is map-side; (lang, term) stats are one
    hash aggregation with partial aggs (count-distinct via Spark's
    two-phase expand); the per-language doc counts broadcast; the
    row_number ranks vocabulary-sized tables (distinct terms per
    language), never corpus-sized ones."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", "lang",
        F.explode(F.expr(words_spark())).alias("term"))
    stats = words.groupBy("lang", "term").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct("doc_id").alias("df"))
    nlang = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"))
    scored = (stats.join(F.broadcast(nlang), "lang")
              .withColumn("idf_x1000",
                          F.expr("n_docs * 1000 div df"))
              .withColumn("score",
                          F.col("tf") * F.col("idf_x1000")))
    win = Window.partitionBy("lang").orderBy(
        F.desc("score"), F.asc("term"))
    return (scored.withColumn(
                "rnk", F.row_number().over(win).cast("long"))
            .filter(F.col("rnk") <= TFIDF_TOP_K)
            .select("lang", "term", "tf", "df", "idf_x1000",
                    "score", "rnk")
            .orderBy("lang", "rnk"))


SQL_TFIDF_TOP_TERMS = f"""
WITH t AS (SELECT doc_id, lang, {words_duck()} AS ws FROM documents),
w AS (SELECT doc_id, lang, unnest(ws) AS term FROM t),
s AS (SELECT lang, term, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
      FROM w GROUP BY lang, term),
n AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
sc AS (SELECT s.lang, s.term, tf, df,
              (n_docs * 1000) // df AS idf_x1000,
              tf * ((n_docs * 1000) // df) AS score
       FROM s JOIN n USING (lang)),
r AS (SELECT *, row_number() OVER (
          PARTITION BY lang ORDER BY score DESC, term ASC) AS rnk
      FROM sc)
SELECT lang, term, tf, df, idf_x1000, score, rnk
FROM r WHERE rnk <= {TFIDF_TOP_K} ORDER BY lang, rnk
"""


# ----------------------------------------------------------------------
# Gopher-style repetition signals (Rae et al. 2021, app. A1.1)
# ----------------------------------------------------------------------

def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition quality signals in the style of the
    Gopher corpus filters (Rae et al. 2021, appendix A1.1): repeated
    words, the dominance of the single most frequent 2-gram, and the
    share of 3-gram occurrences that are repeats. Gopher's line-level
    signals do not apply (the corpus carries no line structure), and
    its *character*-fraction n-gram variants are replaced by the
    deterministic *occurrence*-fraction surrogates below (same
    monotone intent, no char-accounting ambiguity).

    Columns: ``dup_word_frac`` = 1 - distinct/total words;
    ``top_bigram_cnt``/``top_bigram_frac`` = multiplicity and
    occurrence share of the modal 2-gram; ``dup_trigram_frac`` =
    share of 3-gram occurrences whose gram occurs >= 2x in the doc.

    100 TB design: ZERO shuffle - every signal is per-document array
    math (array_sort + one linear fold / adjacency filter), entirely
    inside whole-stage-codegen expressions over the scan projection;
    the sort-adjacency trick replaces the naive O(n^2)
    count-each-element lambda so mega-documents stay O(n log n). The
    DuckDB oracle deliberately uses the opposite (relational
    explode + GROUP BY) formulation, so parity certifies the
    algebra, not a shared implementation."""
    docs = _t(spark, sf_dir, "documents")
    bg = ("IF(size(ws) < 2, array(), transform(sequence(0, size(ws)-2), "
          "i -> concat(element_at(ws, i+1), ' ', element_at(ws, i+2))))")
    tg = ("IF(size(ws) < 3, array(), transform(sequence(0, size(ws)-3), "
          "i -> concat(element_at(ws, i+1), ' ', element_at(ws, i+2), "
          "' ', element_at(ws, i+3))))")
    # modal multiplicity of a sorted array: one linear fold carrying
    # (prev, run, best); the per-step IF duplication is constant-size
    # (never the fold result itself - see the Catalyst HOF note in
    # docops._sql_let)
    top_cnt = (
        "aggregate(array_sort(bg), "
        "named_struct('prev', '', 'run', 0L, 'best', 0L), "
        "(acc, x) -> named_struct("
        "'prev', x, "
        "'run', IF(x = acc.prev, acc.run + 1L, 1L), "
        "'best', greatest(acc.best, IF(x = acc.prev, acc.run + 1L, 1L))), "
        "acc -> acc.best)")
    # occurrences belonging to duplicated grams: sort, then count
    # positions equal to a neighbour
    dup_occ = (
        "IF(size(st) = 0, 0L, CAST(size(filter(sequence(1, size(st)), "
        "i -> (i > 1 AND element_at(st, i) = element_at(st, i-1)) "
        "OR (i < size(st) AND element_at(st, i) = element_at(st, i+1))"
        ")) AS LONG))")
    base = (docs
            .select("doc_id", F.expr(words_spark()).alias("ws"))
            .withColumn("bg", F.expr(bg))
            .withColumn("st", F.expr("array_sort(" + tg + ")"))
            .select(
                "doc_id",
                F.size("ws").cast("long").alias("n_words"),
                F.size(F.array_distinct("ws")).cast("long").alias("n_dist"),
                F.size("bg").cast("long").alias("n_bigrams"),
                F.expr(top_cnt).alias("top_bigram_cnt"),
                F.size("st").cast("long").alias("n_trigrams"),
                F.expr(dup_occ).alias("dup_trigram_occ")))
    frac = lambda num, den: F.when(  # noqa: E731
        F.col(den) > 0, _r4(F.col(num) / F.col(den))).otherwise(F.lit(0.0))
    return (base.select(
                "doc_id", "n_words",
                F.when(F.col("n_words") > 0,
                       _r4(F.lit(1.0)
                           - _r4(F.col("n_dist") / F.col("n_words"))))
                .otherwise(F.lit(0.0)).alias("dup_word_frac"),
                "top_bigram_cnt",
                frac("top_bigram_cnt", "n_bigrams").alias("top_bigram_frac"),
                frac("dup_trigram_occ", "n_trigrams")
                .alias("dup_trigram_frac"))
            .orderBy("doc_id"))


SQL_REPETITION_SIGNALS = f"""
WITH d AS (SELECT doc_id, {words_duck()} AS ws FROM documents),
w AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
             CAST(len(list_distinct(ws)) AS BIGINT) AS n_dist
      FROM d),
bg AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS g
       FROM d, unnest(range(1, len(ws))) t(i)),
bga AS (SELECT doc_id, SUM(c) AS n_bg, MAX(c) AS top_bg
        FROM (SELECT doc_id, g, COUNT(*) AS c FROM bg
              GROUP BY doc_id, g)
        GROUP BY doc_id),
tg AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
       FROM d, unnest(range(1, len(ws) - 1)) t(i)),
tga AS (SELECT doc_id, SUM(c) AS n_tg,
               COALESCE(SUM(c) FILTER (WHERE c >= 2), 0) AS dup_tg
        FROM (SELECT doc_id, g, COUNT(*) AS c FROM tg
              GROUP BY doc_id, g)
        GROUP BY doc_id)
SELECT w.doc_id, w.n_words,
       CASE WHEN n_words > 0 THEN
         {_sql_r("1.0 - " + _sql_r("CAST(n_dist AS DOUBLE) / n_words", 4),
                 4)}
       ELSE 0.0 END AS dup_word_frac,
       CAST(COALESCE(top_bg, 0) AS BIGINT) AS top_bigram_cnt,
       CASE WHEN COALESCE(n_bg, 0) > 0 THEN
         {_sql_r("CAST(top_bg AS DOUBLE) / n_bg", 4)}
       ELSE 0.0 END AS top_bigram_frac,
       CASE WHEN COALESCE(n_tg, 0) > 0 THEN
         {_sql_r("CAST(dup_tg AS DOUBLE) / n_tg", 4)}
       ELSE 0.0 END AS dup_trigram_frac
FROM w LEFT JOIN bga USING (doc_id) LEFT JOIN tga USING (doc_id)
ORDER BY w.doc_id
"""


# ----------------------------------------------------------------------
# corpus-frequency boilerplate segment stripping (CCNet-style)
# ----------------------------------------------------------------------

BOILER_SEG_WORDS = 5
BOILER_MIN_DOCS = 2


def q_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency boilerplate removal, the CCNet/RefinedWeb
    hygiene pass re-shaped for a line-less corpus: cut each document's
    word stream into non-overlapping BOILER_SEG_WORDS-word segments
    (the stand-in for lines), mark any segment whose exact text occurs
    in >= BOILER_MIN_DOCS *distinct* documents as boilerplate, and
    emit the document with those segments removed (the tail words
    past the last full segment are always kept). ``clean_text`` is
    whitespace/case-normalized by construction (the word tokenizer).

    100 TB design: one hash aggregation keyed on the segment string
    for the distinct-doc counts (two-phase partial aggs, BOUNDED
    per-key state - deliberately not the single-scan
    window+collect_set form, which buffers every (doc_id) of a
    partition key and OOMs on a boilerplate segment shared by 10^9
    docs), one mark-join of the segments against the surviving
    boilerplate keys, one re-aggregation on doc_id to stitch kept
    segments back in order. The boilerplate table is heavy-hitter-
    shaped (only segments repeated across documents), so AQE
    broadcasts the build side when it fits; at web scale you would
    join on a 64-bit segment hash - here the string key keeps the
    oracle byte-identical. Nothing Python, nothing per-row."""
    K = BOILER_SEG_WORDS
    docs = _t(spark, sf_dir, "documents")
    segs_expr = (
        f"IF(size(ws) < {K}, array(), "
        f"transform(sequence(1, CAST(size(ws) / {K} AS INT)), "
        f"i -> array_join(slice(ws, (i-1)*{K} + 1, {K}), ' ')))")
    base = (docs
            .select("doc_id", F.expr(words_spark()).alias("ws"))
            .withColumn("segs", F.expr(segs_expr))
            .withColumn(
                "tail",
                F.expr(f"array_join(slice(ws, "
                       f"size(segs)*{K} + 1, size(ws)), ' ')"))
            .select("doc_id", "tail",
                    F.posexplode_outer("segs").alias("pos", "s")))
    boil = (base.filter(F.col("s").isNotNull())
            .groupBy("s")
            .agg(F.countDistinct("doc_id").alias("n_docs"))
            .filter(F.col("n_docs") >= BOILER_MIN_DOCS)
            .select(F.col("s").alias("bs")))
    marked = base.join(boil, base["s"] == boil["bs"], "left")
    boiler = F.col("bs").isNotNull()
    keep_seg = F.col("s").isNotNull() & F.col("bs").isNull()
    return (marked
            .groupBy("doc_id")
            .agg(F.count("s").cast("long").alias("n_segments"),
                 F.sum(boiler.cast("long")).alias("n_boiler_segments"),
                 F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(
                             F.when(keep_seg, F.struct("pos", "s")))),
                         lambda r: r["s"]),
                     " ").alias("kept"),
                 F.first("tail").alias("tail"))
            .select(
                "doc_id", "n_segments", "n_boiler_segments",
                F.array_join(
                    F.filter(F.array("kept", "tail"),
                             lambda x: x != ""), " ").alias("clean_text"))
            .orderBy("doc_id"))


SQL_STRIP_BOILERPLATE = f"""
WITH d AS (SELECT doc_id, {words_duck()} AS ws FROM documents),
base AS (SELECT doc_id, ws, len(ws) // {BOILER_SEG_WORDS} AS n_seg
         FROM d),
seg AS (SELECT doc_id, i AS pos,
               array_to_string(
                 ws[(i-1)*{BOILER_SEG_WORDS}+1 : i*{BOILER_SEG_WORDS}],
                 ' ') AS s
        FROM base, unnest(range(1, n_seg + 1)) t(i)),
boil AS (SELECT s FROM seg GROUP BY s
         HAVING COUNT(DISTINCT doc_id) >= {BOILER_MIN_DOCS}),
mk AS (SELECT seg.doc_id, pos, seg.s,
              (boil.s IS NOT NULL) AS is_b
       FROM seg LEFT JOIN boil ON seg.s = boil.s),
agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segments,
               CAST(SUM(CASE WHEN is_b THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_boiler_segments,
               string_agg(CASE WHEN is_b THEN NULL ELSE s END, ' '
                          ORDER BY pos) AS kept
        FROM mk GROUP BY doc_id),
tl AS (SELECT doc_id,
              array_to_string(
                ws[n_seg*{BOILER_SEG_WORDS}+1 : len(ws)], ' ') AS tail
       FROM base)
SELECT b.doc_id,
       COALESCE(a.n_segments, 0) AS n_segments,
       COALESCE(a.n_boiler_segments, 0) AS n_boiler_segments,
       COALESCE(array_to_string(
         list_filter([COALESCE(a.kept, ''), tl.tail], x -> x != ''),
         ' '), '') AS clean_text
FROM base b LEFT JOIN agg a USING (doc_id) JOIN tl USING (doc_id)
ORDER BY b.doc_id
"""


# ----------------------------------------------------------------------
# Corpus-trained bigram-LM scoring (CCNet-style perplexity filtering,
# Wenzek et al. 2020 §3.3) and per-source retention caps (RefinedWeb /
# C4-style domain hygiene)
# ----------------------------------------------------------------------

LM_BIGRAMS_SPARK = (
    "IF(size(ws) < 2, array(), transform(sequence(0, size(ws)-2), "
    "i -> named_struct('w1', element_at(ws, i+1), "
    "'w2', element_at(ws, i+2))))")


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram language-model score - the perplexity
    filter of a CCNet-style pipeline (Wenzek et al. 2020 train a
    KenLM n-gram model and keep the low-perplexity tercile; here the
    model is the corpus's own add-one-smoothed bigram LM, trained and
    applied in one job, which is the self-scoring variant used for
    outlier detection). ``avg_bits`` is the mean -log2 P(w2|w1) over
    the document's bigrams (= log2 of the per-token perplexity);
    higher = less like the corpus. P(w2|w1) = (c12+1)/(c1+V) with c12
    the corpus bigram count, c1 the bigram-context count and V the
    unigram vocabulary size. Quantized to 1e-4 bits exactly like the
    cosine queries (FLOOR(x*10000+0.5)/10000): last-ulp libm/
    summation-order differences sit ~9 orders below the grid.

    100 TB design: training IS aggregation - per-doc (w1,w2,n_occ)
    groups first (one shuffle on (doc_id,w1,w2), map-side partial
    aggs), the model then derives from those groups (vocabulary^2-
    bounded, NOT corpus-bounded, shuffle), so the raw bigram stream
    is never shuffled twice; `occ` is persisted because it feeds both
    the model build and the scoring join (a real pipeline writes the
    LM table once and scores many corpora against it). The scoring
    joins shuffle on (w1,w2) / w1 - hot heads ('the', 'of') are
    exactly the AQE skew-join case, noted here because at corpus
    scale the ctx join MUST run with skew splitting on. V is a 1-row
    broadcast."""
    docs = _t(spark, sf_dir, "documents")
    # _gen_bind + explode_outer: a plain alias/explode would let
    # CollapseProject and InferFiltersFromGenerate replant the word
    # regexp and the bigram transform per consumer (x6/x3 audited)
    base = _gen_bind(docs, ["doc_id"], F.expr(words_spark()), "ws")
    bg = (base.select(
              "doc_id",
              F.explode_outer(F.expr(LM_BIGRAMS_SPARK)).alias("b"))
          .filter(F.col("b").isNotNull())
          .select("doc_id", F.col("b.w1").alias("w1"),
                  F.col("b.w2").alias("w2")))
    occ = (bg.groupBy("doc_id", "w1", "w2")
           .agg(F.count(F.lit(1)).alias("n_occ"))
           .persist())
    model = occ.groupBy("w1", "w2").agg(F.sum("n_occ").alias("c12"))
    ctx = model.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = (base.select(F.explode("ws").alias("w"))
             .agg(F.countDistinct("w").cast("double").alias("v")))
    bits = -F.log2((F.col("c12") + F.lit(1.0))
                   / (F.col("c1") + F.col("v")))
    scored = (occ.join(model, ["w1", "w2"])
              .join(ctx, "w1")
              .crossJoin(F.broadcast(vocab)))
    per_doc = scored.groupBy("doc_id").agg(
        F.sum("n_occ").cast("long").alias("n_bigrams"),
        (F.sum(F.col("n_occ") * bits) / F.sum("n_occ")).alias("raw"))
    return (per_doc.select(
                "doc_id", "n_bigrams",
                (F.floor(F.col("raw") * 10000 + F.lit(0.5)) / 10000.0)
                .alias("avg_bits"))
            .orderBy("doc_id"))


SQL_LM_PERPLEXITY = f"""
WITH t AS (SELECT doc_id, {words_duck()} AS ws FROM documents),
b AS (SELECT doc_id,
             unnest(list_zip(ws[1:len(ws)-1], ws[2:len(ws)])) AS bg
      FROM t WHERE len(ws) >= 2),
o AS (SELECT doc_id, bg[1] AS w1, bg[2] AS w2, COUNT(*) AS n_occ
      FROM b GROUP BY ALL),
m AS (SELECT w1, w2, SUM(n_occ) AS c12 FROM o GROUP BY ALL),
cx AS (SELECT w1, SUM(c12) AS c1 FROM m GROUP BY w1),
v AS (SELECT CAST(COUNT(DISTINCT w) AS DOUBLE) AS v
      FROM (SELECT unnest(ws) AS w FROM t)),
s AS (SELECT doc_id, SUM(n_occ) AS nb,
             SUM(n_occ * -log2((c12 + 1.0) / (c1 + v))) / SUM(n_occ)
                 AS raw
      FROM o JOIN m USING (w1, w2) JOIN cx USING (w1), v
      GROUP BY doc_id)
SELECT doc_id, CAST(nb AS BIGINT) AS n_bigrams,
       FLOOR(raw * 10000 + 0.5) / 10000.0 AS avg_bits
FROM s ORDER BY doc_id
"""


SOURCE_CAP_K = 10      # keep at most K docs per source
SOURCE_CAP_SALT = 16   # stage-1 salt buckets (skew bound: salt*K rows
                       # per source reach the final single-key shuffle)


def q_source_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source retention cap - the domain-level hygiene pass of a
    crawl pipeline (C4 / RefinedWeb cap how much any one host may
    contribute): keep the top-``SOURCE_CAP_K`` documents per source
    by (n_chars DESC, doc_id ASC), a deterministic total order.

    100 TB design: a single row_number() over source would shuffle
    the WHOLE corpus onto one partition per source - a mega-domain
    (the crawl reality) breaks that. Two-phase top-K instead: stage 1
    ranks within (source, salt = pmod(hash(doc_id), SALT)) and keeps
    <= K per salt bucket, so at most SALT*K statistic-sized rows per
    source reach stage 2's per-source ranking. Correct because the
    global top-K under a total order is contained in the union of
    per-bucket top-Ks; deterministic because the order key
    (n_chars, doc_id) is unique per row. Both stages are window
    functions over exact keys - same plan shape Spark uses for AQE
    skew-join splitting, expressed manually because windows get no
    AQE help."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    order = [F.desc("n_chars"), F.asc("doc_id")]
    salted = docs.select(
        "doc_id", "source", "n_chars",
        F.pmod(F.hash("doc_id"), F.lit(SOURCE_CAP_SALT)).alias("salt"))
    w1 = Window.partitionBy("source", "salt").orderBy(*order)
    pre = (salted
           .withColumn("pre_rnk", F.row_number().over(w1))
           .filter(F.col("pre_rnk") <= SOURCE_CAP_K))
    w2 = Window.partitionBy("source").orderBy(*order)
    return (pre
            .withColumn("rnk", F.row_number().over(w2).cast("long"))
            .filter(F.col("rnk") <= SOURCE_CAP_K)
            .select("source", "rnk", "doc_id", "n_chars")
            .orderBy("source", "rnk"))


SQL_SOURCE_CAPS = f"""
WITH r AS (SELECT source, doc_id, n_chars,
                  row_number() OVER (PARTITION BY source
                      ORDER BY n_chars DESC, doc_id ASC) AS rnk
           FROM documents)
SELECT source, rnk, doc_id, n_chars
FROM r WHERE rnk <= {SOURCE_CAP_K} ORDER BY source, rnk
"""


# ----------------------------------------------------------------------
# sequence packing (GPT-style concat-and-chunk over the token stream)
# ----------------------------------------------------------------------

SEQ_LEN = 512          # context-window length in whitespace tokens
PACK_BUCKET = 64       # doc_id range per distributed-cumsum bucket


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining sequence packing, concat-and-chunk form: all docs'
    whitespace tokens are concatenated in doc_id order into one global
    stream and cut every SEQ_LEN tokens; each doc reports the sequence
    range it lands in and whether it straddles a cut.

    The global prefix sum is the scale hazard: a single
    ``Window.orderBy(doc_id)`` puts the whole corpus in ONE task. This
    plan is the textbook two-phase decomposition instead:

    1. per-bucket token totals (``floor(doc_id / PACK_BUCKET)`` is
       monotone in doc_id, so bucket boundaries respect the stream
       order) - a map-side-combined groupBy whose result is
       STATISTIC-sized (corpus_size / PACK_BUCKET rows);
    2. bucket prefix offsets via a window over that tiny aggregate
       (the single-partition exchange holds n_buckets rows, never
       corpus rows), broadcast-joined back; within-bucket prefix sums
       run in bounded partitions of <= PACK_BUCKET docs.

    The DuckDB oracle deliberately uses the opposite formulation - one
    naive global window cumsum - so agreement certifies the
    decomposition, not a shared plan."""
    return pack_over(_t(spark, sf_dir, "documents"))


def pack_over(docs: DataFrame, text_col: str = "text",
              seq_len: int = SEQ_LEN) -> DataFrame:
    """df-level packing plan over any (doc_id, <text_col>) frame -
    the production surface jobs/build_training_corpus.py composes
    after its hygiene/dedup gates. See q_pack_sequences for the
    two-phase-cumsum scale design."""
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
        .cast("long").alias("n_tokens"),
    ).withColumn("bucket", F.floor(F.col("doc_id") / PACK_BUCKET))
    bsum = toks.groupBy("bucket").agg(F.sum("n_tokens").alias("b_tok"))
    wb = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1)
    boff = bsum.select(
        "bucket",
        F.coalesce(F.sum("b_tok").over(wb), F.lit(0)).alias("b_off"))
    wi = Window.partitionBy("bucket").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1)
    start = F.col("b_off") + F.coalesce(F.sum("n_tokens").over(wi),
                                        F.lit(0))
    out = (toks.join(F.broadcast(boff), "bucket")
           .withColumn("tok_start", start.cast("long"))
           .withColumn("seq_first", F.floor(F.col("tok_start") / seq_len))
           .withColumn("seq_last", F.floor(
               (F.col("tok_start") + F.col("n_tokens") - 1) / seq_len))
           .withColumn("n_seqs", (F.col("seq_last") - F.col("seq_first")
                                  + F.lit(1)).cast("long")))
    return (out.select(
        "doc_id", "n_tokens", "tok_start", "seq_first", "seq_last",
        "n_seqs", (F.col("n_seqs") > 1).alias("crosses_boundary"))
        .orderBy("doc_id"))


SQL_PACK_SEQUENCES = rf"""
WITH t AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
             AS n_tokens
  FROM documents),
c AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS tok_start
  FROM t)
SELECT doc_id, n_tokens, tok_start,
       tok_start // {SEQ_LEN} AS seq_first,
       (tok_start + n_tokens - 1) // {SEQ_LEN} AS seq_last,
       CAST((tok_start + n_tokens - 1) // {SEQ_LEN}
            - tok_start // {SEQ_LEN} + 1 AS BIGINT) AS n_seqs,
       ((tok_start + n_tokens - 1) // {SEQ_LEN}
            - tok_start // {SEQ_LEN} + 1) > 1 AS crosses_boundary
FROM c ORDER BY doc_id
"""


# ----------------------------------------------------------------------
# incremental ingest (dedup-aware batch admission)
# ----------------------------------------------------------------------

INGEST_BATCH_MOD = 5   # doc_id % MOD == 0 -> incoming batch, else corpus


def q_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware incremental ingest: admit an incoming batch doc
    (doc_id % INGEST_BATCH_MOD == 0) against the existing corpus (the
    rest) unless it is (precedence order) an exact duplicate of an
    existing doc, an exact duplicate of an earlier batch doc
    (first-doc_id-wins within the batch), or a verified minhash-LSH
    near-duplicate (jaccard >= JACCARD_MIN) of an existing doc.

    Scale shape (the standard snapshot-ingest pass): the exact check
    is a hash join on md5 fingerprints - perfectly key-balanced, never
    a broadcast (the existing side is the full corpus); within-batch
    first-wins is one groupBy on the batch only; the near-dup check
    reuses the banded minhash plan (minhash_sig_df), batch bands
    against corpus bands on (band, bh), Jaccard verification on the
    candidate set only. Nothing all-pairs, nothing collected."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    # within-batch first-wins as a window over the fingerprint key:
    # one shuffle on h, md5 computed once per batch row (a groupBy +
    # self-join recomputes the scan - plan_audit caught md5 x6)
    bm = (docs.filter(F.col("doc_id") % INGEST_BATCH_MOD == 0)
          .select("doc_id", F.md5("text").alias("h"))
          .withColumn("first_id",
                      F.min("doc_id").over(Window.partitionBy("h"))))
    # _gen_bind: the join's derived isnotnull(h) would otherwise be
    # pushed below the projection and recompute md5 per corpus row
    em = (_gen_bind(docs.filter(F.col("doc_id") % INGEST_BATCH_MOD != 0),
                    [], F.md5("text"), "h")
          .distinct().withColumn("is_exact", F.lit(True)))

    sig = minhash_sig_df(spark, sf_dir).persist()
    bands = minhash_bands_df(sig)
    bb = bands.filter(F.col("doc_id") % INGEST_BATCH_MOD == 0)
    eb = bands.filter(F.col("doc_id") % INGEST_BATCH_MOD != 0)
    cand = (bb.alias("a").join(
        eb.alias("e"),
        (F.col("a.band") == F.col("e.band"))
        & (F.col("a.bh") == F.col("e.bh")))
        .select(F.col("a.doc_id").alias("bid"),
                F.col("e.doc_id").alias("eid"))
        .distinct())
    sh = (shingle_index_df(spark, sf_dir)
          .groupBy("doc_id").agg(F.collect_list("sh").alias("sh")))
    near = (cand
            .join(sh.select(F.col("doc_id").alias("bid"),
                            F.col("sh").alias("sh_a")), "bid")
            .join(sh.select(F.col("doc_id").alias("eid"),
                            F.col("sh").alias("sh_b")), "eid")
            .withColumn("jaccard", _r4(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b"))))
            .filter(F.col("jaccard") >= JACCARD_MIN)
            .groupBy(F.col("bid").alias("doc_id"))
            .agg(F.count(F.lit(1)).alias("n_near")))

    verdict = (
        F.when(F.col("is_exact"), F.lit("exact_dup"))
        .when(F.col("doc_id") != F.col("first_id"), F.lit("batch_dup"))
        .when(F.coalesce(F.col("n_near"), F.lit(0)) > 0,
              F.lit("near_dup"))
        .otherwise(F.lit("admitted")))
    return (bm.join(em, "h", "left")
            .join(near, "doc_id", "left")
            .select("doc_id", verdict.alias("verdict"),
                    F.coalesce(F.col("n_near"), F.lit(0))
                    .cast("long").alias("n_near"))
            .orderBy("doc_id"))


SQL_INCREMENTAL_INGEST = f"""
WITH t AS (SELECT doc_id, {words_duck()} AS ws FROM documents),
s AS (SELECT doc_id, {SHINGLES_DUCK} AS sh FROM t),
g AS (SELECT doc_id, sh, {SHASH_DUCK} AS hs FROM s),
sig AS (SELECT doc_id, sh, {MINSIG_DUCK} AS sig FROM g),
bands AS (
  SELECT doc_id, b.band, (sig[2*b.band + 1]*31 + sig[2*b.band + 2]) % {P}
         AS bh
  FROM sig, (SELECT unnest(range(0, {MINHASH_BANDS})) AS band) b),
cand AS (
  SELECT DISTINCT a.doc_id AS bid, e.doc_id AS eid
  FROM bands a JOIN bands e ON a.band = e.band AND a.bh = e.bh
  WHERE a.doc_id % {INGEST_BATCH_MOD} = 0
    AND e.doc_id % {INGEST_BATCH_MOD} != 0),
near AS (
  SELECT c.bid AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_near
  FROM cand c
  JOIN sig x ON x.doc_id = c.bid
  JOIN sig y ON y.doc_id = c.eid
  WHERE {_sql_r("CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)"
                " / len(list_distinct(list_concat(x.sh, y.sh)))", 4)}
        >= {JACCARD_MIN}
  GROUP BY c.bid),
bm AS (SELECT doc_id, md5(text) AS h FROM documents
       WHERE doc_id % {INGEST_BATCH_MOD} = 0),
em AS (SELECT DISTINCT md5(text) AS h FROM documents
       WHERE doc_id % {INGEST_BATCH_MOD} != 0),
firsts AS (SELECT h, MIN(doc_id) AS first_id FROM bm GROUP BY h)
SELECT bm.doc_id,
       CASE WHEN em.h IS NOT NULL THEN 'exact_dup'
            WHEN bm.doc_id != f.first_id THEN 'batch_dup'
            WHEN COALESCE(n.n_near, 0) > 0 THEN 'near_dup'
            ELSE 'admitted' END AS verdict,
       CAST(COALESCE(n.n_near, 0) AS BIGINT) AS n_near
FROM bm
LEFT JOIN em USING (h)
JOIN firsts f USING (h)
LEFT JOIN near n USING (doc_id)
ORDER BY doc_id
"""


# ----------------------------------------------------------------------
# semantic dedup (SemDeDup, Abbas et al. 2023, arXiv:2303.09540)
# ----------------------------------------------------------------------
# Embedding-space near-duplicate removal: cluster the corpus with the
# trained k-means quantizer, then drop any vector that has a
# smaller-id neighbor above SEMDEDUP_TAU cosine INSIDE ITS CLUSTER.
# The cluster blocking is the paper's core trick: all-pairs cosine is
# O(n^2/k) instead of O(n^2), and at production scale k grows with n
# (k ~ n / target_cell_size) so per-cell work stays bounded.
#
# The synthetic corpus has no natural near-dup embeddings (max real
# pair cosine ~0.51), so the query PLANTS them: every vec_id % 5 == 3
# vector gets a copy at vec_id + 100000 with a tiny deterministic
# per-dimension perturbation (+0.001 * (d % 3 - 1), exact IEEE double
# on both engines). Planted copies sit at cosine ~0.9999 vs their
# original - far above TAU and far above every real pair, so the
# 4-decimal rounding both sides apply can never flip a verdict.

SEMDEDUP_TAU = 0.99
SEMDEDUP_PLANT_MOD = 5
SEMDEDUP_PLANT_OFFSET = 100000

_PERTURB_SPARK = (
    "transform(sequence(0, 63), d -> CAST(element_at(embedding, d + 1) "
    "AS DOUBLE) + 0.001D * CAST(d % 3 - 1 AS DOUBLE))")

_TO_DOUBLE_SPARK = "transform({c}, x -> CAST(x AS DOUBLE))"


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table: trained-k-means cluster
    assignment (the exact integer Lloyd fit shared with
    q_ann_ivf_kmeans_topk - same memoized centroids), within-cluster
    pairwise cosine, drop-the-larger-id retention. Returns one row
    per vector: (vec_id, cell, is_dup).

    100 TB plan: the centroid MODEL broadcasts (k x dims ints); the
    assignment is one broadcast join + map-side min_by partial agg;
    the pair join shuffles each vector once per side keyed on cell
    and never materializes cross-cell pairs. The cosine is pure
    JVM-side array math (zip_with/aggregate) - zero Python."""
    emb, cent = _ivf_centroids(spark, sf_dir)
    base = emb.select(
        "vec_id",
        F.expr(_TO_DOUBLE_SPARK.format(c="embedding")).alias("emb"))
    plant = (emb.filter(F.col("vec_id") % SEMDEDUP_PLANT_MOD == 3)
             .select((F.col("vec_id") + SEMDEDUP_PLANT_OFFSET)
                     .alias("vec_id"),
                     F.expr(_PERTURB_SPARK).alias("emb")))
    allv = (base.unionByName(plant)
            .withColumn("qa", F.expr(_QINT.format(c="emb"))))
    d = allv.crossJoin(cent).withColumn("d2", F.expr(_L2Q))
    # the assignment feeds THREE consumers (both pair-join sides and
    # the final output join); unpersisted, Spark re-runs the
    # quantize+assign subplan per consumer (plan-audited x3-x4).
    # Materializing the cluster assignment is also what the SemDeDup
    # pipeline does at scale - it IS the clustered-corpus table.
    asg = (d.groupBy("vec_id").agg(
        F.expr("min_by(cid, struct(d2, cid))").alias("cell"),
        F.expr("any_value(emb)").alias("emb"))
        .persist())
    a = asg.select("cell", F.col("vec_id").alias("va"),
                   F.col("emb").alias("ea"))
    b = asg.select("cell", F.col("vec_id").alias("vb"),
                   F.col("emb").alias("eb"))
    cos = (F.expr(_DOT_SPARK)
           / (F.expr(_NORM_SPARK.format(c="ea"))
              * F.expr(_NORM_SPARK.format(c="eb"))))
    dups = (a.join(b, "cell")
            .filter(F.col("va") < F.col("vb"))
            .filter(_r4(cos) >= F.lit(SEMDEDUP_TAU))
            .select(F.col("vb").alias("vec_id")).distinct()
            .withColumn("is_dup", F.lit(True)))
    return (asg.join(dups, "vec_id", "left")
            .select("vec_id", F.col("cell").cast("long").alias("cell"),
                    F.coalesce("is_dup", F.lit(False)).alias("is_dup"))
            .orderBy("vec_id"))


SQL_SEMANTIC_DEDUP = f"""
WITH e AS (
  SELECT vec_id, embedding,
         list_transform(embedding,
             x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS qa
  FROM embeddings),
{_SQL_KPP_SEEDING},
{_SQL_KMEANS_ROUNDS},
av AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
  UNION ALL
  SELECT vec_id + {SEMDEDUP_PLANT_OFFSET},
         list_transform(range(0, 64), d ->
             CAST(embedding[d+1] AS DOUBLE)
             + 0.001 * CAST(d % 3 - 1 AS DOUBLE))
  FROM embeddings WHERE vec_id % {SEMDEDUP_PLANT_MOD} = 3),
aq AS (
  SELECT vec_id, emb,
         list_transform(emb,
             x -> CAST(ROUND(x * 1000, 0) AS BIGINT)) AS qa
  FROM av),
ad AS (
  SELECT a.vec_id, a.emb, c.cid,
         list_sum(list_transform(range(0, 64),
             i -> (a.qa[i+1] - c.qb[i+1]) * (a.qa[i+1] - c.qb[i+1])))
             AS d2
  FROM aq a, {_SQL_KMEANS_FINAL} c),
asg AS (
  SELECT vec_id, emb, cid AS cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY d2, cid) AS rn FROM ad)
  WHERE rn = 1),
dup AS (
  SELECT DISTINCT b.vec_id FROM asg a JOIN asg b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE {_sql_r('list_cosine_similarity(a.emb, b.emb)', 4)}
        >= {SEMDEDUP_TAU})
SELECT s.vec_id, CAST(s.cell AS BIGINT) AS cell,
       (d.vec_id IS NOT NULL) AS is_dup
FROM asg s LEFT JOIN dup d ON s.vec_id = d.vec_id
ORDER BY s.vec_id
"""


# ----------------------------------------------------------------------
# token-budget source mixing (training-data mixture control)
# ----------------------------------------------------------------------
# The data-mixing step every pre-training pipeline runs (The Pile /
# DoReMi style): each source gets a token BUDGET; sources over budget
# are downsampled to it, sources under budget keep everything. The
# keep decision is the exact-BIGINT hash-threshold rule
#     keep  iff  bucket(doc_id) * tot_tokens(source)
#                < target_tokens(source) * SAMPLE_MOD
# so the expected kept-token mass per source is min(tot, target) with
# no per-stratum ordering (rank-based quota sampling needs a total
# order inside each source - a straggler at web scale; this is one
# codegen filter against a broadcast statistic). Demo targets derive
# deterministically from the source name; production passes a real
# weight table through the same join.

MIX_BASE_TOKENS = 400  # target_s = BASE * (1 + src_index % 4)


def q_mix_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture sampling per source. Two phases: (1) one
    partial-aggregated groupBy for per-source token totals (the
    statistic - #sources rows, broadcast back); (2) one codegen
    filter over the scan. Shuffles only the statistic; at 100 TB the
    totals table is KBs regardless of corpus size."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
        .cast("long").alias("n_tokens"))
    tot = toks.groupBy("source").agg(
        F.sum("n_tokens").alias("tot_tokens"))
    target = (F.lit(MIX_BASE_TOKENS)
              * (1 + F.substring("source", 4, 10).cast("long") % 4)
              ).cast("long")
    return (toks.join(F.broadcast(tot), "source")
            .withColumn("target_tokens", target)
            .withColumn("bucket", F.expr(_sample_bucket_sql()))
            .filter(F.col("bucket") * F.col("tot_tokens")
                    < F.col("target_tokens") * F.lit(SAMPLE_MOD))
            .select("doc_id", "source", "n_tokens", "tot_tokens",
                    "target_tokens")
            .orderBy("doc_id"))


SQL_MIX_SOURCES = rf"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
             AS n_tokens
  FROM documents),
tot AS (
  SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens
  FROM t GROUP BY source)
SELECT doc_id, t.source, n_tokens, tot_tokens,
       CAST({MIX_BASE_TOKENS}
            * (1 + CAST(substr(t.source, 4, 10) AS BIGINT) % 4)
            AS BIGINT) AS target_tokens
FROM t JOIN tot ON t.source = tot.source
WHERE CAST((doc_id * 1103515245 + 12345) % 2147483648
           % {SAMPLE_MOD} AS BIGINT) * tot_tokens
      < {MIX_BASE_TOKENS}
        * (1 + CAST(substr(t.source, 4, 10) AS BIGINT) % 4)
        * {SAMPLE_MOD}
ORDER BY doc_id
"""


# ----------------------------------------------------------------------
# model-based quality filtering (multinomial Naive Bayes)
# ----------------------------------------------------------------------
# The trained-classifier quality gate of a GPT-3/CCNet-style pipeline
# (Brown et al. 2020 appendix A trains a logistic model over
# high-vs-low-quality reference corpora and filters by score; the
# same train-counts -> broadcast-model -> score-scan shape). Naive
# Bayes instead of logistic regression keeps TRAINING exact: the
# model is nothing but BIGINT token counts, so Spark and the DuckDB
# oracle derive bit-identical weights, and only the per-doc log-sum
# is float (quantized to 1e-4 like every cosine/perplexity query).
#
# Labels are planted deterministically: every doc_id % 7 == 0 text
# gets a spam-vocabulary suffix (tokens outside the corpus vocab), so
# the classes are separable and the held-out accuracy is checkable.
# Docs with doc_id % 3 == 0 are HELD OUT of training and scored by
# the trained model only - the train/serve split a real filter runs.

QC_SPAM_MOD = 7     # doc_id % 7 == 0 -> planted low-quality class
QC_HOLDOUT_MOD = 3  # doc_id % 3 == 0 -> scored, never trained on
_QC_SPAM_SUFFIX = (" free prize click winner bonus offer free prize"
                   " click winner")


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a multinomial NB spam/quality model on the non-held-out
    slice, score EVERY document: per-doc add-one-smoothed log-odds
    log(P1/P0) + sum_w n_w * [log((c1w+1)/(T1+V)) -
    log((c0w+1)/(T0+V))], pred = log_odds > 0.

    100 TB design: training IS aggregation (same as lm_perplexity) -
    per-doc word occurrences aggregate once on (doc_id, w) with
    map-side partials and persist (they feed BOTH the class-count
    model and the scoring join); class counts are vocabulary-bounded,
    priors/totals a 1-row broadcast. Scoring is one left join on w
    (unseen-in-train words still carry the smoothing constant via
    coalesce) + one per-doc sum - word heads are the AQE skew-join
    case, same note as the LM query."""
    docs = _t(spark, sf_dir, "documents")
    aug = F.when(F.col("doc_id") % QC_SPAM_MOD == 0,
                 F.concat(F.col("text"), F.lit(_QC_SPAM_SUFFIX))
                 ).otherwise(F.col("text"))
    lab = (F.col("doc_id") % QC_SPAM_MOD == 0).cast("int")
    base = (_gen_bind(docs.select("doc_id", aug.alias("text")),
                      ["doc_id"], F.expr(words_spark()), "ws")
            .withColumn("label", lab)
            .withColumn("is_train",
                        F.col("doc_id") % QC_HOLDOUT_MOD != 0))
    wocc = (base.select("doc_id", "label", "is_train",
                        F.explode_outer("ws").alias("w"))
            .filter(F.col("w").isNotNull())
            .groupBy("doc_id", "label", "is_train", "w")
            .agg(F.count(F.lit(1)).alias("n"))
            .persist())
    tr = wocc.filter(F.col("is_train"))
    cw = tr.groupBy("w").agg(
        F.sum(F.when(F.col("label") == 1, F.col("n"))
              .otherwise(F.lit(0))).alias("c1"),
        F.sum(F.when(F.col("label") == 0, F.col("n"))
              .otherwise(F.lit(0))).alias("c0"))
    tots = (tr.agg(
        F.sum(F.when(F.col("label") == 1, F.col("n"))
              .otherwise(F.lit(0))).cast("double").alias("t1"),
        F.sum(F.when(F.col("label") == 0, F.col("n"))
              .otherwise(F.lit(0))).cast("double").alias("t0"),
        F.countDistinct("w").cast("double").alias("v"),
        F.countDistinct(F.when(F.col("label") == 1, F.col("doc_id")))
        .cast("double").alias("d1"),
        F.countDistinct(F.when(F.col("label") == 0, F.col("doc_id")))
        .cast("double").alias("d0")))
    wt = (F.log(F.coalesce(F.col("c1"), F.lit(0)) + F.lit(1.0))
          - F.log(F.col("t1") + F.col("v"))
          - F.log(F.coalesce(F.col("c0"), F.lit(0)) + F.lit(1.0))
          + F.log(F.col("t0") + F.col("v")))
    scored = (wocc.join(cw, "w", "left")
              .crossJoin(F.broadcast(tots)))
    per_doc = scored.groupBy("doc_id", "label").agg(
        F.sum("n").cast("long").alias("n_tokens"),
        (F.log(F.first("d1") / F.first("d0"))
         + F.sum(F.col("n") * wt)).alias("raw"))
    return (per_doc.select(
                "doc_id", "label", "n_tokens",
                _r4(F.col("raw")).alias("log_odds"),
                (F.col("raw") > 0).cast("int").alias("pred"))
            .orderBy("doc_id"))


SQL_QUALITY_CLASSIFIER = f"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % {QC_SPAM_MOD} = 0
              THEN text || '{_QC_SPAM_SUFFIX}' ELSE text END AS t,
         CAST(doc_id % {QC_SPAM_MOD} = 0 AS INTEGER) AS label,
         doc_id % {QC_HOLDOUT_MOD} <> 0 AS is_train
  FROM documents),
w AS (
  SELECT doc_id, label, is_train,
         unnest(regexp_extract_all(lower(t), '{WORD_RE}')) AS w
  FROM d),
wocc AS (
  SELECT doc_id, label, is_train, w, COUNT(*) AS n
  FROM w GROUP BY ALL),
cw AS (
  SELECT w,
         SUM(CASE WHEN label = 1 THEN n ELSE 0 END) AS c1,
         SUM(CASE WHEN label = 0 THEN n ELSE 0 END) AS c0
  FROM wocc WHERE is_train GROUP BY w),
tots AS (
  SELECT CAST(SUM(CASE WHEN label = 1 THEN n ELSE 0 END) AS DOUBLE)
             AS t1,
         CAST(SUM(CASE WHEN label = 0 THEN n ELSE 0 END) AS DOUBLE)
             AS t0,
         CAST(COUNT(DISTINCT w) AS DOUBLE) AS v,
         CAST(COUNT(DISTINCT CASE WHEN label = 1 THEN doc_id END)
              AS DOUBLE) AS d1,
         CAST(COUNT(DISTINCT CASE WHEN label = 0 THEN doc_id END)
              AS DOUBLE) AS d0
  FROM wocc WHERE is_train),
pd AS (
  SELECT o.doc_id, o.label,
         CAST(SUM(o.n) AS BIGINT) AS n_tokens,
         ln(ANY_VALUE(t.d1) / ANY_VALUE(t.d0))
         + SUM(o.n * (ln(COALESCE(c.c1, 0) + 1.0) - ln(t.t1 + t.v)
                      - ln(COALESCE(c.c0, 0) + 1.0)
                      + ln(t.t0 + t.v))) AS raw
  FROM wocc o LEFT JOIN cw c ON o.w = c.w, tots t
  GROUP BY o.doc_id, o.label)
SELECT doc_id, label, n_tokens,
       {_sql_r('raw', 4)} AS log_odds,
       CAST(raw > 0 AS INTEGER) AS pred
FROM pd ORDER BY doc_id
"""


# ----------------------------------------------------------------------
# distributed BPE training (Sennrich et al. 2016, arXiv:1508.07909)
# ----------------------------------------------------------------------
# Learn the first BPE_MERGES merge rules from the corpus - the
# tokenizer-TRAINING step of a pre-training pipeline (the serving
# side, count_tokens over trained ranks, is chunking/wordpiece.py).
# The industrial-scale shape: all counting happens on the DISTINCT
# WORD table (vocabulary-bounded after one corpus aggregation, never
# corpus-bounded), each round reduces to a statistic-sized argmax,
# and the chosen pair applies everywhere as a deterministic fold.
#
# Word symbols are kept as a '#'-joined string ('h#e#l#l#o#_', '_'
# the end-of-word marker). A merge (a,b) applies via a left fold
# with sentinel accumulator: append '#'+x normally, append x bare
# when the accumulator ends with '#'+a and x = b - the '#' anchor
# makes "ends with symbol a" exact (no partial-symbol matches), and
# the fold is leftmost-non-overlapping exactly like reference BPE.
# Spark (aggregate) and DuckDB (list_reduce over a prepended
# sentinel) run the IDENTICAL step expression, so the learned merge
# tables agree bit-for-bit.

BPE_MERGES = 8

_BPE_SYM0 = ("concat(substring(regexp_replace({w}, '(.)', '#$1'), 2), "
             "'#_')")
_BPE_SYM0_DUCK = ("substr(regexp_replace({w}, '(.)', '#\\1', 'g'), 2)"
                  " || '#_'")

# pairs array from a bound '#'-joined symbol string attribute {s}
_BPE_PAIRS = (
    "CASE WHEN size(split({s}, '#')) >= 2 THEN "
    "transform(sequence(0, size(split({s}, '#')) - 2), "
    "i -> struct(element_at(split({s}, '#'), i + 1) AS l, "
    "element_at(split({s}, '#'), i + 2) AS r)) "
    "ELSE array() END")


def _bpe_fold_spark(a: str, b: str) -> str:
    """One merge round as a SQL fold over the split symbols; returns
    the new '#'-joined string. ``a``/``b`` are SQL-safe ([a-z0-9_])."""
    return (
        "substring(aggregate(split(sym, '#'), '§', (acc, x) -> "
        f"IF(endswith(acc, '#{a}') AND x = '{b}', concat(acc, x), "
        "concat(acc, '#', x))), 3)")


_BPE_CACHE: dict = {}


def bpe_train(wf: DataFrame, n_merges: int = BPE_MERGES) -> list:
    """Train ``n_merges`` BPE merges over a (sym, freq) distinct-word
    frame; returns [(rank, left, right, merged, pair_count)].

    Each round: explode adjacent symbol pairs (vocab-bounded rows),
    one partial-aggregated groupBy(pair) sum, deterministic argmax
    (count DESC, pair ASC - pure-ASCII symbols so collation is
    engine-independent), then the fold applies the 1-row MODEL as
    literals. localCheckpoint per round truncates lineage (the
    dup_clusters discipline) - without it the fold expression nests
    into the next round's two consumers and doubles per round. The
    merge table (the MODEL) is the only thing collected."""
    rows = []
    cur = wf.localCheckpoint(eager=True)
    for r in range(1, n_merges + 1):
        pairs = (_gen_bind(cur, ["sym", "freq"],
                           F.expr(_BPE_PAIRS.format(s="sym")), "ps")
                 .select("freq", F.explode_outer("ps").alias("p"))
                 .filter(F.col("p").isNotNull()))
        top = (pairs.groupBy(F.col("p.l").alias("l"),
                             F.col("p.r").alias("r"))
               .agg(F.sum("freq").alias("pair_count"))
               .orderBy(F.desc("pair_count"), "l", "r")
               .limit(1).collect())
        if not top:
            break
        t = top[0]
        rows.append((r, t["l"], t["r"], t["l"] + t["r"],
                     int(t["pair_count"])))
        cur = (cur.withColumn(
                   "sym", F.expr(_bpe_fold_spark(t["l"], t["r"])))
               .localCheckpoint(eager=True))
    return rows


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE_MERGES corpus BPE merges as a DataFrame
    (rank, left, right, merged, pair_count). Training is memoized per
    corpus fingerprint like the IVF centroids (a tokenizer is trained
    once, then serves every job).

    100 TB design: ONE corpus-bounded shuffle (word -> freq, map-side
    partial aggs); every round after that runs on the distinct-word
    table (vocabulary-bounded - millions of rows regardless of corpus
    size) with a statistic-sized argmax collect, the same
    model-per-round loop as distributed k-means/MLlib."""
    key = (sf_dir, _data_fingerprint(sf_dir, "documents"), BPE_MERGES)
    rows = _BPE_CACHE.get(key)
    if rows is None:
        docs = _t(spark, sf_dir, "documents")
        wf = (_gen_bind(docs, ["doc_id"], F.expr(words_spark()), "ws")
              .select(F.explode_outer("ws").alias("w"))
              .filter(F.col("w").isNotNull())
              .groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
              .select(F.expr(_BPE_SYM0.format(w="w")).alias("sym"),
                      "freq"))
        rows = _BPE_CACHE[key] = bpe_train(wf)
    return (spark.createDataFrame(
        rows, "rank long, left string, right string, merged string, "
              "pair_count long")
        .orderBy("rank"))


def bpe_encode_over(docs: DataFrame, merges: list,
                    text_col: str = "text") -> DataFrame:
    """Serve a TRAINED merge table corpus-wide - the encode half of
    the tokenizer loop (train with bpe_train/q_bpe_train, then count
    real BPE tokens per document with the learned vocabulary).
    ``merges`` is bpe_train's [(rank, left, right, merged, count)]
    list; each merge applies in rank order via the IDENTICAL
    sentinel-anchored leftmost-non-overlapping fold the trainer used,
    so encode(train(corpus)) segments exactly like the single-process
    reference algorithm (pinned in tests). Returns (doc_id, n_words,
    n_bpe_tokens).

    100 TB design: the merge folds run on the DISTINCT-word table
    (vocabulary-bounded - millions of rows regardless of corpus
    size; localCheckpoint per merge keeps the fold chain flat, the
    bpe_train discipline), then the per-(doc, word) occurrence table
    joins the word -> piece-count map and re-aggregates - the same
    count-on-vocabulary-then-join shape as the trainer, with no
    corpus-sized state and no Python."""
    words = (_gen_bind(docs, ["doc_id"],
                       F.expr(words_spark(text_col)), "ws")
             .select("doc_id", F.explode_outer("ws").alias("w"))
             .filter(F.col("w").isNotNull()))
    occ = words.groupBy("doc_id", "w").agg(
        F.count(F.lit(1)).alias("n_occ"))
    wl = (words.select("w").distinct()
          .withColumn("sym", F.expr(_BPE_SYM0.format(w="w")))
          .localCheckpoint(eager=True))
    for _, left, right, _, _ in sorted(merges):
        wl = (wl.withColumn("sym",
                            F.expr(_bpe_fold_spark(left, right)))
              .localCheckpoint(eager=True))
    pieces = wl.select(
        "w", F.size(F.split("sym", "#")).alias("n_pieces"))
    return (occ.join(pieces, "w")
            .groupBy("doc_id")
            .agg(F.sum("n_occ").cast("long").alias("n_words"),
                 F.sum(F.col("n_occ") * F.col("n_pieces"))
                 .cast("long").alias("n_bpe_tokens")))


def _sql_bpe_round(prev: str, r: int) -> str:
    """One BPE round as CTE text: pair counts from w{r-1}, argmax
    t{r}, merged word table w{r} (fold applied via the 1-row cross
    join - the CTE twin of the Spark literal fold)."""
    return f"""
p{r} AS (
  SELECT pr.l AS l, pr.r AS r,
         CAST(SUM(freq) AS BIGINT) AS pair_count FROM (
    SELECT unnest(list_transform(range(1, len(string_split(sym, '#'))),
               i -> struct_pack(l := string_split(sym, '#')[i],
                                r := string_split(sym, '#')[i+1])))
               AS pr,
           freq
    FROM {prev} WHERE len(string_split(sym, '#')) >= 2)
  GROUP BY pr.l, pr.r),
t{r} AS (
  SELECT l, r, l || r AS merged, pair_count,
         CAST({r} AS BIGINT) AS rank
  FROM p{r} ORDER BY pair_count DESC, l, r LIMIT 1),
w{r} AS (
  SELECT substr(list_reduce(list_prepend('§',
             string_split(w.sym, '#')), (acc, x) ->
             CASE WHEN ends_with(acc, '#' || t.l) AND x = t.r
                  THEN acc || x ELSE acc || '#' || x END), 3) AS sym,
         w.freq
  FROM {prev} w, t{r} t)"""


def _sql_bpe_train() -> str:
    rounds = ",".join(_sql_bpe_round(f"w{i - 1}", i)
                      for i in range(1, BPE_MERGES + 1))
    union = " UNION ALL ".join(
        f'SELECT rank, l AS "left", r AS "right", merged, pair_count '
        f"FROM t{i}" for i in range(1, BPE_MERGES + 1))
    return f"""
WITH wf AS (
  SELECT w, COUNT(*) AS freq FROM (
    SELECT unnest(regexp_extract_all(lower(text), '{WORD_RE}')) AS w
    FROM documents)
  GROUP BY w),
w0 AS (SELECT {_BPE_SYM0_DUCK.format(w='w')} AS sym, freq FROM wf),
{rounds}
{union} ORDER BY rank
"""


SQL_BPE_TRAIN = _sql_bpe_train()


# ----------------------------------------------------------------------
REGISTRY = {
    "quality_scores": q_quality_scores,
    "lang_id": q_lang_id,
    "doc_fingerprints": q_doc_fingerprints,
    "minhash_lsh_dups": q_minhash_lsh_dups,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "simhash_dups": q_simhash_dups,
    "embedding_top_pairs": q_embedding_top_pairs,
    "ann_lsh_topk": q_ann_lsh_topk,
    "ann_ivf_kmeans_topk": q_ann_ivf_kmeans_topk,
    "dup_clusters": q_dup_clusters,
    "dedup_retention": q_dedup_retention,
}

ORACLES = {
    "quality_scores": SQL_QUALITY_SCORES,
    "lang_id": SQL_LANG_ID,
    "doc_fingerprints": SQL_DOC_FINGERPRINTS,
    "minhash_lsh_dups": SQL_MINHASH_LSH_DUPS,
    "ngram_jaccard_pairs": SQL_NGRAM_JACCARD_PAIRS,
    "simhash_dups": SQL_SIMHASH_DUPS,
    "embedding_top_pairs": SQL_EMBEDDING_TOP_PAIRS,
    "ann_lsh_topk": SQL_ANN_LSH_TOPK,
    "ann_ivf_kmeans_topk": SQL_ANN_IVF_KMEANS_TOPK,
    "dup_clusters": sql_dup_clusters(),
    "dedup_retention": sql_dedup_retention(),
    "dedup_retain_modes": SQL_DEDUP_RETAIN_MODES,
    "pii_scrub": SQL_PII_SCRUB,
    "contamination_screen": SQL_CONTAMINATION_SCREEN,
    "stratified_sample": SQL_STRATIFIED_SAMPLE,
    "dup_passages": SQL_DUP_PASSAGES,
    "clean_corpus": SQL_CLEAN_CORPUS,
    "tfidf_top_terms": SQL_TFIDF_TOP_TERMS,
    "repetition_signals": SQL_REPETITION_SIGNALS,
    "strip_boilerplate": SQL_STRIP_BOILERPLATE,
    "lm_perplexity": SQL_LM_PERPLEXITY,
    "source_caps": SQL_SOURCE_CAPS,
    "pack_sequences": SQL_PACK_SEQUENCES,
    "incremental_ingest": SQL_INCREMENTAL_INGEST,
    "semantic_dedup": SQL_SEMANTIC_DEDUP,
    "mix_sources": SQL_MIX_SOURCES,
    "quality_classifier": SQL_QUALITY_CLASSIFIER,
    "bpe_train": SQL_BPE_TRAIN,
    "exact_substr_dedup": SQL_EXACT_SUBSTR_DEDUP,
    "dsir_weights": SQL_DSIR_WEIGHTS,
}
