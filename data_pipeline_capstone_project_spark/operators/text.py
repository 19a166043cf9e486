"""Text-analysis operators over the ``documents`` table (BASELINE.json
north-star extensions: language-ID, quality scoring, token counting,
document fingerprinting).

Everything is a single fused projection of built-in array/string
expressions - no UDFs, no shuffle (except where an aggregate is the
point). At 100 TB these run scan-bound at parquet read speed with
full column pruning (only ``doc_id``/``text`` leave the scan).

Determinism rules (shared with the DuckDB oracles):
- ratios/scores derive from integer counts via one double division;
- hashes are md5-based (identical across engines), folded with
  explicit modular arithmetic that cannot overflow int64.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.readers import load_table

#: Marker stopwords per language for the n-gram/stopword language-ID
#: heuristic. On real corpora these are the usual high-frequency
#: function words; the driver's synthetic vocabulary only contains
#: English-ish tokens, so the mechanics (per-language hit counts ->
#: deterministic argmax) are what is exercised/verified.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "is"),
    "es": ("el", "la", "de", "que", "y", "los"),
    "de": ("der", "die", "und", "das", "ist", "ein"),
    "fr": ("le", "la", "et", "les", "des", "une"),
}

STOPWORDS = LANG_MARKERS["en"]

MOD_PRIME = 1_000_000_007


def tokens_col(text: Column = None) -> Column:
    return F.split(text if text is not None else F.col("text"), r"\s+")


def md5_word_hash(col: Column, seed: Column | None = None) -> Column:
    """60-bit integer hash from md5 - the cross-engine-portable hash
    family (DuckDB twin: ``('0x' || substr(md5(x), 1, 15))::BIGINT``).
    ``seed`` prefixes the input to derive independent family members."""
    inp = F.concat(seed.cast("string"), F.lit("|"), col) if seed is not None else col
    return F.conv(F.substring(F.md5(inp), 1, 15), 16, 10).cast("long")


#: Mask keeping xx_word_hash in [0, 2^60) - same non-negative domain as
#: md5_word_hash, so downstream modular folds (e.g. ``(h % M) * 31 + h2``)
#: keep the exact int64-overflow-free bounds they were sized for.
XX_HASH_MASK = (1 << 60) - 1


def xx_word_hash(col: Column, seed: Column | None = None) -> Column:
    """60-bit integer hash from xxhash64 - the FAST in-engine hash for
    count/join-only paths (r15, guide #4: one native 64-bit hash vs
    md5's digest + hex-substring + string->long conv per gram; the md5
    chain measured ~2.5 s of pure hash CPU per gram query at sf0.1).

    NOT cross-engine-portable: the DuckDB oracles keep md5. A query may
    use this family ONLY when no hash value (or hash-ordering artifact,
    e.g. a min-hash) escapes to its output - equality of RESULTS then
    relies solely on hash-injectivity over the observed key set, which
    holds for both families except under a collision (~n^2/2^61; about
    4e-9 for the ~1e6 distinct grams at sf0.1, and verified empirically
    against the md5 oracle at sf0.001/0.01/0.1). Value-exposing paths
    (winnowing/doc_fingerprint minima, minhash/simhash signatures,
    bloom bit positions, dsir/feature bucket ids) MUST stay on
    md5_word_hash."""
    inp = F.concat(seed.cast("string"), F.lit("|"), col) if seed is not None else col
    return F.xxhash64(inp).bitwiseAND(F.lit(XX_HASH_MASK))


def xx_gram_slice_hashes(toks: Column, n: int) -> Column:
    """All n-gram hashes of a token-array column as 60-bit xxhash64
    values, hashing each n-token SLICE directly (xxhash64 folds over
    array elements) - no gram string is ever built. Decomposed at
    sf0.1 (3-run minima, r15): tokenize 0.21 s, + gram-string
    construction via array_join + distinct 3.22 s, + md5 3.78 s;
    slice-hashing the same grams 0.40 s - the string build, not the
    digest, was the gram family's CPU sink.

    ``toks`` MUST be a materialized column reference (stage it with
    its own select), never the raw split() expression: higher-order
    lambdas re-evaluate outer EXPRESSIONS per element (README lesson
    #1), and the slice below references ``toks`` inside the lambda.

    Same safety contract as :func:`xx_word_hash`: count/join-only
    paths, md5 oracles match under hash-injectivity.

    Docs shorter than ``n`` tokens yield an EMPTY array (the guarded
    branch below): the ``sequence(1, greatest(size-n+1, 0))`` spelling
    the md5 shape used produces a DESCENDING [1, 0] there and
    slice(…, 0, …) raises - latent on the fixture corpora (no doc is
    that short) but exposed by the r15 unit test."""
    hashes = F.transform(
        F.sequence(F.lit(1), F.size(toks) - n + 1),
        lambda i: F.xxhash64(F.slice(toks, i, n)).bitwiseAND(F.lit(XX_HASH_MASK)),
    )
    return F.when(F.size(toks) >= n, hashes).otherwise(
        F.array().cast("array<long>")
    )


def quality_score_col(
    n_tokens: Column | None = None,
    n_chars: Column | None = None,
    punct: Column | None = None,
    sw: Column | None = None,
) -> Column:
    """The composite quality score (length-saturating x punctuation-
    penalized x stopword-boosted) as a pure column expression over the
    ``text`` column - shared by text_stats_query and the per-language
    adaptive filter so both compute bit-identical float64 scores.

    The four ingredient counts may be passed as ALREADY-STAGED columns
    (r15): a caller that also emits the ratios otherwise duplicates
    every subtree (token split, stopword filter, punct regex) inside
    one projection. The float expression tree over the integer inputs
    is identical either way, so the score stays bit-identical."""
    toks = tokens_col()
    if n_tokens is None:
        n_tokens = F.size(toks)
    if n_chars is None:
        n_chars = F.length("text")
    if punct is None:
        punct = n_chars - F.length(F.regexp_replace("text", "[^a-zA-Z0-9 ]", ""))
    if sw is None:
        sw = F.size(F.filter(toks, lambda w: w.isin(*STOPWORDS)))
    return (
        F.least(F.lit(1.0), n_tokens / F.lit(100.0))
        * (F.lit(1.0) - punct / n_chars)
        * (F.lit(0.25) + F.lit(0.75) * F.least(F.lit(1.0), (sw / n_tokens) * 5))
    )


def text_stats_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features: token count, mean token length,
    punctuation ratio, stopword ratio, and a composite quality score
    (length-saturating x punctuation-penalized x stopword-boosted).

    r15: the token array and the four ingredient counts are staged in
    their own selects - the old single projection evaluated the split
    and the stopword filter once per consuming expression (the quality
    score alone duplicated all of them)."""
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select("doc_id", "text", tokens_col().alias("toks"))
    toks = F.col("toks")
    n_chars = F.length("text")
    counted = staged.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.aggregate(
            F.transform(toks, lambda w: F.length(w)), F.lit(0), lambda a, x: a + x
        ).alias("tok_len_sum"),
        n_chars.alias("n_chars"),
        (
            n_chars - F.length(F.regexp_replace("text", "[^a-zA-Z0-9 ]", ""))
        ).alias("punct"),
        F.size(F.filter(toks, lambda w: w.isin(*STOPWORDS))).alias("sw"),
    )
    quality = quality_score_col(
        n_tokens=F.col("n_tokens"),
        n_chars=F.col("n_chars"),
        punct=F.col("punct"),
        sw=F.col("sw"),
    )
    return counted.select(
        "doc_id",
        F.col("n_tokens").alias("n_tokens"),
        (F.col("tok_len_sum") / F.col("n_tokens")).alias("avg_token_len"),
        (F.col("punct") / F.col("n_chars")).alias("punct_ratio"),
        (F.col("sw") / F.col("n_tokens")).alias("stopword_ratio"),
        quality.alias("quality_score"),
    )


def _sw_list(words: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in words)


TEXT_STATS_ORACLE_SQL = f"""
WITH tok AS (
  SELECT doc_id, text, string_split_regex(text, '\\s+') AS w FROM documents
)
SELECT doc_id,
       len(w) AS n_tokens,
       CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) / len(w) AS avg_token_len,
       (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))
         / length(text) AS punct_ratio,
       len(list_filter(w, x -> x IN ({_sw_list(STOPWORDS)}))) / len(w)
         AS stopword_ratio,
       least(1.0, len(w) / 100.0)
         * (1.0 - (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))) / length(text))
         * (0.25 + 0.75 * least(1.0,
              (len(list_filter(w, x -> x IN ({_sw_list(STOPWORDS)}))) / len(w)) * 5))
         AS quality_score
FROM tok
"""


def lang_id_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language ID: per-language hit counts over the
    token list, argmax with a fixed language-preference tiebreak."""
    docs = load_table(spark, sf_dir, "documents")
    # r15: scores staged as real columns - the old single projection
    # re-spelled each size(filter(split(...))) tree once per reference
    # (the argmax when-chain reads every score up to four times).
    staged = docs.select("doc_id", "lang", tokens_col().alias("toks"))

    def marker_hits(words: tuple[str, ...]) -> Column:
        # (closure factory: a default-arg lambda would be read by
        # F.filter as the two-arg (element, index) form)
        return F.size(F.filter(F.col("toks"), lambda w: w.isin(*words)))

    scored = staged.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[
            marker_hits(words).alias(f"score_{lang}")
            for lang, words in LANG_MARKERS.items()
        ],
    )
    scores = {lang: F.col(f"score_{lang}") for lang in LANG_MARKERS}
    pred = (
        F.when(
            (scores["en"] >= scores["es"])
            & (scores["en"] >= scores["de"])
            & (scores["en"] >= scores["fr"]),
            "en",
        )
        .when((scores["es"] >= scores["de"]) & (scores["es"] >= scores["fr"]), "es")
        .when(scores["de"] >= scores["fr"], "de")
        .otherwise("fr")
    )
    return scored.select(
        "doc_id",
        "labeled_lang",
        *[f"score_{lang}" for lang in LANG_MARKERS],
        pred.alias("pred_lang"),
    )


_SCORE = {
    lang: f"len(list_filter(w, x -> x IN ({_sw_list(words)})))"
    for lang, words in LANG_MARKERS.items()
}

LANG_ID_ORACLE_SQL = f"""
WITH tok AS (
  SELECT doc_id, lang, string_split_regex(text, '\\s+') AS w FROM documents
), scored AS (
  SELECT doc_id, lang,
         {_SCORE['en']} AS score_en, {_SCORE['es']} AS score_es,
         {_SCORE['de']} AS score_de, {_SCORE['fr']} AS score_fr
  FROM tok
)
SELECT doc_id, lang AS labeled_lang, score_en, score_es, score_de, score_fr,
       CASE WHEN score_en >= score_es AND score_en >= score_de
                 AND score_en >= score_fr THEN 'en'
            WHEN score_es >= score_de AND score_es >= score_fr THEN 'es'
            WHEN score_de >= score_fr THEN 'de'
            ELSE 'fr' END AS pred_lang
FROM scored
"""

#: BPE-ish pre-tokenizer: letter runs | digit runs | single non-space
#: symbol (the standard GPT-style pre-split shape, minus unicode
#: categories the synthetic corpus doesn't contain).
BPE_PATTERN = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def token_count_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and BPE-ish regex
    pre-tokens - the unit-economics columns of an LLM data pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(tokens_col()).alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_PATTERN), 0)).alias("bpe_tokens"),
        F.length("text").alias("chars"),
    )


TOKEN_COUNT_ORACLE_SQL = f"""
SELECT doc_id,
       len(string_split_regex(text, '\\s+')) AS ws_tokens,
       len(regexp_extract_all(text, '{BPE_PATTERN}')) AS bpe_tokens,
       length(text) AS chars
FROM documents
"""


def fingerprint_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: whole-text md5 plus an order-sensitive
    rolling polynomial hash over the token stream
    (``h = (h*31 + md5_60bit(w)) mod p`` - content-defined, stable
    across engines; the md5 makes the per-word hash portable)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.lower(F.trim("text")))
    word_hashes = F.transform(toks, lambda w: md5_word_hash(w) % MOD_PRIME)
    roll = F.aggregate(
        word_hashes,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * 31 + h) % MOD_PRIME,
    )
    return docs.select(
        "doc_id",
        F.md5(F.lower(F.trim("text"))).alias("md5_fp"),
        roll.alias("roll_fp"),
    )


FINGERPRINT_ORACLE_SQL = f"""
SELECT doc_id,
       md5(lower(trim(text))) AS md5_fp,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(string_split_regex(lower(trim(text)), '\\s+'),
             w -> ('0x' || substr(md5(w), 1, 15))::BIGINT % {MOD_PRIME})),
         (a, b) -> (a * 31 + b) % {MOD_PRIME}) AS roll_fp
FROM documents
"""


VOCAB_TOP_K = 50


def vocab_top_terms_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-50 terms by total frequency, with
    document frequency. Two-level aggregation - (term, doc) partial
    counts, then term totals - which is distinct-free: at 100 TB this
    is one map-side-combinable shuffle on term, no count-distinct
    expansion. The top-K is ``orderBy(...).limit(K)``, which Spark
    compiles to TakeOrderedAndProject: each partition keeps a K-row
    heap and the driver merges K-row heads, so the web-scale distinct-
    term table (billions of rows) never funnels through a single
    partition. Rank is then derived with a window over only the K
    surviving rows (bounded, 50 rows)."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode_outer(tokens_col()).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count("*").alias("tf"))
    )
    terms = tf.groupBy("term").agg(
        F.sum("tf").alias("term_freq"), F.count("*").alias("doc_freq")
    )
    top = terms.orderBy(
        F.col("term_freq").desc(), F.col("term").asc()
    ).limit(VOCAB_TOP_K)
    # Window over <= VOCAB_TOP_K rows only - bounded by construction.
    w = Window.orderBy(F.col("term_freq").desc(), F.col("term").asc())
    return top.withColumn("rank", F.row_number().over(w))


_ORACLE_TF = """
tok AS (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS term
        FROM documents),
tf AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2)
"""

VOCAB_ORACLE_SQL = f"""
WITH {_ORACLE_TF},
terms AS (SELECT term, sum(tf)::BIGINT AS term_freq, count(*) AS doc_freq
          FROM tf GROUP BY 1)
SELECT term, term_freq, doc_freq, rank FROM (
  SELECT *, row_number() OVER (ORDER BY term_freq DESC, term ASC) AS rank
  FROM terms
) WHERE rank <= {VOCAB_TOP_K}
"""


TFIDF_TOP = 3


def tfidf_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 terms by tf-idf. The idf is the rational
    form N/df (no log), so the score is one double division of exact
    integers - bit-identical across engines. Plan shape at scale: the
    (term, doc) partial count shuffles once on term to meet the
    df table (itself a rollup of the same shuffle), and the per-doc
    rank window re-shuffles only the surviving (term, doc, score)
    triples on doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    tf = (
        docs.select("doc_id", F.explode_outer(tokens_col()).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            ((F.col("tf") * F.col("n_docs")) / F.col("df")).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term").asc())
    return scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= TFIDF_TOP
    )


TFIDF_ORACLE_SQL = f"""
WITH {_ORACLE_TF},
dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT doc_id, term, tf, df, score, rn FROM (
  SELECT t.doc_id, t.term, t.tf, d.df,
         (t.tf * n.n_docs) / d.df AS score,
         row_number() OVER (PARTITION BY t.doc_id
                            ORDER BY (t.tf * n.n_docs) / d.df DESC,
                                     t.term ASC) AS rn
  FROM tf t JOIN dfx d USING (term), n
) WHERE rn <= {TFIDF_TOP}
"""


# --- Heavy hitters: Misra-Gries sketch + exact verification ----------------

MG_COUNTERS = 256         # memory bound per partition (counters kept)
HH_FRACTION = 0.005       # report terms with freq > 0.5% of all tokens
# Guarantee needs HH_FRACTION > 1/MG_COUNTERS: a term missing from
# EVERY partition sketch has global count <= sum_p n_p/(k+1) < n/k
# = n/256 < 0.005 n, so no true heavy hitter can be missed.
if HH_FRACTION <= 1.0 / MG_COUNTERS:
    raise ValueError("HH_FRACTION must exceed 1 / MG_COUNTERS")


def _mg_partition(batches):
    """Weighted Misra-Gries over one partition's Arrow batches,
    vectorized: each batch is collapsed with ``value_counts`` (numpy,
    no per-token Python), then merged into the counter dict; when the
    dict exceeds MG_COUNTERS, the (k+1)-th largest count is subtracted
    from every counter and non-positive ones dropped - one reduction
    event removes >= (k+1)*m occurrences, so total per-term undercount
    is <= n_p/(k+1), the classic MG bound."""
    import pandas as pd

    counters: dict[str, int] = {}
    for pdf in batches:
        for term, cnt in pdf["term"].value_counts().items():
            counters[term] = counters.get(term, 0) + int(cnt)
        if len(counters) > MG_COUNTERS:
            m = sorted(counters.values(), reverse=True)[MG_COUNTERS]
            counters = {t: c - m for t, c in counters.items() if c > m}
    yield pd.DataFrame({"term": list(counters.keys())})


def heavy_hitters_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent terms (> HH_FRACTION of all tokens) via sketch-then-
    verify: a Misra-Gries pass bounds per-task memory to MG_COUNTERS
    counters REGARDLESS of vocabulary size, the tiny candidate set is
    broadcast back, and an exact recount keeps true heavy hitters
    only.

    Why not plain groupBy: at 100 TB with an open vocabulary the
    (term) shuffle is the cost - here the full-corpus aggregation
    happens once, restricted to |candidates| <= partitions x
    MG_COUNTERS terms via a broadcast semi-join BEFORE the shuffle.
    MG's no-false-negative guarantee (a term absent from every
    partition sketch has global count < n/MG_COUNTERS, below the 0.5%
    threshold) makes the verified output EXACTLY the true heavy
    hitters - deterministic, hence oracle-checkable, unlike
    count-min-style sketches that only bound error."""
    docs = load_table(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    terms = docs.select(F.explode_outer(tokens_col()).alias("term"))
    cands = terms.mapInPandas(_mg_partition, schema="term string").distinct()
    verified = (
        terms.join(F.broadcast(cands), "term", "left_semi")
        .groupBy("term")
        .agg(F.count("*").alias("term_freq"))
    )
    # r15 job fold (VERDICT item 4): the total term count used to be a
    # separate driver action (terms.count() - a second scan + the
    # repartition shuffle again). It equals sum over docs of the
    # explode_outer row count (size(toks), or 1 for the null row an
    # empty/null array emits), which one map-combinable aggregate
    # computes from the un-exploded scan; broadcast as a 1-row
    # relation, the threshold comparison joins into the SAME action.
    # floor() == the int() truncation the driver-side literal applied
    # (counts are non-negative).
    toks = tokens_col()
    total = docs.agg(
        F.sum(
            F.when(F.size(toks) > 0, F.size(toks)).otherwise(F.lit(1))
        ).alias("n_terms")
    )
    return (
        verified.crossJoin(F.broadcast(total))
        .filter(
            F.col("term_freq")
            > F.floor(F.col("n_terms") * F.lit(HH_FRACTION)).cast("long")
        )
        .select("term", "term_freq")
    )


HEAVY_HITTERS_ORACLE_SQL = f"""
WITH tok AS (
  SELECT unnest(string_split_regex(text, '\\s+')) AS term FROM documents
),
tot AS (SELECT count(*) AS n FROM tok)
SELECT term, count(*) AS term_freq
FROM tok
GROUP BY term
HAVING count(*) > (SELECT CAST(n * {HH_FRACTION} AS BIGINT) FROM tot)
"""


# --- winnowing fingerprints ------------------------------------------------

WINNOW_K = 4  # tokens per k-gram
WINNOW_W = 4  # winnow window: consecutive gram hashes per min-selection


def winnowing_fingerprint_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (the MOSS local document-fingerprinting
    algorithm: Schleimer, Wilkerson, Aiken, SIGMOD'03): hash every
    token k-gram, slide a w-window over the hash sequence, keep each
    window's minimum; the distinct minima are the fingerprint set.
    Guarantees any shared substring of length >= k + w - 1 tokens
    yields a shared fingerprint - position-robust near-dup detection
    that rolling-hash ``doc_fingerprint`` (whole-doc) cannot give.

    Scale shape: entirely per-row higher-order array expressions -
    tokenize -> transform(k-grams) -> transform(window minima) ->
    array_distinct - ZERO shuffles and no explode; the fingerprint set
    never leaves the row. Docs shorter than k + w - 1 tokens have no
    complete window and are dropped (same contract in the oracle)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col()
    min_toks = WINNOW_K + WINNOW_W - 1
    # Materialize the token array BEFORE any lambda references it:
    # higher-order functions are interpreted, and an outer expression
    # (the split) referenced inside a lambda re-evaluates per element
    # (README lesson #1 - measured ~5x here).
    base = docs.filter(F.size(toks) >= min_toks).select(
        "doc_id", toks.alias("toks")
    )
    grams = F.transform(
        F.sequence(F.lit(0), F.size("toks") - WINNOW_K),
        lambda i: F.array_join(F.slice(F.col("toks"), i + F.lit(1), WINNOW_K), " "),
    )
    with_hashes = base.select(
        "doc_id", F.transform(grams, lambda g: md5_word_hash(g)).alias("hs")
    )
    wins = F.transform(
        F.sequence(F.lit(0), F.size("hs") - WINNOW_W),
        lambda i: F.array_min(F.slice(F.col("hs"), i + F.lit(1), WINNOW_W)),
    )
    fps = F.array_distinct(wins)
    return with_hashes.select(
        "doc_id",
        F.size(fps).alias("n_fp"),
        F.array_min(fps).alias("min_fp"),
        F.aggregate(
            fps, F.lit(0).cast("long"), lambda a, x: a + x % MOD_PRIME
        ).alias("sum_mod"),
    )


WINNOWING_ORACLE_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents
), g AS (
  SELECT doc_id,
         list_transform(range(0, len(toks) - {WINNOW_K} + 1),
             i -> CAST(('0x' || substr(md5(array_to_string(
                      toks[i+1:i+{WINNOW_K}], ' ')), 1, 15)) AS BIGINT)) AS hs
  FROM t WHERE len(toks) >= {WINNOW_K + WINNOW_W - 1}
), w AS (
  SELECT doc_id,
         list_distinct(list_transform(range(0, len(hs) - {WINNOW_W} + 1),
             i -> list_min(hs[i+1:i+{WINNOW_W}]))) AS fps
  FROM g
)
SELECT doc_id, len(fps) AS n_fp, list_min(fps) AS min_fp,
       CAST(list_sum(list_transform(fps, x -> x % {MOD_PRIME})) AS BIGINT) AS sum_mod
FROM w
"""


def lang_id_eval_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix + per-label recall for the lang_id heuristic -
    the eval twin of lang_id (same pattern as dedup_eval / ann_recall:
    every heuristic stage ships with the query that measures it).
    Output one row per (labeled_lang, pred_lang) cell with the cell
    count and the labeled class's total and recall share.

    Scale shape: the classifier is a zero-shuffle scan projection; the
    matrix is ONE map-combinable groupBy on a <= |langs|^2 key space,
    and the per-label totals come from a window sum over that tiny
    aggregated output - nothing post-shuffle exceeds |langs|^2 rows."""
    from pyspark.sql.window import Window

    preds = lang_id_query(spark, sf_dir).select("labeled_lang", "pred_lang")
    cells = preds.groupBy("labeled_lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    label_total = F.sum("n").over(Window.partitionBy("labeled_lang"))
    return cells.select(
        "labeled_lang",
        "pred_lang",
        "n",
        label_total.alias("label_total"),
        (F.col("n") / label_total).alias("share"),
        (F.col("labeled_lang") == F.col("pred_lang")).alias("is_correct_cell"),
    )


LANG_ID_EVAL_ORACLE_SQL = f"""
WITH preds AS (
{LANG_ID_ORACLE_SQL}
),
cells AS (
  SELECT labeled_lang, pred_lang, count(*) AS n
  FROM preds GROUP BY 1, 2
)
SELECT labeled_lang, pred_lang, n,
       CAST(sum(n) OVER (PARTITION BY labeled_lang) AS BIGINT) AS label_total,
       n / sum(n) OVER (PARTITION BY labeled_lang) AS share,
       labeled_lang = pred_lang AS is_correct_cell
FROM cells
"""


# --- vocabulary growth curve (Heaps' law diagnostic) -----------------------

VG_BUCKETS = 20  # corpus split into 5% arrival slices


VG_GRAM_N = 8  # same gram width as the decontamination/dup family


def vocab_growth_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct 8-gram vocabulary growth as the corpus is consumed in
    doc_id order: per 5% slice, how many NEVER-SEEN-BEFORE grams
    appear, and the cumulative gram-vocabulary size. The curve's
    flattening rate (Heaps' law) is how corpus curators detect
    saturation - when new data stops contributing new language, more
    of the same source has diminishing value (the data-scaling
    argument of Hoffmann et al. 2022 applied at the n-gram level).
    Grams, not words: word vocabularies saturate almost immediately;
    the gram space is what dedup/contamination economics live in.

    Scale shape: one (gram -> min doc_id) map-combinable aggregate -
    first-occurrence is an associative min, so no ordered scan is
    needed - then a VG_BUCKETS-row cumulative window. The corpus never
    sorts; the axis comes from integer doc_id arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    # xx_gram_slice_hashes (r15): only gram COUNTS reach the output
    # (new_words/vocab_size), so the fast slice-hash family is safe -
    # the md5 oracle matches under hash-injectivity. Token array
    # staged per the helper's contract.
    words = (
        docs.select("doc_id", tokens_col().alias("toks"))
        .select(
            "doc_id",
            F.explode_outer(
                xx_gram_slice_hashes(F.col("toks"), VG_GRAM_N)
            ).alias("gram"),
        )
        .filter(F.col("gram").isNotNull())
    )
    first_seen = words.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    bounds = docs.agg((F.max("doc_id") + 1).alias("n_docs"))
    bucketed = (
        first_seen.crossJoin(F.broadcast(bounds))
        .select(
            F.least(
                F.floor(F.col("first_doc") * VG_BUCKETS / F.col("n_docs")),
                F.lit(VG_BUCKETS - 1),
            ).cast("int").alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("new_words"))
    )
    cum = F.sum("new_words").over(
        Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    )
    return bucketed.select("bucket", "new_words", cum.alias("vocab_size"))


VOCAB_GROWTH_ORACLE_SQL = f"""
WITH tok AS (
  SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents
),
words AS (
  SELECT doc_id, unnest(list_transform(
           range(1, greatest(len(w) - {VG_GRAM_N} + 1, 0) + 1),
           i -> ('0x' || substr(md5(array_to_string(w[i:i+{VG_GRAM_N}-1], ' ')), 1, 15))::BIGINT
         )) AS gram
  FROM tok
),
first_seen AS (
  SELECT gram, min(doc_id) AS first_doc FROM words GROUP BY gram
),
bounds AS (SELECT max(doc_id) + 1 AS n_docs FROM documents),
bucketed AS (
  SELECT CAST(least(floor(first_doc * {VG_BUCKETS} / n_docs),
                    {VG_BUCKETS - 1}) AS INT) AS bucket,
         count(*) AS new_words
  FROM first_seen CROSS JOIN bounds
  GROUP BY 1
)
SELECT bucket, new_words,
       CAST(sum(new_words) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS vocab_size
FROM bucketed
"""


# --- source vocabulary drift ------------------------------------------------

DRIFT_TOP_K = 100


def source_vocab_drift_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-monitoring report: per source, what share of its tokens
    falls inside the CORPUS-GLOBAL top-K vocabulary. A source whose
    coverage sits far below its peers speaks a different language (or
    is noise/spam) - the cheap drift alarm a curator watches as new
    crawl snapshots land, before anything as heavy as a per-source LM.

    Exact integer output (coverage per mille, floor) so the oracle
    hash is arithmetic, not float. Scale shape: one token-count
    aggregate builds the top-K via TakeOrderedAndProject (partition-
    local K-heaps, same as vocab_top_terms); the K surviving terms
    broadcast to the per-source probe, so the second pass is a
    map-side semi-join + one map-combinable (source) aggregate - no
    big-table shuffle carries term strings twice."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode_outer(tokens_col()).alias("term"))
    top_terms = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("term").asc())
        .limit(DRIFT_TOP_K)
        .select("term")
    )
    flagged = toks.join(
        F.broadcast(top_terms.withColumn("in_top", F.lit(1))), "term", "left"
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("total_tokens"),
            F.sum(F.coalesce("in_top", F.lit(0))).alias("top_k_tokens"),
        )
        .select(
            "source",
            "total_tokens",
            "top_k_tokens",
            F.floor(F.col("top_k_tokens") * 1000 / F.col("total_tokens"))
            .cast("long")
            .alias("coverage_pm"),
        )
    )


SOURCE_VOCAB_DRIFT_ORACLE_SQL = f"""
WITH tok AS (
  SELECT source, unnest(string_split_regex(text, '\\s+')) AS term
  FROM documents
),
top_terms AS (
  SELECT term FROM (
    SELECT term, count(*) AS n FROM tok GROUP BY 1
    ORDER BY n DESC, term ASC LIMIT {DRIFT_TOP_K}
  )
)
SELECT source,
       count(*) AS total_tokens,
       CAST(sum(CASE WHEN term IN (SELECT term FROM top_terms)
                     THEN 1 ELSE 0 END) AS BIGINT) AS top_k_tokens,
       CAST(floor(sum(CASE WHEN term IN (SELECT term FROM top_terms)
                           THEN 1 ELSE 0 END) * 1000.0 / count(*)) AS BIGINT)
         AS coverage_pm
FROM tok
GROUP BY source
"""
