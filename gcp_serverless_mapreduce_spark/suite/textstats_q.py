"""Text-analysis queries over ``documents`` with DuckDB oracle twins.

The SQL mirrors operators/textstats.py expression for expression; all
ratios divide exact integers in double (identical IEEE result), rounded
to 6dp for formatting safety; the fingerprint fold is pure bigint math.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import STOPWORDS, split_tokens_py, tokens
from ..operators import dedup, textstats
from ..registry import register
from ..tables import load_table
from .anagram_q import _sql_quote
from .dedup_q import _SH_CTE

_STOP_SQL = ", ".join(_sql_quote(w) for w in STOPWORDS)

_TOKS = ("list_filter(string_split_regex(trim(lower(text)), '\\s+'), "
         "x -> x <> '')")

_T_CTE = f"""
WITH t AS (
    SELECT doc_id, lang, source, text, {_TOKS} AS toks FROM documents)
"""


def _in_list(words: tuple[str, ...]) -> str:
    return ", ".join(_sql_quote(w) for w in words)


_HITS_UNION = " UNION ALL ".join(
    f"SELECT doc_id, lang, '{lang}' AS cand_lang, "
    f"CAST(len(list_filter(toks, x -> x IN ({_in_list(markers)}))) AS BIGINT)"
    f" AS n_hits FROM t"
    for lang, markers in sorted(textstats.LANG_MARKERS.items()))

# pred: argmax over candidate languages; zero hits everywhere -> 'und'.
_PRED_CTE = _T_CTE + f""",
hits AS ({_HITS_UNION}),
pred AS (
    SELECT doc_id, lang AS actual_lang,
           CASE WHEN n_hits = 0 THEN 'und' ELSE cand_lang END AS pred_lang,
           n_hits
    FROM hits
    QUALIFY row_number() OVER (PARTITION BY doc_id
                               ORDER BY n_hits DESC, cand_lang) = 1)
"""


def _pred_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scores = textstats.language_scores(docs)
    w = Window.partitionBy("doc_id").orderBy(
        F.col("n_hits").desc(), F.col("cand_lang").asc())
    best = (scores.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1))
    return (
        best.join(docs.select("doc_id", F.col("lang").alias("actual_lang")),
                  "doc_id")
        .select(
            "doc_id", "actual_lang",
            F.when(F.col("n_hits") == 0, F.lit("und"))
            .otherwise(F.col("cand_lang")).alias("pred_lang"),
            "n_hits")
    )


@register("language_id", _PRED_CTE + """
SELECT doc_id, actual_lang, pred_lang, n_hits FROM pred
""")
def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID per document: per-lang hit counts in one
    scan, argmax via row_number (ties -> lexicographic lang)."""
    return _pred_df(spark, sf_dir)


@register("language_confusion", _PRED_CTE + """
SELECT actual_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM pred GROUP BY actual_lang, pred_lang
""")
def language_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Labeled-vs-predicted language confusion matrix."""
    return (_pred_df(spark, sf_dir)
            .groupBy("actual_lang", "pred_lang")
            .agg(F.count("*").alias("n_docs")))


@register("doc_quality_scores", _T_CTE + f"""
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq_tokens,
       round(CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
             / NULLIF(len(toks), 0), 6) AS avg_token_len,
       round(CAST(len(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
             / NULLIF(len(text), 0), 6) AS alpha_ratio,
       round(CAST(len(list_filter(toks, x -> x IN ({_STOP_SQL}))) AS DOUBLE)
             / NULLIF(len(toks), 0), 6) AS stopword_ratio,
       len(toks) BETWEEN 5 AND 1000 AS len_ok
FROM t
""")
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality features (the pre-training filter columns): token
    counts, mean token length, alpha ratio, stop-word ratio, length gate.
    One scan, one projection — no shuffle at all."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    d = docs.withColumn("toks", toks)
    n = F.size("toks")
    nchars = F.length("text")
    tok_chars = F.aggregate(
        F.transform(F.col("toks"), lambda x: F.length(x).cast("long")),
        F.lit(0).cast("long"), lambda a, x: a + x)
    n_stop = F.size(F.filter(F.col("toks"), lambda x: x.isin(*STOPWORDS)))
    n_alpha = F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
    safe_n = F.nullif(n.cast("long"), F.lit(0).cast("long"))
    return d.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_uniq_tokens"),
        F.round(tok_chars.cast("double") / safe_n, 6).alias("avg_token_len"),
        F.round(n_alpha.cast("double")
                / F.nullif(nchars.cast("long"), F.lit(0).cast("long")),
                6).alias("alpha_ratio"),
        F.round(n_stop.cast("double") / safe_n, 6).alias("stopword_ratio"),
        n.between(5, 1000).alias("len_ok"),
    )


@register("token_count_by_source", _T_CTE + f"""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(toks)) AS BIGINT) AS ws_tokens,
       CAST(SUM(len(regexp_extract_all(lower(text),
            '{textstats.BPE_PATTERN}'))) AS BIGINT) AS bpe_tokens,
       round(CAST(SUM(len(toks)) AS DOUBLE) / COUNT(*), 6) AS avg_ws_tokens
FROM t GROUP BY source
""")
def token_count_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token accounting per source: whitespace tokens vs BPE-ish
    pre-tokens.  Map-side partial agg -> tiny shuffle on source."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.withColumn("toks", tokens(F.col("text")))
    ws = F.sum(F.size("toks").cast("long"))
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        ws.alias("ws_tokens"),
        F.sum(textstats.bpe_token_count(F.col("text")).cast("long"))
        .alias("bpe_tokens"),
        F.round(ws.cast("double") / F.count("*"), 6).alias("avg_ws_tokens"),
    )


# CASE guard mirrors poly_fingerprint: fingerprint('') = seed (the
# engines disagree on the empty char's codepoint)
_FOLD = (f"CASE WHEN strlen({{s}}) = 0 THEN CAST({textstats.FP_SEED} AS BIGINT) "
         f"ELSE list_reduce(list_prepend(CAST({textstats.FP_SEED} AS BIGINT), "
         "list_transform(string_split({s}, ''), "
         "c -> CAST(unicode(c) AS BIGINT))), "
         f"(a, c) -> (a * {textstats.FP_MULT} + c) % {textstats.FP_MOD}) END")


@register("doc_fingerprints", _SH_CTE + f""",
fp AS (SELECT doc_id, {_FOLD.format(s='text')} AS content_fp FROM documents),
shf AS (SELECT doc, MIN({_FOLD.format(s='shingle')}) AS winnow_min
        FROM sh GROUP BY doc)
SELECT f.doc_id, f.content_fp, s.winnow_min
FROM fp f LEFT JOIN shf s ON s.doc = f.doc_id
""")
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: whole-text rolling polynomial hash + the min
    shingle hash (winnowing-lite).  At 100 TB the shingle hash would be
    computed truly rolling per window; here each shingle folds
    independently (same values, O(k) more work per doc)."""
    docs = load_table(spark, sf_dir, "documents")
    fps = docs.select(
        "doc_id", textstats.poly_fingerprint(F.col("text")).alias("content_fp"))
    shf = (
        dedup.word_shingles(docs)
        .withColumn("h", textstats.poly_fingerprint(F.col("shingle")))
        .groupBy("doc").agg(F.min("h").alias("winnow_min"))
    )
    return fps.join(shf, fps.doc_id == shf.doc, "left").select(
        "doc_id", "content_fp", "winnow_min")


@register("docs_per_word_salted", _T_CTE + """
SELECT u.word, CAST(COUNT(DISTINCT t.doc_id) AS BIGINT) AS n_docs
FROM t, unnest(list_distinct(toks)) AS u(word)
GROUP BY u.word
""")
def docs_per_word_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document frequency per token via the two-phase SALTED distinct
    count (operators/skew.py): stop words appear in nearly every doc, the
    textbook hot key — salting spreads each word's doc set over 16
    buckets, then sums the disjoint bucket counts.  The oracle is the
    plain one-phase COUNT(DISTINCT): same relation, skewless algorithm."""
    from ..operators.skew import salted_distinct_count

    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.select(
        "doc_id",
        F.explode(F.array_distinct(tokens(F.col("text"))))
        .alias("word"))
    return salted_distinct_count(pairs, key="word", value="doc_id",
                                 out_col="n_docs")


# char-bigram profiles for the n-gram language heuristic (the char-level
# counterpart of the marker-word language_id above)
CHARGRAM_PROFILES: dict[str, tuple[str, ...]] = {
    "de": ("ch", "ei", "ie", "en", "de"),
    "en": ("th", "he", "an", "in", "er"),
    "es": ("os", "la", "el", "ue", "ar"),
    "fr": ("le", "es", "on", "ou", "ai"),
}


def _chargram_count_sql(grams: tuple[str, ...]) -> str:
    return " + ".join(
        f"CAST((strlen(text) - strlen(replace(text, '{g}', ''))) / 2 AS BIGINT)"
        for g in grams)


_CHARGRAM_HITS = " UNION ALL ".join(
    f"SELECT doc_id, lang, '{lang}' AS cand_lang, "
    f"{_chargram_count_sql(grams)} AS n_hits FROM documents"
    for lang, grams in sorted(CHARGRAM_PROFILES.items()))


@register("language_id_chargram", f"""
WITH hits AS ({_CHARGRAM_HITS}),
pred AS (
    SELECT doc_id, lang AS actual_lang,
           CASE WHEN n_hits = 0 THEN 'und' ELSE cand_lang END AS pred_lang,
           n_hits
    FROM hits
    QUALIFY row_number() OVER (PARTITION BY doc_id
                               ORDER BY n_hits DESC, cand_lang) = 1)
SELECT doc_id, actual_lang, pred_lang, n_hits FROM pred
""")
def language_id_chargram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-n-gram language ID: per-lang char-bigram occurrence
    counts (substring counting — pure string expressions, one scan),
    argmax with the same tie rules as the marker-word variant."""
    docs = load_table(spark, sf_dir, "documents")

    def count_grams(grams: tuple[str, ...]):
        parts = [
            ((F.length("text") - F.length(F.replace(F.col("text"), F.lit(g),
                                                    F.lit("")))) / 2)
            .cast("long")
            for g in grams
        ]
        total = parts[0]
        for p in parts[1:]:
            total = total + p
        return total

    cands = F.array(*[
        F.struct(F.lit(lang).alias("cand_lang"),
                 count_grams(grams).alias("n_hits"))
        for lang, grams in sorted(CHARGRAM_PROFILES.items())
    ])
    scores = (docs.select("doc_id", F.col("lang").alias("actual_lang"),
                          F.explode(cands).alias("c"))
              .select("doc_id", "actual_lang", "c.cand_lang", "c.n_hits"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("n_hits").desc(), F.col("cand_lang").asc())
    return (
        scores.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "actual_lang",
                F.when(F.col("n_hits") == 0, F.lit("und"))
                .otherwise(F.col("cand_lang")).alias("pred_lang"),
                "n_hits")
    )


@register("word_bigram_freq_udtf", """
WITH toks AS (
    SELECT string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents),
bg AS (
    SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                  i -> t[i] || ' ' || t[i + 1])) AS bigram
    FROM toks WHERE len(t) >= 2)
SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
FROM bg GROUP BY bigram
""")
def word_bigram_freq_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram frequencies via a Python UDTF (LATERAL table
    function) — the user-defined row→rows surface; the oracle recomputes
    with pure SQL.  UDTFs are the slow path by design (see
    functions/udtfs.py); this pins the API's correctness, not its speed."""
    from ..functions.udtfs import register_udtfs

    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents_udtf_src")
    register_udtfs(spark)
    return spark.sql("""
        SELECT b.bigram, CAST(COUNT(*) AS BIGINT) AS n
        FROM documents_udtf_src, LATERAL word_bigrams(text) AS b
        GROUP BY b.bigram
    """)


@register("word_commonness_by_source_salted", _T_CTE + """,
pairs AS (SELECT source, doc_id, u.word AS word
          FROM t, unnest(toks) AS u(word)),
meta AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS w_occ
         FROM pairs GROUP BY 1)
SELECT p.source,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(m.w_occ) AS BIGINT) AS total_commonness,
       round(CAST(SUM(m.w_occ) AS DOUBLE) / COUNT(*), 6) AS avg_commonness
FROM pairs p JOIN meta m USING (word)
GROUP BY 1
""")
def word_commonness_by_source_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe fact-to-metadata JOIN via two-dimensional salting
    (operators/skew.py::salted_equijoin): token occurrences joined to a
    per-word frequency table, where stop words are the known-hot join
    keys (they appear in nearly every document — the textbook join
    skew).  Hot fact rows spread over 8 salts, hot metadata rows
    replicate 8x, cold keys pay nothing; the merge hint models the real
    deployment where a billion-word metadata table cannot broadcast.
    Salting only re-partitions work, so the oracle is the PLAIN join —
    same rows either way.  Complements docs_per_word_salted (salted
    distinct AGGREGATION) with the join-side pattern."""
    from ..operators.skew import salted_equijoin

    docs = load_table(spark, sf_dir, "documents")
    pairs = (docs.withColumn("toks", tokens(F.col("text")))
             .select("source", "doc_id", F.explode("toks").alias("word")))
    # vocabulary-sized; materialized once so the join doesn't recompute
    # the corpus explode on its build side
    meta = (pairs.groupBy("word").agg(F.count("*").alias("w_occ"))
            .localCheckpoint())
    joined = salted_equijoin(pairs, meta.hint("merge"), "word",
                             hot_keys=STOPWORDS, num_salts=8,
                             salt_src="doc_id")
    n = F.count("*")
    total = F.sum("w_occ")
    return (joined.groupBy("source")
            .agg(n.alias("n_tokens"),
                 total.cast("long").alias("total_commonness"),
                 F.round(total.cast("double") / n, 6)
                 .alias("avg_commonness")))


@register("clean_text_stats", """
WITH c AS (
    SELECT doc_id, source, text,
           trim(regexp_replace(regexp_replace(lower(text),
                '[^[:print:]]', ' ', 'g'), '\\s+', ' ', 'g')) AS cleaned
    FROM documents)
SELECT doc_id, source,
       -- length() (characters), not strlen() (bytes): Spark's F.length
       -- counts characters, and the two diverge on any multi-byte text
       CAST(length(text) AS BIGINT) AS orig_len,
       CAST(length(cleaned) AS BIGINT) AS clean_len,
       md5(cleaned) AS clean_md5
FROM c
""")
def clean_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization, the first stage of every training-data
    pipeline: lowercase -> non-printable chars to spaces -> collapse
    whitespace runs -> trim; emit before/after lengths + md5 of the
    cleaned text (so the oracle gates the exact cleaned BYTES, not just
    counts).  Pure string expressions in one scan-side projection — no
    shuffle, no Python."""
    docs = load_table(spark, sf_dir, "documents")
    cleaned = F.trim(F.regexp_replace(F.regexp_replace(
        F.lower(F.col("text")), r"[^\p{Print}]", " "), r"\s+", " "))
    return docs.select(
        "doc_id", "source",
        F.length("text").cast("long").alias("orig_len"),
        F.length(cleaned).cast("long").alias("clean_len"),
        F.md5(cleaned).alias("clean_md5"))


@register("tfidf_top_terms", _T_CTE + """,
n_total AS (SELECT COUNT(*) AS n FROM documents),
pairs AS (SELECT source, doc_id, u.word AS term
          FROM t, unnest(toks) AS u(word)),
tdc AS (SELECT term, doc_id, source, COUNT(*) AS c
        FROM pairs GROUP BY 1, 2, 3),
ts AS (SELECT term, source, CAST(SUM(c) AS BIGINT) AS tf,
              COUNT(c) AS nd
       FROM tdc GROUP BY 1, 2),
scored AS (
    SELECT source, term, tf,
           CAST(SUM(nd) OVER (PARTITION BY term) AS BIGINT) AS df,
           tf * ln((SELECT n FROM n_total)
                   / CAST(SUM(nd) OVER (PARTITION BY term) AS DOUBLE)) AS score
    FROM ts)
SELECT source, term, tf, df, round(score, 6) AS tfidf,
       CAST(row_number() OVER (PARTITION BY source
                               ORDER BY score DESC, term) AS BIGINT) AS rank
FROM scored
QUALIFY rank <= 5
""")
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 terms per source by tf-idf (idf = ln(N/df)).  The plan is
    deliberately LINEAR: explode -> per-(term, doc, source) count ->
    per-(term, source) rollup -> document frequency as a window sum over
    the term partition -> rank.  A tf-branch/df-branch self-join reads
    nicer but executes worse: the two branches get column-pruned
    differently, de-canonicalizing the shared exchange, and the corpus
    is scanned and tokenized TWICE (verified in the executed plan; no
    ReuseExchange fires).  The linear form scans once, and every
    exchange past the first moves only the tiny vocabulary-sized frame.
    N arrives as a broadcast one-row scalar (never a collect).  Ranking
    orders by the raw double score with term as the tie-break; both
    engines compute ln() of identical IEEE inputs."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.withColumn("toks", tokens(F.col("text")))
    n_total = docs.agg(F.count("*").alias("n"))
    tdc = (d.select("source", "doc_id", F.explode("toks").alias("term"))
           .groupBy("term", "doc_id", "source")
           .agg(F.count("*").alias("c")))
    ts = (tdc.groupBy("term", "source")
          .agg(F.sum("c").alias("tf"), F.count("c").alias("nd")))
    wdf = Window.partitionBy("term")
    scored = (ts.withColumn("df", F.sum("nd").over(wdf))
              .crossJoin(F.broadcast(n_total))
              .withColumn("score",
                          F.col("tf") * F.log(F.col("n")
                                              / F.col("df").cast("double"))))
    w = Window.partitionBy("source").orderBy(
        F.col("score").desc(), F.col("term").asc())
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= 5)
            .select("source", "term", "tf", "df",
                    F.round("score", 6).alias("tfidf"), "rank"))


def _repetition_stats_kernel():
    """Arrow kernel emitting the EXACT integer repetition stats per doc:
    (n_tokens, n_distinct, top_bg = most-frequent-bigram count, n_bg).
    Tokenization is EXACT vs functions.text.tokens (split_tokens_py
    with empties filtered — the Java whitespace class, space-only trim,
    JVM-identical on non-ASCII text too; r15 verdict task 4);
    pinned vs the old HOF pipeline in tests/test_r15_batch2.py and on
    non-ASCII rows in tests/test_r16_unicode_tokens.py."""
    from collections import Counter

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("n_tokens long, n_distinct long, top_bg long, n_bg long")
    def rep_stats(texts: pd.Series) -> pd.DataFrame:
        rows = []
        for t in texts:
            toks = [w for w in split_tokens_py(t) if w]
            n = len(toks)
            if n >= 2:
                bigrams = [toks[i] + " " + toks[i + 1]
                           for i in range(n - 1)]
                top = max(Counter(bigrams).values())
            else:
                bigrams, top = [], 0
            rows.append((n, len(set(toks)), top, len(bigrams)))
        return pd.DataFrame(rows,
                            columns=["n_tokens", "n_distinct",
                                     "top_bg", "n_bg"])

    return rep_stats


@register("repetition_quality_filter", _T_CTE + """,
bg AS (
    SELECT doc_id, toks,
           list_transform(generate_series(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i + 1]) AS bigrams
    FROM t WHERE len(toks) >= 2)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       round(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6)
           AS dup_token_frac,
       round(CAST(list_max(list_transform(list_distinct(bigrams),
                  b -> len(list_filter(bigrams, x -> x = b)))) AS DOUBLE)
             / len(bigrams), 6) AS top_bigram_frac,
       (1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)) <= 0.9
       AND CAST(list_max(list_transform(list_distinct(bigrams),
                b -> len(list_filter(bigrams, x -> x = b)))) AS DOUBLE)
           / len(bigrams) <= 0.5 AS keep
FROM bg
""")
def repetition_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality gate (the Gopher-style filter): duplicate
    token fraction + most-frequent-bigram fraction per doc, and the keep
    flag a pre-training filter would apply.  All in-row higher-order
    expressions — one scan, zero shuffles; the per-doc bigram count is
    O(distinct x n) on short documents (a 100 TB run with book-length
    rows would move this into an Arrow pandas stage, per the measured
    HOF-vs-pandas crossover in operators/dedup.py)."""
    docs = load_table(spark, sf_dir, "documents")
    # Counting stage as an Arrow kernel (r15): the per-doc most-frequent-
    # bigram count was an O(distinct x n) INTERPRETED nested HOF walk —
    # a measured 1.6 s single-task stage at sf0.1 (the docstring's own
    # 100 TB crossover note, now applied).  The kernel emits only EXACT
    # integer stats (token/distinct/bigram counts); every double
    # (fractions, round, keep) is still computed by the same JVM
    # expressions as before from those integers, so results are
    # bit-identical.  Tokenization matches functions.text.tokens on the ASCII
    # fixtures exactly as operators/dedup.shingle_array does.
    from ..tables import spread_small_scan

    d = (spread_small_scan(docs)
         .select("doc_id",
                 _repetition_stats_kernel()(F.col("text")).alias("st"))
         .filter(F.col("st.n_tokens") >= 2))
    n = F.col("st.n_tokens")
    dup_frac = (F.lit(1.0)
                - F.col("st.n_distinct").cast("double") / n)
    top_frac = F.col("st.top_bg").cast("double") / F.col("st.n_bg")
    return d.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.round(dup_frac, 6).alias("dup_token_frac"),
        F.round(top_frac, 6).alias("top_bigram_frac"),
        ((dup_frac <= 0.9) & (top_frac <= 0.5)).alias("keep"))


@register("corpus_prep_pipeline", _T_CTE + """,
gated AS (
    SELECT * FROM t
    WHERE len(toks) BETWEEN 20 AND 1000
      AND CAST(len(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
          / NULLIF(len(text), 0) >= 0.75
      AND lang IN ('en', 'de', 'fr', 'es')),
deduped AS (
    SELECT *, row_number() OVER (PARTITION BY md5(text)
                                 ORDER BY doc_id) AS rn
    FROM gated)
SELECT source, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(toks)) AS BIGINT) AS ws_tokens,
       round(CAST(SUM(list_sum(list_transform(toks, x -> len(x)))) AS DOUBLE)
             / SUM(len(toks)), 6) AS avg_token_len
FROM deduped WHERE rn = 1
GROUP BY source, lang
""")
def corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data prep: quality gate (length + alpha ratio)
    -> language allowlist -> exact dedup (keep lowest doc_id per content
    hash) -> per-(source, lang) corpus accounting.  The composition the
    LLM-pipeline extensions exist for, as ONE declarative plan.

    Scale shape: the gates are scan-side filters (no shuffle, pushdown-
    friendly); dedup is one shuffle on the 128-bit content hash (near-
    uniform keys — no skew); the final rollup is a partial+final agg on a
    tiny key space.  Nothing in the chain materializes the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    d = docs.withColumn("toks", toks)
    n = F.size("toks")
    alpha_ratio = (
        F.length(F.regexp_replace("text", "[^A-Za-z]", "")).cast("double")
        / F.nullif(F.length("text").cast("long"), F.lit(0).cast("long")))
    gated = d.filter(
        n.between(20, 1000) & (alpha_ratio >= 0.75)
        & F.col("lang").isin("en", "de", "fr", "es"))
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = (gated.withColumn("rn", F.row_number().over(w))
               .filter(F.col("rn") == 1))
    tok_chars = F.aggregate(
        F.transform(F.col("toks"), lambda x: F.length(x).cast("long")),
        F.lit(0).cast("long"), lambda a, x: a + x)
    ws = F.sum(F.size("toks").cast("long"))
    return (
        deduped.groupBy("source", "lang")
        .agg(F.count("*").alias("n_docs"),
             ws.alias("ws_tokens"),
             F.round(F.sum(tok_chars).cast("double") / ws, 6)
             .alias("avg_token_len"))
    )


@register("bigram_coherence_score", _T_CTE + """,
bg AS (
    SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM (
        SELECT doc_id, UNNEST(list_transform(range(1, len(toks)),
               i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS b
        FROM t WHERE len(toks) >= 2)),
bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
       FROM bg GROUP BY w1, w2),
uc AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM bg GROUP BY w1),
s AS (
    SELECT doc_id,
           CAST(round((CAST(c2 AS DOUBLE) / c1) * 1000000000) AS BIGINT) AS q
    FROM bg JOIN bc USING (w1, w2) JOIN uc USING (w1))
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       round(CAST(SUM(q) AS DOUBLE) / count(*) / 1e9, 6) AS coherence
FROM s GROUP BY doc_id
""")
def bigram_coherence_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fluency score under the corpus's own bigram language
    model: the mean conditional probability p(w2|w1) = c(w1,w2)/c(w1·)
    of the document's bigram instances (MLE over bigram-prefix counts,
    so each row's conditional distribution sums to 1).  The
    quality-filter signal "does this doc look like the corpus" — word
    soup and boilerplate score low, corpus-typical text scores high —
    i.e. the cheap shuffle-friendly stand-in for perplexity filtering.

    Determinism: probabilities are quantized to BIGINT nano-units per
    bigram instance before the cross-row sum (IEEE division + round are
    identical in both engines), so no double ever accumulates.  Plan:
    one explode (size x ~tokens rows), two hash aggs for the LM tables,
    two shuffle joins back on (w1, w2) / (w1) — all key-partitioned, no
    broadcast of the (vocabulary-sized) LM, no driver collect.
    """
    from ..tables import spread_small_scan

    docs = load_table(spark, sf_dir, "documents")
    d = (spread_small_scan(docs)
         .withColumn("toks", tokens(F.col("text")))
         .filter(F.size("toks") >= 2))
    bg = d.select(
        "doc_id",
        F.explode(F.expr(
            "transform(sequence(1, size(toks) - 1), "
            "i -> struct(toks[i - 1] AS w1, toks[i] AS w2))")).alias("b")
    ).select("doc_id", "b.w1", "b.w2")
    bc = bg.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    # Prefix counts DERIVED from the bigram counts (r15): c(w1·) =
    # sum of c(w1, w2) over w2 — an exact integer identity — so the
    # unigram LM aggregates |distinct bigrams| rows instead of
    # re-exploding the corpus, and the bigram stream is generated once:
    # bc's (w1, w2) exchange is reused by the instance join below
    # (ReusedExchange in the plan), where the old shape scanned and
    # exploded the corpus three times.
    uc = bc.groupBy("w1").agg(F.sum("c2").alias("c1"))
    lm = bc.join(uc, ["w1"])
    q = F.round((F.col("c2").cast("double") / F.col("c1")) * 1e9) \
        .cast("long")
    s = (bg.join(lm, ["w1", "w2"])
         .select("doc_id", q.alias("q")))
    return (s.groupBy("doc_id")
            .agg(F.count("*").alias("n_bigrams"),
                 F.round(F.sum("q").cast("double") / F.count("*") / 1e9,
                         6).alias("coherence")))


# ---- vocabulary building + co-occurrence PMI ------------------------------

VOCAB_SIZE = 30
PMI_MAX_GAP = 2
PMI_MIN_COUNT = 5


@register("vocab_top_words", _T_CTE + f""",
w AS (SELECT unnest(toks) AS word FROM t),
c AS (SELECT word, COUNT(*) AS freq FROM w GROUP BY word)
SELECT CAST(row_number() OVER (ORDER BY freq DESC, word) AS BIGINT)
           AS vocab_id,
       word, freq
FROM c
QUALIFY vocab_id <= {VOCAB_SIZE}
""")
def vocab_top_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary construction: top {VOCAB_SIZE} corpus tokens
    with dense ids assigned by (freq desc, word) — deterministic
    tie-break, TakeOrdered top-n, rank window only over the survivors.
    See operators/textstats.py:build_vocab."""
    docs = load_table(spark, sf_dir, "documents")
    return textstats.build_vocab(docs, VOCAB_SIZE)


@register("word_cooccurrence_pmi", _T_CTE + f""",
idx1 AS (SELECT toks AS tk, unnest(generate_series(1, len(toks) - 1)) AS i
         FROM t),
p1 AS (SELECT tk[i] AS word_a, tk[i + 1] AS word_b FROM idx1),
idx2 AS (SELECT toks AS tk, unnest(generate_series(1, len(toks) - 2)) AS i
         FROM t),
p2 AS (SELECT tk[i] AS word_a, tk[i + 2] AS word_b FROM idx2),
pairs AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2),
pc AS (SELECT word_a, word_b, COUNT(*) AS n_pair FROM pairs GROUP BY 1, 2),
wc AS (SELECT word, COUNT(*) AS n_word
       FROM (SELECT unnest(toks) AS word FROM t) GROUP BY word),
tot AS (SELECT CAST((SELECT SUM(n_pair) FROM pc) AS DOUBLE) AS t_pairs,
               CAST((SELECT SUM(n_word) FROM wc) AS DOUBLE) AS t_words)
SELECT word_a, word_b, n_pair,
       round(ln((CAST(n_pair AS DOUBLE) / t_pairs)
                / ((CAST(na.n_word AS DOUBLE) / t_words)
                   * (CAST(nb.n_word AS DOUBLE) / t_words))), 6) AS pmi
FROM pc JOIN wc na ON na.word = pc.word_a
        JOIN wc nb ON nb.word = pc.word_b
        CROSS JOIN tot
WHERE n_pair >= {PMI_MIN_COUNT}
""")
def word_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed co-occurrence PMI over a forward ±{PMI_MAX_GAP} window
    (the word2vec/GloVe statistic): in-row pair generation (arrays_zip of
    the token array against its shifted self — NO self-join), two counting
    shuffles, exact integer counts into one ln() rounded to 6dp.  See
    operators/textstats.py:cooccurrence_pmi."""
    docs = load_table(spark, sf_dir, "documents")
    return textstats.cooccurrence_pmi(docs, PMI_MAX_GAP, PMI_MIN_COUNT)


@register("doc_token_entropy", _T_CTE + """,
tc AS (
    SELECT doc_id, tok, COUNT(*) AS c
    FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
    GROUP BY doc_id, tok),
n AS (SELECT doc_id, tok, c, SUM(c) OVER (PARTITION BY doc_id) AS n FROM tc)
SELECT doc_id,
       CAST(MAX(n) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       round(-SUM((CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n)), 6)
           AS entropy
FROM n GROUP BY doc_id
""")
def doc_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram Shannon entropy (nats, 6dp) — the
    repetitiveness signal a quality filter reads; exact integer counts
    into one ln() per distinct token.  See operators/textstats.py:
    token_entropy."""
    docs = load_table(spark, sf_dir, "documents")
    return textstats.token_entropy(docs)


@register("source_token_kl", _T_CTE + """,
sc AS (
    SELECT source, tok, COUNT(*) AS cs
    FROM (SELECT source, unnest(toks) AS tok FROM t)
    GROUP BY source, tok),
cc AS (SELECT tok, SUM(cs) AS cc FROM sc GROUP BY tok),
stot AS (SELECT source, SUM(cs) AS ns FROM sc GROUP BY source),
ctot AS (SELECT SUM(cc) AS nc FROM cc)
SELECT sc.source,
       CAST(MAX(stot.ns) AS BIGINT) AS n_tokens,
       round(SUM((CAST(sc.cs AS DOUBLE) / stot.ns)
                 * ln((CAST(sc.cs AS DOUBLE) / stot.ns)
                      / (CAST(cc.cc AS DOUBLE) / ctot.nc))), 6)
           AS kl_from_corpus
FROM sc JOIN cc USING (tok)
        JOIN stot USING (source)
        CROSS JOIN ctot
GROUP BY sc.source
""")
def source_token_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL(P_source ‖ P_corpus) of each source's unigram distribution
    (nats, 6dp) — the distribution-shift diagnostic behind data-mixing
    weights.  See operators/textstats.py:source_token_kl."""
    docs = load_table(spark, sf_dir, "documents")
    return textstats.source_token_kl(docs)


_VOCAB_CTE = _T_CTE + f""",
w AS (SELECT unnest(toks) AS word FROM t),
vc AS (SELECT word, COUNT(*) AS freq FROM w GROUP BY word),
vocab AS (
    SELECT word,
           CAST(row_number() OVER (ORDER BY freq DESC, word) AS BIGINT)
               AS vocab_id
    FROM vc
    QUALIFY vocab_id <= {VOCAB_SIZE})
"""


@register("doc_token_ids_fingerprint", _VOCAB_CTE + """,
idx AS (SELECT doc_id, toks,
               unnest(generate_series(1, len(toks))) AS i
        FROM t WHERE len(toks) > 0),
ids AS (SELECT idx.doc_id, idx.i,
               COALESCE(vocab.vocab_id, 0) AS id
        FROM idx LEFT JOIN vocab ON vocab.word = idx.toks[i])
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       md5(array_to_string(list(id ORDER BY i), ' ')) AS ids_md5
FROM ids GROUP BY doc_id
""")
def doc_token_ids_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus→id-stream encode step closing the vocabulary loop: every
    token mapped to its `vocab_top_words` id (OOV → 0), the per-doc id
    sequence gated via md5 so BYTE-exact encoded output is what both
    engines must agree on, plus an OOV-rate accounting column.  The
    vocab (V={VOCAB_SIZE}) broadcasts; encode is map-side."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    vocab = textstats.build_vocab(docs, VOCAB_SIZE).select("word", "vocab_id")
    toks = (docs.select("doc_id",
                        F.posexplode(tokens(F.col("text")))
                        .alias("i", "word")))
    ids = (toks.join(F.broadcast(vocab), "word", "left")
           .select("doc_id", "i",
                   F.coalesce("vocab_id", F.lit(0)).alias("id")))
    return (ids.groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_tokens"),
                 F.sum(F.when(F.col("id") == 0, 1).otherwise(0))
                 .cast("long").alias("n_oov"),
                 F.md5(F.concat_ws(" ", F.transform(
                     F.array_sort(F.collect_list(F.struct("i", "id"))),
                     lambda s: s["id"].cast("string")))).alias("ids_md5")))


def _bpe_esc_sql(col: str) -> str:
    """DuckDB twin of textstats.bpe_escape: \\ -> \\\\, < -> \\l, > -> \\g."""
    return (f"replace(replace(replace(lower(trim({col})), "
            f"'\\', '\\\\'), '<', '\\l'), '>', '\\g')")


def _bpe_sql(col: str) -> str:
    """DuckDB twin of textstats.bpe_pieces: escape delimiters, wrap
    units (escape pair or single non-space char), replace in rank order
    (literal, left-to-right, non-overlapping in both engines)."""
    s = (f"regexp_replace({_bpe_esc_sql(col)}, "
         f"'(\\\\[\\\\lg]|\\S)', '<\\1>', 'g')")
    for a, b in textstats.BPE_MERGES:
        s = f"replace({s}, '<{a}><{b}>', '<{a}{b}>')"
    return s


@register("bpe_piece_stats", f"""
WITH s AS (SELECT doc_id, {_bpe_sql('text')} AS pieces,
                  regexp_replace(lower(trim(text)), '\\s', '', 'g') AS raw
           FROM documents)
SELECT doc_id,
       CAST(len(raw) AS BIGINT) AS n_chars_sym,
       CAST(len(pieces) - len(replace(pieces, '<', '')) AS BIGINT)
           AS n_pieces,
       md5(pieces) AS pieces_md5
FROM s
""")
def bpe_piece_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenization as pure column expressions: every non-space char
    wrapped as a symbol, then the {len(textstats.BPE_MERGES)}-entry merge
    table applied in rank order as literal replace-alls — the
    rank-sequential BPE formulation, running entirely inside
    whole-stage codegen (no UDF, no shuffle).  The oracle gates the
    exact piece stream via md5, so one mis-merged byte anywhere in the
    corpus fails the hash.  See operators/textstats.py:bpe_pieces."""
    docs = load_table(spark, sf_dir, "documents")
    return textstats.bpe_piece_stats(docs)


def _bpe_learn_sql(rounds: int, min_pair: int, batch: int) -> str:
    """Unrolled DuckDB twin of textstats.learn_bpe_merges (batched):
    round k's top-``batch`` candidates (count desc, a, b) are a CTE;
    the kept subset (NOT EXISTS a higher-ranked INTERFERING candidate —
    shared symbol, symbol = higher concat a||b, or own concat = a
    higher symbol; the same per-pair rule the Spark side applies) steers
    round k's replace chain through ``batch`` fixed slots; global
    ranks are re-numbered over (round, batch position)."""
    parts = [f"WITH s0 AS (SELECT regexp_replace({_bpe_esc_sql('text')}, "
             "'(\\\\[\\\\lg]|\\S)', '<\\1>', 'g') AS s FROM documents)"]
    for k in range(1, rounds + 1):
        prev = f"s{k - 1}"
        parts.append(f""",
p{k} AS (
    SELECT t.y[ii.i] AS a, t.y[ii.i + 1] AS b
    FROM (SELECT regexp_extract_all(w.word, '<([^>]+)>', 1) AS y
          FROM (SELECT unnest(string_split(s, ' ')) AS word
                FROM {prev}) w
          WHERE len(regexp_extract_all(w.word, '<([^>]+)>', 1)) >= 2) t,
         LATERAL (SELECT unnest(generate_series(1, len(t.y) - 1)) AS i) ii),
cand{k} AS (
    SELECT a, b, c, row_number() OVER (ORDER BY c DESC, a, b) AS rn
    FROM (SELECT a, b, COUNT(*) AS c FROM p{k} GROUP BY a, b)
    WHERE c >= {min_pair}
    QUALIFY rn <= {batch}),
keep{k} AS (
    SELECT x.a, x.b, x.c, row_number() OVER (ORDER BY x.rn) AS bp
    FROM cand{k} x
    WHERE NOT EXISTS (SELECT 1 FROM cand{k} y
                      WHERE y.rn < x.rn
                        AND (y.a IN (x.a, x.b) OR y.b IN (x.a, x.b)
                             OR (y.a || y.b) IN (x.a, x.b)
                             OR (x.a || x.b) IN (y.a, y.b))))""")
        for j in range(1, batch + 1):
            parts.append(f""",
k{k}_{j} AS (SELECT a, b FROM keep{k} WHERE bp = {j})""")
        expr = f"{prev}.s"
        for j in range(1, batch + 1):
            expr = (f"CASE WHEN m{j}.a IS NOT NULL "
                    f"THEN replace({expr}, "
                    f"'<' || m{j}.a || '><' || m{j}.b || '>', "
                    f"'<' || m{j}.a || m{j}.b || '>') "
                    f"ELSE {expr} END")
        joins = "\n    ".join(
            f"LEFT JOIN k{k}_{j} m{j} ON TRUE"
            for j in range(1, batch + 1))
        parts.append(f""",
s{k} AS (
    SELECT {expr} AS s
    FROM {prev}
    {joins})""")
    union = "\nUNION ALL\n".join(
        f"SELECT {k} AS rnd, bp, a AS sym_a, b AS sym_b, "
        f"CAST(c AS BIGINT) AS pair_count FROM keep{k}"
        for k in range(1, rounds + 1))
    return ("".join(parts)
            + f"""
SELECT row_number() OVER (ORDER BY rnd, bp) AS rank,
       sym_a, sym_b, pair_count
FROM ({union})""")


@register("bpe_learn_merges",
          _bpe_learn_sql(textstats.BPE_LEARN_ROUNDS, textstats.BPE_MIN_PAIR,
                         textstats.BPE_BATCH))
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-table LEARNING, BATCHED ({textstats.BPE_LEARN_ROUNDS}
    rounds × up to {textstats.BPE_BATCH} merges each — the scalable-BPE
    trick that decouples learned-vocab size from corpus scans): each
    round counts adjacent in-word symbol pairs once (one explode + one
    hash-agg), keeps the top candidates that do not interfere with a
    higher-ranked candidate (no shared symbol, no symbol equal to a
    higher merge's concatenation, own concatenation not a higher
    candidate's symbol — mutually non-interfering, so their counts
    stay exact), and merges them with codegen'd literal replaces.  The
    only driver traffic is the <= {textstats.BPE_BATCH}-row candidate
    list per round (scalar steering, as in KMeans) — never data.  The
    oracle unrolls rounds, the keep rule, and the replace slots as
    CTEs, so the learned table must match pair-for-pair,
    count-for-count.  See operators/textstats.py:learn_bpe_merges."""
    docs = load_table(spark, sf_dir, "documents")
    return textstats.learn_bpe_merges(docs)


@register("bpe_fertility_by_lang", f"""
WITH s AS (SELECT lang,
                  {_bpe_sql('text')} AS pieces,
                  len(list_filter(string_split_regex(trim(lower(text)),
                                                     '\\s+'),
                                  x -> x <> '')) AS n_toks,
                  len(regexp_replace(lower(trim(text)), '\\s', '', 'g'))
                      AS n_sym_chars
           FROM documents),
p AS (SELECT lang, n_toks, n_sym_chars,
             len(pieces) - len(replace(pieces, '<', '')) AS n_pieces
      FROM s)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
       CAST(SUM(n_pieces) AS BIGINT) AS n_pieces,
       round(CAST(SUM(n_pieces) AS DOUBLE)
             / NULLIF(CAST(SUM(n_toks) AS DOUBLE), 0), 6) AS fertility,
       round(CAST(SUM(n_sym_chars) AS DOUBLE)
             / NULLIF(CAST(SUM(n_pieces) AS DOUBLE), 0), 6)
           AS chars_per_piece
FROM p GROUP BY lang
""")
def bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY audit (pieces per word, chars per piece) per
    language — the standard check that a learned vocabulary doesn't
    quietly tax some languages with 2-3x the sequence length (and
    therefore 2-3x the training cost) of others.  Reuses the codegen'd
    BPE replace chain of bpe_piece_stats: one scan, map-only up to the
    per-language aggregate, no UDF."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = textstats.bpe_piece_stats(docs)
    toks = docs.select(
        "doc_id", "lang",
        F.size(tokens(F.col("text"))).cast("long").alias("n_toks"))
    def safe(c):
        return F.nullif(c.cast("double"), F.lit(0.0))

    return (per_doc.join(toks, "doc_id")
            .groupBy("lang")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n_toks").cast("long").alias("n_tokens"),
                 F.sum("n_pieces").cast("long").alias("n_pieces"),
                 F.round(F.sum("n_pieces").cast("double")
                         / safe(F.sum("n_toks")), 6).alias("fertility"),
                 F.round(F.sum("n_chars_sym").cast("double")
                         / safe(F.sum("n_pieces")), 6)
                 .alias("chars_per_piece")))


ZIPF_TOPN = 100


@register("zipf_slope_by_source", _T_CTE + f""",
wcts AS (
    SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (SELECT source, unnest(toks) AS tok FROM t)
    GROUP BY source, tok),
rk AS (
    SELECT source, ln(CAST(rank AS DOUBLE)) AS x,
           ln(CAST(freq AS DOUBLE)) AS y
    FROM (SELECT source, freq,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY freq DESC, tok) AS rank
          FROM wcts)
    WHERE rank <= {ZIPF_TOPN}),
s AS (
    SELECT source, CAST(COUNT(*) AS DOUBLE) AS n,
           SUM(x) AS sx, SUM(y) AS sy,
           SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
    FROM rk GROUP BY source)
SELECT source, CAST(n AS BIGINT) AS n_words,
       round((n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0), 6)
           AS slope,
       round((sy - (n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0) * sx)
             / n, 6) AS intercept,
       round((n * sxy - sx * sy) * (n * sxy - sx * sy)
             / nullif((n * sxx - sx * sx) * (n * syy - sy * sy), 0), 6)
           AS r2
FROM s
""")
def zipf_slope_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law OLS fit per source over the top-{ZIPF_TOPN} word
    frequencies (operators/textstats.zipf_fit_by_source) — slope near -1
    marks natural language; the corpus-naturalness screen of a
    training-data audit.  The oracle mirrors the five OLS sums and the
    closed forms term for term."""
    docs = load_table(spark, sf_dir, "documents")
    return textstats.zipf_fit_by_source(docs, ZIPF_TOPN)


LM_TRAIN_MOD = 2


@register("heldout_bigram_perplexity", _T_CTE + f""",
tr AS (SELECT doc_id, toks FROM t WHERE doc_id % {LM_TRAIN_MOD} = 0),
sc AS (SELECT doc_id, toks FROM t WHERE doc_id % {LM_TRAIN_MOD} <> 0),
tb AS (
    SELECT tk[i] AS w1, tk[i + 1] AS w2
    FROM (SELECT toks AS tk,
                 unnest(generate_series(1, len(toks) - 1)) AS i
          FROM tr)),
c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM tb GROUP BY w1, w2),
c1 AS (SELECT w1, COUNT(*) AS c1 FROM tb GROUP BY w1),
v AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v
      FROM (SELECT unnest(toks) AS tok FROM tr)),
sb AS (
    SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
    FROM (SELECT doc_id, toks AS tk,
                 unnest(generate_series(1, len(toks) - 1)) AS i
          FROM sc)),
j AS (
    SELECT sb.doc_id,
           -ln((CAST(COALESCE(c2.c2, 0) + 1 AS DOUBLE))
               / nullif(CAST(COALESCE(c1.c1, 0) + v.v AS DOUBLE), 0))
               AS nll
    FROM sb LEFT JOIN c2 ON c2.w1 = sb.w1 AND c2.w2 = sb.w2
            LEFT JOIN c1 ON c1.w1 = sb.w1
            CROSS JOIN v),
g AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           round(SUM(nll) / COUNT(*), 6) AS xent
    FROM j GROUP BY doc_id)
SELECT doc_id, n_bigrams, xent, round(exp(xent), 4) AS ppl FROM g
""")
def heldout_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style held-out perplexity filter (Wenzek et al. 2020;
    operators/textstats.heldout_bigram_xent): an add-1 bigram LM trains
    on the doc_id-hash half of the corpus and every other doc scores
    its mean cross-entropy — the leakage-aware form of the coherence
    screen (in-corpus LMs flatter duplicated boilerplate).  Vocab-sized
    count joins keyed on the gram; V broadcasts as one row."""
    docs = load_table(spark, sf_dir, "documents")
    return textstats.heldout_bigram_xent(docs, LM_TRAIN_MOD)
