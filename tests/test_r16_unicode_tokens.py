"""r16: Python kernel tokenization is JVM-EXACT, not just ASCII-equivalent.

Round 15 left the Arrow kernels tokenizing with Python ``str.split()``,
which differs from the declared ``split(trim(lower(text)), '\\s+')``
semantics on leading/trailing non-space whitespace (JVM keeps the empty
token), Unicode whitespace (Python splits NBSP/U+2028, Java/RE2 ``\\s``
does not) and potentially non-ASCII case folds (r15 verdict task 4,
ADVICE medium).  ``functions.text.split_tokens_py`` reproduces the JVM
semantics exactly; these pins hold every kernel/expression-twin pair to
equality ON the divergent inputs the r15 pins omitted.  The last pins run
the same rows through the DuckDB oracle's tokenizer and the anagram
Splitter.
"""
from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from gcp_serverless_mapreduce_spark.functions.text import (
    split_tokens,
    split_tokens_py,
    split_tokens_sql,
    strip_gutenberg,
)
from gcp_serverless_mapreduce_spark.operators import dedup
from gcp_serverless_mapreduce_spark.operators.anagram import (
    tokenize_documents,
)

# Exactly the classes of text where str.split() and the JVM expression
# disagree: leading tab, trailing newline, CR/LF + trailing tab mix,
# vertical tab (split by BOTH — x0b is in Java \s), NBSP and U+2028
# LINE SEPARATOR (split by str.split, NOT by Java \s), Turkish dotted
# capital I and dotless i, sharp s / capital sharp s, Greek final
# sigma, NBSP padding (not trimmed by Spark) and plain-space padding
# (trimmed by both).
UNICODE_ROWS = [
    (9101, "\ta b c d e f g h i"),
    (9102, "a b c d e f g h i\n"),
    (9103, "\r\na b c d e f g h i \t"),
    (9104, "a\x0bb c d e f g h i"),
    (9105, "a\u00a0b c d e f g h i"),
    (9106, "a\u2028b c d e f g h i"),
    (9107, " a b c d e f g h i "),
    (9108, "İstanbul ı I b c d e f g"),
    (9109, "straße STRAẞE ΣΟΦΟΣ c d e"),
    (9110, "  a b c d e f g h i  "),
    (9111, ""),
    (9112, None),
]
SCHEMA = "doc_id long, text string"


def test_py_tokens_matches_tokens_col(spark):
    """split_tokens_py == split_tokens, i.e. split(trim(lower(text)),
    '\\s+'), per row."""
    df = spark.createDataFrame(UNICODE_ROWS, SCHEMA)
    got = {r["doc_id"]: r["t"]
           for r in df.select("doc_id",
                              split_tokens(F.col("text")).alias("t"))
           .collect()}
    for doc_id, text in UNICODE_ROWS:
        if text is None:
            assert got[doc_id] is None
        else:
            assert got[doc_id] == split_tokens_py(text), (doc_id, text)


def test_shingle_kernel_matches_expr_twin_unicode(spark):
    df = spark.createDataFrame(UNICODE_ROWS, SCHEMA)
    both = df.select(
        "doc_id",
        F.sort_array(dedup.shingle_array(3, "text", arrow=True)).alias("k"),
        F.sort_array(dedup.shingle_array(3, "text", arrow=False)).alias("x"))
    for r in both.collect():
        assert r["k"] == r["x"], r["doc_id"]


def test_inline_band_hashes_match_expr_twin_unicode(spark):
    df = spark.createDataFrame(UNICODE_ROWS, SCHEMA)
    both = df.select(
        "doc_id",
        dedup.inline_band_hashes(arrow=True).alias("k"),
        dedup.inline_band_hashes(arrow=False).alias("x"))
    for r in both.collect():
        assert r["k"] == r["x"], r["doc_id"]


def test_ladder_kernel_matches_expr_twin_unicode(spark):
    df = spark.createDataFrame(UNICODE_ROWS, SCHEMA)
    both = df.select(
        "doc_id",
        dedup.ladder_tagged_grams((3, 5)).alias("k"),
        dedup.ladder_tagged_grams_expr((3, 5)).alias("x"))
    for r in both.collect():
        k = [(s["span"], s["gram"]) for s in r["k"]]
        x = [(s["span"], s["gram"]) for s in r["x"]]
        assert k == x, r["doc_id"]


def test_repetition_kernel_matches_old_hof_unicode(spark):
    from gcp_serverless_mapreduce_spark.suite.textstats_q import (
        _repetition_stats_kernel,
    )
    from tests.test_r15_batch2 import _old_repetition_stats

    docs = spark.createDataFrame(UNICODE_ROWS, SCHEMA)
    kernel = _repetition_stats_kernel()
    got = {
        r["doc_id"]: (r["st"]["n_tokens"], r["st"]["n_distinct"],
                      r["st"]["top_bg"], r["st"]["n_bg"])
        for r in (docs.select("doc_id", kernel(F.col("text")).alias("st"))
                  .filter(F.col("st.n_tokens") >= 2).collect())
    }
    want = _old_repetition_stats(spark, UNICODE_ROWS)
    assert got == want


def test_word_bigrams_udtf_matches_oracle_tokens(spark):
    """UDTF bigrams == bigrams built from the JVM token expression
    (the oracle's unfiltered split keeps empty tokens)."""
    from gcp_serverless_mapreduce_spark.functions.udtfs import register_udtfs

    df = spark.createDataFrame(UNICODE_ROWS, SCHEMA)
    df.createOrReplaceTempView("unicode_docs_udtf")
    register_udtfs(spark)
    got = sorted(
        (r["bigram"],) for r in spark.sql(
            "SELECT b.bigram FROM unicode_docs_udtf, "
            "LATERAL word_bigrams(text) AS b").collect())
    toks = split_tokens(F.col("text"))
    want = sorted(
        (r["bigram"],) for r in df.select(
            F.explode(F.when(
                F.size(toks) >= 2,
                F.expr("transform(sequence(1, "
                       f"size({split_tokens_sql('text')}) - 1), "
                       f"i -> concat_ws(' ', slice("
                       f"{split_tokens_sql('text')}, i, 2)))"))
              .otherwise(F.array().cast("array<string>"))).alias("bigram"))
        .collect())
    assert got == want


# Where Spark's split(trim(lower(text)), '\s+') and DuckDB's
# string_split_regex(trim(lower(text)), '\s+') disagree on UNICODE_ROWS,
# as (JVM tokens, DuckDB tokens).  Java \s has U+000B and RE2 \s does
# not; DuckDB trim strips NBSP; DuckDB lower is the simple case mapping
# (İ -> i, no final sigma) where the JVM's is the full one.
ENGINE_VS_ORACLE = {
    9104: (list("abcdefghi"), ["a\x0bb"] + list("cdefghi")),
    9107: (["\u00a0a"] + list("bcdefgh") + ["i\u00a0"], list("abcdefghi")),
    9108: (["i\u0307stanbul", "ı", "i"] + list("bcdefg"),
           ["istanbul", "ı", "i"] + list("bcdefg")),
    9109: (["straße", "straße", "σοφος"] + list("cde"),
           ["straße", "straße", "σοφοσ"] + list("cde")),
}


def test_split_tokens_vs_duckdb_oracle_unicode(spark):
    """Run both engines' tokenizers on UNICODE_ROWS: equal on every row
    but the pinned ENGINE_VS_ORACLE ones, which must still show exactly
    the recorded divergence — a change on either side fails here."""
    df = spark.createDataFrame(UNICODE_ROWS, SCHEMA)
    jvm = {r["doc_id"]: r["t"] for r in df.select(
        "doc_id", split_tokens(F.col("text")).alias("t")).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", UNICODE_ROWS)
    oracle = dict(con.execute(
        "SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') "
        "FROM docs").fetchall())
    con.close()
    assert jvm.keys() == oracle.keys()
    for doc_id in jvm:
        if doc_id in ENGINE_VS_ORACLE:
            assert (jvm[doc_id], oracle[doc_id]) \
                == ENGINE_VS_ORACLE[doc_id], doc_id
        else:
            assert jvm[doc_id] == oracle[doc_id], doc_id


GUTENBERG_ROW = (
    9113,
    "PRODUCED BY Junk\n*** START OF THIS PROJECT GUTENBERG EBOOK SOFOS ***\n"
    "The ΣΟΦΟΣ Fox\x0bjumps İstanbul the\tend\n"
    "End of the Project Gutenberg EBook TRAILER words")


def test_tokenize_documents_matches_pre_fold_expression(spark):
    """The anagram Splitter lowercases the document once, before the
    split; it used to lowercase each token after the split.  Both must
    give the same distinct words, Gutenberg strip included: the strip
    has to stay ahead of the lowercase because its markers are
    upper-case."""
    df = spark.createDataFrame(UNICODE_ROWS + [GUTENBERG_ROW], SCHEMA)

    def old_words(gutenberg: bool):
        text = F.col("text")
        if gutenberg:
            text = strip_gutenberg(text)
        words = F.array_distinct(F.transform(
            F.filter(F.split(F.trim(text), r"\s+"), lambda w: w != ""),
            F.lower))
        return sorted(tuple(r) for r in df.select(
            "doc_id", F.explode(words).alias("word")).collect())

    for gutenberg in (False, True):
        got = sorted(tuple(r) for r in tokenize_documents(
            df, gutenberg=gutenberg).collect())
        assert got == old_words(gutenberg), gutenberg
    stripped = {w for d, w in tokenize_documents(df, gutenberg=True)
                .collect() if d == 9113}
    assert stripped == {"the", "σοφος", "fox", "jumps", "i\u0307stanbul",
                        "end"}
