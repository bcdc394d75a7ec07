"""Focused pins for the r15 batch-2 optimizations.

Batch 2 = the guarded parquet-scan spread (tables.spread_small_scan) and
two textstats restructures (repetition_quality_filter's exact-integer
Arrow kernel; bigram_coherence_score's derived unigram counts).  Each is
an internal change to how a declared query computes — these tests pin
that the new internals produce exactly the old results on adversarial
inputs the fixtures may not cover.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from gcp_serverless_mapreduce_spark.tables import spread_small_scan


def test_spread_small_scan_is_guarded_noop_when_parallel(spark):
    """A frame already at >= defaultParallelism partitions must come back
    unchanged (same object, no exchange added) — the 100 TB path."""
    par = spark.sparkContext.defaultParallelism
    df = spark.range(10_000).repartition(par)
    assert spread_small_scan(df) is df
    wide = spark.range(10_000).repartition(par + 3)
    assert spread_small_scan(wide) is wide


def test_spread_small_scan_spreads_and_preserves_rows(spark):
    par = spark.sparkContext.defaultParallelism
    df = spark.range(1_000).coalesce(1)
    out = spread_small_scan(df)
    assert out is not df
    assert out.rdd.getNumPartitions() == par
    assert sorted(r.id for r in out.collect()) == list(range(1_000))


ADVERSARIAL_DOCS = [
    (1, ""),                          # empty
    (2, "   "),                       # whitespace only
    (3, "one"),                       # single token (dropped: n < 2)
    (4, "a a"),                       # minimal bigram
    (5, "A a\ta  A\n\na"),            # case folding + mixed whitespace
    (6, "x y x y x y z"),             # repeated bigram dominates
    (7, " lead  mid\x0btrail "),      # \x0b vertical tab, edge spaces
    (8, "w " * 500),                  # long run of one token
    (9, "p q r s t u v w"),           # all-distinct bigrams
]


def _old_repetition_stats(spark, rows):
    """The pre-r15 interpreted-HOF pipeline, verbatim, as the reference."""
    from gcp_serverless_mapreduce_spark.functions.text import tokens

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    d = (docs.withColumn("toks", tokens(F.col("text")))
         .filter(F.size("toks") >= 2))
    n = F.size("toks")
    toks = F.col("toks")
    bigrams = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat(F.element_at(toks, i), F.lit(" "),
                           F.element_at(toks, i + 1)))
    d = d.withColumn("bigrams", bigrams)
    bgs = F.col("bigrams")
    top_bg = F.array_max(F.transform(
        F.array_distinct(bgs),
        lambda b: F.size(F.filter(bgs, lambda x: x == b))))
    return {
        r["doc_id"]: (r["n_tokens"], r["n_distinct"], r["top_bg"], r["n_bg"])
        for r in d.select(
            "doc_id",
            n.cast("long").alias("n_tokens"),
            F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
            top_bg.cast("long").alias("top_bg"),
            F.size(bgs).cast("long").alias("n_bg")).collect()
    }


def test_repetition_kernel_matches_old_hof_pipeline(spark):
    """The Arrow rep_stats kernel must emit the exact integers the old
    interpreted HOF walk produced — same tokenization, same bigram set,
    same most-frequent-bigram count — on adversarial ASCII docs."""
    from gcp_serverless_mapreduce_spark.suite.textstats_q import (
        _repetition_stats_kernel,
    )

    docs = spark.createDataFrame(ADVERSARIAL_DOCS, "doc_id long, text string")
    kernel = _repetition_stats_kernel()
    got = {
        r["doc_id"]: (r["st"]["n_tokens"], r["st"]["n_distinct"],
                      r["st"]["top_bg"], r["st"]["n_bg"])
        for r in (docs.select("doc_id", kernel(F.col("text")).alias("st"))
                  .filter(F.col("st.n_tokens") >= 2).collect())
    }
    want = _old_repetition_stats(spark, ADVERSARIAL_DOCS)
    assert got == want


def test_bigram_prefix_counts_identity(spark):
    """c(w1 .) derived as sum over w2 of c(w1, w2) must equal the direct
    unigram-prefix count — the exact integer identity bigram_coherence
    relies on to drop a corpus re-explosion."""
    rows = [Row(doc_id=1, text="a b a b c"),
            Row(doc_id=2, text="b c b a"),
            Row(doc_id=3, text="a a a a")]
    from gcp_serverless_mapreduce_spark.functions.text import tokens

    docs = spark.createDataFrame(rows)
    d = (docs.withColumn("toks", tokens(F.col("text")))
         .filter(F.size("toks") >= 2))
    bg = d.select(
        "doc_id",
        F.explode(F.expr(
            "transform(sequence(1, size(toks) - 1), "
            "i -> struct(toks[i - 1] AS w1, toks[i] AS w2))")).alias("b")
    ).select("doc_id", "b.w1", "b.w2")
    bc = bg.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    derived = {r["w1"]: r["c1"]
               for r in bc.groupBy("w1").agg(F.sum("c2").alias("c1"))
               .collect()}
    direct = {r["w1"]: r["c1"]
              for r in bg.groupBy("w1").agg(F.count("*").alias("c1"))
              .collect()}
    assert derived == direct
