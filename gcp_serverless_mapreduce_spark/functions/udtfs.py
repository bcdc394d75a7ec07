"""Python UDTF surface (SURVEY §2.6: the reference exposes no user
functions at all; Spark 4's UDTF is the table-function half of that gap).

UDTFs are row-at-a-time Python — the SLOW path, kept off hot pipelines
(the equivalent built-in plan is the shingle explode in operators/dedup).
They exist where users need imperative row→rows logic the expression
language can't state; Arrow transfer is enabled session-wide
(spark.sql.execution.arrow.pyspark.enabled).
"""

from __future__ import annotations

from pyspark.sql.functions import udtf


@udtf(returnType="pos int, bigram string")
class WordBigrams:
    """text -> one row per consecutive word pair (order-preserving,
    NON-distinct — the multiset, unlike the dedup shingle set).
    Tokens are exactly functions.text.split_tokens, through its Python
    twin ``split_tokens_py`` (empty tokens kept, Java whitespace class —
    not Python str.split's Unicode set)."""

    def eval(self, text: str):  # noqa: D102
        if text is None:
            return
        # absolute import: the class is cloudpickled to UDTF workers,
        # where relative-import context is not guaranteed
        from gcp_serverless_mapreduce_spark.functions.text import (
            split_tokens_py,
        )
        toks = split_tokens_py(text)
        for i in range(len(toks) - 1):
            yield i, f"{toks[i]} {toks[i + 1]}"


def register_udtfs(spark) -> None:
    spark.udtf.register("word_bigrams", WordBigrams)
