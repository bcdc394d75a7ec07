"""Scalar expression library — compositions of built-in pyspark.sql.functions.

Everything here returns Column expressions that stay JVM-side (whole-stage
codegen); no row-at-a-time Python UDFs.
"""

from .text import (  # noqa: F401
    STOPWORDS,
    anagram_signature,
    normalize_word,
    split_tokens,
    strip_gutenberg,
    tokens,
)
from .vectors import cosine_similarity, dot, l2_norm  # noqa: F401
from .hashing import fnv32a, md5_long, minhash_expr  # noqa: F401
