"""Text-normalization expressions for the anagram pipeline (SURVEY §2.2).

Reference parity map (all as Column expressions, JVM-side):

- P1 strip_gutenberg      <- removeBookHeaderAndFooter, mapphase/split.go:90-116
- P2+P3 tokens            <- strings.Fields + ToLower, mapphase/split.go:68, :126
- P5 trim_non_letters     <- trimNonAlphabeticCharacters, mapphase/map.go:118-139
- P6 STOPWORDS membership <- 185-entry stop-word set,  mapphase/map.go:84-107
- P7 letters-only rlike   <- containsOnlyLetters,      mapphase/map.go:142-151
- P9 anagram_signature    <- sort word's chars,        mapphase/map.go:68-76

The Go trim loops have edge quirks (a word with no letters is left
untrimmed), but every such residue is then dropped by the letters-only
predicate, so `regexp_replace('^[^\\p{L}]+|[^\\p{L}]+$')` + `rlike('^\\p{L}+$')`
is observationally equivalent — pinned by the goldens ported from
map_test.go:135-181 in tests/test_text_functions.py.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# The reference's 185-entry stop-word set, verbatim (mapphase/map.go:84-107).
# Output-defining constant: changing one entry changes the anagram result set.
STOPWORDS: tuple[str, ...] = (
    "'tis", "'twas", "a", "able", "about", "across", "after", "ain't", "all",
    "almost", "also", "am", "among", "an", "and", "any", "are", "aren't",
    "as", "at", "be", "because", "been", "but", "by", "can", "can't",
    "cannot", "could", "could've", "couldn't", "dear", "did", "didn't", "do",
    "does", "doesn't", "don't", "either", "else", "ever", "every", "for",
    "from", "get", "got", "had", "has", "hasn't", "have", "he", "he'd",
    "he'll", "he's", "her", "hers", "him", "his", "how", "how'd", "how'll",
    "how's", "however", "i", "i'd", "i'll", "i'm", "i've", "if", "in",
    "into", "is", "isn't", "it", "it's", "its", "just", "least", "let",
    "like", "likely", "may", "me", "might", "might've", "mightn't", "most",
    "must", "must've", "mustn't", "my", "neither", "no", "nor", "not", "of",
    "off", "often", "on", "only", "or", "other", "our", "own", "rather",
    "said", "say", "says", "shan't", "she", "she'd", "she'll", "she's",
    "should", "should've", "shouldn't", "since", "so", "some", "than",
    "that", "that'll", "that's", "the", "their", "them", "then", "there",
    "there's", "these", "they", "they'd", "they'll", "they're", "they've",
    "this", "tis", "to", "too", "twas", "us", "wants", "was", "wasn't",
    "we", "we'd", "we'll", "we're", "were", "weren't", "what", "what'd",
    "what's", "when", "when'd", "when'll", "when's", "where", "where'd",
    "where'll", "where's", "which", "while", "who", "who'd", "who'll",
    "who's", "whom", "why", "why'd", "why'll", "why's", "will", "with",
    "won't", "would", "would've", "wouldn't", "yet", "you", "you'd",
    "you'll", "you're", "you've", "your",
)

# Gutenberg markers, same regex strings as the reference (split.go:92, :101,
# :107).  Java and Go (RE2) agree on this syntax; `.*` excludes newlines in
# both, so the marker match stays within one line.
_HEADER_RE = r"\*\*\*.*START OF TH(E|IS) PROJECT GUTENBERG EBOOK.*\*\*\*"
_FOOTER1_RE = r"End of[ th(e|is)]* Project Gutenberg"
_FOOTER2_RE = r"\*\*\*.*END OF TH(E|IS) PROJECT GUTENBERG EBOOK.*\*\*\*"


def strip_gutenberg(text: Column) -> Column:
    """P1: drop everything up to+incl the START marker (+1 char, matching
    ``text[index[1]+1:]`` at split.go:97) and everything from the first
    footer marker on.  Footer form 1 wins over form 2 when both exist
    (split.go:100-114).

    The header pattern MUST be ``\\A``-anchored: an unanchored leading
    lazy ``[\\s\\S]*?`` makes the regex engine's find-loop over start
    positions multiply with the lazy expansion loop — O(n²), which hung
    book-sized (~430 KB) strings (the 43 MB corpus benchmark never
    finished).  Anchoring kills the outer loop; same first-match
    semantics, measured 10× faster than any extract variant.
    """
    after = F.regexp_replace(
        text, r"\A[\s\S]*?" + _HEADER_RE + r"[\s\S]", "")
    return F.when(
        after.rlike(_FOOTER1_RE),
        F.regexp_replace(after, _FOOTER1_RE + r"[\s\S]*", ""),
    ).otherwise(
        F.regexp_replace(after, _FOOTER2_RE + r"[\s\S]*", ""),
    )


# The package's one tokenization pattern (P2+P3): lowercase, trim SPACES
# (Spark's ``trim`` default), split on runs of Java ``\s``.  Every other
# module takes its tokens from the faces below.
#
# Java ``\s`` is the ASCII class [ \t\n\x0b\f\r]: U+000B splits, Unicode
# whitespace (NBSP, U+2028) does not.  The DuckDB oracle's
# ``string_split_regex(trim(lower(text)), '\s+')`` is NOT the same
# function: RE2 ``\s`` lacks U+000B, DuckDB ``trim`` also strips NBSP, and
# its ``lower`` is the simple case mapping (no final sigma, İ -> i rather
# than i + U+0307).  tests/test_r16_unicode_tokens.py runs both engines and
# pins each of these differences.
_WS_PY = re.compile(r"[ \t\n\x0b\f\r]+")


def split_tokens(text: Column) -> Column:
    """``split(trim(lower(text)), '\\s+')`` as array<string>, empty tokens
    KEPT: text opening or closing with non-space whitespace yields an empty
    first/last token, and '' yields ['']; NULL stays NULL."""
    return F.split(F.trim(F.lower(text)), r"\s+")


def tokens(text: Column) -> Column:
    """:func:`split_tokens` without the empty tokens: the reference's
    strings.Fields + ToLower (split.go:68, :126), on Java ``\\s``."""
    return F.filter(split_tokens(text), lambda w: w != "")


def split_tokens_py(text: str | None) -> list[str]:
    """EXACT Python twin of :func:`split_tokens` for Arrow kernels and
    UDTFs: lowercase first, strip spaces only, split on the Java ``\\s``
    class (not ``str.split``'s Unicode set), empty tokens kept.  NULL is
    the caller's branch: the expression twins route it through
    ``size(NULL) = -1`` guards to an empty array."""
    return _WS_PY.split((text or "").lower().strip(" "))


def split_tokens_sql(text_col: str) -> str:
    """Spark SQL string twin of :func:`split_tokens` over column
    ``text_col``, for ``F.expr`` bodies."""
    return f"split(trim(lower({text_col})), '\\\\s+')"


def trim_non_letters(word: Column) -> Column:
    """P5: strip non-letter runes from both ends (Unicode category L)."""
    return F.regexp_replace(word, r"^[^\p{L}]+|[^\p{L}]+$", "")


def letters_only(word: Column) -> Column:
    """P7: true iff every rune is a Unicode letter (non-empty)."""
    return word.rlike(r"^\p{L}+$")


def is_stopword(word: Column) -> Column:
    """P6: membership in the reference's stop-word set."""
    return word.isin(*STOPWORDS)


def normalize_word(word: Column) -> Column:
    """P5+P6+P7+P8 fused: preProcessWord (map.go:82-115).

    Returns the cleaned word, or NULL when the word is dropped (stop word,
    interior non-letters, or empty after trim).  NULL (vs '') lets callers
    filter with ``isNotNull`` and keeps the expression null-safe.
    """
    trimmed = trim_non_letters(word)
    return F.when(
        letters_only(trimmed) & ~is_stopword(trimmed), trimmed
    ).otherwise(F.lit(None))


def anagram_signature(word: Column) -> Column:
    """P9: sort the word's characters — 'race' -> 'acer' (map.go:68-76)."""
    return F.concat_ws("", F.array_sort(F.split(word, "")))
