"""Seeded Gutenberg-style corpus for the ``anagram_books`` workload, and a
plain-Python reference of the anagram job to check the engine's output.

The corpus is ``n_books`` Latin-1 files ``bookNNN.txt``.  Each has front
matter, a ``*** START OF THIS PROJECT GUTENBERG EBOOK ... ***`` line, a body
drawn from a Zipf vocabulary of pseudo-words, and a footer in one of the
two forms the reference strips.  The vocabulary holds anagram families
(several permutations of one letter multiset), accented Latin-1 letters,
capitalised and punctuated forms, stop words, and tokens with digits or
inner apostrophes that normalisation drops.

The output directory is keyed by (seed, bytes, vocabulary, books) and by a
hash of this file, so an edit to the generator never reuses an older
corpus, and it is written atomically, so a directory that exists is always
the complete output of its key.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
from collections import defaultdict

import numpy as np

LETTERS = list("abcdefghijklmnopqrstuvwxyz") + list("éèêàçñüöæø")
# ASCII letters dominate so words look like words and families are common
LETTER_P = np.array([1.0] * 26 + [0.06] * 10)
LETTER_P /= LETTER_P.sum()
STOP = ["the", "and", "of", "to", "a", "in", "his", "her", "was", "with",
        "that", "it's", "don't", "'tis", "said", "would"]
PUNCT = [",", ".", ";", "!", "?", ":", "\"", ")", "'"]
ZIPF_S = 1.05
FAMILY_FRAC = 0.08

_HEADER_RE = r"\*\*\*.*START OF TH(E|IS) PROJECT GUTENBERG EBOOK.*\*\*\*"
_FOOTER1_RE = r"End of[ th(e|is)]* Project Gutenberg"
_FOOTER2_RE = r"\*\*\*.*END OF TH(E|IS) PROJECT GUTENBERG EBOOK.*\*\*\*"
_WS = re.compile(r"[ \t\n\x0b\f\r]+")

with open(__file__, "rb") as _fh:
    SOURCE_HASH = hashlib.sha256(_fh.read()).hexdigest()[:12]


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    """``size`` distinct pseudo-words; ~FAMILY_FRAC of them are extra
    permutations of another word, so they share its anagram signature."""
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        n = size - len(words)
        lengths = rng.integers(3, 11, n)
        letters = rng.choice(LETTERS, (n, 10), p=LETTER_P)
        family = rng.random(n) < FAMILY_FRAC
        for k in range(n):
            w = "".join(letters[k, :lengths[k]])
            if w in seen or len(words) >= size:
                continue
            seen.add(w)
            words.append(w)
            if family[k]:
                for _ in range(int(rng.integers(1, 4))):
                    p = "".join(rng.permutation(list(w)))
                    if p not in seen and len(words) < size:
                        seen.add(p)
                        words.append(p)
    order = rng.permutation(len(words))
    return [words[i] for i in order]


def _surface(rng: np.random.Generator, vocab: list[str],
             idx: np.ndarray) -> list[str]:
    """Token strings for vocabulary ranks ``idx``, with the decorations a
    book carries: capitals, trailing punctuation, stop words, numbers."""
    toks = [vocab[i] for i in idx]
    n = len(toks)
    r = rng.random(n)
    pick = rng.integers(0, 1 << 30, n)
    for j in np.nonzero(r < 0.31)[0]:
        x, k = r[j], int(pick[j])
        if x < 0.06:
            toks[j] = toks[j].capitalize()
        elif x < 0.07:
            toks[j] = toks[j].upper()
        elif x < 0.17:
            toks[j] = toks[j] + PUNCT[k % len(PUNCT)]
        elif x < 0.19:
            toks[j] = "(" + toks[j]
        elif x < 0.30:
            toks[j] = STOP[k % len(STOP)]
        elif x < 0.305:
            toks[j] = str(1 + k % 1999)
        else:
            toks[j] = toks[j][:2] + "-" + toks[j][2:]
    return toks


def _book(rng: np.random.Generator, vocab: list[str], probs: np.ndarray,
          i: int, target: int) -> bytes:
    title = f"The Chronicle of {vocab[i].capitalize()}"
    head = (f"The Project Gutenberg EBook of {title}\n"
            f"Release Date: {1990 + i % 30}  [EBook #{10000 + i}]\n"
            "Character set encoding: ISO-8859-1\n\n"
            f"*** START OF THIS PROJECT GUTENBERG EBOOK {title.upper()} ***\n")
    if i % 2:
        foot = (f"\nEnd of the Project Gutenberg EBook of {title}\n"
                f"*** END OF THIS PROJECT GUTENBERG EBOOK {title.upper()} ***\n")
    else:
        foot = (f"\n*** END OF THE PROJECT GUTENBERG EBOOK {title.upper()} ***\n"
                "This file should be named chronicle.txt\n")
    body_bytes = max(0, target - len(head) - len(foot))
    # ~7.3 bytes per token (mean word length plus separator and
    # decoration); draw 20% more and cut the body at the byte budget, so
    # every book, and so every seed's corpus, has the same size
    n_tok = max(1, body_bytes * 12 // 73)
    toks = _surface(rng, vocab, rng.choice(len(vocab), n_tok, p=probs))
    body = "\n".join(" ".join(toks[k:k + 11]) for k in range(0, n_tok, 11))
    body = body[:body.rfind(" ", 0, body_bytes + 1)]
    return (head + body + foot).encode("ISO-8859-1")


def corpus_dir(root: str, seed: int, total_bytes: int, vocab_size: int,
               n_books: int) -> str:
    return os.path.join(root, f"books-seed{seed}-b{total_bytes}"
                              f"-v{vocab_size}-n{n_books}-{SOURCE_HASH}")


def ensure_corpus(root: str, seed: int, total_bytes: int, vocab_size: int,
                  n_books: int) -> str:
    """Write the corpus for this key under ``root`` unless it is there;
    return its directory."""
    out = corpus_dir(root, seed, total_bytes, vocab_size, n_books)
    if os.path.isdir(out):
        return out
    rng = np.random.default_rng([seed, 43])
    vocab = _vocabulary(rng, vocab_size)
    probs = 1.0 / np.arange(1, vocab_size + 1) ** ZIPF_S
    probs /= probs.sum()
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    per_book = total_bytes // n_books
    for i in range(n_books):
        with open(os.path.join(tmp, f"book{i:03d}.txt"), "wb") as fh:
            fh.write(_book(rng, vocab, probs, i, per_book))
    os.rename(tmp, out)
    return out


def corpus_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(path, f))
               for f in os.listdir(path) if f.endswith(".txt"))


def _strip_gutenberg(text: str) -> str:
    text = re.sub(r"\A[\s\S]*?" + _HEADER_RE + r"[\s\S]", "", text, count=1)
    if re.search(_FOOTER1_RE, text):
        return re.sub(_FOOTER1_RE + r"[\s\S]*", "", text, count=1)
    return re.sub(_FOOTER2_RE + r"[\s\S]*", "", text, count=1)


def _normalize(word: str, stopwords: frozenset[str]) -> str | None:
    i, j = 0, len(word)
    while i < j and not word[i].isalpha():
        i += 1
    while j > i and not word[j - 1].isalpha():
        j -= 1
    w = word[i:j]
    if w and w.isalpha() and w not in stopwords:
        return w
    return None


def expected_lines(path: str, stopwords: frozenset[str]) -> list[str]:
    """The sink lines the anagram job must write for the corpus at
    ``path``: ``"<signature>: <w1> <w2> ..."`` for every signature with at
    least two distinct words, words sorted."""
    groups: dict[str, set[str]] = defaultdict(set)
    for name in sorted(os.listdir(path)):
        if not name.endswith(".txt"):
            continue
        with open(os.path.join(path, name), "rb") as fh:
            text = _strip_gutenberg(fh.read().decode("ISO-8859-1"))
        words = {t.lower() for t in _WS.split(text.strip()) if t}
        for t in words:
            w = _normalize(t, stopwords)
            if w is not None:
                groups["".join(sorted(w))].add(w)
    return [f"{sig}: {' '.join(sorted(ws))}"
            for sig, ws in groups.items() if len(ws) >= 2]
