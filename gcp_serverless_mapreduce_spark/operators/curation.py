"""Corpus-curation operators for LLM training-data pipelines: PII
redaction, cross-document segment-level dedup (keep-first), and
benchmark decontamination via n-gram overlap.

All three are pure built-in column expressions / relational plans — no
Python in any hot path — and each has an exact DuckDB oracle twin in
``suite/curation_q.py``.

Scale design (100 TB):

- **PII redaction** is a map-only projection: regex count + replace per
  row, no shuffle at all.  The patterns are anchored, non-overlapping
  regexes evaluated by the JVM regex engine inside whole-stage codegen.
- **Segment dedup** is the paragraph-granularity variant of exact
  substring dedup (Lee et al. 2022, "Deduplicating Training Data Makes
  Language Models Better"): explode fixed-width word chunks, ONE
  exchange keyed on the chunk's md5 (fixed 32-byte key regardless of
  chunk text width), keep the globally-first occurrence via a window,
  re-assemble surviving text per document.  Two shuffles total (chunk
  key, then doc re-assembly), both linear in corpus size.
- **Decontamination** joins train-side n-grams against the DISTINCT
  n-gram set of the eval/benchmark split.  Benchmarks are tiny compared
  to a 100 TB corpus, so the eval side is broadcast — the corpus-side
  n-gram explosion never shuffles; each task probes the broadcast hash
  set and only (doc_id, matched-gram) survivors reach the final
  aggregation.

No counterpart exists in the reference (its pipeline stops at word
grouping, mapphase/map.go); these extend the same tokenize/normalize
surface (map.go:82-151) to corpus curation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tokens
from .textstats import bigram_structs

# Deliberately simple, engine-portable patterns (identical semantics in
# Java regex and DuckDB's RE2): a production deployment would swap in a
# vetted PII library; the *plan shape* — map-only scan, count + replace —
# is what carries to 100 TB.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\d{3}-\d{3}-\d{4}"
IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Count and redact emails, phone numbers, and IPv4 literals.

    Adds ``n_emails / n_phones / n_ips`` (match counts on the original
    text) and ``redacted`` (all three classes replaced by typed tags).
    Replacement order is email -> phone -> IP; the patterns cannot
    overlap (emails contain '@', phones dashes, IPs dots between digit
    runs), so the order only matters for determinism, not results.
    """
    text = F.col(text_col)
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(text, EMAIL_RE, "<EMAIL>"),
            PHONE_RE, "<PHONE>"),
        IP_RE, "<IP>")
    return df.withColumns({
        "n_emails": F.regexp_count(text, F.lit(EMAIL_RE)).cast("long"),
        "n_phones": F.regexp_count(text, F.lit(PHONE_RE)).cast("long"),
        "n_ips": F.regexp_count(text, F.lit(IP_RE)).cast("long"),
        "redacted": redacted,
    })


def doc_chunks(docs: DataFrame, chunk_words: int = 10,
               id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Explode each document into fixed-width word chunks.

    -> (doc_id, chunk_idx, chunk): chunk *i* is words
    ``[i*chunk_words, (i+1)*chunk_words)`` re-joined by single spaces
    (the last chunk may be shorter).  Fixed-width chunks make the dedup
    unit deterministic and cheap — no sentence splitter needed — which
    is also why they are the common unit for web-scale near-dup passes.
    """
    # filter BEFORE the sequence: Spark's sequence(0, -1) counts DOWN
    # (yields [0, -1]) instead of returning empty, so an empty document
    # would fabricate chunks; DuckDB's generate_series(0, -1) is empty.
    toked = (docs.select(F.col(id_col), tokens(F.col(text_col)).alias("toks"))
             .filter(F.size("toks") > 0))
    n_chunks = F.ceil(F.size("toks") / F.lit(chunk_words)).cast("int")
    return (
        toked.select(F.col(id_col), F.col("toks"),
                     F.posexplode(F.sequence(F.lit(0), n_chunks - 1))
                     .alias("chunk_idx", "_j"))
        .select(
            id_col, "chunk_idx",
            F.concat_ws(
                " ", F.slice(F.col("toks"),
                             F.col("chunk_idx") * chunk_words + 1,
                             chunk_words)).alias("chunk"))
    )


def chunk_dedup(docs: DataFrame, chunk_words: int = 10,
                id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Cross-document chunk dedup, keep-first: a chunk survives only in
    the earliest (doc_id, chunk_idx) position where its text occurs.

    -> (doc_id, chunk_idx, chunk, keep).  The exchange is keyed on
    ``md5(chunk)`` — a fixed-width key, so shuffle row width does not
    depend on chunk text length (the text itself rides as a value).
    Duplicates WITHIN a document beyond the first occurrence are removed
    by the same rule.
    """
    w = (Window.partitionBy("chunk_key")
         .orderBy(F.col(id_col).asc(), F.col("chunk_idx").asc()))
    return (
        doc_chunks(docs, chunk_words, id_col, text_col)
        .withColumn("chunk_key", F.md5(F.col("chunk")))
        .withColumn("keep", F.row_number().over(w) == 1)
        .drop("chunk_key")
    )


def chunk_dedup_stats(docs: DataFrame, chunk_words: int = 10,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Per-document outcome of :func:`chunk_dedup`.

    -> (doc_id, n_chunks, n_kept, kept_md5) where ``kept_md5`` hashes
    the surviving chunks re-joined in chunk order ('' if nothing
    survives) — gating the exact surviving BYTES, not just counts.
    """
    flagged = chunk_dedup(docs, chunk_words, id_col, text_col)
    totals = (flagged.groupBy(id_col)
              .agg(F.count("*").alias("n_chunks")))
    kept = (
        flagged.filter("keep")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_kept"),
             F.array_join(
                 F.transform(
                     F.array_sort(F.collect_list(
                         F.struct("chunk_idx", "chunk"))),
                     lambda s: s["chunk"]),
                 " ").alias("_kept_text"))
    )
    return (
        totals.join(kept, id_col, "left")
        .select(id_col, "n_chunks",
                F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
                F.md5(F.coalesce("_kept_text", F.lit(""))).alias("kept_md5"))
    )


def word_ngrams(docs: DataFrame, n: int,
                id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """-> (doc_id, gram): DISTINCT space-joined word n-grams per doc.

    Docs shorter than n words are dropped before the sequence (Spark's
    sequence(1, 0) counts down rather than returning empty).  Per-doc
    dedup happens IN-ROW (``array_distinct`` over the gram array before
    the explode — the anagram pipeline's P4 trick), so building the
    distinct (doc, gram) stream costs ZERO exchanges; downstream
    consumers shuffle only for their own aggregation.

    The scan is spread first (guarded, tables.spread_small_scan): the
    tokenize + gram transform is the CPU-heavy stage of every consumer
    (contamination, overlap, novelty) and must not serialize on an
    under-parallelized single-row-group scan; grams are exact strings,
    so the spread cannot perturb results."""
    from ..tables import spread_small_scan

    toked = (spread_small_scan(docs)
             .select(F.col(id_col), tokens(F.col(text_col)).alias("toks"))
             .filter(F.size("toks") >= n))
    grams = F.array_distinct(F.transform(
        F.sequence(F.lit(1), F.size("toks") - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i, n))))
    return toked.select(id_col, F.explode(grams).alias("gram"))


def ngram_contamination(docs: DataFrame, n: int = 3, eval_mod: int = 41,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Benchmark decontamination: flag train documents sharing any word
    n-gram with the eval split (docs where ``doc_id % eval_mod == 0``).

    -> (doc_id, n_shared) for contaminated train docs only, where
    ``n_shared`` counts DISTINCT shared n-grams.  The eval n-gram set is
    broadcast — eval benchmarks are tiny next to the corpus, so the
    train-side explosion never shuffles; only matches reach the final
    per-doc aggregation.  Production systems use n=8..13 over real
    prose; n=3 keeps the fixture's small-vocabulary corpus non-trivial.
    """
    grams = word_ngrams(docs, n, id_col, text_col)
    is_eval = (F.col(id_col) % eval_mod) == 0
    eval_grams = grams.filter(is_eval).select("gram").distinct()
    return (
        grams.filter(~is_eval)
        .join(F.broadcast(eval_grams), "gram")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shared"))
    )


def _merge_token_ranges(hits: DataFrame, id_col: str = "doc_id",
                       s_col: str = "s", e_col: str = "e") -> DataFrame:
    """Per-doc interval-merge sweep shared by the span-manifest family
    (and mirrored by operators/dedup.substring_discard_manifest and
    every manifest oracle's window fold): a range opens a new group iff
    its start exceeds the running max end of all prior ranges.

    -> (id_col, range_start, range_end, n_tokens)."""
    order = Window.partitionBy(id_col).orderBy(s_col, e_col)
    pme = F.max(e_col).over(order.rowsBetween(Window.unboundedPreceding, -1))
    flagged = hits.withColumn(
        "brk",
        F.when(pme.isNull() | (F.col(s_col) > pme), 1).otherwise(0))
    grouped = flagged.withColumn(
        "grp", F.sum("brk").over(
            order.rowsBetween(Window.unboundedPreceding, 0)))
    return (grouped.groupBy(id_col, "grp")
            .agg(F.min(s_col).cast("long").alias("range_start"),
                 F.max(e_col).cast("long").alias("range_end"))
            .select(id_col, "range_start", "range_end",
                    (F.col("range_end") - F.col("range_start"))
                    .cast("long").alias("n_tokens")))


def _positioned_ngrams(docs: DataFrame, n: int,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """-> (id_col, s, gram): every word n-gram WITH its 0-based start
    token position (the positioned sibling of :func:`word_ngrams` —
    no per-doc dedup, since span manifests need every occurrence).

    Spread before the tokenize + positioned-gram explode (the CPU-heavy
    stage of the span-manifest family) — see :func:`word_ngrams`."""
    from ..tables import spread_small_scan

    toked = (spread_small_scan(docs)
             .select(F.col(id_col), tokens(F.col(text_col)).alias("toks"))
             .filter(F.size("toks") >= n))
    return toked.select(
        id_col,
        F.posexplode(F.transform(
            F.sequence(F.lit(1), F.size("toks") - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i, n))))
        .alias("s", "gram"))


def contamination_span_manifest(docs: DataFrame, n: int = 3,
                                eval_mod: int = 41,
                                id_col: str = "doc_id",
                                text_col: str = "text") -> DataFrame:
    """Span-level benchmark decontamination (round-13 frontier): the
    surgical composition of :func:`ngram_contamination` (which FLAGS
    whole train docs) with the discard-manifest semantics of
    operators/dedup.substring_discard_manifest — emit, per contaminated
    train document, the merged 0-based TOKEN RANGES covering every
    occurrence of an eval-shared word n-gram, so a pipeline can drop
    only the contaminated spans and keep the clean remainder.  Whole-doc
    dropping (the PaLM/GPT-3 appendix convention) wastes the long tail
    of mostly-clean documents that merely quote a benchmark item; span
    excision is what Lee et al. 2022 do for duplicated text, applied
    here to contamination.

    -> (doc_id, range_start, range_end, n_tokens): one row per maximal
    contaminated span, token indices 0-based over the whitespace
    tokenization every other curation face uses; a matching n-gram at
    token position i covers [i, i+n), and overlapping/touching covers
    merge via the per-doc interval sweep.

    Scale shape: the eval n-gram set is BROADCAST (a benchmark suite is
    tiny next to a 100 TB corpus); the corpus-side positioned-gram
    explode is map-only and only MATCHES survive the join, so the one
    exchange is the per-doc window over hit rows — bounded by
    contamination volume, never corpus volume."""
    grams = _positioned_ngrams(docs, n, id_col, text_col)
    is_eval = (F.col(id_col) % eval_mod) == 0
    eval_grams = grams.filter(is_eval).select("gram").distinct()
    hits = (grams.filter(~is_eval)
            .join(F.broadcast(eval_grams), "gram")
            .select(id_col, F.col("s").cast("long").alias("s"),
                    (F.col("s") + n).cast("long").alias("e")))
    return _merge_token_ranges(hits, id_col)


def bloom_span_manifest(docs: DataFrame, n: int = 3, eval_mod: int = 41,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """:func:`contamination_span_manifest` with the probe pushed through
    a BLOOM FILTER instead of a broadcast set join — the true 100 TB
    shape: the eval split's n-grams fold into an 8 KiB bitmap literal
    (operators/sketches.bloom_build/bloom_bitmap) and every train-side
    positioned gram tests membership as whole-stage-codegen'd bit
    arithmetic ON THE SCAN — zero joins, zero broadcast, zero shuffle
    before the per-doc interval merge over hit rows only.  The spans
    are a SUPERSET of the exact manifest's (Bloom false positives widen
    or add ranges — conservative over-redaction, the safe direction for
    decontamination); the FP inclusion is deterministic (md5-derived
    bit positions) and the oracle reproduces every set bit, so the
    bloom-level manifest is hash-gated exactly, FPs included — the same
    discipline as bloom_decontamination's bloom_fp column.

    -> (doc_id, range_start, range_end, n_tokens), one row per merged
    bloom-hit span."""
    from .sketches import bloom_bitmap, bloom_build, bloom_hit_expr

    grams = _positioned_ngrams(docs, n, id_col, text_col)
    is_eval = (F.col(id_col) % eval_mod) == 0
    bitmap = bloom_bitmap(bloom_build(
        grams.filter(is_eval).select("gram").distinct(), key_col="gram"))
    hits = (grams.filter(~is_eval)
            .filter(bloom_hit_expr(F.col("gram"), bitmap))
            .select(id_col, F.col("s").cast("long").alias("s"),
                    (F.col("s") + n).cast("long").alias("e")))
    return _merge_token_ranges(hits, id_col)


def inline_bloom_spans(bitmap: list[int], n: int = 3,
                       text_col: str = "text") -> Column:
    """The ENTIRE bloom span computation of :func:`bloom_span_manifest`
    as ONE row-local column expression: positioned grams, the k-bit
    Bloom probe, and the interval merge all fold IN-ROW (an
    ``aggregate`` over ascending hit positions replaces the per-doc
    window), so a document's merged contaminated spans come out of pure
    whole-stage-codegen'd expressions — no explode, no window, no
    exchange, not even a per-doc shuffle.

    This is what makes decontamination a STATELESS STREAMING stage
    (suite/sketch_q.stream_contamination_spans): each arriving document
    emits its spans map-only; the only batch-side dependency is the
    8 KiB bitmap literal built once from the eval split.  Must produce
    exactly the rows of :func:`bloom_span_manifest` (the window and the
    fold are two derivations of one contract — both oracle-gated).

    -> array<struct<s:long, e:long>> of merged spans (empty array for
    clean or shorter-than-n documents)."""
    from .sketches import bloom_hit_expr

    empty = F.expr("CAST(array() AS ARRAY<STRUCT<s: BIGINT, e: BIGINT>>)")
    gap = F.lit(n).cast("long")
    big = F.lit(1 << 62).cast("long")

    # THE rule of this function (learned twice, r13 and r14): inside a
    # higher-order-function lambda, any referenced expression that is
    # not a lambda variable or a literal is RE-EVALUATED per element.
    # r13's 3.5x was the gram build inlined into the probe (k re-evals
    # per position); the r14 dense-doc stress exposed the much worse
    # one — `tokens(text)` referenced inside the per-position lambda
    # re-ran lower+split+filter of the WHOLE document per position,
    # O(tokens x text_len): 187 s for one 20k-token doc.  So every
    # array used more than O(1) times is LET-BOUND once via
    # transform(array(x), body) — inside `body` it is a lambda variable
    # and each reference is one pointer read.

    def spans_of(ps):
        # Interval merge in O(hits) over let-bound ascending hit
        # positions `ps` — the in-row twin of _merge_token_ranges.
        # Hits at gap <= n share a span (a hit at p covers [p, p+n),
        # touching merges): a hit OPENS a span iff its gap to the
        # previous hit exceeds n and CLOSES one iff the gap to the next
        # does.  The flags come from zip_with against sentinel-padded
        # SHIFTED copies built once per row, so every lambda touches
        # only its own arguments — no indexed neighbor lookups, no
        # fold: this replaces the r13 accumulator-concat fold that was
        # O(hits^2) on a wall-to-wall contaminated document (r13
        # watch-item 3) and drops its fragile element_at(acc, -1)
        # behind-short-circuit probe (ADVICE r13) entirely.
        tail = F.greatest(F.size(ps) - 1, F.lit(0))
        prevs = F.concat(F.array(-gap - 1), F.slice(ps, 1, tail))
        nexts = F.concat(F.slice(ps, 2, tail), F.array(big))
        starts = F.filter(
            F.zip_with(ps, prevs, lambda p, q: F.struct(
                p.alias("p"), (p - q > gap).alias("f"))),
            lambda s: s["f"])
        ends = F.filter(
            F.zip_with(ps, nexts, lambda p, q: F.struct(
                p.alias("p"), (q - p > gap).alias("f"))),
            lambda s: s["f"])
        # starts[k] and ends[k] bound the k-th merged span (the flags
        # alternate open/close over ascending positions)
        return F.zip_with(
            starts, ends,
            lambda a, b: F.struct(a["p"].alias("s"),
                                  (b["p"] + n).cast("long").alias("e")))

    def body(toks):
        # (position, gram) structs, the gram built ONCE per position
        # from the let-bound token array.  The short-doc guard at the
        # bottom keeps sequence(0, negative) — which counts DOWN — out
        # of the evaluated branch.
        pos_grams = F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.struct(
                i.alias("p"),
                F.concat_ws(" ", F.slice(toks, i + 1, n)).alias("g")))
        # Bloom probe per struct; And short-circuits, so a miss costs
        # ~one md5 — only survivors pay all k probes.  The bitmap rides
        # as a true array literal (see sketches.bloom_hit_expr).
        hits = F.filter(pos_grams,
                        lambda s: bloom_hit_expr(s["g"], bitmap))
        ps_once = F.transform(hits, lambda s: s["p"].cast("long"))
        merged = F.element_at(F.transform(F.array(ps_once), spans_of), 1)
        return F.when(F.size(toks) >= n, merged).otherwise(empty)

    return F.element_at(
        F.transform(F.array(tokens(F.col(text_col))), body), 1)


def bpe_aligned_span_manifest(docs: DataFrame, n: int = 3,
                              eval_mod: int = 41,
                              id_col: str = "doc_id",
                              text_col: str = "text") -> DataFrame:
    """TOKENIZER-AWARE decontamination manifest (round-14 frontier):
    :func:`contamination_span_manifest`'s word-index ranges re-expressed
    as BPE PIECE ranges — the coordinate system an LLM training pipeline
    actually excises in, since the model consumes tokenizer pieces, not
    whitespace words.  A span covering words [ws, we) maps to pieces
    [offset(ws), offset(we)) where offset is the per-document prefix sum
    of each word's piece count under the corpus merge table
    (operators/textstats.bpe_pieces; merges never cross word boundaries
    and spaces are never wrapped, so the document's piece stream is
    exactly the word-major concatenation — the alignment is exact, not
    heuristic).

    -> (doc_id, range_start, range_end, piece_start, piece_end,
    n_pieces): one row per merged contaminated span, word indices AND
    piece indices, both 0-based.

    Scale shape: the word-level manifest already bounds everything by
    contamination volume (eval grams broadcast; only matches shuffle).
    The piece-offset pass runs ONLY over contaminated documents (a
    left-semi join on the manifest's doc ids prunes the corpus before
    the posexplode), so the per-doc cumulative window costs O(tokens of
    contaminated docs) — at 100 TB, a sliver of the corpus — and the
    two final equi-joins are manifest-row-sized.  The BPE piece count
    itself is the codegen'd replace chain, no Python, no UDF."""
    from .textstats import bpe_pieces

    spans = contamination_span_manifest(docs, n, eval_mod, id_col,
                                        text_col)
    contam = docs.join(spans.select(id_col).distinct(), id_col,
                       "left_semi")
    w = contam.select(
        id_col, F.posexplode(tokens(F.col(text_col))).alias("wi", "word"))
    p = bpe_pieces(F.col("word"))
    n_pieces = (F.length(p)
                - F.length(F.replace(p, F.lit("<"), F.lit("")))
                ).cast("long")
    win = Window.partitionBy(id_col).orderBy("wi")
    off = (w.withColumn("np", n_pieces)
           .select(id_col, F.col("wi").cast("long").alias("wi"),
                   (F.sum("np").over(win) - F.col("np")).alias("p_start"),
                   F.sum("np").over(win).alias("p_end")))
    # ONE pass over the offset frame: a naive pair of equi-joins (one on
    # range_start, one on range_end - 1) makes Spark re-derive `off`
    # twice — two scans, two BPE replace chains, two windows (seen in
    # the plan audit).  Instead each span contributes its two boundary
    # word indices as broadcast-side keys; off streams through a single
    # broadcast join and a spans-keyed aggregate pivots the two matched
    # offsets back onto one row.  Both join and aggregate are bounded by
    # contamination volume.
    keys = spans.select(
        id_col, "range_start", "range_end",
        F.explode(F.array("range_start", F.col("range_end") - 1))
        .alias("wi"))
    hit = off.join(F.broadcast(keys), [id_col, "wi"])
    return (hit.groupBy(id_col, "range_start", "range_end")
            .agg(F.min(F.when(F.col("wi") == F.col("range_start"),
                              F.col("p_start"))).alias("piece_start"),
                 F.max(F.when(F.col("wi") == F.col("range_end") - 1,
                              F.col("p_end"))).alias("piece_end"))
            .select(id_col, "range_start", "range_end",
                    "piece_start", "piece_end",
                    (F.col("piece_end") - F.col("piece_start"))
                    .cast("long").alias("n_pieces")))


def cap_per_source(docs: DataFrame, cap: int,
                   source_col: str = "source",
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Per-source (per-domain) document cap: keep at most ``cap`` docs
    per source, highest-quality first.

    -> (source, doc_id, rank, n_uniq_tokens) for surviving docs.

    The over-representation guard of web-corpus curation (Gopher/
    RefinedWeb style: no single domain may dominate the training mix):
    rank docs within each source by a quality key — distinct-token count
    here, descending, doc_id tiebreak — and keep the top ``cap``.  ONE
    shuffle on the source key; the rank is a bounded row_number window,
    so a pathological million-doc domain costs its partition a sort but
    emits at most ``cap`` rows.  A skewed mega-domain would pair this
    with the same two-phase salted pattern as docs_per_word_salted.
    """
    w = Window.partitionBy(source_col).orderBy(
        F.col("_quality").desc(), F.col(id_col).asc())
    return (
        docs.withColumn(
            "_quality",
            F.size(F.array_distinct(tokens(F.col(text_col)))).cast("long"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= cap)
        .select(source_col, id_col, "rank",
                F.col("_quality").alias("n_uniq_tokens"))
    )


def latest_per_key(df: DataFrame, key_cols: list[str],
                   order_cols: list[str]) -> DataFrame:
    """Latest-value compaction: one row per key, the one that sorts LAST
    by ``order_cols`` (ties impossible if the caller includes a unique
    id, which it should).

    The CDC/upsert "compact to current state" operator — a changelog at
    rest becomes a snapshot.  One shuffle on the key; at 100 TB this is
    the standard pre-merge step before writing a snapshot table, and the
    window form (vs self-join-on-max) reads the input once.
    """
    w = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).desc() for c in order_cols])
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


def pack_sequences(docs: DataFrame, budget: int,
                   source_col: str = "source",
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Sequence packing for pretraining batches: bucket documents into
    fixed-token-budget packs by concatenation offset.

    -> (source, pack_id, n_docs, token_sum, fill_ratio, overflowed).

    Documents are laid out in deterministic order (doc_id) within each
    source stream and assigned to the pack where their START offset
    falls (``(cum - n_tokens) div budget``) — the accounting of
    concat-then-chunk packing, the standard way pretraining consumes
    short documents.  A doc longer than the residual budget overflows
    its pack (reported, not split): offset-bucketing approximates
    first-fit with ZERO coordination — one window over the same
    source-keyed exchange the final aggregate reuses, so packing 100 TB
    is two linear passes with a single shuffle.  True first-fit bin
    packing is inherently sequential per stream; deployments that need
    splits chunk the token arrays downstream.
    """
    w = (Window.partitionBy(source_col).orderBy(id_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    toked = docs.select(
        source_col, id_col,
        F.size(tokens(F.col(text_col))).cast("long").alias("n_tokens"))
    packed = (toked
              .withColumn("_end", F.sum("n_tokens").over(w))
              # DIV: exact integer division (the `/` operator would round
              # through double)
              .withColumn("pack_id",
                          F.expr(f"CAST((_end - n_tokens) DIV {budget}"
                                 " AS BIGINT)")))
    return (packed.groupBy(source_col, "pack_id")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tokens").alias("token_sum"),
                 F.round(F.sum("n_tokens") / F.lit(float(budget)), 6)
                 .alias("fill_ratio"),
                 (F.sum("n_tokens") > budget).alias("overflowed")))


def temperature_sample(docs: DataFrame, scale: int,
                       source_col: str = "source",
                       id_col: str = "doc_id") -> DataFrame:
    """Temperature-flattened source sampling: per-source quota
    ``floor(sqrt(n_source) * scale)`` — sub-linear in source size, so
    over-represented domains are flattened (the alpha=0.5 point of the
    multilingual/multi-domain sampling temperature family) — filled by
    hash-ranked uniform draw (md5 of the doc id: deterministic,
    seedable by construction, identical across engines).

    -> (source, doc_id, samp_rank, quota) for kept docs.

    sqrt and one multiply are IEEE correctly-rounded in both the JVM and
    DuckDB, so the quota is bit-stable cross-engine; deliberately NO
    cross-source normalization term (a sum of doubles whose order could
    flip a floor()).  Counts are a tiny per-source aggregate, broadcast
    back; the rank is one window over the source-keyed exchange.
    """
    counts = (docs.groupBy(source_col)
              .agg(F.count("*").alias("n_src"))
              .withColumn("quota",
                          F.floor(F.sqrt(F.col("n_src")) * scale)
                          .cast("long"))
              .drop("n_src"))
    w = Window.partitionBy(source_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col))
    ranked = (docs.select(source_col, id_col)
              .withColumn("samp_rank", F.row_number().over(w).cast("long")))
    return (ranked.join(F.broadcast(counts), source_col)
            .filter(F.col("samp_rank") <= F.col("quota"))
            .select(source_col, id_col, "samp_rank", "quota"))


def overlapping_chunks(docs: DataFrame, chunk_words: int, stride: int,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """RAG-style overlapping chunking: windows of ``chunk_words`` tokens
    starting every ``stride`` tokens (stride < chunk_words ⇒ adjacent
    chunks overlap by ``chunk_words - stride``), the retrieval-index unit
    where :func:`doc_chunks`' disjoint segments are the dedup unit.

    -> (doc_id, chunk_idx, n_chunk_tokens, chunk_hash): start offsets are
    0, stride, 2·stride, … while < n_tokens, so every token is covered
    and chunk boundaries depend only on integer arithmetic both engines
    share.  The chunk itself leaves the operator as md5(space-joined
    words) — fixed-width, join/compare-ready — never as repeated text
    (an overlap factor of chunk/stride would multiply shuffle bytes).
    Map-only: explode of per-row offsets, no shuffle at all.
    """
    toked = (docs.select(F.col(id_col), tokens(F.col(text_col)).alias("toks"))
             .filter(F.size("toks") > 0))
    return (
        toked.select(F.col(id_col), "toks",
                     F.posexplode(
                         F.sequence(F.lit(0), F.size("toks") - 1,
                                    F.lit(stride)))
                     .alias("chunk_idx", "start"))
        .select(
            id_col, "chunk_idx",
            F.size(F.slice("toks", F.col("start") + 1, chunk_words))
            .cast("long").alias("n_chunk_tokens"),
            F.md5(F.concat_ws(
                " ", F.slice("toks", F.col("start") + 1, chunk_words)))
            .alias("chunk_hash"))
    )


def split_assignment(docs: DataFrame, train_hex: str = "e6",
                     val_hex: str = "f3",
                     id_col: str = "doc_id",
                     source_col: str = "source") -> DataFrame:
    """Deterministic train/val/test split accounting, the
    leakage-proof-by-construction partition every corpus release needs.

    A doc's split follows the first two hex chars of md5(doc_id):
    ``< train_hex`` → train (0xe6/0x100 ≈ 89.8%), ``< val_hex`` → val
    (≈ 5.1%), else test — hash-based so membership is a pure function of
    the id (stable under re-partitioning, appends, and engine choice),
    and the SAME doc can never migrate between splits across runs.

    -> (source, split, n_docs, min_doc_id, max_doc_id): per-source split
    sizes.  Map-only projection + one tiny aggregate.
    """
    h2 = F.substring(F.md5(F.col(id_col).cast("string")), 1, 2)
    split = (F.when(h2 < train_hex, "train")
             .when(h2 < val_hex, "val")
             .otherwise("test"))
    return (docs
            .select(F.col(source_col).alias("source"),
                    split.alias("split"), F.col(id_col))
            .groupBy("source", "split")
            .agg(F.count("*").alias("n_docs"),
                 F.min(id_col).alias("min_doc_id"),
                 F.max(id_col).alias("max_doc_id")))


def es_samp_key(id_col: str, weight_col: str):
    """The Efraimidis-Spirakis sampling key shared by the global and
    per-group samplers: md5-derived uniform u (13 hex nibbles = 52 bits,
    +0.5 to dodge ln(0)), key = -ln(u)/w quantized to 9dp (cross-engine
    ln() ulps must not flip a boundary membership).  The hash width and
    quantization are a determinism CONTRACT mirrored by the oracle's
    _HEX_FOLD — change them here and there together."""
    h = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 13),
               16, 10).cast("long")
    u = (h.cast("double") + 0.5) / F.lit(float(16 ** 13))
    return F.round(-F.log(u) / F.col(weight_col).cast("double"), 9)


def weighted_sample(docs: DataFrame, n: int,
                    weight_col: str = "n_chars",
                    id_col: str = "doc_id") -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis–Spirakis 2006): each row draws u ∈ (0,1) and the sample
    is the n largest u^(1/w) — equivalently the n SMALLEST
    -ln(u)/w — so inclusion probability is proportional to weight with
    no global pass over the weights.

    u is md5-derived (first 13 hex nibbles = 52 bits, exact in a double,
    +0.5 to dodge ln(0)), so the draw is a pure function of the id:
    reproducible across runs, engines, and partitionings — the property
    a corpus release needs.  The key is quantized to 9 decimals and
    tie-broken on the id before ranking: cross-engine ln() may differ in
    the last ulp, and an UN-quantized float order would let that flip a
    boundary membership.

    -> (doc_id, weight, samp_key, samp_rank), samp_rank 1..n.  Scale: one
    map-side projection + one global top-n (TakeOrdered — no full sort).
    """
    key = es_samp_key(id_col, weight_col)
    keyed = docs.select(F.col(id_col),
                        F.col(weight_col).cast("long").alias("weight"),
                        key.alias("samp_key"))
    # orderBy().limit(n) compiles to TakeOrderedAndProject — per-partition
    # top-n then a driver merge of n·P rows, never a global sort.  The
    # unpartitioned window then ranks only the n survivors.
    top = keyed.orderBy(F.col("samp_key").asc(), F.col(id_col).asc()).limit(n)
    w = Window.orderBy(F.col("samp_key").asc(), F.col(id_col).asc())
    return top.withColumn("samp_rank", F.row_number().over(w).cast("long"))


# ---------------------------------------------------------------------------
# DSIR importance weights (Xie et al. 2023, "Data Selection for Language
# Models via Importance Resampling") and a fixed-weight logistic quality
# classifier — the two standard "which documents do I keep" scorers.

DSIR_BUCKETS = 128

# Logistic quality-model weights (fixed, engine-portable doubles).  A
# production pipeline trains these; the *plan* — feature projection +
# linear model + sigmoid, all inside codegen — is what carries to 100 TB.
QL_BIAS = -2.0
QL_W_LOGLEN = 0.55      # ln(1 + n_tokens): longer docs score higher
QL_W_MEANLEN = 0.25     # mean token length
QL_W_STOPRATIO = 1.5    # stop-word ratio (natural prose has stopwords)
QL_W_DIGITRATIO = -3.0  # digit-character ratio (tables/logs score lower)
QL_W_DISTINCT = 1.0     # distinct-token ratio (boilerplate scores lower)


def dsir_bucket(tok: Column) -> Column:
    """Hashed-unigram feature bucket: md5-prefix hash mod DSIR_BUCKETS."""
    return (F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long")
            % DSIR_BUCKETS)


def dsir_importance(docs: DataFrame, target_lang: str = "en",
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """-> (doc_id, lang, n_tokens, dsir_logw): per-document DSIR
    importance log-weight, sum over tokens of
    ln(p_target(bucket)/p_raw(bucket)) under hashed-unigram features
    with add-1 smoothing.  Target = docs in ``target_lang``; raw =
    everything else.

    Plan: ONE explode of the corpus; per-(doc, bucket) counts reduce it
    to at most DSIR_BUCKETS rows per doc; the global per-bucket
    target/raw distributions aggregate FROM those counts (no second
    scan) into <= 2*DSIR_BUCKETS rows that broadcast back — so the
    corpus is read once and the only wide exchange is keyed on
    (doc, bucket).  At 100 TB the bucket distribution is a fixed-size
    broadcast regardless of vocabulary.
    """
    toks = docs.select(
        F.col(id_col).alias("doc"), F.col("lang"),
        (F.col("lang") == target_lang).alias("is_t"),
        F.explode(tokens(F.col(text_col))).alias("tok"))
    db = (toks
          .select("doc", "lang", "is_t", dsir_bucket(F.col("tok")).alias("b"))
          .groupBy("doc", "lang", "is_t", "b")
          .agg(F.count(F.lit(1)).alias("c")))
    dist = (db.groupBy("b")
            .agg(F.sum(F.when(F.col("is_t"), F.col("c")).otherwise(0))
                 .alias("ct"),
                 F.sum(F.when(~F.col("is_t"), F.col("c")).otherwise(0))
                 .alias("cr")))
    tot = dist.agg(F.sum("ct").alias("tt"), F.sum("cr").alias("tr"))
    logr = (F.log((F.col("ct") + 1).cast("double")
                  / (F.col("tt") + DSIR_BUCKETS).cast("double"))
            - F.log((F.col("cr") + 1).cast("double")
                    / (F.col("tr") + DSIR_BUCKETS).cast("double")))
    rates = (dist.crossJoin(F.broadcast(tot))
             .select("b", logr.alias("logr")))
    return (db.join(F.broadcast(rates), "b")
            .groupBy("doc", "lang")
            .agg(F.sum("c").cast("long").alias("n_tokens"),
                 F.round(F.sum(F.col("c").cast("double") * F.col("logr")), 6)
                 .alias("dsir_logw"))
            .withColumnRenamed("doc", "doc_id"))


def quality_logit(docs: DataFrame, stopwords: tuple[str, ...],
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """-> (doc_id, n_tokens, mean_tok_len, stop_ratio, digit_ratio,
    distinct_ratio, quality, keep): fixed-weight logistic quality score
    sigmoid(w . features) per document with keep = quality >= 0.5.

    Every feature is a pure column expression over one scan — token
    counts via the shared tokenizer, ratios as exact-integer divisions —
    so the whole scorer is a map-only projection inside whole-stage
    codegen: zero shuffles at any scale.
    """
    toks = tokens(F.col(text_col))
    n = F.size(toks).cast("long")
    nd = F.size(F.array_distinct(toks)).cast("long")
    nstop = F.size(F.filter(toks, lambda t: t.isin(*stopwords))).cast("long")
    tok_chars = F.aggregate(toks, F.lit(0),
                            lambda acc, t: acc + F.length(t)).cast("long")
    ndigit = (F.length(F.col(text_col))
              - F.length(F.regexp_replace(F.col(text_col), "[0-9]", "")))
    textlen = F.length(F.col(text_col)).cast("long")
    mean_len = tok_chars.cast("double") / n.cast("double")
    stop_r = nstop.cast("double") / n.cast("double")
    digit_r = ndigit.cast("double") / textlen.cast("double")
    dist_r = nd.cast("double") / n.cast("double")
    z = (F.lit(QL_BIAS)
         + F.lit(QL_W_LOGLEN) * F.log(F.lit(1.0) + n.cast("double"))
         + F.lit(QL_W_MEANLEN) * mean_len
         + F.lit(QL_W_STOPRATIO) * stop_r
         + F.lit(QL_W_DIGITRATIO) * digit_r
         + F.lit(QL_W_DISTINCT) * dist_r)
    quality = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    return (docs.where(F.size(toks) > 0)
            .select(F.col(id_col),
                    n.alias("n_tokens"),
                    F.round(mean_len, 6).alias("mean_tok_len"),
                    F.round(stop_r, 6).alias("stop_ratio"),
                    F.round(digit_r, 6).alias("digit_ratio"),
                    F.round(dist_r, 6).alias("distinct_ratio"),
                    quality.alias("quality"))
            .withColumn("keep", F.col("quality") >= 0.5))


# ---------------------------------------------------------------------------
# Training-run data-order and mixture operators.

SHUFFLE_SHARDS = 8


def epoch_shuffle_plan(docs: DataFrame, epochs: int = 2,
                       n_shards: int = SHUFFLE_SHARDS,
                       id_col: str = "doc_id") -> DataFrame:
    """-> (doc_id, epoch, shard, pos): a deterministic, epoch-varying
    global shuffle plan — the data-order contract of a reproducible
    training run.

    Each epoch permutes the corpus by the md5 of (epoch, id): shard =
    hash-prefix mod n_shards routes the row, pos = rank of the full hash
    WITHIN the shard orders it.  Work per epoch is one exchange on the
    shard key + an in-shard sort — there is NO global sort, and shards
    stay balanced because the hash is uniform.  The plan is a pure
    function of (id, epoch): re-running it, on any cluster layout,
    yields byte-identical training order.
    """
    e = F.explode(F.array(*[F.lit(i) for i in range(epochs)])).alias("epoch")
    keyed = docs.select(F.col(id_col), e).withColumn(
        "h", F.md5(F.concat_ws(":", F.col("epoch"), F.col(id_col))))
    shard = (F.conv(F.substring("h", 1, 4), 16, 10).cast("long")
             % n_shards)
    w = Window.partitionBy("epoch", "shard").orderBy("h")
    return (keyed.withColumn("shard", shard)
            .withColumn("pos", F.row_number().over(w).cast("long"))
            .select(id_col, F.col("epoch").cast("long").alias("epoch"),
                    "shard", "pos"))


def mixture_reweight(docs: DataFrame, group_col: str = "lang") -> DataFrame:
    """-> (group, n_docs, actual_share, target_share, weight): per-group
    sampling weights that rebalance the corpus to a UNIFORM target
    mixture — weight = target_share / actual_share, the multiplier a
    sampler applies per group (the data-mixing step after source_token_kl
    diagnoses the shift).  One aggregate + scalar broadcast; group count
    is assumed small (languages/domains), as in practice.
    """
    counts = docs.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).alias("n_docs"))
    total = counts.agg(F.sum("n_docs").alias("total"),
                       F.count(F.lit(1)).alias("n_groups"))
    actual = F.col("n_docs").cast("double") / F.col("total").cast("double")
    target = F.lit(1.0) / F.col("n_groups").cast("double")
    return (counts.crossJoin(F.broadcast(total))
            .select(F.col("grp").alias(group_col),
                    F.col("n_docs").cast("long").alias("n_docs"),
                    F.round(actual, 6).alias("actual_share"),
                    F.round(target, 6).alias("target_share"),
                    F.round(target / actual, 6).alias("weight")))


def weighted_sample_per_group(docs: DataFrame, group_col: str, n: int,
                              id_col: str = "doc_id",
                              weight_col: str = "n_chars") -> DataFrame:
    """Per-GROUP Efraimidis-Spirakis weighted sample: the distributed
    per-key reservoir — top ``n`` rows per group by the same quantized
    -ln(u)/w key as :func:`weighted_sample` (md5-derived u, 9dp
    quantization + id tie-break).  One exchange on the group key; the
    rank window never sees more than a group's rows, so this is how a
    per-domain sample is drawn from a 100 TB corpus without a global
    sort.  -> (group, doc_id, weight, samp_key, samp_rank<=n)."""
    key = es_samp_key(id_col, weight_col)
    w = (Window.partitionBy(group_col)
         .orderBy(F.col("samp_key").asc(), F.col(id_col).asc()))
    return (docs.select(F.col(group_col), F.col(id_col),
                        F.col(weight_col).cast("long").alias("weight"),
                        key.alias("samp_key"))
            .withColumn("samp_rank", F.row_number().over(w).cast("long"))
            .where(F.col("samp_rank") <= n))


def source_overlap(docs: DataFrame, n: int = 3,
                   source_col: str = "source",
                   text_col: str = "text") -> DataFrame:
    """-> (src_a, src_b, inter, n_a, n_b, jaccard): exact n-gram-set
    Jaccard overlap between every pair of sources — the corpus-
    governance matrix that answers "which of my domains are mirroring
    each other?" before mixture weights are chosen.

    Scale shape: the per-source gram sets are reduced FIRST (one
    exchange keyed on gram after an in-row per-doc dedup), and each
    gram then carries only its SOURCE SET — bounded by the number of
    sources, a catalog-sized constant, never by corpus volume.  Pair
    generation is an in-row nested transform over that tiny set
    (no self-join of the gram table), and the final aggregate runs
    over the |sources|^2 pair grid.  A 100 TB corpus with 50 sources
    shuffles gram-cardinality rows once and 2500-cell partial aggs —
    there is no all-pairs blowup anywhere.
    """
    grams = word_ngrams(docs, n, id_col=source_col, text_col=text_col) \
        .distinct()
    sizes = grams.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_set"))
    src_sets = (grams.groupBy("gram")
                .agg(F.array_sort(F.collect_set(source_col))
                     .alias("srcs")))
    pairs = F.filter(
        F.flatten(F.transform(
            F.col("srcs"),
            lambda a: F.transform(F.col("srcs"),
                                  lambda b: F.struct(a.alias("src_a"),
                                                     b.alias("src_b"))))),
        lambda p: p["src_a"] < p["src_b"])
    inter = (src_sets.select(F.explode(pairs).alias("p"))
             .groupBy(F.col("p.src_a").alias("src_a"),
                      F.col("p.src_b").alias("src_b"))
             .agg(F.count(F.lit(1)).alias("inter")))
    a_sz = sizes.select(F.col(source_col).alias("src_a"),
                        F.col("n_set").alias("n_a"))
    b_sz = sizes.select(F.col(source_col).alias("src_b"),
                        F.col("n_set").alias("n_b"))
    return (inter
            .join(F.broadcast(a_sz), "src_a")
            .join(F.broadcast(b_sz), "src_b")
            .select("src_a", "src_b", "inter", "n_a", "n_b",
                    F.round(F.col("inter").cast("double")
                            / (F.col("n_a") + F.col("n_b")
                               - F.col("inter")), 6).alias("jaccard")))


UNIMAX_BUDGET_FRAC = 1.5   # token budget = this fraction of the corpus
#   (>1: the upsampling regime, where low-resource languages actually
#   hit the epoch cap and the residual water-fills into the big ones)
UNIMAX_MAX_EPOCHS = 2.0    # no language repeats more than this many times


def unimax_language_budget(docs: DataFrame,
                           budget_frac: float = UNIMAX_BUDGET_FRAC,
                           max_epochs: float = UNIMAX_MAX_EPOCHS,
                           lang_col: str = "lang",
                           chars_col: str = "n_chars") -> DataFrame:
    """UniMax language budgeting (Chung et al. 2023): split a character
    budget as UNIFORMLY as possible across languages, capping each at
    ``max_epochs`` passes over its data — the principled alternative to
    temperature sampling that never over-repeats a low-resource
    language.

    -> (lang, n_docs, chars_total, cap_chars, alloc_chars, epochs).

    The allocation is classic water-filling with per-language caps,
    computed in CLOSED FORM so it is one declarative plan instead of a
    driver loop: sort languages by cap ascending; for rank i the
    uniform candidate is t_i = (B - prefix_cap_sum) / (langs - i + 1);
    the water level θ is t at the FIRST rank whose cap exceeds it
    (flagged t's decrease monotonically, so θ = max over flagged —
    provable because a capped prefix consumes more than its uniform
    share), and every language gets min(cap, θ) (all caps if the budget
    covers them).  All arithmetic is doubles derived from exact BIGINT
    sums via the same op sequence on both engines, so the result is
    hash-stable.  Scale shape: one corpus aggregate (map-side combined)
    to the per-language frame; the window and the two 1-row broadcast
    crossJoins run on the LANGUAGE cardinality, never on data rows.
    """
    langs = (docs.groupBy(F.col(lang_col).alias("lang"))
             .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                  F.sum(chars_col).cast("long").alias("chars_total")))
    tot = langs.agg(
        (F.sum("chars_total").cast("double") * F.lit(budget_frac))
        .alias("budget"),
        F.count(F.lit(1)).cast("long").alias("n_langs"))
    w = Window.orderBy("cap_chars", "lang")
    ranked = (langs
              .withColumn("cap_chars",
                          F.col("chars_total").cast("double")
                          * F.lit(max_epochs))
              .crossJoin(F.broadcast(tot))
              .withColumn("prefix", F.coalesce(
                  F.sum("cap_chars").over(
                      w.rowsBetween(Window.unboundedPreceding, -1)),
                  F.lit(0.0)))
              .withColumn("i", F.row_number().over(w))
              .withColumn("t", (F.col("budget") - F.col("prefix"))
                          / (F.col("n_langs") - F.col("i") + 1)
                          .cast("double")))
    theta = ranked.agg(F.max(F.when(F.col("cap_chars") > F.col("t"),
                                    F.col("t"))).alias("theta"))
    return (ranked.crossJoin(F.broadcast(theta))
            .select("lang", "n_docs", "chars_total",
                    F.round("cap_chars", 4).alias("cap_chars"),
                    F.round(F.least(
                        F.col("cap_chars"),
                        F.coalesce(F.col("theta"), F.col("cap_chars"))), 4)
                    .alias("alloc_chars"),
                    F.round(F.least(
                        F.col("cap_chars"),
                        F.coalesce(F.col("theta"), F.col("cap_chars")))
                        # nullif: a language whose docs all have 0 chars
                        # must yield NULL on BOTH engines (DuckDB's IEEE
                        # division would give NaN/inf, a cross-engine
                        # hash mismatch; same guard as bpe_fertility).
                        / F.nullif(F.col("chars_total").cast("double"),
                                   F.lit(0.0)), 6)
                    .alias("epochs")))


GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")
GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100_000
GOPHER_MWL_LO, GOPHER_MWL_HI = 3.0, 10.0
GOPHER_SYMBOL_MAX = 0.1
GOPHER_BULLET_MAX = 0.9
GOPHER_ELLIPSIS_LINE_MAX = 0.3
GOPHER_ALPHA_MIN = 0.8
GOPHER_MIN_STOPS = 2


def gopher_rule_flags(text_col: str = "text") -> list[tuple[str, Column]]:
    """The Gopher quality-rule battery (Rae et al. 2021, §A1.1) as named
    boolean columns over one document — all built-in expressions, so the
    whole battery runs map-only inside codegen.  NULL-valued rules (e.g.
    mean word length of an empty doc) count as failures via coalesce."""
    text = F.col(text_col)
    toks = tokens(text)
    # nullif denominators: Spark division-by-zero yields NULL but DuckDB
    # does IEEE inf/NaN (and DuckDB orders NaN above every threshold) —
    # NULL on both engines falls to the coalesce(…, False) fail path.
    n_words = F.nullif(F.size(toks).cast("double"), F.lit(0.0))
    tok_chars = F.aggregate(F.transform(toks, F.length),
                            F.lit(0), lambda a, x: a + x)
    mwl = tok_chars.cast("double") / n_words
    n_hash = F.length(text) - F.length(F.replace(text, F.lit("#")))
    # Count BOTH ellipsis spellings (Rae et al. use "..." and U+2026
    # '…'; web text mixes them).  length() is Unicode-char counting on
    # both engines, so the '…' count needs no /3.
    n_ell = ((F.length(text)
              - F.length(F.replace(text, F.lit("...")))) / F.lit(3)
             + (F.length(text)
                - F.length(F.replace(text, F.lit("…")))))
    lines = F.split(text, "\n")
    n_lines = F.size(lines)
    n_bullet = F.size(F.filter(
        lines, lambda x: F.ltrim(x).like("- %") | F.ltrim(x).like("* %")
        | F.ltrim(x).like("•%")))
    n_ell_lines = F.size(F.filter(
        lines, lambda x: F.rtrim(x).like("%...") | F.rtrim(x).like("%…")))
    n_alpha = F.size(F.filter(toks, lambda x: x.rlike("[a-z]")))
    n_stops = F.size(F.array_distinct(F.filter(
        toks, lambda x: x.isin(*GOPHER_STOPS))))
    rules = [
        ("word_count", (n_words >= GOPHER_MIN_WORDS)
         & (n_words <= GOPHER_MAX_WORDS)),
        ("mean_word_len", (mwl >= GOPHER_MWL_LO) & (mwl <= GOPHER_MWL_HI)),
        ("symbol_ratio",
         (n_hash.cast("double") / n_words <= GOPHER_SYMBOL_MAX)
         & (n_ell.cast("double") / n_words <= GOPHER_SYMBOL_MAX)),
        ("bullet_lines",
         n_bullet.cast("double") / n_lines <= GOPHER_BULLET_MAX),
        ("ellipsis_lines",
         n_ell_lines.cast("double") / n_lines <= GOPHER_ELLIPSIS_LINE_MAX),
        ("alpha_words",
         n_alpha.cast("double") / n_words >= GOPHER_ALPHA_MIN),
        ("stop_words", n_stops >= GOPHER_MIN_STOPS),
    ]
    return [(name, F.coalesce(c, F.lit(False))) for name, c in rules]


def gopher_rule_filter(docs: DataFrame, source_col: str = "source",
                       text_col: str = "text") -> DataFrame:
    """-> (source, n_docs, n_pass, fail_<rule>...): per-source pass/fail
    census of the Gopher rule battery — the first screen of a
    pre-training curation pipeline, and the per-rule breakdown an
    operator watches to see WHICH rule is eating a source.  One map-only
    projection then a source-keyed aggregate (map-side combined)."""
    flags = gopher_rule_flags(text_col)
    flagged = docs.select(
        F.col(source_col).alias("source"),
        *[c.alias(f"r_{name}") for name, c in flags])
    aggs = [F.count(F.lit(1)).cast("long").alias("n_docs")]
    passc = F.lit(True)
    for name, _ in flags:
        passc = passc & F.col(f"r_{name}")
    aggs.append(F.sum(passc.cast("long")).cast("long").alias("n_pass"))
    aggs += [F.sum((~F.col(f"r_{name}")).cast("long")).cast("long")
             .alias(f"fail_{name}") for name, _ in flags]
    return flagged.groupBy("source").agg(*aggs)


HASH_FEAT_DIM = 4096
HASH_FEAT_MULT = 2_654_435_761        # Knuth multiplicative constant
HASH_FEAT_MOD = 2_000_001             # weight numerators in [-1e6, 1e6]


def hashed_ngram_scores(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """fastText-style hashed linear classifier INFERENCE (Joulin et al.
    2017): features are word unigrams + bigrams bucketed into
    ``HASH_FEAT_DIM`` hash slots; each slot's weight derives from the
    slot id by exact integer arithmetic (md5 → bucket → Knuth multiply →
    mod), standing in for a trained weight vector while keeping the
    whole pipeline hash-gateable.  Score = mean slot weight; quality
    probability = sigmoid(score).

    -> (doc_id, n_feats, score, prob, keep).

    Scale shape: the entire computation is IN-ROW — gram construction,
    hashing, and the weight sum are array expressions inside one
    map-only projection; no explode, no shuffle, nothing but the scan.
    The weight sum accumulates exact BIGINT numerators (order-free), so
    only the final sigmoid touches floating point."""
    toks = tokens(F.col(text_col))
    bi = F.transform(bigram_structs(toks),
                     lambda s: F.concat_ws(" ", s["w1"], s["w2"]))
    grams = F.concat(toks, bi)
    wnum = F.transform(
        grams,
        lambda g: (F.conv(F.substring(F.md5(g), 1, 8), 16, 10)
                   .cast("long") % HASH_FEAT_DIM * HASH_FEAT_MULT)
        % HASH_FEAT_MOD - (HASH_FEAT_MOD - 1) // 2)
    ssum = F.aggregate(wnum, F.lit(0).cast("long"), lambda a, x: a + x)
    n = F.size(grams)
    score = (ssum.cast("double") / ((HASH_FEAT_MOD - 1) // 2)
             / F.nullif(n.cast("double"), F.lit(0.0)))
    return docs.select(
        F.col(id_col),
        n.cast("long").alias("n_feats"),
        F.round(score, 6).alias("score"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-score)), 6).alias("prob"),
        F.coalesce(score > 0, F.lit(False)).alias("keep"))


def normalize_text(col: Column) -> Column:
    """Dedup-robust canonical form: lowercase, digits folded to '0',
    every other non-[a-z0 space] char to space, whitespace collapsed,
    trimmed — the normalize-then-hash canonicalization web-scale dedup
    applies before exact fingerprinting so that case/punctuation/number
    jitter can't hide an otherwise verbatim copy (same character classes
    in Java regex and DuckDB RE2)."""
    x = F.lower(col)
    x = F.regexp_replace(x, "[0-9]", "0")
    x = F.regexp_replace(x, "[^a-z0 ]", " ")
    return F.trim(F.regexp_replace(x, " +", " "))
