"""Corpus-curation queries (PII redaction, segment dedup,
decontamination) over ``documents``, with exact DuckDB oracle twins.

The SQL mirrors operators/curation.py expression for expression: the
same tokenizer as textstats_q (regex split on whitespace), the same
regexes (identical semantics in Java regex and DuckDB RE2), and
keep-first dedup via the same (doc_id, chunk_idx) window order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..operators import curation
from ..registry import register
from ..tables import load_table
from .textstats_q import _TOKS

CHUNK_WORDS = 10
NGRAM_N = 3
EVAL_MOD = 41

# Deterministic PII injection: the fixture corpus is synthetic word soup
# with no real PII, so both engines append the same synthesized contact
# line per document — the redaction path is then exercised on every row
# and the oracle gates the exact redacted bytes.
_AUG_SQL = (
    "text || ' Contact user' || CAST(doc_id AS VARCHAR)"
    " || '@mail.example.com or call 555-'"
    " || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'"
    " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    " || ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.7 now'"
)


def _augmented(docs: DataFrame) -> DataFrame:
    did = F.col("doc_id")
    return docs.withColumn("aug", F.concat(
        F.col("text"), F.lit(" Contact user"), did.cast("string"),
        F.lit("@mail.example.com or call 555-"),
        F.lpad((did % 1000).cast("string"), 3, "0"), F.lit("-"),
        F.lpad((did % 10000).cast("string"), 4, "0"),
        F.lit(" from 10."), (did % 256).cast("string"), F.lit(".0.7 now")))


@register("pii_redaction_stats", f"""
WITH a AS (SELECT doc_id, {_AUG_SQL} AS aug FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(aug,
            '{curation.EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(aug,
            '{curation.PHONE_RE}')) AS BIGINT) AS n_phones,
       CAST(len(regexp_extract_all(aug,
            '{curation.IP_RE}')) AS BIGINT) AS n_ips,
       md5(regexp_replace(regexp_replace(regexp_replace(aug,
            '{curation.EMAIL_RE}', '<EMAIL>', 'g'),
            '{curation.PHONE_RE}', '<PHONE>', 'g'),
            '{curation.IP_RE}', '<IP>', 'g')) AS redacted_md5,
       CAST(len(regexp_replace(regexp_replace(regexp_replace(aug,
            '{curation.EMAIL_RE}', '<EMAIL>', 'g'),
            '{curation.PHONE_RE}', '<PHONE>', 'g'),
            '{curation.IP_RE}', '<IP>', 'g')) AS BIGINT) AS redacted_len
FROM a
""")
def pii_redaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing, a mandatory pass in any training-data pipeline:
    count + redact emails / phone numbers / IPv4 literals in one
    map-only projection (no shuffle; regexes run inside codegen).  The
    oracle gates the exact redacted BYTES via md5, not just counts."""
    docs = _augmented(load_table(spark, sf_dir, "documents"))
    red = curation.redact_pii(docs, text_col="aug")
    return red.select(
        "doc_id", "n_emails", "n_phones", "n_ips",
        F.md5(F.col("redacted")).alias("redacted_md5"),
        F.length("redacted").cast("long").alias("redacted_len"))


@register("chunk_dedup_docs", f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
ch AS (
    SELECT doc_id, j.j AS chunk_idx,
           array_to_string(list_slice(toks, j.j * {CHUNK_WORDS} + 1,
                                      j.j * {CHUNK_WORDS} + {CHUNK_WORDS}),
                           ' ') AS chunk
    FROM t, LATERAL (
        SELECT unnest(generate_series(
            0, CAST(ceil(len(toks) / {CHUNK_WORDS}.0) AS INT) - 1)) AS j) j
    WHERE len(toks) > 0),
k AS (
    SELECT doc_id, chunk_idx, chunk,
           row_number() OVER (PARTITION BY md5(chunk)
                              ORDER BY doc_id, chunk_idx) = 1 AS keep
    FROM ch),
tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks
        FROM k GROUP BY doc_id),
kp AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
              string_agg(chunk, ' ' ORDER BY chunk_idx) AS s
       FROM k WHERE keep GROUP BY doc_id)
SELECT tot.doc_id, tot.n_chunks,
       COALESCE(kp.n_kept, 0) AS n_kept,
       md5(COALESCE(kp.s, '')) AS kept_md5
FROM tot LEFT JOIN kp USING (doc_id)
""")
def chunk_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document segment-level dedup (Lee et al. 2022 at paragraph
    granularity): fixed {CHUNK_WORDS}-word chunks, keep only the
    globally-FIRST occurrence of each chunk (order: doc_id, chunk_idx),
    re-assemble the surviving text per document.  One exchange keyed on
    md5(chunk) — fixed-width shuffle key — then a per-doc re-assembly;
    the oracle gates the exact surviving bytes via md5."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.chunk_dedup_stats(docs, CHUNK_WORDS)


@register("ngram_contamination", f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
g AS (
    SELECT DISTINCT doc_id,
           array_to_string(list_slice(toks, i.i, i.i + {NGRAM_N} - 1),
                           ' ') AS gram
    FROM t, LATERAL (
        SELECT unnest(generate_series(1, len(toks) - {NGRAM_N - 1}))
        AS i) i
    WHERE len(toks) >= {NGRAM_N}),
e AS (SELECT DISTINCT gram FROM g WHERE doc_id % {EVAL_MOD} = 0)
SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_shared
FROM g JOIN e USING (gram)
WHERE g.doc_id % {EVAL_MOD} <> 0
GROUP BY g.doc_id
""")
def ngram_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: train docs (doc_id % {EVAL_MOD} != 0)
    sharing any word {NGRAM_N}-gram with the eval split, with the count
    of distinct shared n-grams.  The eval n-gram set is BROADCAST (a
    benchmark suite is tiny next to a 100 TB corpus), so the corpus-side
    n-gram explosion never shuffles — only matches reach the final
    per-doc aggregation."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.ngram_contamination(docs, NGRAM_N, EVAL_MOD)


# Shared exact-manifest CTE chain (through merged `spans`) — the oracle
# of contamination_span_manifest, reused by the BPE-aligned face.
_SPAN_CTES = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
g AS (
    SELECT doc_id, i.i - 1 AS s, i.i - 1 + {NGRAM_N} AS e,
           array_to_string(list_slice(toks, i.i, i.i + {NGRAM_N - 1}),
                           ' ') AS gram
    FROM t, LATERAL (
        SELECT unnest(generate_series(1, len(toks) - {NGRAM_N - 1}))
        AS i) i
    WHERE len(toks) >= {NGRAM_N}),
ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % {EVAL_MOD} = 0),
hit AS (
    SELECT g.doc_id, g.s, g.e FROM g JOIN ev USING (gram)
    WHERE g.doc_id % {EVAL_MOD} <> 0),
o AS (
    SELECT doc_id, s, e,
           MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING) AS pme
    FROM hit),
f AS (
    SELECT doc_id, s, e,
           CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END AS brk
    FROM o),
gg AS (
    SELECT doc_id, s, e,
           SUM(brk) OVER (PARTITION BY doc_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS grp
    FROM f),
spans AS (
    SELECT doc_id, CAST(MIN(s) AS BIGINT) AS range_start,
           CAST(MAX(e) AS BIGINT) AS range_end,
           CAST(MAX(e) - MIN(s) AS BIGINT) AS n_tokens
    FROM gg GROUP BY doc_id, grp)"""


@register("contamination_span_manifest", _SPAN_CTES + """
SELECT doc_id, range_start, range_end, n_tokens FROM spans
""")
def contamination_span_manifest(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Span-level decontamination manifest (round-13 frontier): per
    contaminated train doc, the merged 0-based token ranges covering
    every eval-shared {NGRAM_N}-gram occurrence — drop the spans, keep
    the clean remainder, instead of discarding whole documents.  Same
    eval split (doc_id % {EVAL_MOD} = 0) and tokenizer as
    ngram_contamination; same interval-merge contract as
    exact_substring_discard_manifest, derived independently by the SQL
    window fold so both engines must agree range for range.  See
    operators/curation.contamination_span_manifest."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.contamination_span_manifest(docs, NGRAM_N, EVAL_MOD)


from .textstats_q import _bpe_sql as _BPE_SQL  # noqa: E402


@register("bpe_aligned_contamination_spans", _SPAN_CTES + f""",
w AS (
    SELECT t.doc_id, i.i - 1 AS wi, toks[i.i] AS word
    FROM t JOIN (SELECT DISTINCT doc_id FROM spans) c USING (doc_id),
         LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i) i),
pc AS (
    SELECT doc_id, wi,
           CAST(len(p) - len(replace(p, '<', '')) AS BIGINT) AS np
    FROM (SELECT doc_id, wi, {_BPE_SQL('word')} AS p FROM w)),
off AS (
    SELECT doc_id, wi,
           SUM(np) OVER (PARTITION BY doc_id ORDER BY wi) - np AS p_start,
           SUM(np) OVER (PARTITION BY doc_id ORDER BY wi) AS p_end
    FROM pc)
SELECT sp.doc_id, sp.range_start, sp.range_end,
       CAST(o1.p_start AS BIGINT) AS piece_start,
       CAST(o2.p_end AS BIGINT) AS piece_end,
       CAST(o2.p_end - o1.p_start AS BIGINT) AS n_pieces
FROM spans sp
JOIN off o1 ON o1.doc_id = sp.doc_id AND o1.wi = sp.range_start
JOIN off o2 ON o2.doc_id = sp.doc_id AND o2.wi = sp.range_end - 1
""")
def bpe_aligned_contamination_spans(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Tokenizer-aware decontamination (round-14 frontier): the span
    manifest's word ranges re-expressed as BPE PIECE ranges under the
    corpus merge table — the coordinate system an LLM pipeline actually
    excises in, since eval decontamination happens on tokenizer pieces,
    not whitespace words.  Alignment is exact: merges never cross word
    boundaries (textstats.bpe_pieces wraps only non-space units), so
    piece offsets are per-doc prefix sums of per-word piece counts, and
    a word span [ws, we) maps to pieces [offset(ws), offset(we)).  The
    piece-offset pass runs ONLY over contaminated documents (left-semi
    prune before the explode) — at 100 TB a sliver of the corpus.  See
    operators/curation.bpe_aligned_span_manifest."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.bpe_aligned_span_manifest(docs, NGRAM_N, EVAL_MOD)


DOMAIN_CAP = 10


@register("domain_capped_corpus", f"""
WITH t AS (SELECT doc_id, source, {{_TOKS}} AS toks FROM documents),
q AS (SELECT source, doc_id,
             CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq_tokens
      FROM t)
SELECT source, doc_id,
       CAST(row_number() OVER (PARTITION BY source
                               ORDER BY n_uniq_tokens DESC, doc_id)
            AS BIGINT) AS rank,
       n_uniq_tokens
FROM q
QUALIFY rank <= {DOMAIN_CAP}
""".format(_TOKS=_TOKS))
def domain_capped_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain over-representation cap (Gopher/RefinedWeb-style corpus
    mixing): keep at most {DOMAIN_CAP} docs per source, ranked by
    distinct-token count (doc_id tiebreak).  One shuffle on source; a
    mega-domain emits at most {DOMAIN_CAP} rows no matter its size."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.cap_per_source(docs, DOMAIN_CAP)


@register("latest_event_per_user", """
SELECT user_id, event_id AS last_event_id, epoch_us(ts) AS last_ts_us,
       event_type AS last_event_type, value AS last_value
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id
                           ORDER BY ts DESC, event_id DESC) = 1
""")
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC latest-value compaction: the events changelog collapsed to one
    current row per user (greatest ts, event_id tiebreak) — the standard
    pre-merge snapshot step.  One shuffle on the key; the window form
    reads the input once (vs a self-join on max(ts) reading it twice)."""
    ev = load_table(spark, sf_dir, "events")
    latest = curation.latest_per_key(ev, ["user_id"], ["ts", "event_id"])
    return latest.select(
        "user_id", F.col("event_id").alias("last_event_id"),
        F.unix_micros("ts").alias("last_ts_us"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"))


PACK_BUDGET = 512
SAMPLE_SCALE = 2


@register("sequence_packing_plan", """
WITH t AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
n AS (SELECT source, doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM t),
p AS (SELECT source, doc_id, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM n)
SELECT source, CAST((cum - n_tokens) // {PACK_BUDGET} AS BIGINT) AS pack_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS token_sum,
       round(SUM(n_tokens) / {PACK_BUDGET}.0, 6) AS fill_ratio,
       SUM(n_tokens) > {PACK_BUDGET} AS overflowed
FROM p GROUP BY source, pack_id
""".format(_TOKS=_TOKS, PACK_BUDGET=PACK_BUDGET))
def sequence_packing_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining sequence packing ({PACK_BUDGET}-token budget):
    concat-offset bucketing of each source's doc stream into packs, with
    per-pack fill accounting.  One shuffle on source, reused by the
    window and the pack aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.pack_sequences(docs, PACK_BUDGET)


@register("temperature_mixed_sample", f"""
WITH c AS (SELECT source,
                  CAST(floor(sqrt(COUNT(*)) * {SAMPLE_SCALE}) AS BIGINT)
                      AS quota
           FROM documents GROUP BY source),
r AS (SELECT source, doc_id,
             CAST(row_number() OVER (
                 PARTITION BY source
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                 AS BIGINT) AS samp_rank
      FROM documents)
SELECT r.source, r.doc_id, r.samp_rank, c.quota
FROM r JOIN c USING (source)
WHERE samp_rank <= quota
""")
def temperature_mixed_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened corpus mixing (alpha=0.5): per-source quota
    sqrt(n)*{SAMPLE_SCALE} filled by md5-ranked uniform draw — big
    domains are sub-linearly represented, the hash rank makes the draw
    deterministic and engine-portable."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.temperature_sample(docs, SAMPLE_SCALE)


@register("quality_percentile_filter", """
WITH q AS (
    SELECT doc_id, lang, n_chars,
           CAST(len(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
               / NULLIF(len(text), 0) AS score
    FROM documents),
r AS (
    SELECT *, percent_rank() OVER (PARTITION BY lang
                                   ORDER BY score, doc_id) AS pr
    FROM q)
SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
       round(min(score), 6) AS threshold_score,
       CAST(sum(n_chars) AS BIGINT) AS kept_chars
FROM r WHERE pr >= 0.5 GROUP BY lang
""")
def quality_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-based quality gate: keep each language's top half of
    documents by alpha-ratio score (the "fixed quality budget per
    language" curation policy, as opposed to a global absolute
    threshold that would starve low-resource languages).

    ``percent_rank`` over (score, doc_id) is fully tie-broken, so the
    kept set is deterministic and the DuckDB twin gates it exactly.
    Scale note: the per-lang window is a per-lang SORT — exact ranks are
    the contract here; a 100 TB deployment that only needs the
    *threshold* should instead learn it with ``approx_percentile(score,
    0.5)`` (two map-side passes, no sort) and filter on the broadcast
    cutoff, trading rank exactness for shuffle-free scans.
    """
    docs = load_table(spark, sf_dir, "documents")
    nchars = F.length("text")
    score = (F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
             .cast("double")
             / F.nullif(nchars.cast("long"), F.lit(0).cast("long")))
    w = Window.partitionBy("lang").orderBy("score", "doc_id")
    r = (docs.select("doc_id", "lang", "n_chars", score.alias("score"))
         .withColumn("pr", F.percent_rank().over(w)))
    return (r.filter(F.col("pr") >= 0.5)
            .groupBy("lang")
            .agg(F.count("*").alias("n_kept"),
                 F.round(F.min("score"), 6).alias("threshold_score"),
                 F.sum("n_chars").alias("kept_chars")))


from ..functions.text import STOPWORDS as _STOPWORDS
from .textstats_q import _STOP_SQL as _STOPS
from ..operators.curation import (DSIR_BUCKETS, QL_BIAS, QL_W_DIGITRATIO,
                                  QL_W_DISTINCT, QL_W_LOGLEN, QL_W_MEANLEN,
                                  QL_W_STOPRATIO)

DSIR_TARGET_LANG = "en"


@register("dsir_importance_weights", f"""
WITH t AS (SELECT doc_id, lang, lang = '{DSIR_TARGET_LANG}' AS is_t,
                  unnest({_TOKS}) AS tok
           FROM documents),
db AS (SELECT doc_id, lang, is_t,
              CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT)
                  % {DSIR_BUCKETS} AS b,
              COUNT(*) AS c
       FROM t GROUP BY doc_id, lang, is_t,
              CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT)
                  % {DSIR_BUCKETS}),
dist AS (SELECT b, SUM(CASE WHEN is_t THEN c ELSE 0 END) AS ct,
                SUM(CASE WHEN NOT is_t THEN c ELSE 0 END) AS cr
         FROM db GROUP BY b),
tot AS (SELECT SUM(ct) AS tt, SUM(cr) AS tr FROM dist),
rates AS (SELECT b,
                 ln(CAST(ct + 1 AS DOUBLE) / CAST(tt + {DSIR_BUCKETS}
                                                  AS DOUBLE))
               - ln(CAST(cr + 1 AS DOUBLE) / CAST(tr + {DSIR_BUCKETS}
                                                  AS DOUBLE)) AS logr
          FROM dist CROSS JOIN tot)
SELECT db.doc_id, db.lang,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       round(SUM(CAST(c AS DOUBLE) * logr), 6) AS dsir_logw
FROM db JOIN rates USING (b)
GROUP BY db.doc_id, db.lang
""")
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance log-weights (Xie et al. 2023): hashed-unigram
    bucket distributions for target (lang={DSIR_TARGET_LANG}) vs raw,
    add-1 smoothing, per-doc sum of bucket log-ratios — the importance-
    resampling scorer for matching a pretraining corpus to a target
    domain.  One corpus scan; the bucket distribution is a fixed
    {DSIR_BUCKETS}-row broadcast at any corpus size.  See
    operators/curation.py:dsir_importance."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.dsir_importance(docs, DSIR_TARGET_LANG)


@register("quality_logit_scores", f"""
WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
f AS (SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n,
             CAST(len(list_distinct(toks)) AS BIGINT) AS nd,
             CAST(len(list_filter(toks, x -> x IN ({_STOPS})))
                  AS BIGINT) AS nstop,
             CAST(list_sum(list_transform(toks, x -> len(x)))
                  AS BIGINT) AS tok_chars,
             CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g'))
                  AS BIGINT) AS ndig,
             CAST(len(text) AS BIGINT) AS textlen
      FROM t WHERE len(toks) > 0),
z AS (SELECT doc_id, n,
             CAST(tok_chars AS DOUBLE) / n AS mean_tok_len,
             CAST(nstop AS DOUBLE) / n AS stop_ratio,
             CAST(ndig AS DOUBLE) / textlen AS digit_ratio,
             CAST(nd AS DOUBLE) / n AS distinct_ratio
      FROM f)
SELECT doc_id, n AS n_tokens,
       round(mean_tok_len, 6) AS mean_tok_len,
       round(stop_ratio, 6) AS stop_ratio,
       round(digit_ratio, 6) AS digit_ratio,
       round(distinct_ratio, 6) AS distinct_ratio,
       round(1.0 / (1.0 + exp(-(CAST({QL_BIAS!r} AS DOUBLE)
           + CAST({QL_W_LOGLEN!r} AS DOUBLE)
             * ln(CAST(1 AS DOUBLE) + CAST(n AS DOUBLE))
           + CAST({QL_W_MEANLEN!r} AS DOUBLE) * mean_tok_len
           + CAST({QL_W_STOPRATIO!r} AS DOUBLE) * stop_ratio
           + CAST({QL_W_DIGITRATIO!r} AS DOUBLE) * digit_ratio
           + CAST({QL_W_DISTINCT!r} AS DOUBLE) * distinct_ratio))), 6)
           AS quality,
       round(1.0 / (1.0 + exp(-(CAST({QL_BIAS!r} AS DOUBLE)
           + CAST({QL_W_LOGLEN!r} AS DOUBLE)
             * ln(CAST(1 AS DOUBLE) + CAST(n AS DOUBLE))
           + CAST({QL_W_MEANLEN!r} AS DOUBLE) * mean_tok_len
           + CAST({QL_W_STOPRATIO!r} AS DOUBLE) * stop_ratio
           + CAST({QL_W_DIGITRATIO!r} AS DOUBLE) * digit_ratio
           + CAST({QL_W_DISTINCT!r} AS DOUBLE) * distinct_ratio))), 6)
           >= 0.5 AS keep
FROM z
""")
def quality_logit_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-weight logistic quality classifier (the fastText-style
    "educational value" scorer every corpus pipeline runs): engineered
    features — log-length, mean token length, stop-word ratio, digit
    ratio, distinct-token ratio — through sigmoid(w.x), thresholded
    into keep/drop.  Map-only projection, zero shuffles at any scale.
    See operators/curation.py:quality_logit."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.quality_logit(docs, _STOPWORDS)


from ..operators.curation import SHUFFLE_SHARDS

SHUFFLE_EPOCHS = 2


@register("epoch_shuffle_plan", f"""
WITH e AS (
    SELECT doc_id, ep.epoch,
           md5(CAST(ep.epoch AS VARCHAR) || ':'
               || CAST(doc_id AS VARCHAR)) AS h
    FROM documents,
         (SELECT unnest(generate_series(0, {SHUFFLE_EPOCHS - 1}))
              AS epoch) ep)
SELECT doc_id, CAST(epoch AS BIGINT) AS epoch,
       CAST('0x' || substr(h, 1, 4) AS BIGINT) % {SHUFFLE_SHARDS} AS shard,
       CAST(row_number() OVER (
            PARTITION BY epoch,
                CAST('0x' || substr(h, 1, 4) AS BIGINT) % {SHUFFLE_SHARDS}
            ORDER BY h) AS BIGINT) AS pos
FROM e
""")
def epoch_shuffle_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multi-epoch shuffle plan: per epoch, route each doc
    to shard md5(epoch:id) mod {SHUFFLE_SHARDS} and order shards by the
    hash — a reproducible, epoch-varying global permutation with NO
    global sort (one exchange on the shard key + in-shard sort).  See
    operators/curation.py:epoch_shuffle_plan."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.epoch_shuffle_plan(docs, SHUFFLE_EPOCHS)


@register("lang_mixture_reweight", """
WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
           FROM documents GROUP BY lang),
t AS (SELECT SUM(n_docs) AS total, COUNT(*) AS n_groups FROM c)
SELECT lang, n_docs,
       round(CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE), 6)
           AS actual_share,
       round(CAST(1 AS DOUBLE) / CAST(n_groups AS DOUBLE), 6)
           AS target_share,
       round((CAST(1 AS DOUBLE) / CAST(n_groups AS DOUBLE))
             / (CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE)), 6)
           AS weight
FROM c CROSS JOIN t
""")
def lang_mixture_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing weights to a uniform language target: per-lang
    sampling multiplier target_share/actual_share — the rebalancing
    step a pretraining mixture applies after distribution-shift
    diagnostics.  See operators/curation.py:mixture_reweight."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.mixture_reweight(docs, "lang")


# ---- composed corpus-prep pipeline v2 -------------------------------------

from .textstats_q import _bpe_sql as _BPE_SQL_FN

# The quality-logit keep predicate, identical to quality_logit_scores.
_QL_Z = f"""(CAST({QL_BIAS!r} AS DOUBLE)
    + CAST({QL_W_LOGLEN!r} AS DOUBLE)
      * ln(CAST(1 AS DOUBLE) + CAST(len(toks) AS DOUBLE))
    + CAST({QL_W_MEANLEN!r} AS DOUBLE)
      * (CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
         / len(toks))
    + CAST({QL_W_STOPRATIO!r} AS DOUBLE)
      * (CAST(len(list_filter(toks, x -> x IN ({_STOPS}))) AS DOUBLE)
         / len(toks))
    + CAST({QL_W_DIGITRATIO!r} AS DOUBLE)
      * (CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g'))
              AS DOUBLE) / len(text))
    + CAST({QL_W_DISTINCT!r} AS DOUBLE)
      * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)))"""


@register("corpus_prep_pipeline_v2", f"""
WITH t AS (SELECT doc_id, lang, n_chars, text, {_TOKS} AS toks
           FROM documents),
ql AS (
    SELECT * FROM t
    WHERE len(toks) > 0
      AND round(1.0 / (1.0 + exp(-{_QL_Z})), 6) >= 0.5),
dd AS (
    SELECT *, row_number() OVER (PARTITION BY md5(text)
                                 ORDER BY doc_id) AS rn
    FROM ql),
kept AS (SELECT doc_id, lang, n_chars, text FROM dd WHERE rn = 1),
sp AS (
    SELECT lang, n_chars,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                    THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'f3'
                    THEN 'val'
                ELSE 'test' END AS split,
           len({_BPE_SQL_FN('text')})
               - len(replace({_BPE_SQL_FN('text')}, '<', '')) AS n_pieces
    FROM kept)
SELECT split, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_pieces) AS BIGINT) AS total_pieces,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM sp GROUP BY split, lang
""")
def corpus_prep_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-5 operators composed as ONE declarative corpus-prep
    plan — logistic quality gate -> exact keep-first dedup -> hash
    train/val/test split -> BPE piece accounting per (split, lang).
    Catalyst fuses the quality gate and BPE projections into the scan
    stage; the only exchanges are the dedup window key and the final
    group-by, which is how the full prep pass stays a two-shuffle job
    at 100 TB.  Every stage is individually oracle-gated elsewhere
    (quality_logit_scores, exact_dedup_groups, dataset_split_counts,
    bpe_piece_stats); this query gates their composition."""
    from ..functions.text import STOPWORDS
    from ..operators import textstats
    docs = load_table(spark, sf_dir, "documents")
    ql = curation.quality_logit(docs, STOPWORDS)
    kept_q = docs.join(ql.where("keep").select("doc_id"), "doc_id", "semi")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    kept = (kept_q.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1))
    h2 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (F.when(h2 < "e6", "train")
             .when(h2 < "f3", "val").otherwise("test"))
    pieces = textstats.bpe_piece_stats(kept).select("doc_id", "n_pieces")
    return (kept.join(pieces, "doc_id")
            .groupBy(split.alias("split"), "lang")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("n_pieces").cast("long").alias("total_pieces"),
                 F.sum("n_chars").cast("long").alias("total_chars")))


# ---------------------------------------------------------------------------
# Corpus governance: cross-source n-gram overlap matrix.

@register("source_overlap_jaccard", f"""
WITH t AS (SELECT source, {_TOKS} AS toks FROM documents),
g AS (
    SELECT DISTINCT source,
           array_to_string(list_slice(toks, i.i, i.i + {NGRAM_N} - 1),
                           ' ') AS gram
    FROM t, LATERAL (
        SELECT unnest(generate_series(1, len(toks) - {NGRAM_N - 1}))
        AS i) i
    WHERE len(toks) >= {NGRAM_N}),
sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n_set
       FROM g GROUP BY source),
i AS (
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(count(*) AS BIGINT) AS inter
    FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
    GROUP BY a.source, b.source)
SELECT src_a, src_b, inter, sa.n_set AS n_a, sb.n_set AS n_b,
       round(CAST(inter AS DOUBLE) / (sa.n_set + sb.n_set - inter), 6)
           AS jaccard
FROM i JOIN sz sa ON sa.source = i.src_a
       JOIN sz sb ON sb.source = i.src_b
""")
def source_overlap_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact {NGRAM_N}-gram-set Jaccard between every source pair — the
    corpus-governance matrix behind mixture de-biasing ("which domains
    mirror each other?").  Per-source gram sets reduce FIRST (in-row
    per-doc dedup, one exchange on the gram), each gram then carries
    only its SOURCE SET — bounded by the source catalog, never corpus
    volume — and pair generation is an in-row nested transform over
    that set: no self-join of the gram table, no all-pairs blowup.
    The oracle's a.gram = b.gram self-join is the semantics spec; the
    Spark plan deliberately avoids that shape.
    See operators/curation.py:source_overlap."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.source_overlap(docs, NGRAM_N)


_UM_FRAC = curation.UNIMAX_BUDGET_FRAC
_UM_EPOCHS = curation.UNIMAX_MAX_EPOCHS


@register("unimax_language_budget", f"""
WITH langs AS (
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars_total
    FROM documents GROUP BY lang),
tot AS (SELECT CAST(SUM(chars_total) AS DOUBLE) * {_UM_FRAC} AS budget,
               CAST(COUNT(*) AS BIGINT) AS n_langs
        FROM langs),
ranked AS (
    SELECT l.lang, l.n_docs, l.chars_total,
           CAST(l.chars_total AS DOUBLE) * {_UM_EPOCHS} AS cap_chars,
           t.budget, t.n_langs,
           COALESCE(SUM(CAST(l.chars_total AS DOUBLE) * {_UM_EPOCHS})
                    OVER (ORDER BY CAST(l.chars_total AS DOUBLE)
                                   * {_UM_EPOCHS}, l.lang
                          ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0.0) AS prefix,
           row_number() OVER (ORDER BY CAST(l.chars_total AS DOUBLE)
                                       * {_UM_EPOCHS}, l.lang) AS i
    FROM langs l CROSS JOIN tot t),
t AS (SELECT *, (budget - prefix) / CAST(n_langs - i + 1 AS DOUBLE) AS ti
      FROM ranked),
th AS (SELECT MAX(CASE WHEN cap_chars > ti THEN ti END) AS theta FROM t)
SELECT t.lang, t.n_docs, t.chars_total,
       round(t.cap_chars, 4) AS cap_chars,
       round(LEAST(t.cap_chars, COALESCE(th.theta, t.cap_chars)), 4)
           AS alloc_chars,
       round(LEAST(t.cap_chars, COALESCE(th.theta, t.cap_chars))
             / nullif(CAST(t.chars_total AS DOUBLE), 0), 6) AS epochs
FROM t CROSS JOIN th
""")
def unimax_language_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax language budgeting (Chung et al. 2023): a
    {_UM_FRAC:.0%}-of-corpus character budget split as uniformly as
    possible across languages with a {_UM_EPOCHS}-epoch per-language
    cap — water-filling in CLOSED FORM (sorted prefix sums + the
    first-overflow water level), one declarative plan with no driver
    loop.  The oracle runs the identical formulation, so the water
    level, every allocation, and every epoch count are hash-gated.
    See operators/curation.py:unimax_language_budget."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.unimax_language_budget(docs)


# Boilerplate-prefix profile: the k-token prefix ladder scored per source.
PREFIX_KS = [1, 2, 4, 8]


def _prefix_branch_sql(k: int) -> str:
    return f"""
SELECT source, {k} AS k, prefix, cnt, n_docs,
       CAST(cnt * 10000 // n_docs AS BIGINT) AS share_bp
FROM (
    SELECT source, prefix, cnt,
           CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS n_docs,
           row_number() OVER (PARTITION BY source
                              ORDER BY cnt DESC, prefix) AS rk
    FROM (
        SELECT source,
               array_to_string(list_slice(toks, 1, {k}), ' ') AS prefix,
               CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT source, {{toks}} AS toks FROM documents)
        WHERE len(toks) >= {k}
        GROUP BY source, prefix))
WHERE rk = 1"""


@register("source_boilerplate_prefix",
          "\nUNION ALL\n".join(
              _prefix_branch_sql(k).format(toks="{t}") for k in PREFIX_KS
          ).replace("{t}", _TOKS))
def source_boilerplate_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-prefix profile: for each source and each prefix
    length k in the ladder, the MODAL k-token document prefix, how many
    docs share it, and its share of the source (basis points).  This is
    the corpus-scale generalization of the reference's Gutenberg
    header strip (preprocess.go's marker scan, SURVEY P1): before
    hand-writing strip markers for a new source, measure whether a
    dominant prefix exists at all — a share_bp near 10000 at large k
    means templated boilerplate worth stripping; flat shares mean none.

    Scale shape: one hash-aggregate per ladder rung over (source,
    prefix) — map-side combinable, shuffle keyed on the fixed-width
    prefix — then a per-source window over the distinct-prefix counts.
    Deterministic modal tie-break (max count, then lexicographic
    prefix) keeps both engines on the same winner."""
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("source", tokens(F.col("text")).alias("toks"))
    out = None
    for k in PREFIX_KS:
        grouped = (toked.where(F.size("toks") >= k)
                   .groupBy("source",
                            F.concat_ws(" ", F.slice("toks", 1, k))
                            .alias("prefix"))
                   .agg(F.count(F.lit(1)).alias("cnt")))
        w_src = Window.partitionBy("source")
        w_rk = Window.partitionBy("source").orderBy(
            F.col("cnt").desc(), "prefix")
        branch = (grouped
                  .withColumn("n_docs", F.sum("cnt").over(w_src))
                  .withColumn("rk", F.row_number().over(w_rk))
                  .where(F.col("rk") == 1)
                  .select("source", F.lit(k).alias("k"), "prefix", "cnt",
                          F.col("n_docs").cast("long").alias("n_docs"),
                          F.floor(F.col("cnt") * 10000
                                  / F.col("n_docs")).cast("long")
                          .alias("share_bp")))
        out = branch if out is None else out.unionByName(branch)
    return out


# Neyman allocation: total sample budget and the fixed-point quantum for
# the per-stratum weight N_h * sigma_h (sigma is a sqrt — never an exact
# integer boundary — so the floor-quantization is cross-engine stable).
NEYMAN_BUDGET = 200
NEYMAN_Q = 1000


@register("neyman_allocation_sample", f"""
WITH s AS (
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS DOUBLE) AS s1,
           CAST(sum(n_chars * n_chars) AS DOUBLE) AS s2
    FROM documents GROUP BY lang),
w AS (
    SELECT lang, n_docs,
           CAST(floor(CAST(n_docs AS DOUBLE)
                      * sqrt((s2 - s1 * s1 / CAST(n_docs AS DOUBLE))
                             / (CAST(n_docs AS DOUBLE) - 1.0))
                      * {NEYMAN_Q}) AS BIGINT) AS w_q
    FROM s),
a AS (
    SELECT lang, n_docs, w_q,
           least({NEYMAN_BUDGET} * w_q
                 // (SELECT sum(w_q) FROM w), n_docs) AS alloc_n
    FROM w),
rk AS (
    SELECT d.lang, d.doc_id,
           row_number() OVER (
               PARTITION BY d.lang
               ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rk
    FROM documents d),
sel AS (
    SELECT rk.lang,
           md5(string_agg(lpad(CAST(rk.doc_id AS VARCHAR), 8, '0'), ','
                          ORDER BY rk.doc_id)) AS sample_fp,
           CAST(count(*) AS BIGINT) AS n_sampled
    FROM rk JOIN a ON rk.lang = a.lang AND rk.rk <= a.alloc_n
    GROUP BY rk.lang)
SELECT a.lang, a.n_docs, a.w_q, CAST(a.alloc_n AS BIGINT) AS alloc_n,
       sel.n_sampled, sel.sample_fp
FROM a JOIN sel USING (lang)
""")
def neyman_allocation_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-optimal (Neyman) stratified sampling: the {NEYMAN_BUDGET}
    -doc eval budget is allocated across language strata proportional to
    N_h * sigma_h (strata that are bigger OR more variable in doc length
    get more slots — the allocation that minimizes the estimator's
    variance for a fixed budget), then each stratum's docs are picked by
    deterministic md5 rank.  Complements the share-based samplers
    (temperature, UniMax): those target mixture RATES, this targets
    measurement PRECISION — the right tool when the sample feeds an eval
    metric rather than a training mix.

    Exactness: sigma_h comes from exact BIGINT moment sums (never the
    engines' streaming stddev, whose accumulation order is partition-
    dependent), the Neyman weight is floor-quantized to {NEYMAN_Q}ths so
    the cross-stratum total is an exact integer sum, and the per-stratum
    pick is the suite's standard hash-rank rule — the selected ids are
    gated via an order-canonical fingerprint.  Scale shape: one moment
    aggregate, a broadcast of S strata allocations, one per-stratum
    window."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("double").alias("s1"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("double")
        .alias("s2"))
    nd = F.col("n_docs").cast("double")
    sigma = F.sqrt((F.col("s2") - F.col("s1") * F.col("s1") / nd)
                   / (nd - F.lit(1.0)))
    w = s.select("lang", "n_docs",
                 F.floor(nd * sigma * NEYMAN_Q).cast("long").alias("w_q"))
    tot = w.agg(F.sum("w_q").alias("tot"))
    a = (w.crossJoin(F.broadcast(tot))
         .select("lang", "n_docs", "w_q",
                 F.least(F.floor(NEYMAN_BUDGET * F.col("w_q")
                                 / F.col("tot")).cast("long"),
                         F.col("n_docs")).alias("alloc_n")))
    rk = docs.select(
        "lang", "doc_id",
        F.row_number().over(
            Window.partitionBy("lang")
            .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id"))
        .alias("rk"))
    sel = (rk.join(F.broadcast(a.select("lang", "alloc_n")), "lang")
           .where(F.col("rk") <= F.col("alloc_n"))
           .groupBy("lang")
           .agg(F.md5(F.concat_ws(",", F.sort_array(F.collect_list(
                    F.lpad(F.col("doc_id").cast("string"), 8, "0")))))
                .alias("sample_fp"),
                F.count(F.lit(1)).cast("long").alias("n_sampled")))
    return (a.join(sel, "lang")
            .select("lang", "n_docs", "w_q", "alloc_n", "n_sampled",
                    "sample_fp"))


_GR = curation  # thresholds referenced below
_GR_STOPS = ", ".join(f"'{w}'" for w in curation.GOPHER_STOPS)

_GR_FLAGS_SQL = f"""
    SELECT source,
      COALESCE(nw >= {_GR.GOPHER_MIN_WORDS}
               AND nw <= {_GR.GOPHER_MAX_WORDS}, FALSE) AS r_word_count,
      COALESCE(tok_chars / nw >= {_GR.GOPHER_MWL_LO}
               AND tok_chars / nw <= {_GR.GOPHER_MWL_HI}, FALSE)
          AS r_mean_word_len,
      COALESCE(n_hash / nw <= {_GR.GOPHER_SYMBOL_MAX}
               AND n_ell / nw <= {_GR.GOPHER_SYMBOL_MAX}, FALSE)
          AS r_symbol_ratio,
      COALESCE(n_bullet / n_lines <= {_GR.GOPHER_BULLET_MAX}, FALSE)
          AS r_bullet_lines,
      COALESCE(n_ell_lines / n_lines <= {_GR.GOPHER_ELLIPSIS_LINE_MAX},
               FALSE) AS r_ellipsis_lines,
      COALESCE(n_alpha / nw >= {_GR.GOPHER_ALPHA_MIN}, FALSE)
          AS r_alpha_words,
      COALESCE(n_stops >= {_GR.GOPHER_MIN_STOPS}, FALSE) AS r_stop_words
    FROM f
"""


@register("gopher_rule_filter", f"""
WITH t AS (
    SELECT source, text, {_TOKS} AS toks FROM documents),
f AS (
    SELECT source,
      nullif(CAST(len(toks) AS DOUBLE), 0) AS nw,
      CAST(list_sum(list_transform(toks, x -> len(x)))
           AS DOUBLE) AS tok_chars,
      CAST(len(text) - len(replace(text, '#', '')) AS DOUBLE) AS n_hash,
      CAST(len(text) - len(replace(text, '...', '')) AS DOUBLE) / 3
          + CAST(len(text) - len(replace(text, '…', '')) AS DOUBLE)
          AS n_ell,
      CAST(len(string_split(text, chr(10))) AS DOUBLE) AS n_lines,
      CAST(len(list_filter(string_split(text, chr(10)),
               l -> ltrim(l) LIKE '- %' OR ltrim(l) LIKE '* %'
                    OR ltrim(l) LIKE '•%')) AS DOUBLE) AS n_bullet,
      CAST(len(list_filter(string_split(text, chr(10)),
               l -> rtrim(l) LIKE '%...' OR rtrim(l) LIKE '%…'))
           AS DOUBLE) AS n_ell_lines,
      CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
           AS DOUBLE) AS n_alpha,
      len(list_distinct(list_filter(toks, x -> x IN ({_GR_STOPS}))))
          AS n_stops
    FROM t),
r AS ({_GR_FLAGS_SQL})
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN r_word_count AND r_mean_word_len
                      AND r_symbol_ratio AND r_bullet_lines
                      AND r_ellipsis_lines AND r_alpha_words
                      AND r_stop_words THEN 1 ELSE 0 END) AS BIGINT)
           AS n_pass,
       CAST(SUM(CASE WHEN NOT r_word_count THEN 1 ELSE 0 END) AS BIGINT)
           AS fail_word_count,
       CAST(SUM(CASE WHEN NOT r_mean_word_len THEN 1 ELSE 0 END)
            AS BIGINT) AS fail_mean_word_len,
       CAST(SUM(CASE WHEN NOT r_symbol_ratio THEN 1 ELSE 0 END)
            AS BIGINT) AS fail_symbol_ratio,
       CAST(SUM(CASE WHEN NOT r_bullet_lines THEN 1 ELSE 0 END)
            AS BIGINT) AS fail_bullet_lines,
       CAST(SUM(CASE WHEN NOT r_ellipsis_lines THEN 1 ELSE 0 END)
            AS BIGINT) AS fail_ellipsis_lines,
       CAST(SUM(CASE WHEN NOT r_alpha_words THEN 1 ELSE 0 END)
            AS BIGINT) AS fail_alpha_words,
       CAST(SUM(CASE WHEN NOT r_stop_words THEN 1 ELSE 0 END) AS BIGINT)
           AS fail_stop_words
FROM r GROUP BY source
""")
def gopher_rule_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-rule battery (Rae et al. 2021 §A1.1) per source:
    docs passing all 7 rules plus a per-rule failure breakdown
    (operators/curation.gopher_rule_flags).  Map-only rule projection
    into one source-keyed aggregate; every rule is a built-in
    expression, so the battery rides the scan at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.gopher_rule_filter(docs)


_HF_DIM = curation.HASH_FEAT_DIM
_HF_MULT = curation.HASH_FEAT_MULT
_HF_MOD = curation.HASH_FEAT_MOD
_HF_HALF = (curation.HASH_FEAT_MOD - 1) // 2


@register("hashed_ngram_quality_scores", f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
g AS (
    SELECT doc_id,
           list_concat(
               toks,
               list_transform(generate_series(1, len(toks) - 1),
                              i -> toks[i] || ' ' || toks[i + 1]))
               AS grams
    FROM t),
s AS (
    SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_feats,
           CAST(list_sum(list_transform(grams,
               gr -> CAST(('0x' || substr(md5(gr), 1, 8)) AS BIGINT)
                     % {_HF_DIM} * {_HF_MULT} % {_HF_MOD} - {_HF_HALF}))
                AS DOUBLE) AS ssum
    FROM g)
SELECT doc_id, n_feats,
       round(ssum / {_HF_HALF} / nullif(CAST(n_feats AS DOUBLE), 0), 6)
           AS score,
       round(1.0 / (1.0 + exp(-(ssum / {_HF_HALF}
             / nullif(CAST(n_feats AS DOUBLE), 0)))), 6) AS prob,
       COALESCE(ssum / {_HF_HALF} / nullif(CAST(n_feats AS DOUBLE), 0)
                > 0, FALSE) AS keep
FROM s
""")
def hashed_ngram_quality_scores(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """fastText-style hashed-n-gram classifier inference
    (operators/curation.hashed_ngram_scores): unigram+bigram features
    bucketed into {_HF_DIM} hash slots, exact-integer slot weights,
    sigmoid score — entirely in-row expressions, zero shuffles.  The
    oracle replays the md5 bucket and Knuth-multiply weight arithmetic
    integer for integer."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.hashed_ngram_scores(docs)


NORM_TWIN_MOD = 7

# Deterministic near-verbatim twins: every NORM_TWIN_MOD-th doc gets a
# copy that differs only by trailing punctuation — invisible to raw
# exact dedup, collapsed by the normalize-then-hash pass, so the lift
# the query measures is real on the synthetic fixture.  Punctuation
# only, NOT upper(): Java full case mapping and DuckDB's utf8proc
# disagree on non-ASCII uppercase ('straße' -> 'STRASSE' vs 'STRAẞE'),
# which would diverge the raw md5 groups the moment a fixture
# regeneration introduces non-ASCII text.
_NORM_AUG = f"""
a AS (
    SELECT doc_id, source, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, source,
           text || ' !!!' AS text
    FROM documents WHERE doc_id % {NORM_TWIN_MOD} = 0)
"""

_NORM_SQL = ("trim(regexp_replace(regexp_replace(regexp_replace("
             "lower(text), '[0-9]', '0', 'g'), '[^a-z0 ]', ' ', 'g'),"
             " ' +', ' ', 'g'))")


@register("normalization_dedup_lift", f"""
WITH {_NORM_AUG},
rg AS (SELECT md5(text) AS h, COUNT(*) AS c FROM a GROUP BY md5(text)),
ng AS (SELECT md5({_NORM_SQL}) AS h, COUNT(*) AS c FROM a
       GROUP BY md5({_NORM_SQL}))
SELECT a.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) FILTER (WHERE rg.c > 1) AS BIGINT) AS n_raw_dup_docs,
       CAST(COUNT(*) FILTER (WHERE ng.c > 1) AS BIGINT)
           AS n_norm_dup_docs,
       CAST(COUNT(*) FILTER (WHERE ng.c > 1) AS BIGINT)
           - CAST(COUNT(*) FILTER (WHERE rg.c > 1) AS BIGINT)
           AS norm_lift
FROM a JOIN rg ON rg.h = md5(a.text)
       JOIN ng ON ng.h = md5({_NORM_SQL})
GROUP BY a.source
""")
def normalization_dedup_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many exact duplicates does normalize-then-hash surface that
    raw hashing misses (operators/curation.normalize_text)?  Per source:
    docs in raw vs normalized exact-dup groups and the lift, over a
    corpus with deterministic punctuation twins injected (the same
    synthetic-augmentation trick as pii_redaction_stats).  Two hash
    aggregates + two hash joins, all keyed on 128-bit content hashes —
    uniform keys, no skew."""
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = docs.select("doc_id", "source", "text").unionByName(
        docs.filter(did % NORM_TWIN_MOD == 0)
        .select((did + 1_000_000).alias("doc_id"), F.col("source"),
                F.concat(F.col("text"), F.lit(" !!!")).alias("text")))
    rawh = F.md5("text")
    normh = F.md5(curation.normalize_text(F.col("text")))
    framed = aug.select("source", rawh.alias("rh"), normh.alias("nh"))
    rg = framed.groupBy("rh").agg(F.count(F.lit(1)).alias("rc"))
    ng = framed.groupBy("nh").agg(F.count(F.lit(1)).alias("nc"))
    return (framed.join(rg, "rh").join(ng, "nh")
            .groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum((F.col("rc") > 1).cast("long")).cast("long")
                 .alias("n_raw_dup_docs"),
                 F.sum((F.col("nc") > 1).cast("long")).cast("long")
                 .alias("n_norm_dup_docs"),
                 (F.sum((F.col("nc") > 1).cast("long"))
                  - F.sum((F.col("rc") > 1).cast("long"))).cast("long")
                 .alias("norm_lift")))


# ---- blocklist (bad-words) filter rates ------------------------------------

# C4-style blocklist (Raffel et al. 2020 filter docs containing any entry
# of a public bad-words list).  The fixture corpus is synthetic word
# soup, so the list is a stand-in chosen for coverage of the matcher's
# cases: a rare single token, a present two-token phrase, and an absent
# phrase (the zero row proves absence-of-match is computed, not skipped).
BADWORDS = ("dup", "big table", "drop table")


def _bw_tok(word: str) -> str:
    """SQL-string-literal a blocklist token (shared by both engines).

    Terms are interpolated into Spark lambda expressions and DuckDB SQL;
    an unescaped quote in a real-world blocklist entry would be a parse
    error (or worse) in both.  Doubling the quote is the one escape
    both dialects agree on."""
    return word.replace("'", "''")


def _occ_sql(term: str) -> str:
    ws = term.split(" ")
    if len(ws) == 1:
        return f"len(list_filter(toks, t -> t = '{_bw_tok(ws[0])}'))"
    conds = " AND ".join(
        f"toks[i + {j}] = '{_bw_tok(w)}'" for j, w in enumerate(ws))
    return (f"len(list_filter(generate_series(1, len(toks) - {len(ws) - 1}), "
            f"i -> {conds}))")


def _occ_col(term: str):
    ws = term.split(" ")
    if len(ws) == 1:
        return F.expr(f"size(filter(toks, t -> t = '{_bw_tok(ws[0])}'))")
    conds = " AND ".join(
        f"toks[i + {j}] = '{_bw_tok(w)}'" for j, w in enumerate(ws))
    # Guard the start-index range: for a document with fewer tokens than
    # the phrase, sequence(0, size-N) would DESCEND (e.g. [0, -1]) and
    # the toks[i+j] probe would throw under ANSI mode.  DuckDB's
    # generate_series(1, n) is empty for n < 1, so the guard also keeps
    # the two engines aligned on short documents.
    return F.expr(
        f"CASE WHEN size(toks) >= {len(ws)} THEN "
        f"size(filter(sequence(0, size(toks) - {len(ws)}), i -> {conds})) "
        f"ELSE 0 END")


_BW_COLS = {f"hits_{t.replace(' ', '_')}": t for t in BADWORDS}

_BW_SQL = f"""
WITH t AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
o AS (SELECT source,
             {', '.join(f"{_occ_sql(t)} AS {c}"
                        for c, t in _BW_COLS.items())}
      FROM t)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN {' + '.join(_BW_COLS)} > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_flagged,
       CAST(floor(SUM(CASE WHEN {' + '.join(_BW_COLS)} > 0
                           THEN 1 ELSE 0 END) * 10000.0 / COUNT(*))
            AS BIGINT) AS flag_rate_bp,
       {', '.join(f"CAST(SUM({c}) AS BIGINT) AS {c}"
                  for c in _BW_COLS)}
FROM o GROUP BY source
"""


@register("badwords_filter_rates", _BW_SQL)
def badwords_filter_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style blocklist filter accounting (Raffel et al. 2020 drop any
    document containing a blocklisted term): per source, how many
    documents the {len(BADWORDS)}-entry blocklist would flag, the flag
    rate in basis points, and per-term occurrence totals — the
    pre-flight a curation run reads before enabling a kill-list, since
    an over-broad list silently deletes a domain.

    Matching is TOKEN-boundary exact (single terms equality-match a
    token; multi-word terms match consecutive tokens via an in-row
    positional filter — never substring contains, which would flag
    'dupes' for 'dup'), entirely in-row array expressions riding the
    scan: the only exchange is the per-source rollup.  At 100 TB this
    is a map-only pass over the corpus with a catalog-sized result;
    real deployments swap the literal list for a broadcast lookup
    (or an Aho-Corasick UDF once lists reach 10^5 terms) without
    changing the plan shape."""
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("source",
                        F.split(F.col("text"), " ").alias("toks"))
    occ = toked.select("source",
                       *[_occ_col(t).alias(c)
                         for c, t in _BW_COLS.items()])
    total = sum(F.col(c) for c in _BW_COLS)
    flagged = F.sum(F.when(total > 0, 1).otherwise(0))
    return (occ.groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 flagged.cast("long").alias("n_flagged"),
                 F.floor(flagged * 10000.0 / F.count(F.lit(1)))
                 .cast("long").alias("flag_rate_bp"),
                 *[F.sum(c).cast("long").alias(c) for c in _BW_COLS]))


# Right-to-be-forgotten rewrite planning: a partition is rewritten when
# erasure would touch more than ERASE_REWRITE_PCT percent of its rows
# (below that, deletion vectors / merge-on-read absorb the deletes and
# the rewrite is deferred).  Compared as exact integers
# (n_erase * 100 > n_rows * PCT) so the decision is engine-identical.
ERASE_REWRITE_PCT = 8


@register("erasure_rewrite_plan", f"""
WITH d AS (SELECT c_custkey FROM customer WHERE c_acctbal < 0),
o AS (SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS part_month,
             (d.c_custkey IS NOT NULL) AS erase
      FROM orders LEFT JOIN d ON o_custkey = d.c_custkey)
SELECT part_month,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) FILTER (WHERE erase) AS BIGINT) AS n_erase,
       round(100.0 * COUNT(*) FILTER (WHERE erase) / COUNT(*), 4)
           AS erase_pct,
       (COUNT(*) FILTER (WHERE erase) * 100
        > COUNT(*) * {ERASE_REWRITE_PCT}) AS rewrite
FROM o GROUP BY part_month
""")
def erasure_rewrite_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR / right-to-be-forgotten rewrite planning (NEW round 11) —
    the erasure pass a training-data store runs on every deletion-list
    delivery: which date partitions does the list touch, how hard, and
    which are worth rewriting NOW versus deferring to deletion vectors.
    The deletion list (customers with negative balance stands in for
    the legal request feed) broadcast-joins the fact table once; per
    month-partition output is the erasure manifest: row count, affected
    count, affected percent, and an exact-integer rewrite decision
    (> {ERASE_REWRITE_PCT}% of rows -> rewrite; the fixture's ~8-12%
    monthly rates make the decision genuinely data-dependent).

    Scale shape: one broadcast hash join (the deletion list is always
    tiny relative to the corpus) + one partition-keyed aggregate — the
    fact table is scanned once, no shuffle of fact rows before the
    aggregate's own exchange.  The manifest drives targeted rewrites,
    so the expensive work (rewriting files) happens only where the
    audit says it pays."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    dlist = F.broadcast(cust.filter(F.col("c_acctbal") < 0)
                        .select("c_custkey"))
    o = (orders.join(dlist, orders.o_custkey == dlist.c_custkey, "left")
         .select(F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM")
                 .alias("part_month"),
                 F.col("c_custkey").isNotNull().alias("erase")))
    n_erase = F.sum(F.col("erase").cast("long"))
    n_rows = F.count(F.lit(1))
    return (o.groupBy("part_month")
            .agg(n_rows.cast("long").alias("n_rows"),
                 n_erase.cast("long").alias("n_erase"),
                 F.round(100.0 * n_erase / n_rows, 4).alias("erase_pct"),
                 (n_erase * 100 > n_rows * ERASE_REWRITE_PCT)
                 .alias("rewrite")))
