"""Entity-resolution operators: sorted-neighborhood dedup blocking and
Fellegi-Sunter-style weighted record linkage.

The dedup family (operators/dedup.py) generates candidates by *hashing*
(MinHash-LSH bands, SimHash pigeonhole, prefix filtering).  This module
adds the other classic candidate-generation strategy — **sorted
neighborhood** (Hernandez & Stolfo 1995): order records by a domain sort
key and compare each record only to its w successors.  Work is O(n*w)
instead of O(n^2), and in distributed form the sort happens *within
blocks* (a coarse prefix of the sort key), so the plan is one exchange
on the block key + a per-block window — no global single-partition sort,
the failure mode a naive SNM port would hit at 100 TB.  Pairs that
straddle a block/window boundary under one ordering are caught by
:func:`sorted_neighborhood_multipass`, which unions rotated-key passes
(Hernandez-Stolfo's own multi-pass refinement).

**Record linkage** (Fellegi & Sunter 1969) scores candidate pairs by
summing per-field agreement/disagreement log-weights and thresholding.
Here candidates come from blocking + sorted neighborhood on the balance
(compare only the w nearest balances within a block), keeping the pair
space linear in block size.

No counterpart in the reference (its pipeline ends at exact key
grouping); both operators extend the dedup surface of SURVEY §2.6 and
have exact DuckDB twins in suite/linkage_q.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tokens

# Sorted-neighborhood geometry.
SN_WINDOW = 5          # compare each doc to its 5 successors
SN_JACCARD_MIN = 0.5   # emit pairs at or above this token-set Jaccard
# Hot-block bound: a block is one sort partition, so a degenerate corpus
# where every doc opens with the same token would otherwise funnel into
# ONE task's sort.  Blocks over the cap are THINNED before any sort —
# keep doc iff hash(id) % ceil(count/cap) == 0, a count-join + modulus
# with no ordering dependence — so the per-block sorted set stays
# ~cap-bounded in expectation and the thinned docs wait for the next
# key-rotation pass (the multi-pass SNM answer), exactly the max_bucket
# trade the LSH/SimHash joins make.  Far above any fixture block, so
# results are unchanged there (stride 1 keeps everything).
SN_MAX_BLOCK = 4096

# Fellegi-Sunter log-ish agreement weights (fixed, engine-portable).
FS_BAL_TOL = 100.0     # |acctbal delta| within tolerance -> agreement
FS_W_BAL_AGREE = 2.2
FS_W_BAL_DISAGREE = -0.8
FS_W_SIGN_AGREE = 0.4
FS_W_SIGN_DISAGREE = -1.2
FS_MATCH_MIN = 1.0     # classify as a link above this total weight
FS_NEIGHBORS = 10      # balance-sorted neighborhood width within a block


def _tokset(text: Column) -> Column:
    """Sorted distinct token set of a document."""
    return F.array_sort(F.array_distinct(tokens(text)))


def jaccard(a: Column, b: Column) -> Column:
    """Token-set Jaccard of two DISTINCT-element arrays.

    Spelled as filter+contains (not array_intersect/union) so the DuckDB
    twin uses the exact same primitive (list_filter + list_contains) —
    the engines' set-op builtins differ on dedup/ordering details.
    """
    inter = F.size(F.filter(a, lambda x: F.array_contains(b, x)))
    union = F.size(a) + F.size(b) - inter
    return F.when(union > 0, inter.cast("double") / union.cast("double")) \
            .otherwise(F.lit(0.0))


def sorted_neighborhood_pairs(docs: DataFrame,
                              window: int = SN_WINDOW,
                              jaccard_min: float = SN_JACCARD_MIN,
                              max_block: int = SN_MAX_BLOCK,
                              id_col: str = "doc_id",
                              text_col: str = "text",
                              token_offset: int = 0) -> DataFrame:
    """-> (doc_id_a, doc_id_b, jacc): near-dup candidates from one
    sorted-neighborhood pass.

    Sort key = three document tokens starting at ``token_offset``
    (offset 0: the opening — similar openings sort adjacent; offsets
    > 0 are the ROTATED keys of multi-pass SNM); block key = the sort
    key's first token, bounded at ``max_block`` rows (see
    SN_MAX_BLOCK).  The plan is: one exchange on the block, a
    per-block sort, and a window that collects each row's ``window``
    successors as structs — each doc emits at most ``window``
    comparisons, so the stage is O(n*w) with no self-join.
    """
    from ..tables import spread_small_scan

    # Guarded spread BEFORE the key build: tokenize + tokset run in the
    # scan stage, which for a single-file fixture is one task (two
    # measured 0.45 s single-task stages per multipass query, one per
    # pass); at scale the guard no-ops.
    keyed = spread_small_scan(docs).select(
        F.col(id_col).alias("id"),
        _tokset(F.col(text_col)).alias("ts"),
        F.concat_ws(" ", F.slice(tokens(F.col(text_col)),
                                 1 + token_offset, 3))
         .alias("sortkey"),
    ).withColumn("blk", F.split(F.col("sortkey"), " ").getItem(0))
    # Explicit-width block exchange: the per-block window + interpreted
    # token-set jaccard is the CPU-heavy stage (measured 6 s of task CPU
    # at sf0.1), but its input is ~2 MB, so AQE's byte model coalesced
    # it to 6 tasks.  An explicit partition count opts this one exchange
    # out of byte-based coalescing; sized from the session's shuffle
    # parallelism so cluster configs keep scaling it, never below the
    # core count.  Also makes the cnts-agg and join subtrees share ONE
    # materialized exchange (same canonical child).
    sess = docs.sparkSession
    n_blk = max(sess.sparkContext.defaultParallelism,
                int(sess.conf.get("spark.sql.shuffle.partitions", "200")))
    keyed = keyed.repartition(n_blk, "blk")
    cnts = keyed.groupBy("blk").agg(F.count(F.lit(1)).alias("_bn"))
    stride = F.ceil(F.col("_bn") / F.lit(max_block)).cast("long")
    h = F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 13),
               16, 10).cast("long")
    keyed = (keyed.join(cnts, "blk")
             .where(h % stride == 0).drop("_bn"))
    w = (Window.partitionBy("blk").orderBy("sortkey", "id")
         .rowsBetween(1, window))
    nbrs = keyed.withColumn(
        "nbrs", F.collect_list(F.struct("id", "ts")).over(w))
    pairs = (nbrs
             .select("id", "ts", F.explode("nbrs").alias("nb"))
             .select(F.col("id").alias("doc_id_a"),
                     F.col("nb.id").alias("doc_id_b"),
                     F.round(jaccard(F.col("ts"), F.col("nb.ts")), 6)
                      .alias("jacc")))
    return pairs.where(F.col("jacc") >= jaccard_min)


# Multi-pass SNM: number of rotated-key passes (pass p sorts on the
# 3-token key starting at token p).
SN_PASSES = 2


def sorted_neighborhood_multipass(docs: DataFrame,
                                  passes: int = SN_PASSES,
                                  window: int = SN_WINDOW,
                                  jaccard_min: float = SN_JACCARD_MIN,
                                  max_block: int = SN_MAX_BLOCK,
                                  id_col: str = "doc_id",
                                  text_col: str = "text") -> DataFrame:
    """-> (doc_id_a, doc_id_b, jacc): multi-pass sorted neighborhood
    (Hernandez & Stolfo 1995's own refinement) — ``passes`` independent
    passes with ROTATED sort keys (pass p keys on tokens p..p+2), pair
    sets normalized to (min_id, max_id) and unioned distinct.

    Duplicates that straddle a block/window boundary under one ordering
    sort adjacent under another, so the union strictly grows recall
    over the single pass (a superset of pass 0's normalized pairs) at
    exactly ``passes×`` the one-pass O(n·w) cost — still no self-join,
    no global sort; each pass is its own block-keyed exchange.
    """
    out = None
    for p in range(passes):
        pairs = sorted_neighborhood_pairs(
            docs, window=window, jaccard_min=jaccard_min,
            max_block=max_block, id_col=id_col, text_col=text_col,
            token_offset=p)
        norm = pairs.select(
            F.least("doc_id_a", "doc_id_b").alias("doc_id_a"),
            F.greatest("doc_id_a", "doc_id_b").alias("doc_id_b"),
            "jacc")
        out = norm if out is None else out.unionByName(norm)
    return out.distinct()


def record_linkage_pairs(cust: DataFrame,
                         neighbors: int = FS_NEIGHBORS,
                         match_min: float = FS_MATCH_MIN) -> DataFrame:
    """-> (custkey_a, custkey_b, fs_score, is_link) over customers.

    Blocking key = (c_nationkey, c_mktsegment); within a block, records
    are sorted by balance and each compares to its ``neighbors``
    successors (linear in block size).  Score = sum of Fellegi-Sunter
    agreement weights on (balance-within-tolerance, balance-sign);
    ``is_link`` thresholds the score.  Weight arithmetic is
    sum-of-python-double-literals — bit-identical across engines.
    """
    base = cust.select(
        F.col("c_custkey").alias("id"),
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
        F.col("c_acctbal").alias("bal"))
    w = (Window.partitionBy("nat", "seg").orderBy("bal", "id")
         .rowsBetween(1, neighbors))
    nbrs = base.withColumn(
        "nbrs", F.collect_list(F.struct("id", "bal")).over(w))
    bal_agree = (F.abs(F.col("bal") - F.col("nb.bal")) <= FS_BAL_TOL)
    sign_agree = ((F.col("bal") >= 0) == (F.col("nb.bal") >= 0))
    score = (F.when(bal_agree, F.lit(FS_W_BAL_AGREE))
              .otherwise(F.lit(FS_W_BAL_DISAGREE))
             + F.when(sign_agree, F.lit(FS_W_SIGN_AGREE))
                .otherwise(F.lit(FS_W_SIGN_DISAGREE)))
    return (nbrs
            .select("id", "bal", F.explode("nbrs").alias("nb"))
            .select(F.col("id").alias("custkey_a"),
                    F.col("nb.id").alias("custkey_b"),
                    F.round(score, 6).alias("fs_score"))
            .where(F.col("fs_score") > 0)  # keep balance-agreeing pairs
            .withColumn("is_link", F.col("fs_score") > match_min))
