"""Property tests for the round-8 operators: SCD2 intervals, Zipf fit,
Gopher rules, hashed-n-gram scores, k-core peeling, Matryoshka recall,
IVF-PQ, and soft-dedup weights.  Each pins semantics with either a pure
Python recompute or an exact algebraic identity (e.g. IVF-PQ with all
cells probed and an unbounded shortlist == brute force)."""
from __future__ import annotations

import hashlib
import math
import random

from pyspark.sql import functions as F

from gcp_serverless_mapreduce_spark.functions.text import tokens
from gcp_serverless_mapreduce_spark.operators import (
    curation, graph, similarity, temporal, textstats,
)

RNG = random.Random(0x808)


# ---- SCD2 ------------------------------------------------------------------

def test_scd2_intervals_properties(spark):
    rows = []
    for uid in range(6):
        t = 1_000_000
        for _ in range(RNG.randint(1, 30)):
            t += RNG.choice([0, 0, 1_000_000, 60_000_000])
            rows.append((len(rows), t, uid,
                         RNG.choice(["a", "b", "c"]), 1.0))
    ev = spark.createDataFrame(
        rows, "event_id long, us long, user_id long, event_type string, "
              "value double").withColumn(
        "ts", F.timestamp_micros("us")).drop("us")
    out = temporal.scd2_intervals(ev).collect()
    by_user: dict[int, list] = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r)
    n_events_total = sum(r["n_events"] for r in out)
    assert n_events_total == len(rows)
    for uid, runs in by_user.items():
        runs.sort(key=lambda r: (r["valid_from_us"],
                                 r["valid_to_us"] is None))
        # exactly one open (current) run, and it is the last
        currents = [r for r in runs if r["is_current"]]
        assert len(currents) == 1 and runs[-1]["is_current"]
        for a, b in zip(runs, runs[1:]):
            assert a["valid_to_us"] == b["valid_from_us"]
            assert a["valid_to_us"] is not None


def test_scd2_single_run(spark):
    ev = spark.createDataFrame(
        [(1, 1_000_000, 7, "x", 0.0), (2, 2_000_000, 7, "x", 0.0)],
        "event_id long, us long, user_id long, event_type string, "
        "value double").withColumn(
        "ts", F.timestamp_micros("us")).drop("us")
    out = temporal.scd2_intervals(ev).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["state"], r["n_events"], r["is_current"],
            r["valid_to_us"]) == ("x", 2, True, None)


# ---- Zipf fit --------------------------------------------------------------

def _py_ols(xy: list[tuple[float, float]]):
    n = float(len(xy))
    sx = sum(x for x, _ in xy)
    sy = sum(y for _, y in xy)
    sxx = sum(x * x for x, _ in xy)
    syy = sum(y * y for _, y in xy)
    sxy = sum(x * y for x, y in xy)
    dx, dy, cov = n * sxx - sx * sx, n * syy - sy * sy, n * sxy - sx * sy
    slope = cov / dx
    return slope, (sy - slope * sx) / n, cov * cov / (dx * dy)


def test_zipf_fit_matches_python(spark):
    words = [f"w{i}" for i in range(40)]
    docs = []
    for d in range(30):
        # zipf-ish draws: word i with weight 1/(i+1)
        toks = RNG.choices(words,
                           weights=[1.0 / (i + 1) for i in range(40)],
                           k=RNG.randint(20, 120))
        docs.append((d, " ".join(toks), "en", f"s{d % 2}", 0))
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    out = {r["source"]: r
           for r in textstats.zipf_fit_by_source(df, topn=25).collect()}
    for src in ("s0", "s1"):
        counts: dict[str, int] = {}
        for d, text, _, s, _ in docs:
            if s != src:
                continue
            for t in text.split():
                counts[t] = counts.get(t, 0) + 1
        ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:25]
        xy = [(math.log(i + 1), math.log(c))
              for i, (_, c) in enumerate(ranked)]
        slope, intercept, r2 = _py_ols(xy)
        r = out[src]
        assert r["n_words"] == len(xy)
        assert abs(r["slope"] - slope) < 1e-6
        assert abs(r["intercept"] - intercept) < 1e-6
        assert abs(r["r2"] - r2) < 1e-6
        assert r["slope"] < 0  # frequencies decrease in rank


# ---- Gopher rules ----------------------------------------------------------

def test_gopher_rules_target_each_rule(spark):
    good = " ".join(["the quick brown fox jumps over that lazy dog and"] * 6)
    cases = {
        "ok": (good, None),
        "short": ("the of and", "word_count"),
        "long_words": ("the " + " ".join(["a" * 30] * 60), "mean_word_len"),
        "hashes": (" ".join(["##the##"] * 60), "symbol_ratio"),
        "bullets": ("\n".join(["- " + good] * 10), "bullet_lines"),
        "ellipses": ("\n".join([good + " ..."] * 10), "ellipsis_lines"),
        # round-9: the Unicode ellipsis U+2026 must trip the same rules
        "uni_ellipses": ("\n".join([good + " \u2026"] * 10),
                         "ellipsis_lines"),
        "uni_symbols": (" ".join(["\u2026the\u2026"] * 60), "symbol_ratio"),
        "numeric": (good + " " + " ".join(["123"] * 60), "alpha_words"),
        "no_stops": (" ".join(["lorem ipsum dolor sit amet"] * 12),
                     "stop_words"),
    }
    df = spark.createDataFrame(
        [(i, t, "en", name, 0) for i, (name, (t, _))
         in enumerate(cases.items())],
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    out = {r["source"]: r.asDict()
           for r in curation.gopher_rule_filter(df).collect()}
    assert out["ok"]["n_pass"] == 1
    for name, (_, failing) in cases.items():
        if failing is None:
            continue
        r = out[name]
        assert r["n_pass"] == 0, name
        assert r[f"fail_{failing}"] == 1, \
            f"{name}: expected fail_{failing}, got {r}"
    # empty doc: every ratio rule degrades to a fail, not an error
    empty = spark.createDataFrame(
        [(0, "", "en", "e", 0)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    r = curation.gopher_rule_filter(empty).collect()[0]
    assert r["n_pass"] == 0 and r["fail_word_count"] == 1


# ---- hashed n-gram scores --------------------------------------------------

def _py_hashed_score(text: str):
    toks = [t for t in text.strip().lower().split() if t]
    grams = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    half = (curation.HASH_FEAT_MOD - 1) // 2
    ssum = 0
    for g in grams:
        h = int(hashlib.md5(g.encode()).hexdigest()[:8], 16)
        ssum += (h % curation.HASH_FEAT_DIM
                 * curation.HASH_FEAT_MULT) % curation.HASH_FEAT_MOD - half
    if not grams:
        return len(grams), None, None
    score = ssum / half / len(grams)
    return len(grams), score, 1.0 / (1.0 + math.exp(-score))


def test_hashed_ngram_scores_match_python(spark):
    texts = ["the cat sat on the mat", "one", "", "alpha beta gamma delta",
             " ".join(RNG.choice("abcdefg") for _ in range(50))]
    df = spark.createDataFrame(
        [(i, t, "en", "s", 0) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    out = {r["doc_id"]: r
           for r in curation.hashed_ngram_scores(df).collect()}
    for i, t in enumerate(texts):
        n, score, prob = _py_hashed_score(t)
        r = out[i]
        assert r["n_feats"] == n
        if score is None:
            assert r["score"] is None and not r["keep"]
        else:
            assert abs(r["score"] - round(score, 6)) < 1e-9
            assert abs(r["prob"] - round(prob, 6)) < 1e-9
            assert r["keep"] == (score > 0)


# ---- k-core ----------------------------------------------------------------

def _py_kcore(edges: set[tuple[str, str]], k: int, rounds: int):
    bi: dict[str, set[str]] = {}
    for u, v in edges:
        bi.setdefault(u, set()).add(v)
        bi.setdefault(v, set()).add(u)
    nodes = set(bi)
    for _ in range(rounds):
        keep = {n for n in nodes if len(bi[n] & nodes) >= k}
        nodes = keep
    return {n: len(bi[n] & nodes) for n in nodes
            if len(bi[n] & nodes) > 0}


def test_kcore_peel_matches_python(spark):
    for trial in range(4):
        names = [f"n{i}" for i in range(14)]
        edges = set()
        for _ in range(30):
            u, v = RNG.sample(names, 2)
            edges.add((min(u, v), max(u, v)))
        df = spark.createDataFrame(sorted(edges), "u string, v string")
        for k in (2, 3):
            got = {r["node"]: r["deg"]
                   for r in graph.kcore_peel(df, k, rounds=4).collect()}
            assert got == _py_kcore(edges, k, 4), (trial, k)


# ---- Matryoshka / IVF-PQ ---------------------------------------------------

def _rand_emb(spark, n=60, dim=16, seed=7):
    rng = random.Random(seed)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)], i % 3)
            for i in range(n)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")


def test_matryoshka_full_dim_recall_is_one(spark):
    emb = _rand_emb(spark)
    out = similarity.matryoshka_recall(emb, k=5, num_queries=8,
                                       trunc_dim=16).collect()
    assert len(out) == 8
    assert all(r["recall_at_k"] == 1.0 and r["n_hits"] == 5 for r in out)


def test_matryoshka_truncated_recall_bounded(spark):
    emb = _rand_emb(spark)
    out = similarity.matryoshka_recall(emb, k=5, num_queries=8,
                                       trunc_dim=4).collect()
    assert all(0 <= r["n_hits"] <= 5 for r in out)


def test_matryoshka_raises_on_trunc_dim_past_length(spark):
    # slicing past the embedding length would silently equal full-dim
    # recall; the guard must fail loudly instead (round-9 review fix,
    # mirroring the lloyd_centroids ragged-column error)
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    emb = _rand_emb(spark)
    with pytest.raises((SparkRuntimeException, Py4JJavaError),
                       match="trunc_dim=32 exceeds"):
        similarity.matryoshka_recall(emb, k=5, num_queries=8,
                                     trunc_dim=32).collect()


def test_matryoshka_null_embedding_passes_through(spark):
    # a NULL embedding must NOT trip the too-short guard (F.size(NULL)
    # is NULL); it flows through and drops at normalization like on the
    # full-dim side (round-10 review fix)
    emb = _rand_emb(spark)
    nulled = emb.union(spark.createDataFrame(
        [(999, None, 0)], emb.schema))
    out = similarity.matryoshka_recall(nulled, k=5, num_queries=8,
                                       trunc_dim=16).collect()
    assert len(out) == 8
    assert all(r["recall_at_k"] == 1.0 for r in out)


def test_ivf_pq_exhaustive_equals_brute_force(spark):
    # probe EVERY cell and keep an unbounded shortlist: the IVF-PQ
    # composition then degrades to exact brute force (the PQ stage only
    # orders a shortlist that re-ranks exactly anyway).
    emb = _rand_emb(spark, n=40, dim=16)
    centers = similarity.fixed_centroids(4, 16)
    books = similarity.pq_codebooks(4, 8, 4)
    got = {(r["query_id"], r["rank"]): r["neighbor_id"]
           for r in similarity.ivf_pq_topk(
               emb, 5, centers, books, n_probe=4, num_queries=6,
               m_rerank=10_000).collect()}
    want = {(r["query_id"], r["rank"]): r["neighbor_id"]
            for r in similarity.brute_force_topk(emb, 5, 6).collect()}
    assert got == want


def test_ivf_pq_narrow_probe_is_subset_sized(spark):
    emb = _rand_emb(spark, n=40, dim=16)
    centers = similarity.fixed_centroids(4, 16)
    books = similarity.pq_codebooks(4, 8, 4)
    out = similarity.ivf_pq_topk(emb, 5, centers, books, n_probe=1,
                                 num_queries=6, m_rerank=8).collect()
    per_q: dict[int, int] = {}
    for r in out:
        per_q[r["query_id"]] = per_q.get(r["query_id"], 0) + 1
    assert all(c <= 5 for c in per_q.values())


# ---- incremental dedup / normalization ------------------------------------

def test_incremental_dedup_flags(spark):
    from gcp_serverless_mapreduce_spark.operators import dedup

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    near = base.replace("pi", "phi")          # 1-token change -> near-dup
    rows = [
        (1, base, "en", "s", 0),              # old
        (3, base, "en", "s", 0),              # new: exact copy of old #1
        (6, near, "en", "s", 0),              # new: near-dup of old #1
        (9, "totally different words entirely unrelated content here "
            "nothing shared with any other document in this corpus at "
            "all whatsoever believe me", "en", "s", 0),  # new: unique
        (2, "another old doc with its own words", "en", "s", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    out = {r["doc_id"]: r
           for r in dedup.incremental_dedup(df, mod=3).collect()}
    assert set(out) == {3, 6, 9}              # new docs only
    assert out[3]["exact_dup"] and out[3]["is_dup"]
    assert not out[6]["exact_dup"]
    assert out[6]["n_near_partners"] >= 1 and out[6]["is_dup"]
    assert not out[9]["exact_dup"] and not out[9]["is_dup"]


def test_normalize_text_canonicalizes(spark):
    from gcp_serverless_mapreduce_spark.operators import curation

    pairs = [
        ("Hello,  World!", "hello world"),
        ("HELLO world !!!", "hello world"),
        ("room 42\nfloor 7", "room 00 floor 0"),
        ("", ""),
    ]
    df = spark.createDataFrame([(t,) for t, _ in pairs], "text string")
    got = [r[0] for r in
           df.select(curation.normalize_text(F.col("text"))).collect()]
    assert got == [want for _, want in pairs]


def test_gopher_rule_flags_per_doc(spark):
    from gcp_serverless_mapreduce_spark.operators import curation

    good = " ".join(["the quick brown fox jumps over that lazy dog and"] * 6)
    df = spark.createDataFrame([(good,), ("the of and",)], "text string")
    flags = curation.gopher_rule_flags()
    out = df.select(*[c.alias(n) for n, c in flags]).collect()
    assert all(out[0][n] for n, _ in flags)          # good doc: all pass
    assert not out[1]["word_count"]                  # short doc fails length


# ---- plan-shape pins for the round-8 scale claims --------------------------

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _exchanges(plan: str) -> int:
    import re
    return len(re.findall(r"\bExchange (?:hash|range|Single)", plan))


def test_hashed_ngram_scores_is_map_only(spark):
    from gcp_serverless_mapreduce_spark.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    plan = _plan(curation.hashed_ngram_scores(docs))
    # the docstring's claim IS the plan: no explode, no shuffle
    assert _exchanges(plan) == 0, plan


def test_gopher_rule_filter_single_shuffle(spark):
    from gcp_serverless_mapreduce_spark.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    plan = _plan(curation.gopher_rule_filter(docs))
    # map-only rule projection, ONE exchange for the source aggregate
    assert _exchanges(plan) == 1, plan


def test_scd2_single_shuffle(spark):
    from gcp_serverless_mapreduce_spark.tables import load_table

    ev = load_table(spark, SF_DIR, "events")
    plan = _plan(temporal.scd2_intervals(ev))
    # both windows and the run aggregate share the user_id partitioning
    assert _exchanges(plan) == 1, plan


def test_soft_dedup_effective_docs_equals_cluster_count(spark):
    # sum over docs of 1/|cluster| = number of clusters: each cluster
    # contributes exactly 1 regardless of its size, so the per-source
    # effective sizes must total the distinct-cluster count.
    from gcp_serverless_mapreduce_spark.suite.dedup_q import (
        INC_MOD, MAX_BUCKET, NUM_PERM, BANDS, ROWS_PER_BAND,
        soft_dedup_weights,
    )
    from gcp_serverless_mapreduce_spark.operators import dedup as dd
    from gcp_serverless_mapreduce_spark.tables import load_table

    out = soft_dedup_weights(spark, SF_DIR).collect()
    docs = load_table(spark, SF_DIR, "documents")
    sig = dd.minhash_signatures(docs, NUM_PERM)
    pairs = dd.lsh_candidate_pairs(sig, BANDS, ROWS_PER_BAND,
                                   max_bucket=MAX_BUCKET)
    clustered = {r["doc_id"]: r["cluster_id"]
                 for r in dd.dup_clusters(pairs).collect()}
    n_docs = docs.count()
    n_clusters = (n_docs - len(clustered)
                  + len(set(clustered.values())))
    assert abs(sum(r["effective_docs"] for r in out) - n_clusters) < 1e-3
    assert sum(r["n_docs"] for r in out) == n_docs


def test_incremental_dedup_covers_every_new_doc(spark):
    from gcp_serverless_mapreduce_spark.suite.dedup_q import (
        incremental_dedup_new_docs, INC_MOD,
    )
    from gcp_serverless_mapreduce_spark.tables import load_table

    out = incremental_dedup_new_docs(spark, SF_DIR).collect()
    docs = load_table(spark, SF_DIR, "documents")
    want = {r["doc_id"] for r in docs.collect()
            if r["doc_id"] % INC_MOD == 0}
    assert {r["doc_id"] for r in out} == want


def _py_scd2(rows):
    # rows: (event_id, us, user_id, event_type); replay the exact
    # gaps-and-islands semantics: order (us, event_id), runs of equal
    # state, valid_to = next run's start
    out = []
    by_u: dict[int, list] = {}
    for eid, us, uid, et in rows:
        by_u.setdefault(uid, []).append((us, eid, et))
    for uid, evs in by_u.items():
        evs.sort()
        runs = []
        for us, eid, et in evs:
            if runs and runs[-1][0] == et:
                runs[-1][2] += 1
            else:
                runs.append([et, us, 1])
        for i, (et, us, n) in enumerate(runs):
            nxt = runs[i + 1][1] if i + 1 < len(runs) else None
            out.append((uid, et, us, nxt, n, nxt is None))
    return sorted(out, key=lambda r: (r[0], r[2], r[1]))


def test_scd2_fuzz_vs_python(spark):
    for trial in range(3):
        rng = random.Random(0x5CD2 + trial)
        rows = []
        for uid in range(8):
            t = 1_000_000
            for _ in range(rng.randint(0, 40)):
                # heavy tie pressure: 50% of steps add zero time
                t += rng.choice([0, 0, 1, 1_000_000])
                rows.append((len(rows), t, uid,
                             rng.choice(["a", "b"])))
        if not rows:
            continue
        ev = spark.createDataFrame(
            [(e, u, uid, et, 0.0) for e, u, uid, et in rows],
            "event_id long, us long, user_id long, event_type string, "
            "value double").withColumn(
            "ts", F.timestamp_micros("us")).drop("us")
        got = sorted(
            ((r["user_id"], r["state"], r["valid_from_us"],
              r["valid_to_us"], r["n_events"], r["is_current"])
             for r in temporal.scd2_intervals(ev).collect()),
            key=lambda r: (r[0], r[2], r[1]))
        assert got == _py_scd2(rows), trial


def test_bigram_structs_edges(spark):
    df = spark.createDataFrame([("a b c",), ("a",), ("",)], "text string")
    toks = tokens(F.col("text"))
    out = [r[0] for r in
           df.select(textstats.bigram_structs(toks)).collect()]
    assert [len(x) for x in out] == [2, 0, 0]
    assert (out[0][0]["w1"], out[0][0]["w2"]) == ("a", "b")


def test_heldout_bigram_xent_matches_python(spark):
    rng = random.Random(0xCC9E7)
    words = ["w%d" % i for i in range(12)]
    docs = [(d, " ".join(rng.choices(words, k=rng.randint(0, 25))),
             "en", "s", 0) for d in range(20)]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    got = {r["doc_id"]: r for r in
           textstats.heldout_bigram_xent(df, train_mod=2).collect()}

    c2: dict[tuple, int] = {}
    c1: dict[str, int] = {}
    vocab = set()
    for d, text, *_ in docs:
        toks = text.split()
        if d % 2 == 0:
            vocab.update(toks)
            for a, b in zip(toks, toks[1:]):
                c2[(a, b)] = c2.get((a, b), 0) + 1
                c1[a] = c1.get(a, 0) + 1
    V = len(vocab)
    for d, text, *_ in docs:
        toks = text.split()
        if d % 2 == 0 or len(toks) < 2:
            assert d not in got
            continue
        nlls = [-math.log((c2.get((a, b), 0) + 1) / (c1.get(a, 0) + V))
                for a, b in zip(toks, toks[1:])]
        r = got[d]
        assert r["n_bigrams"] == len(nlls)
        assert abs(r["xent"] - round(sum(nlls) / len(nlls), 6)) < 1e-9
        assert abs(r["ppl"] - round(math.exp(r["xent"]), 4)) < 1e-9


def test_ivf_cell_balance_invariants(spark):
    from gcp_serverless_mapreduce_spark.suite.similarity_q import (
        N_CELLS, ivf_cell_balance,
    )

    out = ivf_cell_balance(spark, SF_DIR).collect()
    assert len(out) == N_CELLS                    # empty cells surface
    n = sum(r["n_vecs"] for r in out)
    assert n > 0
    # load factors average to 1 by construction
    assert abs(sum(r["load_factor"] for r in out) / N_CELLS - 1.0) < 1e-4
    assert all(r["is_empty"] == (r["n_vecs"] == 0) for r in out)


def test_normalize_text_fuzz_vs_python(spark):
    import re as _re

    def py_norm(t: str) -> str:
        x = t.lower()
        x = _re.sub("[0-9]", "0", x)
        x = _re.sub("[^a-z0 ]", " ", x)
        return _re.sub(" +", " ", x).strip()

    rng = random.Random(0x70F)
    alphabet = "abcXYZ012 .,!\n\t#-—é"
    texts = ["".join(rng.choice(alphabet)
                     for _ in range(rng.randint(0, 60)))
             for _ in range(40)]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [r[0] for r in df.select(
        curation.normalize_text(F.col("text"))).collect()]
    assert got == [py_norm(t) for t in texts]


def test_zipf_degenerate_sources(spark):
    # one distinct word -> rank set {1}, dx = 0 -> NULL slope/intercept/r2
    df = spark.createDataFrame(
        [(0, "aaa aaa aaa", "en", "one_word", 0),
         (1, "b c b c b", "en", "two_words", 0)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    out = {r["source"]: r
           for r in textstats.zipf_fit_by_source(df, topn=10).collect()}
    r1 = out["one_word"]
    assert r1["n_words"] == 1 and r1["slope"] is None
    r2 = out["two_words"]
    # two points: slope defined; y-variance > 0 so r2 = 1
    assert r2["n_words"] == 2 and r2["slope"] is not None
    assert abs(r2["r2"] - 1.0) < 1e-9


def test_banded_signatures_layout(spark):
    from gcp_serverless_mapreduce_spark.operators import dedup as dd

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta", "en", "s", 0),
         (2, "alpha beta gamma delta", "en", "s", 0)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    sig = dd.minhash_signatures(docs, 8)
    banded = dd.banded_signatures(sig, bands=4, rows_per_band=2).collect()
    assert len(banded) == 8                     # 2 docs × 4 bands
    by_band = {}
    for r in banded:
        by_band.setdefault((r["band"], r["band_hash"]), set()).add(r["doc"])
    # identical docs share every band bucket
    assert all(v == {1, 2} for v in by_band.values())
    capped = dd.banded_signatures(sig, 4, 2, max_bucket=1).collect()
    assert len(capped) == 4 and {r["doc"] for r in capped} == {1}


def test_scd2_null_state_runs(spark):
    ev = spark.createDataFrame(
        [(1, 1_000_000, 7, "a"), (2, 2_000_000, 7, None),
         (3, 3_000_000, 7, None), (4, 4_000_000, 7, "a")],
        "event_id long, us long, user_id long, event_type string"
    ).withColumn("ts", F.timestamp_micros("us")).drop("us")
    out = sorted(temporal.scd2_intervals(ev).collect(),
                 key=lambda r: r["valid_from_us"])
    # NULL state opens its own run; the two NULLs merge into one run
    assert [(r["state"], r["n_events"]) for r in out] == \
        [("a", 1), (None, 2), ("a", 1)]
    assert [r["is_current"] for r in out] == [False, False, True]


def test_unicode_ellipsis_primitives_cross_engine(spark):
    """The fixtures are ASCII, so the oracle gate never exercises the
    U+2026 branch of the Gopher rules — pin the primitive agreements
    (char-counting length, literal replace, LIKE with a multibyte
    pattern char) between Spark and DuckDB directly."""
    import duckdb

    text = "a…b c… …d e... plain"
    line = "ends with ellipsis …  "
    got = spark.range(1).select(
        F.length(F.lit(text)).alias("n"),
        F.length(F.replace(F.lit(text), F.lit("…"))).alias("nr"),
        F.rtrim(F.lit(line)).like("%…").alias("m")).first()
    want = duckdb.sql(
        "SELECT len(?), len(replace(?, '…', '')), "
        "rtrim(?) LIKE '%…'", params=[text, text, line]).fetchone()
    assert (got["n"], got["nr"], got["m"]) == want
    # and the count identity both engines use: 3 occurrences of '…'
    assert got["n"] - got["nr"] == 3
