"""BM25 ranked retrieval: formula properties and plan shape."""

import math

from pyspark.sql import functions as F

from rassengine_spark.functions.bm25 import bm25_scored, bm25_topk


def _scores(spark, corpus, query):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "id long, text string")
    return {r.id: r.score for r in bm25_scored(df, "text", query).collect()}


def test_bm25_matches_hand_formula(spark):
    corpus = ["spark join", "spark spark spark", "filter scan"]
    s = _scores(spark, corpus, "spark")
    # hand computation: N=3, df=2, dl=[2,3,2], avgdl=7/3
    n, dfreq, avgdl, k1, b = 3, 2, 7 / 3, 1.2, 0.75
    idf = math.log(1 + (n - dfreq + 0.5) / (dfreq + 0.5))

    def bm25(tf, dl):
        return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    assert abs(s[0] - bm25(1, 2)) < 1e-9
    assert abs(s[1] - bm25(3, 3)) < 1e-9
    assert s[2] == 0.0


def test_bm25_tf_saturation_and_idf(spark):
    # more occurrences -> higher score, sublinearly (saturation)
    s = _scores(spark, ["a x", "a a x", "a a a a a a x", "x y"], "a")
    assert s[0] < s[1] < s[2]
    assert (s[1] - s[0]) > (s[2] - s[1]) / 4   # diminishing returns
    # rarer term scores higher at equal tf: 'rare' df=1 vs 'common' df=3
    s2 = _scores(spark, ["rare common", "common q", "common w"],
                 "rare common")
    per_doc0 = s2[0]
    assert per_doc0 > 2 * s2[1]                # idf(rare) >> idf(common)


def test_bm25_topk_deterministic_cut(spark):
    df = spark.createDataFrame(
        [(i, "spark") for i in range(10)], "id long, text string")
    got = [r.id for r in bm25_topk(df, "text", "id", "spark", k=3).collect()]
    assert got == [0, 1, 2]                    # equal scores -> id asc


def test_bm25_plan_no_pertermshuffle(spark):
    """The scoring pass must be scan + broadcast-stats + TakeOrdered: no
    explode and no per-term aggregate exchange in the plan."""
    df = spark.createDataFrame([(1, "spark join")], "id long, text string")
    plan = bm25_topk(df, "text", "id", "spark join", k=5) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Generate" not in plan              # no explode anywhere


def test_bm25_batch_matches_single_query(spark):
    from rassengine_spark.functions.bm25 import bm25_batch_topk
    rows = [(1, "spark join shuffle"), (2, "spark spark window"),
            (3, "join order by"), (4, "unrelated words here"),
            (5, "spark join join")]
    df = spark.createDataFrame(rows, "id long, text string")
    queries = {"qa": "spark join", "qb": "window order"}
    batch = bm25_batch_topk(df, "text", "id", queries, k=3)
    got = {(r.query_id, r.rank): (r.id, r.score) for r in batch.collect()}
    for qid, q in queries.items():
        solo = bm25_topk(df, "text", "id", q, k=3).collect()
        for rank, r in enumerate(solo, start=1):
            assert got[(qid, rank)] == (r.id, r.score)
    # every emitted row has score > 0 (zero-score pairs never explode)
    assert all(v[1] > 0 for v in got.values())


def test_bm25_batch_join_shape_matches_struct_shape(spark):
    """The large-Q join formulation must be bit-equal to the struct-
    literal batch scorer (same stats, same formula, ordered fold with
    zero-skip proven safe) — including a query with a repeated term, and
    a batch whose longest query takes the map-fold path."""
    from rassengine_spark.functions.bm25 import (bm25_batch_topk,
                                                 bm25_batch_topk_join)
    from rassengine_spark.operators.inverted_index import _MAX_PIVOT_POS
    docs = spark.createDataFrame(
        [(i, f"alpha beta w{i} gamma alpha" if i % 3 else "beta only doc")
         for i in range(30)], "doc_id long, text string")
    qs = {"q1": "alpha gamma", "q2": "beta", "q3": "alpha alpha w7"}
    long_q = " ".join(["gamma w4 alpha doc w7"] * (_MAX_PIVOT_POS // 4))
    for batch in (qs, {**qs, "q4": long_q}):
        a = {(r.query_id, r.id): (r.score, r.rank)
             for r in bm25_batch_topk(docs, "text", "doc_id", batch, k=7)
             .collect()}
        b = {(r.query_id, r.id): (r.score, r.rank)
             for r in bm25_batch_topk_join(docs, "text", "doc_id", batch,
                                           k=7).collect()}
        assert a == b and len(a) > 0
