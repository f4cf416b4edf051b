"""BM25 ranked retrieval from the term index: formula properties, batch
parity, and agreement with the independent Python reference."""

import math

from rassengine_spark.operators.inverted_index import (
    _MAX_PIVOT_POS, bm25_batch_topk_from_index, bm25_topk_from_index,
    build_term_index)
from tests.bm25_reference import reference_topk


def _scores(spark, corpus, query):
    """{doc index: score}, 0.0 for docs the query does not match;
    rounded far below the 1e-9 tolerances used here."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "id long, text string")
    got = {r.id: r.score
           for r in bm25_topk_from_index(*build_term_index(df, "text", "id"),
                                         query, k=len(corpus),
                                         round_to=12).collect()}
    return {i: got.get(i, 0.0) for i in range(len(corpus))}


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
    got = [r.id for r in bm25_topk_from_index(
        *build_term_index(df, "text", "id"), "spark", k=3).collect()]
    assert got == [0, 1, 2]                    # equal scores -> id asc


def test_bm25_plan_no_pertermshuffle(spark):
    """The scorer has no per-term aggregate: df is a window on the one
    query_id shuffle, not a groupBy(term) with its own exchange (the
    index build's own aggregate is keyed on (term, id))."""
    import re
    df = spark.createDataFrame([(1, "spark join")], "id long, text string")
    plan = bm25_topk_from_index(*build_term_index(df, "text", "id"),
                                "spark join", k=5) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    assert not re.search(r"HashAggregate\(keys=\[term#\d+\],", plan), plan


def test_bm25_batch_matches_single_query(spark):
    rows = [(1, "spark join shuffle"), (2, "spark spark window"),
            (3, "join order by"), (4, "unrelated words here"),
            (5, "spark join join")]
    df = spark.createDataFrame(rows, "id long, text string")
    queries = {"qa": "spark join", "qb": "window order"}
    batch = bm25_batch_topk_from_index(*build_term_index(df, "text", "id"),
                                       queries, k=3)
    got = {(r.query_id, r.rank): (r.id, r.score) for r in batch.collect()}
    for qid, q in queries.items():
        for rank, want in enumerate(reference_topk(rows, q, k=3), start=1):
            assert got[(qid, rank)] == want
    # every emitted row has score > 0 (zero-score pairs never appear)
    assert all(v[1] > 0 for v in got.values())


def test_bm25_batch_map_fold_matches_reference(spark):
    """A batch whose longest query exceeds _MAX_PIVOT_POS folds through
    the map fold instead of the pivot fold; both batches, including a
    query with a repeated term, must equal the Python reference."""
    rows = [(i, f"alpha beta w{i} gamma alpha" if i % 3 else "beta only doc")
            for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = build_term_index(docs, "text", "doc_id")
    qs = {"q1": "alpha gamma", "q2": "beta", "q3": "alpha alpha w7"}
    long_q = " ".join(["gamma w4 alpha doc w7"] * (_MAX_PIVOT_POS // 4))
    assert len(long_q.split()) > _MAX_PIVOT_POS
    for batch in (qs, {**qs, "q4": long_q}):
        got: dict = {}
        for r in (bm25_batch_topk_from_index(*idx, batch, k=7)
                  .orderBy("query_id", "rank").collect()):
            got.setdefault(r.query_id, []).append((r.id, r.score))
        assert got == {qid: reference_topk(rows, q, k=7)
                       for qid, q in batch.items()}
