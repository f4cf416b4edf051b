"""Inverted-index lexical search: index-served BM25 must equal the
scan-based scorer exactly, and lookups must only touch postings."""

from pyspark.sql import functions as F

from rassengine_spark.functions.bm25 import bm25_topk
from rassengine_spark.operators.inverted_index import (bm25_topk_from_index,
                                                       build_term_index)


def corpus(spark):
    rows = [
        (1, "spark join strategies for large spark tables"),
        (2, "join order and join reordering in query planners"),
        (3, "window functions and sort based aggregation"),
        (4, "spark query planning with joins and shuffles"),
        (5, "completely unrelated cooking recipe text"),
        (6, ""),
    ]
    return spark.createDataFrame(rows, "id long, text string")


def test_index_bm25_matches_scan_bm25(spark):
    df = corpus(spark)
    postings, doclens, stats = build_term_index(df, "text", "id")
    for q in ["spark join", "query planning spark", "sort window",
              "join", "spark join spark",       # repeated term: fold must
              "join join join"]:                # add once per OCCURRENCE
        scan = [(r.id, r.score)
                for r in bm25_topk(df, "text", "id", q, k=5).collect()]
        idx = [(r.id, r.score)
               for r in bm25_topk_from_index(postings, doclens, stats,
                                             q, k=5).collect()]
        assert idx == scan, q


def test_index_shape_and_stats(spark):
    postings, doclens, stats = build_term_index(corpus(spark), "text", "id")
    p = {(r.term, r.id): r.tf for r in postings.collect()}
    assert p[("spark", 1)] == 2          # tf counts occurrences
    assert p[("join", 2)] == 2
    s = stats.collect()[0]
    assert s.n_docs == 6                 # empty doc still counted (dl=0)
    dl = {r.id: r.dl for r in doclens.collect()}
    assert dl[6] == 0 and dl[1] == 7


def test_query_prunes_to_query_terms(spark):
    """The scoring plan filters postings to the query's terms — the
    pushed-down predicate is what partition-prunes a term-partitioned
    postings table at scale."""
    postings, doclens, stats = build_term_index(corpus(spark), "text", "id")
    plan = bm25_topk_from_index(postings, doclens, stats, "spark join",
                                k=5)._jdf.queryExecution() \
        .optimizedPlan().toString()
    assert "spark" in plan and "join" in plan   # term literals in filter


def test_batch_query_ids_with_quotes_round_trip(spark):
    """Query ids reach the plan as SQL string literals (util.sql_quote):
    ids carrying quotes and backslashes come back unchanged on both the
    pivot fold and the long-query literal-map fold, each with the same
    ranking the single-query scorer gives; string_array_lit round-trips
    the same strings."""
    from rassengine_spark.operators.inverted_index import (
        _MAX_PIVOT_POS, bm25_batch_topk_from_index)
    from rassengine_spark.util import string_array_lit

    ids = ["o'brien", "a\\b", "x''y"]
    postings, doclens, stats = build_term_index(corpus(spark), "text", "id")
    for q in ["spark join", "spark join" + " spark" * _MAX_PIVOT_POS]:
        want = [(r.id, r.score)
                for r in bm25_topk_from_index(postings, doclens, stats,
                                              q, k=3).collect()]
        got: dict = {}
        for r in bm25_batch_topk_from_index(
                postings, doclens, stats, {qid: q for qid in ids},
                k=3).orderBy("query_id", "rank").collect():
            got.setdefault(r.query_id, []).append((r.id, r.score))
        assert got == {qid: want for qid in ids}, q
    arr = spark.range(1).select(string_array_lit(ids).alias("a")).first().a
    assert arr == ids
