"""Exact nearest-neighbor reference over embedding columns.

The engine's one ANN scorer is the sharded-HNSW store (llmops/hnsw.py,
mirroring the reference's per-shard HNSW graphs, app/main.py:563-572).
This module is what it is measured against: exact top-k by brute force,
and per-query recall of an approximate top-k against it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vector import cosine_sql, dot_sql
from .hnsw import _per_query_topk


def brute_force_topk(corpus: DataFrame, queries: DataFrame, vec_col: str,
                     id_col: str, query_id_col: str, k: int = 5,
                     metric: str = "cosine",
                     round_to: int | None = 6) -> DataFrame:
    """Exact top-k: the corpus scored against the broadcast query batch,
    one HOF cosine (or dot) expression per pair, per-query window rank
    with ties broken by id. Returns (query_id, id, score, rank)."""
    c = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    q = queries.select(F.col(query_id_col).alias("query_id"),
                       F.col(vec_col).alias("qv"))
    joined = c.crossJoin(F.broadcast(q))
    score: Column = F.expr(cosine_sql("v", "qv") if metric == "cosine"
                           else dot_sql("v", "qv"))
    if round_to is not None:
        score = F.round(score, round_to)
    return (_per_query_topk(joined.withColumn("score", score), k)
            .select("query_id", "id", "score", "rank"))


def recall_at_k(approx: DataFrame, exact: DataFrame,
                round_to: int = 6) -> DataFrame:
    """ANN quality evaluation: per-query recall of an approximate top-k
    result against the exact top-k on the same queries.

    Both inputs are (query_id, id, ...) frames (the output shape of
    brute_force_topk and of the hnsw top-k calls). Returns (query_id,
    n_exact, n_matched, recall) where recall = |approx ∩ exact| / |exact|
    per query. The join keys on (query_id, id) — both sides are k rows
    per query, so this is a tiny co-partitioned join no matter the
    corpus size; the heavy lifting already happened inside the top-k
    operators being compared."""
    e = exact.select("query_id", "id")
    a = (approx.select("query_id", "id")
               .withColumn("hit", F.lit(1)))
    per = (e.join(a, ["query_id", "id"], "left")
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_exact"),
                 F.count("hit").alias("n_matched")))
    return per.withColumn(
        "recall",
        F.round(F.col("n_matched").cast("double") / F.col("n_exact"),
                round_to))
