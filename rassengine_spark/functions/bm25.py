"""BM25 ranked retrieval as a two-pass DataFrame pipeline.

Reference scoring semantics: OpenSearch `multi_match` clauses score with
Lucene BM25 (k1=1.2, b=0.75 — OpenSearch defaults, public docs); the
reference treats the scores as opaque floats (app/main.py:1520-1522), so
this module reproduces the *formula*, with ranking equivalence as the
correctness bar (SURVEY §7.3 risk 1: per-shard idf makes Lucene scores
unreproducible bit-for-bit; a single global idf is the principled choice).

Lucene BM25 per (doc, term):

    idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
    score   = idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

Spark-first plan shape — the query term set is small and fixed, so NO
per-term explode/shuffle is needed anywhere:

1. stats pass: ONE scan computing N, avgdl, and df per query term as a
   single scalar row (`sum((tf_t > 0)::int)` per term). At 100 TB this is a
   scan + partial-agg to one row; it can also be served from a precomputed
   corpus-stats table.
2. scoring pass: broadcast cross-join of that one stats row, then the BM25
   sum is a pure per-row codegen expression (`size(filter(tokens, ...))`
   per term) feeding `orderBy(desc).limit(k)` — TakeOrderedAndProject, no
   full sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import terms_of, tokenize

K1 = 1.2
B = 0.75


def term_freq(tokens: Column, term: str) -> Column:
    """tf of one term in a token array — per-row, codegen-friendly."""
    return F.size(F.filter(tokens, lambda t: t == F.lit(term)))


def bm25_scored(df: DataFrame, text_col: str, query: str,
                k1: float = K1, b: float = B,
                score_col: str = "score") -> DataFrame:
    """All input columns plus a BM25 `score_col` for `query` over
    `text_col`. Rows with score 0 (no query term present) are kept —
    compose with `.filter(F.col(score_col) > 0)` and top-k as needed."""
    terms = terms_of(query)
    if not terms:
        return df.withColumn(score_col, F.lit(0.0))

    toks = tokenize(F.col(text_col))
    tf_cols = {t: term_freq(toks, t) for t in terms}

    stats = df.agg(
        F.count(F.lit(1)).alias("_n"),
        F.avg(F.size(tokenize(F.col(text_col)))).alias("_avgdl"),
        *[F.sum((tf_cols[t] > 0).cast("long")).alias(f"_df_{i}")
          for i, t in enumerate(terms)])

    scored = df.crossJoin(F.broadcast(stats))
    dl = F.size(toks).cast("double")
    score = F.lit(0.0)
    for i, t in enumerate(terms):
        tf = tf_cols[t].cast("double")
        dfreq = F.col(f"_df_{i}").cast("double")
        idf = F.log(F.lit(1.0)
                    + (F.col("_n") - dfreq + 0.5) / (dfreq + 0.5))
        score = score + idf * tf * (k1 + 1.0) / (
            tf + k1 * (1.0 - b + b * dl
                      / F.greatest(F.col("_avgdl"), F.lit(1e-12))))
    return (scored.withColumn(score_col, score)
                  .drop("_n", "_avgdl",
                        *[f"_df_{i}" for i in range(len(terms))]))


def bm25_topk(df: DataFrame, text_col: str, id_col: str, query: str,
              k: int = 10, k1: float = K1, b: float = B,
              round_to: int = 6) -> DataFrame:
    """Top-k (id, score) by BM25, ties broken by id ascending so the cut is
    deterministic and oracle-comparable."""
    scored = bm25_scored(df, text_col, query, k1, b)
    return (scored.filter(F.col("score") > 0)
                  .select(F.col(id_col).alias("id"),
                          F.round(F.col("score"), round_to).alias("score"))
                  .orderBy(F.col("score").desc(), F.col("id").asc())
                  .limit(k))


def bm25_sql(table: str, text_col: str, id_col: str, query: str,
             k: int = 10, k1: float = K1, b: float = B,
             round_to: int = 6) -> str:
    """DuckDB twin of `bm25_topk` — identical tokenizer, stats, and formula."""
    terms = terms_of(query)
    toks = (f"list_filter(string_split_regex(lower({text_col}), "
            f"'[^a-z0-9]+'), x -> len(x) > 0)")
    tf = ("len(list_filter(toks, x -> x = '{t}'))")
    df_cols = ", ".join(
        "SUM(CASE WHEN " + tf.format(t=t) + " > 0 THEN 1 ELSE 0 END)"
        f" AS df_{i}" for i, t in enumerate(terms))
    score_terms = " + ".join(
        f"(ln(1.0 + (s.n - s.df_{i} + 0.5) / (s.df_{i} + 0.5))"
        f" * {tf.format(t=t)} * {k1 + 1.0}"
        f" / ({tf.format(t=t)} + {k1} * (1.0 - {b} + {b} * len(toks)"
        f" / s.avgdl)))"
        for i, t in enumerate(terms))
    return f"""
WITH tok AS (
  SELECT {id_col} AS id, {toks} AS toks FROM {table}),
s AS (
  SELECT COUNT(*) AS n, AVG(len(toks)) AS avgdl, {df_cols} FROM tok)
SELECT id, round({score_terms}, {round_to}) AS score
FROM tok, s
WHERE ({score_terms}) > 0
ORDER BY score DESC, id ASC LIMIT {k}
"""


def _tf_index_pandas(df: DataFrame, text_col: str, id_col: str,
                     terms: list[str]) -> DataFrame:
    """Arrow-batched (id, dl, tf_0..tf_n) pass: document length + term
    frequency for each query term, tokenized exactly like `tokenize`
    (lower + split on the ASCII class [^a-z0-9]+ — identical in Java and
    Python regex for this explicit class). The interpreted
    size(filter(tokens, ...)) expression per term per pass profiled as the
    batch scorer's dominant cost; one Counter per doc replaces
    2x|terms| interpreted array traversals. Counts are integers, so
    downstream score math is bit-identical."""
    import re
    from collections import Counter

    id_type = df.schema[id_col].dataType.simpleString()
    schema = (f"id {id_type}, dl int, "
              + ", ".join(f"tf_{i} int" for i in range(len(terms))))
    split = re.compile(r"[^a-z0-9]+").split

    def run(batches):
        import pandas as pd
        for pdf in batches:
            out = {"id": pdf["id"], "dl": []}
            cols = [[] for _ in terms]
            for txt in pdf["txt"]:
                toks = [t for t in split((txt or "").lower()) if t]
                out["dl"].append(len(toks))
                c = Counter(toks)
                for i, t in enumerate(terms):
                    cols[i].append(c.get(t, 0))
            for i in range(len(terms)):
                out[f"tf_{i}"] = cols[i]
            yield pd.DataFrame(out)

    return df.select(F.col(id_col).alias("id"),
                     F.col(text_col).cast("string").alias("txt")) \
             .mapInPandas(run, schema=schema)


def bm25_batch_topk(df: DataFrame, text_col: str, id_col: str,
                    queries: dict[str, str], k: int = 10,
                    k1: float = K1, b: float = B,
                    round_to: int = 6) -> DataFrame:
    """Per-query BM25 top-k for a BATCH of queries in ONE corpus pass:
    (query_id, id, score, rank).

    The serving-batch shape: scoring Q queries one at a time costs Q corpus
    scans; here one Arrow tf-index pass computes (dl, tf per union term)
    per doc, the stats row aggregates df for the UNION of all query terms,
    and the scoring pass emits each doc's per-query scores as an
    array-of-structs that explodes to only the (doc, query) pairs with
    score > 0 — so the shuffle into the per-query top-k window carries
    candidates, not the cross product. Two scans total, independent of Q;
    idf/tf math is identical to `bm25_topk` (a query scored alone or in a
    batch ranks the same — parity-tested)."""
    per_q = {qid: terms_of(q) for qid, q in queries.items()}
    uniq = sorted({t for ts in per_q.values() for t in ts})
    if not uniq:
        raise ValueError("no tokenizable terms in any query")

    # pinned: the Arrow pass feeds both the stats row and the scoring
    # scan, and its output is narrow (id + small ints), unlike the corpus
    # text. localCheckpoint, NOT cache(): checkpoint blocks are released
    # by the ContextCleaner when the plan is garbage-collected, while a
    # cache() pins executor storage until an explicit unpersist this
    # function has no good place to issue.
    tf_idx = _tf_index_pandas(df, text_col, id_col,
                              uniq).localCheckpoint(eager=False)
    stats = tf_idx.agg(
        F.count(F.lit(1)).alias("_n"),
        F.avg(F.col("dl")).alias("_avgdl"),
        *[F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"_df_{i}")
          for i in range(len(uniq))])
    ti = {t: i for i, t in enumerate(uniq)}

    dl = F.col("dl").cast("double")

    def qscore(terms: list[str]) -> Column:
        s = F.lit(0.0)
        for t in terms:
            tf = F.col(f"tf_{ti[t]}").cast("double")
            dfreq = F.col(f"_df_{ti[t]}").cast("double")
            idf = F.log(F.lit(1.0)
                        + (F.col("_n") - dfreq + 0.5) / (dfreq + 0.5))
            s = s + idf * tf * (k1 + 1.0) / (
                tf + k1 * (1.0 - b + b * dl
                      / F.greatest(F.col("_avgdl"), F.lit(1e-12))))
        return s

    pairs = F.array(*[
        F.struct(F.lit(qid).alias("query_id"),
                 F.round(qscore(ts), round_to).alias("score"))
        for qid, ts in sorted(per_q.items())])
    exploded = (tf_idx.crossJoin(F.broadcast(stats))
                      .select(F.col("id"),
                              F.explode(F.filter(pairs,
                                                 lambda p: p["score"] > 0))
                              .alias("qs"))
                      .select("id", "qs.query_id", "qs.score"))
    from pyspark.sql.window import Window
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("id").asc())
    return (exploded.withColumn("rank", F.row_number().over(w))
                    .filter(F.col("rank") <= k)
                    .select("query_id", "id", "score", "rank"))


def bm25_batch_topk_join(df: DataFrame, text_col: str, id_col: str,
                         queries: dict[str, str], k: int = 10,
                         k1: float = K1, b: float = B,
                         round_to: int = 6) -> DataFrame:
    """bm25_batch_topk's LARGE-Q shape: identical scores, different plan.

    The struct-literal form builds one |Q|-element array per doc — an
    interpreted higher-order projection whose cost grows with |Q| (at 100
    queries it dominated the eval entry); a per-doc tf-COLUMN layout is
    no better, its schema grows with the union term count. So the batch
    simply scores from the inverted-index frames: build_term_index once
    (one explode + hash aggregate, vocabulary-agnostic), then
    bm25_batch_topk_from_index joins the term-pruned postings against a
    broadcast query-term table and folds per-occurrence contributions in
    query order — bit-identical to scoring each query alone
    (parity-tested), sized by candidates, never by |Q| or vocabulary."""
    from ..operators.inverted_index import (bm25_batch_topk_from_index,
                                            build_term_index)
    postings, doclens, stats = build_term_index(df, text_col, id_col,
                                                single_pass=True)
    return bm25_batch_topk_from_index(postings, doclens, stats, queries,
                                      k=k, k1=k1, b=b, round_to=round_to)
