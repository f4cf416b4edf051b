"""Inverted-index (postings table) lexical search: the materialized-view
analog of the reference's Lucene inverted index (SURVEY §4 O5 — OpenSearch
gets sublinear lexical search from its index; Spark's equivalent is a
precomputed postings TABLE, not a custom Catalyst structure). This is the
engine's one BM25 scorer: the persisted term store
(operators/index_store.py) serves through it too.

Reference scoring semantics: OpenSearch `multi_match` clauses score with
Lucene BM25 (k1=1.2, b=0.75 — OpenSearch defaults, public docs); the
reference treats the scores as opaque floats (app/main.py:1520-1522), so
this module reproduces the *formula*, with ranking equivalence as the
correctness bar (SURVEY §7.3 risk 1: per-shard idf makes Lucene scores
unreproducible bit-for-bit; a single global idf is the principled choice):

    idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
    score   = idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

Build once per corpus version:

    postings  (term, id, tf)   — one row per distinct (doc, term)
    doclens   (id, dl)         — document token counts
    stats     (n_docs, avgdl)  — one row

Query time: the query's terms (a tiny literal list) semi-select the
postings — at 100 TB, write `postings` partitioned/bucketed by `term` and
the scan PRUNES to the query's terms instead of reading the corpus; only
docs containing >=1 query term ("candidates") are ever scored. Per-term
contributions fold in query-occurrence order, so a query scores the same
alone or in a batch, and the same as a left-to-right sum over its terms
(the DuckDB oracles' and the tests' Python reference's order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import terms_of, tokenize
from ..util import sql_quote

K1 = 1.2
B = 0.75


def build_term_index(df: DataFrame, text_col: str, id_col: str
                     ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(postings, doclens, stats) for a corpus. One explode + one
    hash-aggregate on (term, id); doclens/stats are map-side cheap.
    Persist with operators/index_store.save_term_index (md5-bucketed
    partitioning) for term-pruned lookups at scale."""
    return build_term_index_from_tokens(
        tokenize_corpus(df, text_col, id_col))


def tokenize_corpus(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, _toks) — the corpus tokenized once, the shared upstream of
    every index artifact."""
    return df.select(F.col(id_col).alias("id"),
                     tokenize(F.col(text_col)).alias("_toks"))


def build_term_index_from_tokens(toks: DataFrame
                                 ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(postings, doclens, stats) from an (id, _toks) frame — callers that
    already hold tokenized text (or a checkpointed tokenize pass) reuse it
    instead of paying another corpus scan. avgdl keeps F.avg semantics
    (divides by the NON-NULL dl count; null-text docs have NULL dl)."""
    postings = (toks.select("id", F.explode("_toks").alias("term"))
                    .groupBy("term", "id")
                    .agg(F.count(F.lit(1)).alias("tf")))
    doclens = toks.select("id", F.size("_toks").alias("dl"))
    stats = doclens.agg(F.count(F.lit(1)).alias("n_docs"),
                        F.avg("dl").alias("avgdl"))
    return postings, doclens, stats


# the pivoted per-position fold emits one conditional aggregate per query
# OCCURRENCE; past this many positions the projection-size risk (NOTES:
# oversized projections fail codegen compilation and run interpreted)
# outweighs the codegen win, and the map-fold fallback takes over
_MAX_PIVOT_POS = 16


def _bm25_contrib(k1: float = K1, b: float = B) -> F.Column:
    """Per-(term, doc) BM25 contribution from (tf, df, dl, n_docs, avgdl)
    columns — the single definition both fold forms score with."""
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    tf = F.col("tf").cast("double")
    dl = F.col("dl").cast("double")
    return idf * tf * (k1 + 1.0) / (
        tf + k1 * (1.0 - b + b * dl
                   / F.greatest(F.col("avgdl"), F.lit(1e-12))))


def _pivot_fold(per_occ: DataFrame, keys: list[str], n_pos: int):
    """Occurrence-ordered score fold as a CODEGEN hash aggregate: rows
    carry (_pos, _c) per query-term occurrence; one conditional max per
    position pivots them wide (each (keys, _pos) holds at most one row, so
    max is selection, not arithmetic), then one projection folds
    left-to-right in position order. Bit-identical to the HOF map fold:
    both are the chain ((0.0 + c_p0) + c_p1) + ... where an absent
    occurrence contributes literal 0.0, and x + 0.0 is exact for every
    finite x (contributions are strictly positive). Unlike the
    collect_list form this never leaves whole-stage codegen for an
    ObjectHashAggregate."""
    aggs = [F.max(F.when(F.col("_pos") == i, F.col("_c"))).alias(f"_c{i}")
            for i in range(n_pos)]
    g = per_occ.groupBy(*keys).agg(*aggs)
    raw = F.lit(0.0)
    for i in range(n_pos):
        raw = raw + F.coalesce(F.col(f"_c{i}"), F.lit(0.0))
    return g.select(*keys, raw.alias("_raw"))


def bm25_batch_topk_from_index(postings: DataFrame, doclens: DataFrame,
                               stats: DataFrame, queries: dict[str, str],
                               k: int = 10, k1: float = K1, b: float = B,
                               round_to: int = 6) -> DataFrame:
    """Per-query BM25 top-k for a BATCH of queries served from the index
    tables: (query_id, id, score, rank). Candidates come from ONE
    term-pruned postings read for the union of all query terms;
    per-(query, doc) scores fold each query's per-OCCURRENCE
    contributions in query order, so scores are bit-identical to scoring
    each query alone. Queries with no tokenizable term are dropped; when
    none is left the result is an empty frame. Short-query batches
    (every query <= _MAX_PIVOT_POS terms, i.e. serving traffic) fold
    through the pivoted codegen aggregate; any longer query switches the
    whole batch to the HOF map fold — the two are bit-identical (see
    _pivot_fold).

    One shuffle. A literal map from each query term to the
    (query_id, _pos) slots it fills — its occurrences on the pivot path,
    its distinct-term slot in each query on the map-fold path — is
    exploded on the pruned postings, which then repartition by query_id.
    Every row of a (query_id, _pos) group is one posting of that slot's
    term, so a window count there IS the term's df; doclens (two numbers
    per document) joins broadcast, so the window, the (query_id, id) fold
    and the per-query rank all run on that one partitioning, and the
    postings are read once. NOTHING in the plan is sized by |Q| or the
    vocabulary except the literal maps (unlike a per-doc tf-column
    layout, whose schema grows with the union term count); a map lookup
    scans its keys, which is cheap at serving batch sizes."""
    from pyspark.sql.window import Window

    per_q = {qid: terms_of(q) for qid, q in queries.items()}
    per_q = {qid: ts for qid, ts in sorted(per_q.items()) if ts}
    if not per_q:
        return postings.select(F.lit("").alias("query_id"), "id",
                               F.lit(0.0).alias("score"),
                               F.lit(0).alias("rank")).limit(0)
    pivot = max(len(ts) for ts in per_q.values()) <= _MAX_PIVOT_POS
    slots_of = {qid: ts if pivot else sorted(set(ts))
                for qid, ts in per_q.items()}
    slots: dict[str, list[str]] = {}
    for qid, ts in slots_of.items():
        for i, t in enumerate(ts):
            slots.setdefault(t, []).append(
                f"named_struct('query_id', {sql_quote(qid)}, '_pos', {i})")
    slot_map = F.expr("map(" + ", ".join(
        f"{sql_quote(t)}, array({', '.join(v)})"
        for t, v in slots.items()) + ")")
    contrib = (postings.filter(F.col("term").isin(sorted(slots)))
               .select("*", F.inline(slot_map[F.col("term")]))
               .repartition("query_id")
               .withColumn("df", F.count(F.lit(1)).over(
                   Window.partitionBy("query_id", "_pos")))
               .join(F.broadcast(doclens), "id")
               .crossJoin(F.broadcast(stats))
               .select("query_id", "id", "_pos",
                       _bm25_contrib(k1, b).alias("_c")))

    if pivot:
        n_pos = max(len(ts) for ts in per_q.values())
        scored = _pivot_fold(contrib, ["query_id", "id"], n_pos)
    else:
        # one parsed literal: query_id -> the slot of each of its term
        # OCCURRENCES in order (repeats preserved — the fold adds once per
        # occurrence, the same left-to-right chain as the pivot fold)
        occ_sql = "map(" + ", ".join(
            f"{sql_quote(qid)}, "
            f"array({', '.join(str(slots_of[qid].index(t)) for t in ts)})"
            for qid, ts in per_q.items()) + ")"
        occ = F.expr(occ_sql)[F.col("query_id")]
        cmap = F.map_from_entries(F.collect_list(F.struct("_pos", "_c")))
        raw = F.aggregate(occ, F.lit(0.0),
                          lambda acc, i: acc + F.coalesce(cmap[i],
                                                          F.lit(0.0)))
        scored = contrib.groupBy("query_id", "id").agg(raw.alias("_raw"))
    scored = (scored.filter(F.col("_raw") > 0)
              .select("query_id", "id",
                      F.round(F.col("_raw"), round_to).alias("score")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select("query_id", "id", "score", "rank"))


def bm25_topk_from_index(postings: DataFrame, doclens: DataFrame,
                         stats: DataFrame, query: str, k: int = 10,
                         k1: float = K1, b: float = B,
                         round_to: int = 6) -> DataFrame:
    """Top-k (id, score) by BM25 served ENTIRELY from the index tables —
    the corpus text is never touched. A one-query batch
    (bm25_batch_topk_from_index), ordered by rank; a query with no
    tokenizable term (empty, punctuation only, non-ASCII script) gets an
    empty frame."""
    return (bm25_batch_topk_from_index(postings, doclens, stats,
                                       {"q": query}, k=k, k1=k1, b=b,
                                       round_to=round_to)
            .orderBy("rank").select("id", "score"))
