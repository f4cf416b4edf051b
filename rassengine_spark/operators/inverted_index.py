"""Inverted-index (postings table) lexical search: the materialized-view
analog of the reference's Lucene inverted index (SURVEY §4 O5 — OpenSearch
gets sublinear lexical search from its index; Spark's equivalent is a
precomputed postings TABLE, not a custom Catalyst structure).

Build once per corpus version:

    postings  (term, id, tf)   — one row per distinct (doc, term)
    doclens   (id, dl)         — document token counts
    stats     (n_docs, avgdl)  — one row

Query time: the query's terms (a tiny literal list) semi-select the
postings — at 100 TB, write `postings` partitioned/bucketed by `term` and
the scan PRUNES to the query's terms instead of reading the corpus; only
docs containing >=1 query term ("candidates") are ever scored. BM25 scores
are computed from (tf, df, dl) alone, bit-compatible with the scan-based
`functions.bm25.bm25_topk`: per-term contributions fold in a DETERMINISTIC
term order (array_sort before aggregate), not shuffle arrival order, so
index-served and scan-served scores round identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.bm25 import B, K1
from ..functions.text import terms_of, tokenize
from ..util import sql_quote


def build_term_index(df: DataFrame, text_col: str, id_col: str,
                     single_pass: bool = False
                     ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(postings, doclens, stats) for a corpus. One explode + one
    hash-aggregate on (term, id); doclens/stats are map-side cheap.
    Persist with operators/index_store.save_term_index (md5-bucketed
    partitioning) for term-pruned lookups at scale.

    `single_pass=True` localCheckpoints the tokenized (id, toks) frame so
    the three outputs share ONE tokenize scan of the corpus instead of
    re-tokenizing per consumer — the right shape when the index is built
    and queried in the same job (bm25_batch_topk_join); leave False when
    the outputs are written once each (save_term_index), where lineage
    re-use never happens and the checkpoint copy is pure overhead."""
    toks = tokenize_corpus(df, text_col, id_col)
    if single_pass:
        toks = toks.localCheckpoint(eager=False)
    return build_term_index_from_tokens(toks)


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
    columns — the single definition both index-served forms score with,
    bit-compatible with the scan form's expression."""
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


def bm25_topk_from_index(postings: DataFrame, doclens: DataFrame,
                         stats: DataFrame, query: str, k: int = 10,
                         k1: float = K1, b: float = B,
                         round_to: int = 6,
                         reuse_pruned: bool = False) -> DataFrame:
    """Top-k (id, score) by BM25 served ENTIRELY from the index tables —
    the corpus text is never touched. Identical scores to
    `bm25_topk(corpus, ...)` for the same corpus/query (parity-tested):
    same idf/tf/dl math, and the per-term sum folds in query-term order
    exactly like the scan form's left-to-right expression. Short queries
    (<= _MAX_PIVOT_POS terms, i.e. all serving traffic) score through the
    pivoted codegen fold; longer ones through the HOF map fold — the two
    are bit-identical (see _pivot_fold)."""
    terms = terms_of(query)
    if not terms:
        raise ValueError("no tokenizable terms in query")
    order = {}            # first-occurrence order == expression fold order
    for t in terms:
        order.setdefault(t, len(order))

    # pruned postings feed BOTH the df-count agg and the scoring join.
    # reuse_pruned lazily checkpoints them so both consumers share one
    # compute — worth it when `postings` is a LIVE tokenize+explode+agg
    # lineage; leave False for store-served frames, where the re-read is
    # a partition-pruned parquet scan and the transparent plan keeps
    # pruning auditable (tests assert PartitionFilters on the final DF)
    p = postings.filter(F.col("term").isin(*list(order)))
    if reuse_pruned:
        p = p.localCheckpoint(eager=False)
    dfreq = p.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    contrib = (p.join(F.broadcast(dfreq), "term")
                .join(doclens, "id")
                .crossJoin(F.broadcast(stats)))
    c = _bm25_contrib(k1, b)

    if len(terms) <= _MAX_PIVOT_POS:
        # term -> its occurrence positions, one parsed literal map; a doc
        # row explodes to one row per occurrence of its term in the query
        pos_of: dict[str, list[int]] = {}
        for i, t in enumerate(terms):
            pos_of.setdefault(t, []).append(i)
        occ_map = F.expr("map(" + ", ".join(
            f"{sql_quote(t)}, array({', '.join(map(str, ps))})"
            for t, ps in pos_of.items()) + ")")
        per_occ = contrib.select(
            "id", F.explode(occ_map[F.col("term")]).alias("_pos"),
            c.alias("_c"))
        scored = _pivot_fold(per_occ, ["id"], len(terms))
    else:
        ti = F.create_map(*[x for t, i in order.items()
                            for x in (F.lit(t), F.lit(i))])
        per_term = contrib.select(
            "id", F.struct(ti[F.col("term")].alias("i"),
                           c.alias("c")).alias("tc"))
        # deterministic fold, bit-identical to the scan expression even
        # for repeated query terms: collect each doc's per-distinct-term
        # contribution into a map, then accumulate one addition PER
        # QUERY-TERM OCCURRENCE in occurrence order — exactly the scan
        # form's left-to-right `score + c_t` chain ('a b a' folds
        # ((0+c_a)+c_b)+c_a on both paths). Terms the doc lacks add a
        # literal 0.0, matching the scan form's computed tf=0
        # contribution (also exactly 0.0).
        cmap = F.map_from_entries(F.collect_list("tc"))
        occ = F.array(*[F.lit(order[t]) for t in terms])
        raw = F.aggregate(occ, F.lit(0.0),
                          lambda acc, i: acc + F.coalesce(cmap[i],
                                                          F.lit(0.0)))
        scored = per_term.groupBy("id").agg(raw.alias("_raw"))
    # filter on the UNROUNDED score like bm25_topk/bm25_sql do: a doc with
    # raw score in (0, 5e-7) must be emitted (as 0.0) on both paths
    return (scored
            .filter(F.col("_raw") > 0)
            .select("id", F.round(F.col("_raw"), round_to).alias("score"))
            .orderBy(F.col("score").desc(), F.col("id").asc())
            .limit(k))




def bm25_batch_topk_from_index(postings: DataFrame, doclens: DataFrame,
                               stats: DataFrame, queries: dict[str, str],
                               k: int = 10, k1: float = K1, b: float = B,
                               round_to: int = 6,
                               reuse_pruned: bool = False) -> DataFrame:
    """Per-query BM25 top-k for a BATCH of queries served from the index
    tables: (query_id, id, score, rank). The batch analog of
    bm25_topk_from_index — candidates come from ONE term-pruned postings
    read for the union of all query terms; per-(query, doc) scores fold
    each query's per-OCCURRENCE contributions in query order, so scores
    are bit-identical to scoring each query alone. Short-query batches
    (every query <= _MAX_PIVOT_POS terms, i.e. serving traffic) fold
    through the pivoted codegen aggregate; any longer query switches the
    whole batch to the HOF map fold — the two are bit-identical (see
    _pivot_fold). NOTHING in the plan is sized by |Q| or the vocabulary
    except two broadcasts and one literal map (unlike a per-doc tf-column
    layout, whose schema grows with the union term count)."""
    per_q = {qid: terms_of(q) for qid, q in queries.items()}
    per_q = {qid: ts for qid, ts in per_q.items() if ts}
    if not per_q:
        raise ValueError("no tokenizable terms in any query")
    uniq = sorted({t for ts in per_q.values() for t in ts})
    ti_of = {t: i for i, t in enumerate(uniq)}
    n_pos = max(len(ts) for ts in per_q.values())

    # same two-consumer shape as the single-query form: reuse_pruned
    # checkpoints the term-pruned postings so dfreq + contrib share one
    # compute (live lineages); store-served frames keep the transparent
    # partition-pruned scan
    p = postings.filter(F.col("term").isin(uniq))
    if reuse_pruned:
        p = p.localCheckpoint(eager=False)
    dfreq = p.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    spark = postings.sparkSession
    c = _bm25_contrib(k1, b)

    if n_pos <= _MAX_PIVOT_POS:
        # occurrence-level query-term table: joining it replicates a
        # (term, doc) posting once per occurrence of that term in each
        # query, position attached — rows feed the pivot fold directly
        qterm = spark.createDataFrame(
            [(qid, t, i) for qid, ts in sorted(per_q.items())
             for i, t in enumerate(ts)],
            "query_id string, term string, _pos int")
        per_occ = (p.join(F.broadcast(qterm), "term")
                    .join(F.broadcast(dfreq), "term")
                    .join(doclens, "id")
                    .crossJoin(F.broadcast(stats))
                    .select("query_id", "id", "_pos", c.alias("_c")))
        scored = _pivot_fold(per_occ, ["query_id", "id"], n_pos)
    else:
        qterm = spark.createDataFrame(
            [(qid, t) for qid, ts in sorted(per_q.items())
             for t in sorted(set(ts))], "query_id string, term string")
        contrib = (p.join(F.broadcast(qterm), "term")
                    .join(F.broadcast(dfreq), "term")
                    .join(doclens, "id")
                    .crossJoin(F.broadcast(stats)))
        ti = F.create_map(*[x for t, i in ti_of.items()
                            for x in (F.lit(t), F.lit(i))])
        per_term = contrib.select(
            "query_id", "id",
            F.struct(ti[F.col("term")].alias("i"),
                     c.alias("c")).alias("tc"))

        # one parsed literal: query_id -> its occurrence list of term
        # indices (repeats preserved — the fold adds once per occurrence,
        # exactly the scan form's left-to-right chain)
        occ_sql = "map(" + ", ".join(
            f"{sql_quote(qid)}, "
            f"array({', '.join(str(ti_of[t]) for t in ts)})"
            for qid, ts in sorted(per_q.items())) + ")"
        occ = F.expr(occ_sql)[F.col("query_id")]

        cmap = F.map_from_entries(F.collect_list("tc"))
        raw = F.aggregate(occ, F.lit(0.0),
                          lambda acc, i: acc + F.coalesce(cmap[i],
                                                          F.lit(0.0)))
        scored = per_term.groupBy("query_id", "id").agg(raw.alias("_raw"))
    scored = (scored.filter(F.col("_raw") > 0)
              .select("query_id", "id",
                      F.round(F.col("_raw"), round_to).alias("score")))
    from pyspark.sql.window import Window
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select("query_id", "id", "score", "rank"))
