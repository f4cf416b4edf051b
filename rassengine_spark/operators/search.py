"""The 12 intent-routed search operators (SURVEY.md §2.3, Q1-Q14).

The reference dispatches each classified intent to one OpenSearch query-DSL
builder (`search_methods`, app/main.py:2858-2871). Here each becomes a
DataFrame pipeline over a corpus described by a `CorpusSpec` (field groups —
the reference hardcodes its FHIR groups at app/main.py:1403-1468; ours are
data, so the same operators run on any corpus).

Scale notes (every operator):
- score is a pure projection -> stays in one WholeStageCodegen span with the
  parquet scan; filters and non-scoring predicates (`filter_expr`,
  `patient_id`) are plain predicates Catalyst pushes into the scan.
- top-k uses orderBy(...).limit(k) -> TakeOrderedAndProject: each partition
  keeps a k-heap, the driver merges P heaps; no global sort shuffle. This is
  the distributed analog of the reference's `terminate_after: k`.
- ties are broken on the corpus id column so results are deterministic.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import scoring as S
from ..functions import text as T
from ..functions import vector as V


@dataclass(frozen=True)
class CorpusSpec:
    """Field groups for a searchable corpus (cf. app/main.py:1403-1468)."""
    id_col: str
    text_fields: list[str] = dc_field(default_factory=list)
    keyword_fields: list[str] = dc_field(default_factory=list)
    date_fields: list[str] = dc_field(default_factory=list)
    note_fields: dict = dc_field(default_factory=dict)      # field -> boost
    structured_fields: list[str] = dc_field(default_factory=list)
    identity_fields: dict = dc_field(default_factory=dict)  # field -> boost
    compare_fields: dict = dc_field(default_factory=dict)   # field -> boost
    embedding_col: str | None = None
    partition_col: str | None = None                        # patientId analog


def _topk(df: DataFrame, spec: CorpusSpec, k: int,
          round_to: int | None = None) -> DataFrame:
    """score>0, order by (score desc, id asc), limit k — deterministic.

    `round_to` rounds the score BEFORE ordering: scores containing float
    dot-products are only reproducible across engines up to rounding, so
    ranking must happen on the rounded value (indicator/count scores are
    exact dyadic rationals and need no rounding)."""
    if round_to is not None:
        df = df.withColumn("score", F.round(F.col("score"), round_to))
    return (df.filter(F.col("score") > 0)
              .orderBy(F.col("score").desc(), F.col(spec.id_col).asc())
              .limit(k))


def _apply_filters(df: DataFrame, filter_expr: Column | None,
                   spec: CorpusSpec, partition_key=None) -> DataFrame:
    """Non-scoring `filter` context (predicate pushdown; reference P1/P2)."""
    if partition_key is not None and spec.partition_col:
        df = df.filter(F.col(spec.partition_col) == F.lit(partition_key))
    if filter_expr is not None:
        df = df.filter(filter_expr)
    return df


# ---------------------------------------------------------------- Q1
def exact_match_search(df: DataFrame, spec: CorpusSpec, query: str, k: int = 3,
                       filter_expr: Column | None = None, partition_key=None,
                       text_boost: float = 2.0, kw_boost: float = 1.0) -> DataFrame:
    """Q1 KEYWORD: phrase multi_match over text fields (boost 2.0) + phrase
    over keyword fields; should-sum; >=1 must match.
    (reference `exact_match_search`, app/main.py:1480-1525)"""
    score = S.should_sum(
        S.phrase_best_fields(spec.text_fields, query, text_boost),
        S.exact_best_fields(spec.keyword_fields, query, kw_boost))
    df = _apply_filters(df, filter_expr, spec, partition_key)
    return _topk(df.withColumn("score", score), spec, k)


# ---------------------------------------------------------------- Q2
def semantic_search(df: DataFrame, spec: CorpusSpec, query_vec: list[float],
                    k: int = 3, filter_expr: Column | None = None,
                    partition_key=None, round_to: int | None = None) -> DataFrame:
    """Q2 SEMANTIC: exact kNN — dot product against the (normalized) query
    vector, top-k. (reference `semantic_search`, app/main.py:1527-1560.)
    Exact scan is O(n·d) but embarrassingly parallel; the approximate path
    for huge corpora is llmops/similarity.py (LSH-bucketed)."""
    score = V.dot_literal(F.col(spec.embedding_col), query_vec)
    df = _apply_filters(df, filter_expr, spec, partition_key)
    return _topk(df.withColumn("score", score), spec, k, round_to)


# ---------------------------------------------------------------- Q3
def hybrid_search(df: DataFrame, spec: CorpusSpec, query: str,
                  query_vec: list[float], k: int = 3,
                  filter_expr: Column | None = None, partition_key=None,
                  text_boost: float = 1.5, kw_boost: float = 1.0,
                  knn_boost: float = 2.0,
                  round_to: int | None = None) -> DataFrame:
    """Q3 HYBRID: fuzzy best_fields text (1.5) + keyword best_fields (1.0)
    + kNN (2.0); score = sum of matched clauses.
    (reference `hybrid_search`, app/main.py:1562-1615 — the default route.)"""
    lex_text = S.fuzzy_best_fields(spec.text_fields, query, text_boost)
    lex_kw = S.exact_term_best_fields(spec.keyword_fields, query, kw_boost)
    knn = (V.dot_literal(F.col(spec.embedding_col), query_vec)
           * F.lit(knn_boost)) if spec.embedding_col else F.lit(0.0)
    df = _apply_filters(df, filter_expr, spec, partition_key)
    return _topk(df.withColumn(
        "score", S.should_sum(lex_text, lex_kw, knn)), spec, k, round_to)


# ---------------------------------------------------------------- Q4
def structured_search(df: DataFrame, spec: CorpusSpec, query: str, k: int = 3,
                      filter_expr: Column | None = None,
                      partition_key=None) -> DataFrame:
    """Q4 STRUCTURED: phrase_prefix multi_match (operator=and) over the
    structured field list, restricted to structured docs.

    The reference's implementation raises NameError on an undefined
    `structured_fields` (app/main.py:1648-1653, commented-out def at
    1626-1647); we implement the evident intended semantics using the field
    list it does define at app/main.py:1722-1742 (SURVEY.md §7.3 risk 2)."""
    score = S.prefix_and_best_fields(spec.structured_fields, query, 1.0)
    df = _apply_filters(df, filter_expr, spec, partition_key)
    return _topk(df.withColumn("score", score), spec, k)


# ---------------------------------------------------------------- Q5
def hybrid_structured_search(df: DataFrame, spec: CorpusSpec, query: str,
                             query_vec: list[float] | None, k: int = 3,
                             filter_expr: Column | None = None,
                             partition_key=None, lex_boost: float = 1.5,
                             knn_boost: float = 2.0,
                             round_to: int | None = None) -> DataFrame:
    """Q5 HYBRID_STRUCTURED: phrase_prefix (op=and, boost 1.5) + kNN (2.0).
    (reference app/main.py:1710-1775). For rows without an embedding the kNN
    clause contributes 0 — matching the reference's effective behavior where
    structured docs carry no vector."""
    lex = S.prefix_and_best_fields(spec.structured_fields, query, lex_boost)
    if spec.embedding_col and query_vec is not None:
        knn = F.when(
            F.col(spec.embedding_col).isNotNull(),
            V.dot_literal(F.col(spec.embedding_col), query_vec) * knn_boost
        ).otherwise(F.lit(0.0))
    else:
        knn = F.lit(0.0)
    df = _apply_filters(df, filter_expr, spec, partition_key)
    return _topk(df.withColumn("score", S.should_sum(lex, knn)), spec, k,
                 round_to)


# ---------------------------------------------------------------- Q6
def aggregate_search(df: DataFrame, spec: CorpusSpec, group_fields: list[str],
                     size: int = 5, filter_expr: Column | None = None,
                     partition_key=None) -> DataFrame:
    """Q6 AGGREGATE: `terms` aggregations — top-`size` value counts per group
    field, tie-broken count desc then key asc (OpenSearch terms-agg order).
    Returns a union frame (dim, key, cnt) — one block per aggregation.
    (reference `aggregate_search`, app/main.py:1777-1808.)

    Scale: groupBy().count() gets map-side partial aggregation for free; the
    per-dim limit is a TakeOrderedAndProject over the agg output."""
    df = _apply_filters(df, filter_expr, spec, partition_key)
    blocks = []
    for gf in group_fields:
        blocks.append(
            df.filter(F.col(gf).isNotNull())
              .groupBy(F.col(gf).cast("string").alias("key"))
              .agg(F.count(F.lit(1)).alias("cnt"))
              .orderBy(F.col("cnt").desc(), F.col("key").asc())
              .limit(size)
              .select(F.lit(gf).alias("dim"), "key", "cnt"))
    out = blocks[0]
    for b in blocks[1:]:
        out = out.unionAll(b)
    return out


# ---------------------------------------------------------------- Q7
def comparison_search(df: DataFrame, spec: CorpusSpec, query: str, k: int = 3,
                      filter_expr: Column | None = None,
                      partition_key=None) -> DataFrame:
    """Q7 COMPARISON: fuzzy best_fields over the compare fields (with their
    boosts); the reference also computes a side terms-agg it then discards
    (app/main.py:1850-1861) — we return only hits, same as its output."""
    fields = list(spec.compare_fields.keys())
    score = S.fuzzy_best_fields(fields, query, 1.0, spec.compare_fields)
    df = _apply_filters(df, filter_expr, spec, partition_key)
    return _topk(df.withColumn("score", score), spec, k)


# ---------------------------------------------------------------- Q8
def temporal_search(df: DataFrame, spec: CorpusSpec, query: str, k: int = 3,
                    now: str | None = None, window_months: int = 12,
                    sort_field: str | None = None,
                    filter_expr: Column | None = None,
                    partition_key=None) -> DataFrame:
    """Q8 TEMPORAL: lexical must-match AND (>=1 date field within
    [now - window, now]); sort by the primary date field desc.
    (reference `temporal_search`, app/main.py:1866-1918; range 1875-1883,
    sort 1906.) `now` is parameterized so tests pin it (SURVEY §7.3 risk 5)."""
    now_col = F.to_timestamp(F.lit(now)) if now else F.current_timestamp()
    lo = now_col - F.make_interval(months=F.lit(window_months))
    in_range = F.lit(False)
    for dfld in spec.date_fields:
        in_range = in_range | F.col(dfld).between(lo, now_col)
    lex = S.should_sum(
        S.fuzzy_best_fields(spec.text_fields, query, 1.0),
        S.exact_term_best_fields(spec.keyword_fields, query, 1.0))
    sort_field = sort_field or spec.date_fields[0]
    df = _apply_filters(df, filter_expr, spec, partition_key)
    return (df.withColumn("score", lex)
              .filter((F.col("score") > 0) & in_range)
              .orderBy(F.col(sort_field).desc_nulls_last(),
                       F.col(spec.id_col).asc())
              .limit(k))


# ---------------------------------------------------------------- Q9
def explanatory_search(df: DataFrame, spec: CorpusSpec, query: str,
                       k: int = 3, filter_expr: Column | None = None,
                       partition_key=None) -> DataFrame:
    """Q9 EXPLANATORY: fuzzy best_fields over note fields with boosts 3/2
    (reference `explanatory_search`, app/main.py:1920-1967)."""
    fields = list(spec.note_fields.keys())
    score = S.fuzzy_best_fields(fields, query, 1.0, spec.note_fields)
    df = _apply_filters(df, filter_expr, spec, partition_key)
    return _topk(df.withColumn("score", score), spec, k)


# ---------------------------------------------------------------- Q10
def multi_intent_search(df: DataFrame, spec: CorpusSpec, query: str,
                        query_vec: list[float] | None, k: int = 3,
                        now: str | None = None, window_months: int = 12,
                        filter_expr: Column | None = None, partition_key=None,
                        text_boost: float = 1.0, kw_boost: float = 0.5,
                        knn_boost: float = 1.5, recency_boost: float = 0.5,
                        round_to: int | None = None) -> DataFrame:
    """Q10 MULTI_INTENT: should-sum of fuzzy text (1.0) + keyword (0.5) +
    kNN (1.5) + recency indicator (0.5).

    The reference builds the date-range clauses with a dict comprehension
    that collapses to ONE range on the last date field
    (app/main.py:2004-2007); we implement the evident intent — any date
    field recent — and document the delta (SURVEY.md §7.3 risk 2)."""
    now_col = F.to_timestamp(F.lit(now)) if now else F.current_timestamp()
    lo = now_col - F.make_interval(months=F.lit(window_months))
    recent = F.lit(False)
    for dfld in spec.date_fields:
        recent = recent | F.col(dfld).between(lo, now_col)
    knn = (V.dot_literal(F.col(spec.embedding_col), query_vec) * knn_boost
           ) if (spec.embedding_col and query_vec is not None) else F.lit(0.0)
    score = S.should_sum(
        S.fuzzy_best_fields(spec.text_fields, query, text_boost),
        S.exact_term_best_fields(spec.keyword_fields, query, kw_boost),
        knn,
        recent.cast("double") * F.lit(recency_boost))
    df = _apply_filters(df, filter_expr, spec, partition_key)
    return _topk(df.withColumn("score", score), spec, k, round_to)


# ---------------------------------------------------------------- Q11
def entity_specific_search(df: DataFrame, spec: CorpusSpec, query: str,
                           k: int = 3, filter_expr: Column | None = None,
                           partition_key=None) -> DataFrame:
    """Q11 ENTITY_SPECIFIC: phrase multi_match (op=and) over identity fields
    with boosts 4/3 (reference app/main.py:2029-2074): boost-weighted max of
    phrase hits."""
    per = [T.phrase_match(f, query).cast("double") * F.lit(float(b))
           for f, b in spec.identity_fields.items()]
    score = F.greatest(*per, F.lit(0.0)) if per else F.lit(0.0)
    df = _apply_filters(df, filter_expr, spec, partition_key)
    return _topk(df.withColumn("score", score), spec, k)


# ---------------------------------------------------------------- Q12 / W1
def collapse_best_per_key(df: DataFrame, key_col: str, order_col: str,
                          id_col: str, descending: bool = True) -> DataFrame:
    """W1: OpenSearch `collapse` — best row per key via row_number()=1
    (reference app/main.py:2137,2712). Spark 3.5+ optimizes the
    rank<=1 pattern with WindowGroupLimit (partial per-partition top-1
    before the shuffle), so this scales as a near-map-side op."""
    oc = F.col(order_col).desc() if descending else F.col(order_col).asc()
    w = Window.partitionBy(key_col).orderBy(oc, F.col(id_col).asc())
    return (df.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") == 1).drop("_rn"))


def document_fetch_search(df: DataFrame, spec: CorpusSpec, partition_keys,
                          score_col: str, k: int = 3,
                          max_per_key: int = 5) -> DataFrame:
    """Q12 DOCUMENT_FETCH: filter to the resolved keys, collapse to the best
    doc per key (reference app/main.py:2120-2150), cap at `max_per_key`
    files per key downstream (app/main.py:108)."""
    df = df.filter(F.col(spec.partition_col).isin(list(partition_keys)))
    best = collapse_best_per_key(df, spec.partition_col, score_col,
                                 spec.id_col)
    # deterministic size-k cut (the reference's `size: k` keeps the k
    # highest-scoring collapsed hits): a bare limit() would keep an
    # arbitrary, partitioning-dependent subset of the keys
    return (best.orderBy(F.col(score_col).desc(), F.col(spec.id_col).asc())
                .limit(k))


# ---------------------------------------------------------------- Q13
def resolve_ids_from_name(df: DataFrame, name_col: str, id_col: str,
                          query_name: str, k: int = 3) -> DataFrame:
    """Q13 name -> id resolution: 3-tier scored match (exact term=3,
    phrase=2, fuzzy AND=1), collapse per id, top-k ids.
    (reference `resolve_patient_ids_from_name`, app/main.py:2637-2744.)"""
    terms = T.terms_of(query_name)
    tokens = T.tokenize(name_col)
    exact = (F.lower(F.col(name_col)) == " ".join(terms)).cast("double") * 3.0
    phrase = T.phrase_match(name_col, query_name).cast("double") * 2.0
    fuzzy_and = F.lit(True)
    for t in terms:
        fuzzy_and = fuzzy_and & T.fuzzy_term_match(tokens, t)
    fuzzy = fuzzy_and.cast("double") * 1.0
    scored = df.withColumn(
        "score", F.greatest(exact, phrase, fuzzy)).filter(F.col("score") > 0)
    best = collapse_best_per_key(scored, id_col, "score", id_col)
    return (best.orderBy(F.col("score").desc(), F.col(id_col).asc())
                .limit(k).select(id_col, "score"))


def _char_trigrams(s) -> "F.Column":
    """Distinct lowercase character trigrams of a string column/expr;
    strings shorter than 3 chars collapse to one whole-string gram (so
    every non-NULL name has >= 1 gram). substring/length are
    code-point-based in both Spark and DuckDB, keeping the oracle
    exact."""
    n = F.lower(F.coalesce(s, F.lit("")))
    grams = F.when(
        F.length(n) < 3, F.array(n)
    ).otherwise(
        F.transform(F.sequence(F.lit(1), F.length(n) - 2),
                    lambda i: F.substring(n, i, 3)))
    return F.array_distinct(grams)


def resolve_ids_trigram(df: DataFrame, name_col: str, id_col: str,
                        query_name: str, k: int = 3,
                        round_to: int = 6) -> DataFrame:
    """Edit-tolerant name -> id resolution: the trigram-Jaccard tier
    BELOW Q13's 3-tier resolver — a typo inside a token ("o" for "0")
    defeats exact/phrase/prefix-fuzzy matching entirely, while trigram
    overlap degrades gracefully (the pg_trgm / OpenSearch ngram-analyzer
    technique, both public). score = Jaccard of distinct lowercase char
    trigrams, rounded; top-k by (score desc, id asc).

    Scale: the query's trigram set is a plan literal, scoring is one
    codegen projection over the scan (array_intersect against a <=
    |name| element literal), and the only 'shuffle' is the
    TakeOrderedAndProject k-heap — the brute_force_topk contract. At
    very large k x corpus, block with an ngram inverted index (the
    bm25_store pattern) — this operator is the exact-scoring tier."""
    qn = query_name.lower()
    qg = sorted({qn} if len(qn) < 3 else
                {qn[i:i + 3] for i in range(len(qn) - 2)})
    from ..util import string_array_lit
    qlit = string_array_lit(qg)
    tg = _char_trigrams(F.col(name_col))
    inter = F.size(F.array_intersect(tg, qlit))
    union = F.size(tg) + F.lit(len(qg)) - inter
    score = F.round(inter.cast("double") / union.cast("double"), round_to)
    return (df.select(F.col(id_col), score.alias("score"))
              .filter(F.col("score") > 0)
              .orderBy(F.col("score").desc(), F.col(id_col).asc())
              .limit(k))


# ---------------------------------------------------------------- Q14
def has_any_data(df: DataFrame) -> bool:
    """Q14 existence probe (reference `has_any_data`, app/main.py:1470-1478).
    limit(1) stops the scan at the first non-empty partition."""
    return df.limit(1).count() > 0


# ---------------------------------------------------------------- RRF
def rrf_fuse(a: DataFrame, b: DataFrame, rrf_k: int = 60, top: int = 10,
             round_to: int = 6) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009) of two
    ranked lists — each (id, rank): score = Σ 1/(rrf_k + rank) over the
    lists the id appears in. Rank-based fusion is immune to the
    score-scale mismatch between lexical and vector systems (the
    reference's HYBRID should-sum, app/main.py:1562-1615, needs tuned
    per-clause weights; RRF needs none) — the standard zero-tuning
    alternative for the same route.

    Engine-exact: 1/(rrf_k+rank) is the correctly-rounded double of two
    exact integers — identical in any engine — and the two-term sum is
    one FP add. Scale: inputs are top-k lists (bounded by contract), so
    the fuse is a full-outer join of k-row frames; the expensive part is
    producing the input rankings, which keep their own plans."""
    ra = a.select("id", F.col("rank").alias("_ra"))
    rb = b.select("id", F.col("rank").alias("_rb"))
    j = ra.join(rb, "id", "full")

    def term(c: str) -> Column:
        return F.coalesce(F.lit(1.0) / (F.lit(rrf_k) + F.col(c)),
                          F.lit(0.0))

    score = F.round(term("_ra") + term("_rb"), round_to)
    return (j.select("id", score.alias("score"))
             .orderBy(F.col("score").desc(), F.col("id").asc())
             .limit(top))
