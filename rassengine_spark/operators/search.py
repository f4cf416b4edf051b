"""The 12 intent-routed search operators (SURVEY.md §2.3, Q1-Q14).

The reference dispatches each classified intent to one OpenSearch query-DSL
builder (`search_methods`, app/main.py:2858-2871). Here each becomes a
DataFrame pipeline over a corpus described by a `CorpusSpec` (field groups —
the reference hardcodes its FHIR groups at app/main.py:1403-1468; ours are
data, so the same operators run on any corpus).

Scale notes (every operator):
- score is one SQL-text expression (functions/scoring.py), parsed by a
  single `F.expr`, whose shape does not depend on the query's terms.
- filters and non-scoring predicates (`filter_expr`, `partition_key`) are
  plain predicates Catalyst pushes into the scan.
- top-k (`_topk`) is orderBy(...).limit(k) over a generator that scores
  each row once and emits it only when score > 0, so the plan's top is
  Limit(Sort): a collect runs it as TakeOrderedAndProject, a k-heap per
  partition merged on the driver, in one job of one stage. This is the
  distributed analog of the reference's `terminate_after: k`.
- ties are broken on the corpus id column so results are deterministic.
- a `NameMatch` partition key resolves a patient name inside the route's
  own plan, with one shuffle (`_per_patient_topk`); it suits routes whose
  score is positive on few rows, since every such row is shuffled.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import scoring as S
from ..functions import text as T
from ..functions import vector as V
from ..util import double_array_sql, qident, sql_quote


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


@dataclass(frozen=True)
class NameMatch:
    """A route's `partition_key` when the query names a person (Q13,
    app/main.py:2774-2778): the route runs per patient whose `name_col`
    matches `name`, and its rows carry the top `ids` patient ids."""
    name: str
    name_col: str
    ids: int = 3


def name_score_sql(name_col: str, query_name: str) -> str:
    """Q13's 3-tier name score: exact term 3, phrase 2, fuzzy AND 1."""
    terms = T.terms_of(query_name)
    name = sql_quote(" ".join(terms))
    return (
        f"greatest(CAST(lower({qident(name_col)}) = {name} AS DOUBLE) * 3.0D, "
        f"CAST({T.phrase_match_sql(name_col, query_name)} AS DOUBLE) * 2.0D, "
        f"CAST({T.all_terms_fuzzy_sql(T.tokens_sql(name_col), terms)} "
        f"AS DOUBLE) * 1.0D)")


def _name_max(name: NameMatch) -> Column:
    """A key's name score: the best of its rows (OpenSearch collapse)."""
    return F.max(F.expr(name_score_sql(name.name_col, name.name)))


def matched_ids(rows: list, key_col: str, n: int) -> list:
    """The first `n` distinct keys of a NameMatch frame's collected rows,
    which come grouped by key in name-score order."""
    return list(dict.fromkeys(r[key_col] for r in rows))[:n]


def _topk(df: DataFrame, spec: CorpusSpec, score_sql: str, k: int,
          filter_expr: Column | None = None, partition_key=None,
          round_to: int | None = None, where: str | None = None,
          order: list[Column] | None = None) -> DataFrame:
    """Rows passing `filter_expr` and `where` with score > 0, ordered by
    `order` (default score desc) then id asc, limit k — deterministic.

    `round_to` rounds the score BEFORE ordering: scores containing float
    dot-products are only reproducible across engines up to rounding, so
    ranking must happen on the rounded value (indicator/count scores are
    exact dyadic rationals and need no rounding)."""
    if round_to is not None:
        score_sql = f"round({score_sql}, {int(round_to)})"
    order = [*(order or [F.col("score").desc()]), F.col(spec.id_col).asc()]
    if isinstance(partition_key, NameMatch):
        return _per_patient_topk(df, spec, F.expr(score_sql), k, filter_expr,
                                 partition_key, where, order)
    df = _apply_filters(df, filter_expr, spec, partition_key, where)
    # a filter on a projected score would be pushed into the scan as a
    # second copy of the expression, and one above the limit would plan
    # the take-ordered mid-plan, with its own merge stage
    positive = F.expr(f"explode(filter(array({score_sql}), s -> s > 0))")
    return (df.select("*", positive.alias("score"))
              .orderBy(*order).limit(k))


def _per_patient_topk(df: DataFrame, spec: CorpusSpec, score: Column,
                      k: int, filter_expr: Column | None, name: NameMatch,
                      where: str | None, order: list[Column]) -> DataFrame:
    """The route's top-k per patient that `name` matches, in one shuffle:
    a generator keeps the rows that match the name or score > 0 under the
    filters (the score is NULL where a filter fails); one window on the
    patient holds its name score (`_nmax`) and the route rank (`_rank`);
    a top-level take-ordered keeps `name.ids` patients' rows ordered (name
    score desc, patient id asc, rank). Every matched patient keeps a row,
    so the ids never depend on the route; the caller keeps the first
    patient's rows with score > 0. Every row that scores goes through the
    shuffle, so a route whose score is positive on most rows (kNN) should
    resolve the name first and pass the patient id as a literal key."""
    pc = spec.partition_col
    for cond in [filter_expr, None if where is None else F.expr(where)]:
        if cond is not None:
            score = F.when(cond, score)
    row = F.struct(F.expr(name_score_sql(name.name_col, name.name))
                   .alias("_name"), score.alias("score"))
    kept = F.filter(F.array(row),
                    lambda r: (r["_name"] > 0) | (r["score"] > 0))
    hit = F.coalesce(F.col("score") > 0, F.lit(False))
    ranked = Window.partitionBy(pc).orderBy(hit.desc(), *order)
    patient = ranked.rowsBetween(Window.unboundedPreceding,
                                 Window.unboundedFollowing)
    return (df.select("*", F.inline(kept))
              .select("*", F.max("_name").over(patient).alias("_nmax"),
                      F.row_number().over(ranked).alias("_rank"))
              .filter((F.col("_nmax") > 0) & (F.col("_rank") <= k))
              .orderBy(F.col("_nmax").desc(), F.col(pc).asc(), "_rank")
              .limit(name.ids * k))


def _knn_sql(spec: CorpusSpec, query_vec: list[float]) -> str:
    """SQL text of the embedding's dot product with the query vector,
    which rides in the plan as one array literal."""
    return V.dot_sql(qident(spec.embedding_col), double_array_sql(query_vec))


def _recent_sql(date_fields: list[str], now: str | None,
                window_months: int) -> str:
    """SQL text of: some date field lies in [now - window, now]."""
    now_sql = f"to_timestamp({sql_quote(now)})" if now else "current_timestamp()"
    lo = f"({now_sql} - make_interval(0, {int(window_months)}, 0, 0, 0, 0, 0))"
    return "(" + " OR ".join(
        [f"{qident(d)} BETWEEN {lo} AND {now_sql}" for d in date_fields]
        or ["false"]) + ")"


def _apply_filters(df: DataFrame, filter_expr: Column | None,
                   spec: CorpusSpec, partition_key=None,
                   where: str | None = None) -> DataFrame:
    """Non-scoring `filter` context (predicate pushdown; reference P1/P2),
    as one filter."""
    conds = [] if where is None else [F.expr(where)]
    if partition_key is not None and spec.partition_col:
        conds.append(F.col(spec.partition_col) == F.lit(partition_key))
    if filter_expr is not None:
        conds.append(filter_expr)
    for c in conds[1:]:
        conds[0] = conds[0] & c
    return df.filter(conds[0]) if conds else df


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
    return _topk(df, spec, score, k, filter_expr, partition_key)


# ---------------------------------------------------------------- Q2
def semantic_search(df: DataFrame, spec: CorpusSpec, query_vec: list[float],
                    k: int = 3, filter_expr: Column | None = None,
                    partition_key=None, round_to: int | None = None) -> DataFrame:
    """Q2 SEMANTIC: exact kNN — dot product against the (normalized) query
    vector, top-k. (reference `semantic_search`, app/main.py:1527-1560.)
    Exact scan is O(n·d) but embarrassingly parallel; the approximate path
    for huge corpora is the sharded-HNSW store (llmops/hnsw.py)."""
    return _topk(df, spec, _knn_sql(spec, query_vec), k, filter_expr,
                 partition_key, round_to)


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
    knn = (f"({_knn_sql(spec, query_vec)} * {S.dlit(knn_boost)})"
           if spec.embedding_col else "0.0D")
    return _topk(df, spec, S.should_sum(lex_text, lex_kw, knn), k,
                 filter_expr, partition_key, round_to)


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
    return _topk(df, spec, score, k, filter_expr, partition_key)


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
        knn = (f"CASE WHEN {qident(spec.embedding_col)} IS NOT NULL THEN "
               f"{_knn_sql(spec, query_vec)} * {S.dlit(knn_boost)} "
               f"ELSE 0.0D END")
    else:
        knn = "0.0D"
    return _topk(df, spec, S.should_sum(lex, knn), k, filter_expr,
                 partition_key, round_to)


# ---------------------------------------------------------------- Q6
def aggregate_search(df: DataFrame, spec: CorpusSpec, group_fields: list[str],
                     size: int = 5, filter_expr: Column | None = None,
                     partition_key=None) -> DataFrame:
    """Q6 AGGREGATE: `terms` aggregations — top-`size` value counts per group
    field, ranked count desc then key asc (OpenSearch terms-agg order), as
    unordered (dim, key, cnt) rows; the caller orders them.
    (reference `aggregate_search`, app/main.py:1777-1808.)

    Scale: one scan stacks each row into its (dim, key) pairs, and one
    groupBy(dim, key) counts them all, pre-aggregating map-side before its
    shuffle. One rank-per-dim window cuts each dim to `size` keys; Spark's
    window group limit keeps `size` keys per dim and partition before the
    window's shuffle, so that second shuffle carries only those."""
    df = _apply_filters(df, filter_expr, spec, partition_key)
    pairs = [F.struct(F.lit(gf).alias("dim"),
                      F.col(gf).cast("string").alias("key"))
             for gf in group_fields]
    rank = Window.partitionBy("dim").orderBy(F.col("cnt").desc(),
                                             F.col("key").asc())
    return (df.select(F.inline(F.array(*pairs)))
              .filter(F.col("key").isNotNull())
              .groupBy("dim", "key").agg(F.count(F.lit(1)).alias("cnt"))
              .withColumn("_rank", F.row_number().over(rank))
              .filter(F.col("_rank") <= size)
              .select("dim", "key", "cnt"))


# ---------------------------------------------------------------- Q7
def comparison_search(df: DataFrame, spec: CorpusSpec, query: str, k: int = 3,
                      filter_expr: Column | None = None,
                      partition_key=None) -> DataFrame:
    """Q7 COMPARISON: fuzzy best_fields over the compare fields (with their
    boosts); the reference also computes a side terms-agg it then discards
    (app/main.py:1850-1861) — we return only hits, same as its output."""
    fields = list(spec.compare_fields.keys())
    score = S.fuzzy_best_fields(fields, query, 1.0, spec.compare_fields)
    return _topk(df, spec, score, k, filter_expr, partition_key)


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
    in_range = _recent_sql(spec.date_fields, now, window_months)
    lex = S.should_sum(
        S.fuzzy_best_fields(spec.text_fields, query, 1.0),
        S.exact_term_best_fields(spec.keyword_fields, query, 1.0))
    sort_field = sort_field or spec.date_fields[0]
    return _topk(df, spec, lex, k, filter_expr, partition_key,
                 where=in_range,
                 order=[F.col(sort_field).desc_nulls_last()])


# ---------------------------------------------------------------- Q9
def explanatory_search(df: DataFrame, spec: CorpusSpec, query: str,
                       k: int = 3, filter_expr: Column | None = None,
                       partition_key=None) -> DataFrame:
    """Q9 EXPLANATORY: fuzzy best_fields over note fields with boosts 3/2
    (reference `explanatory_search`, app/main.py:1920-1967)."""
    fields = list(spec.note_fields.keys())
    score = S.fuzzy_best_fields(fields, query, 1.0, spec.note_fields)
    return _topk(df, spec, score, k, filter_expr, partition_key)


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
    recent = _recent_sql(spec.date_fields, now, window_months)
    knn = (f"({_knn_sql(spec, query_vec)} * {S.dlit(knn_boost)})"
           if spec.embedding_col and query_vec is not None else "0.0D")
    score = S.should_sum(
        S.fuzzy_best_fields(spec.text_fields, query, text_boost),
        S.exact_term_best_fields(spec.keyword_fields, query, kw_boost),
        knn,
        f"(CAST({recent} AS DOUBLE) * {S.dlit(recency_boost)})")
    return _topk(df, spec, score, k, filter_expr, partition_key, round_to)


# ---------------------------------------------------------------- Q11
def entity_specific_search(df: DataFrame, spec: CorpusSpec, query: str,
                           k: int = 3, filter_expr: Column | None = None,
                           partition_key=None) -> DataFrame:
    """Q11 ENTITY_SPECIFIC: phrase multi_match (op=and) over identity fields
    with boosts 4/3 (reference app/main.py:2029-2074): boost-weighted max of
    phrase hits."""
    score = S.best_fields(
        [f"CAST({T.phrase_match_sql(f, query)} AS DOUBLE) * {S.dlit(b)}"
         for f, b in spec.identity_fields.items()], 1.0)
    return _topk(df, spec, score, k, filter_expr, partition_key)


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


def document_fetch_search(df: DataFrame, spec: CorpusSpec,
                          name: NameMatch) -> DataFrame:
    """Q12 DOCUMENT_FETCH: the patients `name` matches (Q13), each collapsed
    to its lowest-id doc (reference app/main.py:2120-2150; every fetched
    doc scores 1.0, so the collapse's id tie-break decides) by one
    groupBy that also carries the patient's name score; the top
    `name.ids` patients by (name score desc, patient id asc). The reference's
    `size: k` cut keeps the k lowest ids of these rows, which the caller
    takes from the collected rows."""
    pc = spec.partition_col
    best = (df.groupBy(pc)
              .agg(_name_max(name).alias("_nmax"),
                   F.min_by(F.struct(*df.columns), F.col(spec.id_col))
                   .alias("_doc"))
              .filter(F.col("_nmax") > 0)
              .orderBy(F.col("_nmax").desc(), F.col(pc).asc())
              .limit(name.ids))
    return best.select("_doc.*", F.lit(1.0).alias("score"), "_nmax")


# ---------------------------------------------------------------- Q13
def resolve_ids_from_name(df: DataFrame, name_col: str, id_col: str,
                          query_name: str, k: int = 3) -> DataFrame:
    """Q13 name -> id resolution: 3-tier scored match (exact term=3,
    phrase=2, fuzzy AND=1), collapse per id, top-k ids.
    (reference `resolve_patient_ids_from_name`, app/main.py:2637-2744.)
    An ask runs it before a kNN or AGGREGATE route; the other routes
    resolve the same score inside their own plan (`NameMatch`)."""
    best = (df.groupBy(id_col)
              .agg(_name_max(NameMatch(query_name, name_col)).alias("score"))
              .filter(F.col("score") > 0))
    return best.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


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
    TakeOrderedAndProject k-heap. At very large k x corpus, block with
    an ngram inverted index (the term-store pattern,
    operators/index_store.py) — this operator is the exact-scoring
    tier."""
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
