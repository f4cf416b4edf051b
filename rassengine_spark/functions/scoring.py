"""Multi-field scoring builders — the OpenSearch `bool`/`multi_match` algebra.

Semantics reproduced (SURVEY.md §2.3; public OpenSearch docs):
- `bool.should` = sum of matching clause scores x boost, with
  `minimum_should_match: 1` -> keep rows where >=1 scoring clause matched.
- `multi_match best_fields` = max over fields of the per-field score; the
  per-field score for an OR query is the count of matching terms (our
  indicator-score fidelity level; BM25 is served from the term index,
  operators/inverted_index.py).
- `multi_match type=phrase` = phrase containment per field, max over fields.
- `multi_match type=phrase_prefix, operator=and` = all terms prefix-match.
- `filter` clauses are non-scoring predicates.

All builders return Spark SQL text (see functions/text.py for why), which
the search operator parses with one `F.expr`. The operator's top-k
(operators/search.py::_topk) evaluates it once in a generator that emits
only rows with score > 0, then orders by (score desc, id) and limits to k.
A collect runs that as scan -> generate -> TakeOrderedAndProject in one
stage: a k-heap per partition, merged on the driver, so only k rows per
partition leave it — the same early termination the reference gets from
`terminate_after: k` (app/main.py:1515).
"""

from __future__ import annotations

from ..util import qident, sql_quote
from . import text as T


def dlit(x: float) -> str:
    """A double literal as SQL text (repr round-trips exactly)."""
    return f"{float(x)!r}D"


def best_fields(per: list[str], boost: float) -> str:
    """greatest(per..., 0.0) x boost; 0.0 for no fields."""
    if not per:
        return "0.0D"
    return f"(greatest({', '.join(per)}, 0.0D) * {dlit(boost)})"


def phrase_best_fields(fields: list[str], query: str, boost: float = 1.0) -> str:
    """Max-over-fields phrase indicator x boost (type=phrase multi_match)."""
    return best_fields([f"CAST({T.phrase_match_sql(f, query)} AS DOUBLE)"
                        for f in fields], boost)


def exact_best_fields(fields: list[str], query: str, boost: float = 1.0) -> str:
    """Max-over-fields exact-term-count (OR match on untokenized keywords:
    a keyword field matches when it equals any query term, or — for
    multi-word keywords — contains the full phrase)."""
    terms = T.terms_of(query)
    arr = T.terms_sql(terms)
    phrase = sql_quote(" ".join(terms))
    per = []
    for f in fields:
        c = f"lower({qident(f)})"
        eq_any = f"array_contains({arr}, {c}) OR " if arr else ""
        per.append(f"CAST(coalesce({eq_any}contains({c}, {phrase}), false)"
                   f" AS DOUBLE)")
    return best_fields(per, boost)


def _count_best_fields(count_sql, fields: list[str], query: str,
                       boost: float, field_boosts: dict | None) -> str:
    terms = T.terms_of(query)
    field_boosts = field_boosts or {}
    return best_fields([f"CAST({count_sql(T.tokens_sql(f), terms)} AS DOUBLE)"
                        f" * {dlit(field_boosts.get(f, 1.0))}" for f in fields],
                       boost)


def fuzzy_best_fields(fields: list[str], query: str, boost: float = 1.0,
                      field_boosts: dict[str, float] | None = None) -> str:
    """Max over fields of (matched-term-count x per-field boost) with AUTO
    fuzziness (best_fields + fuzziness:AUTO + operator:or)."""
    return _count_best_fields(T.fuzzy_term_count_sql, fields, query, boost,
                              field_boosts)


def exact_term_best_fields(fields: list[str], query: str, boost: float = 1.0,
                           field_boosts: dict[str, float] | None = None) -> str:
    """Max over fields of exact matched-term-count (best_fields, no fuzz)."""
    return _count_best_fields(T.exact_term_count_sql, fields, query, boost,
                              field_boosts)


def prefix_and_best_fields(fields: list[str], query: str,
                           boost: float = 1.0) -> str:
    """Max over fields of all-terms-prefix indicator (phrase_prefix, op=and;
    reference structured search field list app/main.py:1722-1742)."""
    terms = T.terms_of(query)
    return best_fields([f"CAST({T.all_terms_prefix_sql(T.tokens_sql(f), terms)}"
                        f" AS DOUBLE)" for f in fields], boost)


def should_sum(*clauses: str) -> str:
    """bool.should scoring: sum of clause scores (each already boosted),
    folded left from 0.0. minimum_should_match:1 is enforced by the
    top-k's `score > 0` cut."""
    out = "0.0D"
    for c in clauses:
        out = f"({out} + coalesce({c}, 0.0D))"
    return out
