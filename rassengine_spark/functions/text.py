"""Lexical text expressions — tokenizer, phrase/prefix/fuzzy term predicates.

These reproduce the OpenSearch match semantics the reference relies on
(reference: app/main.py:1480-2074 builds `multi_match` DSL of types
`phrase` / `phrase_prefix` / `best_fields` with `fuzziness: AUTO`):

- standard-analyzer approximation: lowercase + non-alphanumeric split
- phrase match  = query terms adjacent in order  -> substring containment
  on the lowercased text (exact for whitespace-joined corpora)
- prefix match  = any token starts with the term
- fuzzy AUTO    = per-term edit distance 0/1/2 for term lengths <=2 / 3-5 / >=6

`tokenize` is a Column function for its many callers. The predicates are
SQL text (the `*_sql` builders), parsed by the caller's one `F.expr`: the
query's terms ride in ONE quoted array literal and a higher-order function
walks it, so a predicate has one node per field whatever the term count.
Built as Columns, the same tree costs a py4j round trip per node and
lambda, and a plan whose shape changes with every query; as text it is one
call, and Spark reuses the generated code across queries. No Python UDFs,
so Catalyst still pushes filters and prunes columns.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..util import qident, sql_quote

TOKEN_SPLIT_RE = "[^a-z0-9]+"


def tokenize(col: Column | str) -> Column:
    """Lowercase + split on non-alphanumerics, drop empty tokens.

    Mirrors the reference's analyzer approximation (app/main.py:2164 uses
    whitespace word-split; OpenSearch standard analyzer lowercases).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), TOKEN_SPLIT_RE), lambda t: t != "")


def terms_of(query: str) -> list[str]:
    """Driver-side tokenization of a constant query string (same rules)."""
    return [t for t in re.split(TOKEN_SPLIT_RE, query.lower()) if t]


def auto_fuzziness(term: str) -> int:
    """OpenSearch `fuzziness: AUTO`: 0 / 1 / 2 by term length (public docs).
    `_AUTO_D` spells the same rule in SQL."""
    n = len(term)
    if n <= 2:
        return 0
    if n <= 5:
        return 1
    return 2


def tokens_sql(field: str) -> str:
    """SQL text of `tokenize(field)`."""
    return (f"filter(split(lower({qident(field)}), "
            f"{sql_quote(TOKEN_SPLIT_RE)}), t -> t != '')")


def terms_sql(terms: list[str]) -> str | None:
    """The query terms as one array<string> literal; None for no terms,
    because Spark types an empty `array()` as array<void>, on which the
    predicates' `length(q)` does not resolve."""
    return f"array({', '.join(map(sql_quote, terms))})" if terms else None


def phrase_match_sql(field: str, phrase: str) -> str:
    """Phrase containment: all query terms adjacent in order.

    Implemented as lowercase substring containment of the normalized phrase —
    exact for the single-space-joined corpora this engine stores (the chunker
    S6 joins words with single spaces, app/main.py:2164-2169)."""
    norm = sql_quote(" ".join(terms_of(phrase)))
    return f"coalesce(contains(lower({qident(field)}), {norm}), false)"


# a token array has a token within the AUTO distance of lambda variable
# `q`: `auto_fuzziness` spelled in SQL from length(q)
_AUTO_D = ("CASE WHEN length(q) <= 2 THEN 0 WHEN length(q) <= 5 THEN 1 "
           "ELSE 2 END")


def _fuzzy_q(tokens: str) -> str:
    return (f"coalesce(exists({tokens}, x -> levenshtein(x, q) <= {_AUTO_D}),"
            f" false)")


def _count(terms: list[str], pred: str) -> str:
    """How many query terms `q` satisfy `pred`."""
    arr = terms_sql(terms)
    return f"size(filter({arr}, q -> {pred}))" if arr else "0"


def _forall(terms: list[str], pred: str) -> str:
    """Every query term `q` satisfies `pred` (true for no terms)."""
    arr = terms_sql(terms)
    return f"forall({arr}, q -> {pred})" if arr else "true"


def exact_term_count_sql(tokens: str, terms: list[str]) -> str:
    """Number of query terms present in the token array (OR-match score)."""
    return _count(terms, f"coalesce(array_contains({tokens}, q), false)")


def fuzzy_term_count_sql(tokens: str, terms: list[str]) -> str:
    """Number of query terms fuzzy-matching some token (AUTO distances)."""
    return _count(terms, _fuzzy_q(tokens))


def all_terms_fuzzy_sql(tokens: str, terms: list[str]) -> str:
    """Every query term fuzzy-matches some token (fuzzy `operator: and`)."""
    return _forall(terms, _fuzzy_q(tokens))


def all_terms_prefix_sql(tokens: str, terms: list[str]) -> str:
    """`phrase_prefix` with `operator: and`: every term matches as a prefix
    of some token (reference structured search, app/main.py:1722-1742)."""
    return _forall(
        terms, f"coalesce(exists({tokens}, x -> startswith(x, q)), false)")


def basic_cleaning(col: Column | str) -> Column:
    """Newline strip + trim (reference `basic_cleaning`, app/main.py:2156-2157)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(c, "\n", " "))
