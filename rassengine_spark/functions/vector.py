"""Vector expressions — dot product, L2 normalize, cosine similarity.

The reference L2-normalizes embeddings at index and query time so cosine
equals dot product (reference: app/main.py:1250-1251, 1536-1537). We keep the
same invariant. All expressions are built-in array functions (zip_with /
aggregate / transform) that run inside whole-stage codegen — a 100 TB kNN
scan is a single projection + TakeOrderedAndProject, no Python in the loop.

Summation is sequential over the array (F.aggregate folds left), which makes
scores bit-reproducible across engines that fold in the same order.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<numeric> columns, accumulated in double."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# ------------------------------------------------------------ SQL text
# The same expressions as SQL text, for callers that splice them into a
# larger clause parsed by one F.expr (the search operators' kNN clause,
# the exact reference in llmops/similarity.py). A Column builder costs
# ~25 ms of py4j round trips, because every higher-order function
# materializes its Python lambda through the JVM; the text costs one
# parse. Semantics are bit-identical:
# zip_with/aggregate fold order, double casts, 0.0D seed and eps placement
# are unchanged.


def dot_sql(a: str, b: str) -> str:
    """SQL text of dot(a, b) for already-rendered operand expressions."""
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE)"
            f" * CAST(y AS DOUBLE)), 0.0D, (acc, x) -> acc + x)")


def l2_norm_sql(a: str) -> str:
    """SQL text of l2_norm(a)."""
    return (f"sqrt(aggregate({a}, 0.0D, (acc, x) -> acc + "
            f"CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))")


def cosine_sql(a: str, b: str, eps: float = 1e-9) -> str:
    """SQL text of cosine(a, b) — same fold order and eps placement."""
    return (f"({dot_sql(a, b)} / (({l2_norm_sql(a)} * {l2_norm_sql(b)})"
            f" + {float(eps)!r}D))")


def dot_literal(col: Column, vec: list[float]) -> Column:
    """Dot product against a constant query vector (broadcast as a literal).

    The query vector is a plan literal — no join, no shuffle; the scan stays
    a single codegen stage."""
    from ..util import double_array_lit
    return dot(col, double_array_lit(vec))


def l2_norm(col: Column) -> Column:
    return F.sqrt(F.aggregate(
        col, F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double")))


def l2_normalize(col: Column, eps: float = 1e-9) -> Column:
    """emb / (||emb|| + eps), elementwise (reference app/main.py:1250-1251)."""
    nrm = l2_norm(col) + F.lit(eps)
    return F.transform(col, lambda x: x.cast("double") / nrm)


def cosine(a: Column, b: Column, eps: float = 1e-9) -> Column:
    """Cosine similarity for not-necessarily-normalized vectors."""
    return dot(a, b) / ((l2_norm(a) * l2_norm(b)) + F.lit(eps))
