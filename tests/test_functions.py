"""Unit tests for the lexical/vector expression builders (SURVEY §2.6)."""

import math

from pyspark.sql import functions as F

from rassengine_spark.functions import text as T
from rassengine_spark.functions import vector as V


def test_tokenize_and_terms(spark):
    df = spark.createDataFrame([("Hello, World! x2",), (None,)], ["t"])
    rows = df.select(T.tokenize("t").alias("tok")).collect()
    assert rows[0]["tok"] == ["hello", "world", "x2"]
    assert rows[1]["tok"] is None
    assert T.terms_of("Hello, World!") == ["hello", "world"]


def test_phrase_match(spark):
    df = spark.createDataFrame(
        [("the hash join runs",), ("join hash",), (None,)], ["t"])
    got = [r[0] for r in
           df.select(F.expr(T.phrase_match_sql("t", "Hash  Join"))).collect()]
    assert got == [True, False, False]


def test_auto_fuzziness_thresholds():
    # OpenSearch AUTO: <=2 -> 0, 3-5 -> 1, >=6 -> 2
    assert T.auto_fuzziness("ab") == 0
    assert T.auto_fuzziness("abc") == 1
    assert T.auto_fuzziness("abcde") == 1
    assert T.auto_fuzziness("abcdef") == 2


def test_fuzzy_sql_applies_auto_fuzziness(spark):
    """A term of length n matches a token auto_fuzziness(term) edits away
    and not one edit further."""
    for n in range(1, 9):
        term = "abcdefgh"[:n]
        d = T.auto_fuzziness(term)
        tokens = ["z" * d + term[d:], "z" * (d + 1) + term[d + 1:]]
        df = spark.createDataFrame([(t,) for t in tokens], ["t"])
        got = [r[0] for r in df.select(F.expr(
            T.fuzzy_term_count_sql(T.tokens_sql("t"), [term]))).collect()]
        assert got == [1, 0], (term, tokens)


def test_fuzzy_and_prefix_match(spark):
    df = spark.createDataFrame([("stream batch spark",)], ["t"])
    tok = T.tokens_sql("t")
    out = df.select(
        F.expr(T.all_terms_fuzzy_sql(tok, ["streem"])).alias("a"),  # d=2
        F.expr(T.all_terms_fuzzy_sql(tok, ["xx"])).alias("b"),      # d=0
        F.expr(T.all_terms_prefix_sql(tok, ["spa"])).alias("c"),
        F.expr(T.all_terms_prefix_sql(tok, ["str", "ba"])).alias("d"),
        F.expr(T.all_terms_prefix_sql(tok, ["str", "zz"])).alias("e"),
    ).collect()[0]
    assert (out["a"], out["b"], out["c"], out["d"], out["e"]) == (
        True, False, True, True, False)


def test_term_counts_and_empty_terms(spark):
    """Counts walk the one terms literal (repeats count twice); a query
    with no terms never builds `array()`: counts are 0 and the AND
    predicates are true, as the per-term folds gave."""
    df = spark.createDataFrame([("stream batch spark",), (None,)], ["t"])
    tok = T.tokens_sql("t")
    rows = df.select(
        F.expr(T.exact_term_count_sql(tok, ["spark", "spark", "sparc"])),
        F.expr(T.fuzzy_term_count_sql(tok, ["spark", "sparc", "xx"])),
        F.expr(T.exact_term_count_sql(tok, [])),
        F.expr(T.fuzzy_term_count_sql(tok, [])),
        F.expr(T.all_terms_fuzzy_sql(tok, [])),
        F.expr(T.all_terms_prefix_sql(tok, [])),
    ).collect()
    assert tuple(rows[0]) == (2, 2, 0, 0, True, True)
    assert tuple(rows[1]) == (0, 0, 0, 0, True, True)
    assert T.terms_sql([]) is None
    assert T.terms_sql(["o'b", "a\\b"]) == "array('o\\'b', 'a\\\\b')"


def test_vector_ops(spark):
    df = spark.createDataFrame([([3.0, 4.0],)], ["v"])
    row = df.select(
        V.dot_literal(F.col("v"), [1.0, 2.0]).alias("dot"),
        V.l2_norm(F.col("v")).alias("n"),
        V.l2_norm(V.l2_normalize(F.col("v"))).alias("unit"),
        V.cosine(F.col("v"), F.array(F.lit(3.0), F.lit(4.0))).alias("cos"),
    ).collect()[0]
    assert row["dot"] == 11.0
    assert row["n"] == 5.0
    assert math.isclose(row["unit"], 1.0, abs_tol=1e-6)
    assert math.isclose(row["cos"], 1.0, abs_tol=1e-6)
