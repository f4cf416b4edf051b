"""Data-quality suite, column profiler, PSI drift, prefix-filter join."""

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from rassengine_spark.llmops import dataquality as DQ
from rassengine_spark.llmops.dedup import prefix_filter_jaccard_pairs


@pytest.fixture(scope="module")
def people(spark):
    return spark.createDataFrame(
        [Row(id=1, age=30, city="ny"), Row(id=2, age=None, city="sf"),
         Row(id=3, age=200, city="ny"), Row(id=4, age=41, city=None),
         Row(id=4, age=10, city="la")])


def _report(df):
    return {r["check"]: (r["metric"], r["passed"]) for r in df.collect()}


def test_check_suite_metrics(people):
    rep = _report(DQ.check_suite(
        people,
        [DQ.completeness("age"),
         DQ.completeness("id"),
         DQ.satisfies("age_range", F.col("age").between(0, 120),
                      min_metric=0.9),
         DQ.satisfies("adult_where", F.col("age") >= 21,
                      where=F.col("age").isNotNull())],
        unique_cols=["id"]))
    assert rep["completeness(age)"] == (0.8, False)
    assert rep["completeness(id)"] == (1.0, True)
    # null + out-of-range age both fail the predicate: 3/5
    assert rep["age_range"] == (0.6, False)
    # among non-null ages: 30,200,41 >= 21 -> 3/4
    assert rep["adult_where"] == (0.75, False)
    assert rep["uniqueness(id)"] == (0.8, False)


def test_check_suite_single_aggregate_plan(people):
    # one scan: no join, no window in the physical plan
    import io
    import contextlib
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        DQ.check_suite(people, [DQ.completeness("age"),
                                DQ.completeness("city")]).explain()
    txt = buf.getvalue()
    assert "Join" not in txt and "Window" not in txt


def test_referential_check(spark):
    child = spark.createDataFrame(
        [Row(fk=1), Row(fk=2), Row(fk=99), Row(fk=None)])
    parent = spark.createDataFrame([Row(pk=1), Row(pk=2), Row(pk=3)])
    rep = _report(DQ.referential_check(child, "fk", parent, "pk"))
    ((m, p),) = rep.values()
    assert m == 0.5 and p is False  # 99 and NULL are orphans


def test_aggregate_agreement_check(spark):
    child = spark.createDataFrame(
        [Row(k=1, v=10.0), Row(k=1, v=5.0), Row(k=2, v=7.0)])
    parent = spark.createDataFrame(
        [Row(pk=1, total=15.0), Row(pk=2, total=100.0), Row(pk=3, total=1.0)])
    rep = _report(DQ.aggregate_agreement_check(
        child, "k", F.col("v"), parent, "pk", "total", 0.01, "t"))
    # pk=1 agrees, pk=2 off by far, pk=3 has no children -> 1/3
    assert rep["t"] == (0.3333, False)


def test_profile_columns(spark):
    df = spark.createDataFrame(
        [Row(x=1.5, s="a"), Row(x=None, s="b"), Row(x=2.5, s="a")])
    out = {r.col_name: r for r in
           DQ.profile_columns(df, ["x"], ["s"]).collect()}
    x = out["x"]
    assert (x.n_rows, x.n_nulls, x.n_distinct) == (3, 1, 2)
    assert (x.min_val, x.max_val, x.avg_val) == (1.5, 2.5, 2.0)
    s = out["s"]
    assert (s.n_nulls, s.n_distinct) == (0, 2)
    assert s.min_val is None and s.avg_val is None


def test_psi_drift_identical_halves_zero(spark):
    # same distribution on both sides -> psi ~ 0 (only smoothing noise)
    rows = [Row(g="a", v=float(10 * i % 100), side=s)
            for i in range(50) for s in (0, 1)]
    df = spark.createDataFrame(rows)
    out = DQ.psi_drift(df, "g", "v", F.col("side") == 0,
                       lo=0.0, hi=100.0).collect()[0]
    assert out.psi == 0.0 and out.drifted is False
    assert out.n_base == 50 and out.n_cur == 50


def test_psi_drift_shifted_flags(spark):
    rows = ([Row(g="a", v=5.0, side=0)] * 40
            + [Row(g="a", v=95.0, side=1)] * 40)
    df = spark.createDataFrame(rows)
    out = DQ.psi_drift(df, "g", "v", F.col("side") == 0,
                       lo=0.0, hi=100.0).collect()[0]
    assert out.drifted is True and out.psi > 1.0


def test_psi_matches_driver_formula(spark):
    # python reimplementation over a small asymmetric distribution
    import random
    rnd = random.Random(7)
    rows = [Row(g="g", v=rnd.uniform(0, 100) * (1.3 if s else 1.0), side=s)
            for s in (0, 1) for _ in range(60)]
    df = spark.createDataFrame(rows)
    out = DQ.psi_drift(df, "g", "v", F.col("side") == 0,
                       lo=0.0, hi=100.0).collect()[0]
    nb = [0] * 10
    nc = [0] * 10
    for r in rows:
        b = min(9, max(0, int(math.floor(r.v / 10.0))))
        (nb if r.side == 0 else nc)[b] += 1
    tb, tc = sum(nb), sum(nc)
    micro = 0
    for i in range(10):
        p = (nb[i] + 1) / (tb + 10)
        q = (nc[i] + 1) / (tc + 10)
        micro += round((p - q) * math.log(p / q) * 1e6)
    # rounding halves differ at most 1 micro per bin between banker's
    # (python round) and HALF_UP (Spark) -- compare at 5 decimals
    assert abs(out.psi - micro / 1e6) < 1e-4


def test_prefix_filter_matches_brute_force(spark):
    import random
    rnd = random.Random(3)
    vocab = [f"w{i}" for i in range(30)]
    docs = [(i, " ".join(rnd.choice(vocab) for _ in range(rnd.randint(3, 25))))
            for i in range(60)]
    # plant an exact near-dup pair
    docs[10] = (10, docs[11][1] + " extra")
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    for t in (0.3, 0.5, 0.8):
        got = sorted((r.id_a, r.id_b, r.jaccard) for r in
                     prefix_filter_jaccard_pairs(
                         df, "text", "doc_id", threshold=t, n=2).collect())
        from rassengine_spark.sources.chunker import (word_ngram_array,
                                                      words_of)
        sets = df.select(F.col("doc_id").alias("id"), F.array_distinct(
            word_ngram_array(words_of(F.col("text")), 2)).alias("s"))
        a, b = sets.alias("a"), sets.alias("b")
        inter = F.size(F.array_intersect("a.s", "b.s"))
        bf = (a.crossJoin(b).filter(F.col("a.id") < F.col("b.id"))
              .withColumn("jaccard", F.round(
                  inter.cast("double")
                  / (F.size("a.s") + F.size("b.s") - inter).cast("double"),
                  6))
              .filter(F.col("jaccard") >= t))
        want = sorted((r.id_a, r.id_b, r.jaccard)
                      for r in bf.select(F.col("a.id").alias("id_a"),
                                         F.col("b.id").alias("id_b"),
                                         "jaccard").collect())
        assert got == want, f"threshold {t}"


def test_prefix_filter_block_col(spark):
    df = spark.createDataFrame(
        [(1, "x y z x y z", "en"), (2, "x y z x y z", "de"),
         (3, "x y z x y z w", "en")],
        ["doc_id", "text", "lang"])
    got = sorted((r.id_a, r.id_b) for r in prefix_filter_jaccard_pairs(
        df, "text", "doc_id", threshold=0.5, n=3,
        block_col="lang").collect())
    # identical docs 1/2 are split by lang; only same-block 1-3 pairs up
    assert got == [(1, 3)]


def test_prefix_filter_short_and_empty_docs(spark):
    df = spark.createDataFrame(
        [(1, "a b"), (2, ""), (3, "a b c a b c"), (4, "a b c a b c")],
        ["doc_id", "text"])
    got = [(r.id_a, r.id_b, r.jaccard) for r in
           prefix_filter_jaccard_pairs(df, "text", "doc_id",
                                       threshold=0.5, n=3).collect()]
    # docs 1,2 have no trigrams; 3 and 4 are identical
    assert got == [(3, 4, 1.0)]


# ---------------------------------------------------------------------------
# Incremental DQ counter store
# ---------------------------------------------------------------------------

def _orders_checks():
    return [DQ.completeness("v"),
            DQ.satisfies("pos(v)", F.col("v") > 0, min_metric=0.9)]


def test_dq_fold_matches_one_shot(spark, tmp_path):
    """Any fold partition of the rows serves the same report as the
    one-shot suite over the union; compaction is invisible."""
    rows = [(i, (i % 7) - 1 if i % 5 else None) for i in range(60)]
    df = spark.createDataFrame(rows, "id long, v long")
    checks = _orders_checks()
    path = str(tmp_path / "dq")
    DQ.save_dq_counters(df.filter("id % 3 = 0"), checks, path)
    DQ.append_dq_counters(df.filter("id % 3 = 1"), checks, path)
    DQ.compact_dq_counters(spark, path)
    DQ.append_dq_counters(df.filter("id % 3 = 2"), checks, path)
    got = {r["check"]: (r.metric, r.passed) for r in
           DQ.dq_report_from_counters(spark, path).collect()}
    want = {r["check"]: (r.metric, r.passed) for r in
            DQ.check_suite(df, checks).collect()}
    assert got == want


def test_dq_append_rejects_suite_mismatch(spark, tmp_path):
    df = spark.createDataFrame([(1, 2)], "id long, v long")
    path = str(tmp_path / "dq")
    DQ.save_dq_counters(df, _orders_checks(), path)
    with pytest.raises(ValueError, match="mismatch"):
        DQ.append_dq_counters(df, [DQ.completeness("id")], path)


def test_psi_fold_matches_one_shot(spark, tmp_path):
    """Baseline-save + any partition of current-batch folds (with a
    mid-sequence compaction) serves the same report as psi_drift over
    the union."""
    import random
    rnd = random.Random(11)
    rows = [(i, "g" + str(i % 2),
             rnd.uniform(0, 100) * (1.5 if i % 3 == 0 else 1.0),
             i % 4 == 0)                      # ~quarter is baseline
            for i in range(200)]
    df = spark.createDataFrame(rows, "id long, g string, v double, b boolean")
    path = str(tmp_path / "psi")
    DQ.save_psi_counters(df.filter("b"), "g", "v", path,
                         lo=0.0, hi=150.0)
    cur = df.filter("not b")
    DQ.append_psi_current(cur.filter("id % 2 = 0"), path)
    DQ.compact_dq_counters(spark, path)
    DQ.append_psi_current(cur.filter("id % 2 = 1"), path)
    got = {r.g: (r.psi, r.n_base, r.n_cur, r.drifted) for r in
           DQ.psi_report_from_counters(spark, path).collect()}
    want = {r.g: (r.psi, r.n_base, r.n_cur, r.drifted) for r in
            DQ.psi_drift(df, "g", "v", F.col("b"),
                         lo=0.0, hi=150.0).collect()}
    assert got == want


def test_psi_counters_rejects_bad_side(spark):
    df = spark.createDataFrame([(1, "a", 2.0)], "id long, g string, v double")
    with pytest.raises(ValueError, match="side"):
        DQ.value_bin_counters(df, "g", "v", "nope", 0.0, 10.0)


def test_k_anonymity_hand_computed(spark):
    from rassengine_spark.llmops.dataquality import k_anonymity_report
    rows = [("a", "x", 1), ("a", "x", 1), ("a", "x", 2),   # class a: 3, l=2
            ("b", "x", 5),                                 # class b: 1, l=1
            ("c", "y", 7), ("c", "y", 7)]                  # class c: 2, l=1
    df = spark.createDataFrame(rows, "q1 string, q2 string, s int")
    r = k_anonymity_report(df, ["q1", "q2"], "s",
                           k_threshold=2).collect()[0]
    assert r.n_rows == 6 and r.n_classes == 3
    assert r.k_min == 1 and r.l_min == 1
    assert r.n_below_k == 1                      # only class b (size 1)
    assert r.rows_below_k_ppm == 166666          # floor(1e6 / 6)


def test_k_anonymity_validation(spark):
    import pytest as _pytest

    from rassengine_spark.llmops.dataquality import k_anonymity_report
    df = spark.createDataFrame([("a", 1)], "q string, s int")
    with _pytest.raises(ValueError):
        k_anonymity_report(df, [], "s")
    with _pytest.raises(ValueError):
        k_anonymity_report(df, ["q"], "s", k_threshold=0)
    # single class covering everything: nothing below threshold 1
    r = k_anonymity_report(df, ["q"], "s", k_threshold=1).collect()[0]
    assert r.n_below_k == 0 and r.rows_below_k_ppm == 0
