"""Sketch aggregates: HLL++ distinct count and approximate percentiles must
track their exact twins within published error bounds (the driver's oracle
can't hash-compare algorithm-specific sketch outputs, so bounds live here)."""

from pyspark.sql import functions as F


def test_approx_count_distinct_within_rsd(spark):
    n = 5000
    df = spark.range(n).select((F.col("id") % 1000).alias("u"))
    approx = df.agg(F.approx_count_distinct("u").alias("a")).collect()[0].a
    # default rsd = 5%; allow 3 sigma
    assert abs(approx - 1000) <= 1000 * 0.15


def test_percentile_approx_within_accuracy(spark):
    df = spark.range(10000).select(F.col("id").cast("double").alias("v"))
    got = df.agg(
        F.percentile_approx("v", [0.5, 0.95], 10000).alias("q"),
        F.expr("percentile(v, array(0.5, 0.95))").alias("exact")).collect()[0]
    for a, e in zip(got.q, got.exact):
        # accuracy 10000 -> rank error <= N/10000 = 1 row; give slack
        assert abs(a - e) <= 10.0


def test_sketch_rollup_tracks_exact(spark):
    # grouped: per-key approx distinct within 15% of exact
    df = spark.range(20000).select(
        (F.col("id") % 4).alias("g"), ((F.col("id") * 7) % 900).alias("u"))
    j = (df.groupBy("g")
           .agg(F.approx_count_distinct("u").alias("a"),
                F.countDistinct("u").alias("e")))
    for r in j.collect():
        assert abs(r.a - r.e) <= max(5, 0.15 * r.e)


def test_quantile_sketch_bounds_all_true(spark):
    from rassengine_spark.operators.sketches import quantile_sketch_bounds

    df = spark.range(30000).select(
        (F.col("id") % 3).alias("g"),
        ((F.col("id") * 2654435761) % 97129).cast("double").alias("v"))
    rows = quantile_sketch_bounds(df, "v", "g").collect()
    assert len(rows) == 3
    for r in rows:
        assert r.n == 10000
        assert r.ok_p50 and r.ok_p95 and r.ok_p99


def test_quantile_sketch_bounds_null_and_tiny_groups(spark):
    from rassengine_spark.operators.sketches import quantile_sketch_bounds

    rows = [("a", 1.0), ("a", 2.0), ("b", None), ("c", 5.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {r.g: r for r in quantile_sketch_bounds(df, "v", "g").collect()}
    assert got["a"].n == 2 and got["a"].ok_p50
    assert got["b"].n == 0 and got["b"].ok_p99   # all-null group holds
    assert got["c"].n == 1 and got["c"].ok_p95


def test_distinct_sketch_bounds_all_true(spark):
    from rassengine_spark.operators.sketches import distinct_sketch_bounds

    df = spark.range(60000).select(
        (F.col("id") % 4).alias("g"),
        ((F.col("id") * 31) % 5000).alias("u"))
    rows = distinct_sketch_bounds(df, "u", "g").collect()
    assert len(rows) == 4
    for r in rows:
        # ids of one residue class mod 4, scaled by 31 (invertible mod
        # 5000) -> 1250 distinct values per group
        assert r.n_distinct == 1250 and r.err_ok


def test_distinct_sketch_bounds_tiny_groups(spark):
    from rassengine_spark.operators.sketches import distinct_sketch_bounds

    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("b", 2)], "g string, u int")
    got = {r.g: r for r in distinct_sketch_bounds(df, "u", "g").collect()}
    assert got["a"].n_distinct == 1 and got["a"].err_ok
    assert got["b"].n_distinct == 1 and got["b"].err_ok


def test_heavy_hitters_mg_bound_holds(spark):
    from rassengine_spark.operators.sketches import heavy_hitters_mg

    # zipf-ish: item j appears ~30000/(j+1) times
    rows = [(f"w{j}",) for j in range(200) for _ in range(3000 // (j + 1))]
    df = spark.createDataFrame(rows, "w string").repartition(8)
    got = heavy_hitters_mg(df, "w", k=32, top=5).collect()
    assert [r.item for r in got] == ["w0", "w1", "w2", "w3", "w4"]
    assert got[0].n_exact == 3000
    assert all(r.mg_ok for r in got)


def test_heavy_hitters_mg_ties_and_nulls(spark):
    from rassengine_spark.operators.sketches import heavy_hitters_mg

    rows = [("a",), ("b",), ("a",), ("b",), ("c",), (None,)]
    df = spark.createDataFrame(rows, "w string")
    got = heavy_hitters_mg(df, "w", k=4, top=2).collect()
    # tie on count=2 breaks item asc; null never counts
    assert [(r.item, r.n_exact) for r in got] == [("a", 2), ("b", 2)]
    assert all(r.mg_ok for r in got)


def test_quantile_sketch_bounds_null_key_group(spark):
    from rassengine_spark.operators.sketches import quantile_sketch_bounds

    rows = [("a", 1.0), (None, 2.0), (None, 3.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {r.g: r for r in quantile_sketch_bounds(df, "v", "g").collect()}
    assert set(got) == {"a", None}      # NULL group survives the re-join
    assert got[None].n == 2 and got[None].ok_p50


def test_mg_rollup_incremental_bound_holds(spark, tmp_path):
    """The heavy-hitter rollup invariant: after any fold sequence, every
    estimate undercounts, the undercount is <= N_group/(k+1), and items
    above that threshold are guaranteed present."""
    from collections import Counter

    from rassengine_spark.pipeline.ingest import (merge_mg_rollup,
                                                  read_mg_rollup)

    path = str(tmp_path / "mg")
    k = 8
    batches = [
        [("g1", f"w{j}") for j in range(40) for _ in range(400 // (j + 1))],
        [("g1", "w0")] * 120 + [("g2", "x")] * 30 + [("g2", "y")] * 5,
        [("g1", f"rare{j}") for j in range(60)] + [("g2", "x")] * 20,
    ]
    for b in batches:
        merge_mg_rollup(spark, path,
                        spark.createDataFrame(b, "g string, w string"),
                        ["g"], "w", k=k)

    got = {}
    for r in read_mg_rollup(spark, path).collect():
        got.setdefault(r.g, {})[r.item] = r.est

    truth, totals = {}, Counter()
    for b in batches:
        for g, w in b:
            truth.setdefault(g, Counter())[w] += 1
            totals[g] += 1
    for g, cnt in truth.items():
        assert len(got[g]) <= k
        bound = totals[g] // (k + 1)
        for item, est in got[g].items():
            assert est <= cnt[item]                   # never overcounts
            assert cnt[item] - est <= bound
        for item, true in cnt.items():                # guarantee clause
            if true > bound:
                assert item in got[g]
    # the dominant items survive as the per-group argmax
    assert max(got["g1"], key=got["g1"].get) == "w0"
    assert max(got["g2"], key=got["g2"].get) == "x"


def test_mg_rollup_persists_k(spark, tmp_path):
    from rassengine_spark.pipeline.ingest import merge_mg_rollup, read_mg_rollup

    path = str(tmp_path / "mg")
    df1 = spark.createDataFrame([("g", f"w{i % 3}") for i in range(30)],
                                "g string, w string")
    merge_mg_rollup(spark, path, df1, ["g"], "w", k=4)
    # a later batch passing a DIFFERENT k: the persisted k must win
    merge_mg_rollup(spark, path, df1, ["g"], "w", k=999)
    assert read_mg_rollup(spark, path).count() <= 4


def test_mg_rollup_reads_legacy_underscore_meta(spark, tmp_path):
    """Stores written before the meta-dir rename (leading underscore)
    keep resolving through _meta_dir's fallback."""
    import os

    from rassengine_spark.pipeline.ingest import merge_mg_rollup, read_mg_rollup

    path = str(tmp_path / "mg")
    df1 = spark.createDataFrame([("g", f"w{i % 3}") for i in range(30)],
                                "g string, w string")
    merge_mg_rollup(spark, path, df1, ["g"], "w", k=4)
    os.rename(os.path.join(path, "mg_meta"), os.path.join(path, "_mg_meta"))
    merge_mg_rollup(spark, path, df1, ["g"], "w", k=999)
    assert not os.path.exists(os.path.join(path, "mg_meta"))
    assert read_mg_rollup(spark, path).count() <= 4


def test_mg_rollup_merges_null_group(spark, tmp_path):
    # a NULL group key must merge across folds like any other group (a
    # null-unsafe semi-join would accumulate duplicate summaries)
    from rassengine_spark.pipeline.ingest import merge_mg_rollup, read_mg_rollup

    path = str(tmp_path / "mg")
    for _ in range(2):
        df = spark.createDataFrame([(None, "a"), (None, "a"), ("g", "b")],
                                   "g string, w string")
        merge_mg_rollup(spark, path, df, ["g"], "w", k=4)
    rows = read_mg_rollup(spark, path).collect()
    got = {(r.g, r.item): r.est for r in rows}
    assert len(rows) == 2                      # ONE row per (group, item)
    assert got[(None, "a")] == 4
    assert got[("g", "b")] == 2


def test_count_min_estimates_reference(spark):
    """CM estimates vs a plain-Python Count-Min with the same md5 row
    hashes: est must MATCH the reference sketch exactly and satisfy the
    overcount-only guarantee (est >= true) on a skewed stream."""
    import hashlib

    from rassengine_spark.operators.sketches import count_min_estimates

    width, depth = 16, 2                  # narrow width FORCES collisions
    items = (["hot"] * 50 + ["warm"] * 20
             + [f"cold{i}" for i in range(30)])
    df = spark.createDataFrame([("k", it) for it in items],
                               "g string, it string")
    got = {r.item: (r.n_exact, r.est)
           for r in count_min_estimates(df, "it", "g", width=width,
                                        depth=depth, top=5).collect()}

    def bucket(j, it):
        return int(hashlib.md5(f"{j}#{it}".encode()).hexdigest()[:15],
                   16) % width

    counters = [[0] * width for _ in range(depth)]
    true = {}
    for it in items:
        true[it] = true.get(it, 0) + 1
        for j in range(depth):
            counters[j][bucket(j, it)] += 1
    assert got["hot"][0] == 50 and got["warm"][0] == 20
    for it, (n_exact, est) in got.items():
        assert n_exact == true[it]
        assert est == min(counters[j][bucket(j, it)] for j in range(depth))
        assert est >= n_exact             # overcount-only, always
    # the narrow sketch really collided somewhere (the test has teeth)
    assert any(est > n for n, est in got.values())
