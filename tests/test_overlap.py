"""KMV corpus-overlap sketches: mergeability law, exhaustive-sketch
exactness, estimator accuracy, and parameter validation."""

import pytest
from pyspark.sql import functions as F

from rassengine_spark.llmops.overlap import (corpus_overlap, kmv_merge,
                                             kmv_pairwise_overlap,
                                             kmv_sketch)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "g string, shard int, text string")


def test_merge_of_shards_equals_sketch_of_whole(spark):
    """kmv_merge over per-shard partial sketches == kmv_sketch over the
    concatenated corpus — the law that makes sketches foldable across
    days/partitions without re-reading history."""
    rows = [("a", s, f"tok{s} w{i} w{i+1} w{i+2}")
            for s in range(3) for i in range(0, 40, 2)]
    df = _docs(spark, rows)
    k = 16
    whole = kmv_sketch(df, "g", "text", k=k).collect()[0]
    per_shard = kmv_sketch(
        df.withColumn("gs", F.concat_ws("#", "g", "shard")),
        "gs", "text", k=k)
    merged = kmv_merge(
        per_shard.withColumn("g0", F.split("g", "#")[0]),
        k=k, out_group=F.col("g0")).collect()[0]
    assert merged.hs == whole.hs
    assert merged.n_hashes == whole.n_hashes


def test_exhaustive_sketch_gives_exact_overlap(spark):
    """Corpora smaller than k: sketches hold every distinct shingle, so
    jaccard/containment/distinct are exact set statistics."""
    df = _docs(spark, [
        ("a", 0, "x y z p q"),
        ("b", 0, "x y z r s"),
    ])
    # unigram shingles: A = {x,y,z,p,q}, B = {x,y,z,r,s}
    out = corpus_overlap(df, "g", "text", k=64, shingle_n=1).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.ga, r.gb) == ("a", "b")
    assert r.jaccard_est == pytest.approx(3 / 7, abs=1e-6)
    assert r.contain_a_in_b == pytest.approx(3 / 5, abs=1e-6)
    assert r.contain_b_in_a == pytest.approx(3 / 5, abs=1e-6)
    assert r.da_est == 5.0 and r.db_est == 5.0
    assert r.union_est == pytest.approx(7.0, abs=1e-4)


def test_distinct_estimator_accuracy(spark):
    """Non-exhaustive sketch (k << D): the order-statistic estimate
    lands within ~3/sqrt(k) relative error of the true distinct count."""
    n = 4000
    df = spark.range(n).select(
        F.lit("a").alias("g"),
        F.concat(F.lit("w"), F.col("id")).alias("text"))
    k = 256
    sk = kmv_sketch(df, "g", "text", k=k, shingle_n=1)
    row = sk.collect()[0]
    assert row.n_hashes == k
    pairs = kmv_pairwise_overlap(
        sk.unionByName(sk.withColumn("g", F.lit("b"))), k=k)
    r = pairs.collect()[0]
    assert abs(r.da_est - n) / n < 3 / (k ** 0.5)
    # identical corpora: the union sample is fully shared
    assert r.jaccard_est == 1.0
    assert r.contain_a_in_b == 1.0 and r.contain_b_in_a == 1.0


def test_k_validation(spark):
    df = _docs(spark, [("a", 0, "x")])
    with pytest.raises(ValueError):
        kmv_sketch(df, "g", "text", k=1)


def _store_docs(spark):
    rows = [("a" if i % 2 else "b", 0, f"w{i} w{i+1} w{i+2} w{i+3}")
            for i in range(60)]
    return _docs(spark, rows)


def test_store_fold_equals_oneshot(spark, tmp_path):
    from rassengine_spark.llmops.overlap import (append_kmv_shard,
                                                 compact_kmv_store,
                                                 kmv_pairwise_overlap,
                                                 read_kmv_store,
                                                 save_kmv_store)
    df = _store_docs(spark)
    k = 16
    path = str(tmp_path / "kmv")
    save_kmv_store(kmv_sketch(df.filter(F.col("shard") == 0)
                              .filter(F.col("text").like("w1%")),
                              "g", "text", k=k), path, k=k)
    rest = df.filter(~F.col("text").like("w1%"))
    # deterministic shard split (crc32 of the text) — an unordered
    # limit() evaluated in two independent plans is not guaranteed
    # stable, so limit/subtract-limit could drop rows from both shards
    half_a = rest.filter(F.crc32("text") % 2 == 0)
    half_b = rest.filter(F.crc32("text") % 2 == 1)
    append_kmv_shard(kmv_sketch(half_a, "g", "text", k=k), path, k=k)
    compact_kmv_store(spark, path)
    append_kmv_shard(kmv_sketch(half_b, "g", "text", k=k), path, k=k)
    got = kmv_pairwise_overlap(read_kmv_store(spark, path), k=k) \
        .collect()
    want = corpus_overlap(df, "g", "text", k=k, shingle_n=2).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_store_append_leaves_history_untouched(spark, tmp_path):
    import glob
    import os

    from rassengine_spark.llmops.overlap import (append_kmv_shard,
                                                 save_kmv_store)
    df = _store_docs(spark)
    path = str(tmp_path / "kmv")
    save_kmv_store(kmv_sketch(df, "g", "text", k=8), path, k=8)
    before = {p: (os.path.getmtime(p), os.path.getsize(p))
              for p in glob.glob(f"{path}/versions/**/*.parquet",
                                 recursive=True)}
    append_kmv_shard(kmv_sketch(df.limit(5), "g", "text", k=8), path,
                     delta_name="d1")
    after = {p: (os.path.getmtime(p), os.path.getsize(p))
             for p in glob.glob(f"{path}/versions/**/*.parquet",
                                recursive=True)}
    assert before == after
    # replaying a committed delta name is a no-op
    from rassengine_spark.llmops.counter_store import load_counter_manifest
    m1 = load_counter_manifest(path)
    append_kmv_shard(kmv_sketch(df.limit(5), "g", "text", k=8), path,
                     delta_name="d1")
    assert load_counter_manifest(path) == m1


def test_append_rejects_smaller_shard_k(spark, tmp_path):
    """A shard sketched with k below the store manifest's k must be
    refused loudly — folding it would silently drop members of the
    global top-k and bias every downstream estimate."""
    from rassengine_spark.llmops.overlap import (append_kmv_shard,
                                                 save_kmv_store)
    df = _store_docs(spark)
    path = str(tmp_path / "kmv")
    save_kmv_store(kmv_sketch(df, "g", "text", k=16), path, k=16)
    with pytest.raises(ValueError, match="manifest k"):
        append_kmv_shard(kmv_sketch(df.limit(5), "g", "text", k=8),
                         path, k=8)
    # equal or larger shard k is lossless and accepted
    append_kmv_shard(kmv_sketch(df.limit(5), "g", "text", k=32),
                     path, k=32)


def test_disparate_sizes_null_containment_not_nan(spark):
    """k=2 with one huge corpus whose hashes dominate the union sample:
    the starved side's containment is NULL, never inf/NaN."""
    rows = [("big", 0, " ".join(f"t{i}" for i in range(400)))]
    rows += [("small", 0, "zq")]
    df = _docs(spark, rows)
    out = corpus_overlap(df, "g", "text", k=2, shingle_n=1).collect()
    r = out[0]
    for v in (r.contain_a_in_b, r.contain_b_in_a, r.jaccard_est):
        assert v is None or (v == v and abs(v) != float("inf"))
