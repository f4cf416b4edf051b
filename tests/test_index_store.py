"""Persisted index tiers (operators/index_store.py): serving from the
saved tables must be bit-identical to the scan-based operators, and the
reads must PRUNE — PartitionFilters on the bucket/cell partition columns
in the physical plan, not a full-index scan."""

from pyspark.sql import functions as F

from rassengine_spark.functions.bm25 import bm25_topk
from rassengine_spark.operators.index_store import (bm25_topk_from_store,
                                                    ivf_topk_from_store,
                                                    save_ivf_index,
                                                    save_term_index,
                                                    term_bucket_expr,
                                                    term_bucket_py)
from rassengine_spark.operators.inverted_index import build_term_index


def corpus(spark):
    rows = [
        (1, "spark join strategies for large spark tables"),
        (2, "join order and join reordering in query planners"),
        (3, "window functions and sort based aggregation"),
        (4, "spark query planning with joins and shuffles"),
        (5, "completely unrelated cooking recipe text"),
    ]
    return spark.createDataFrame(rows, "id long, text string")


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucket_expr_matches_python_twin(spark):
    terms = ["spark", "join", "aggregation", "recipe", "zz9"]
    got = (spark.createDataFrame([(t,) for t in terms], "term string")
           .select("term", term_bucket_expr("term", 64).alias("tb"))
           .collect())
    for r in got:
        assert r.tb == term_bucket_py(r.term, 64), r.term


def test_bm25_from_store_matches_scan_and_prunes(spark, tmp_path):
    df = corpus(spark)
    path = str(tmp_path / "termidx")
    save_term_index(*build_term_index(df, "text", "id"), path, n_buckets=16)
    for q in ["spark join", "query planning spark"]:
        scan = [(r.id, r.score)
                for r in bm25_topk(df, "text", "id", q, k=5).collect()]
        stored = bm25_topk_from_store(spark, path, q, k=5)
        assert [(r.id, r.score) for r in stored.collect()] == scan, q
        # the postings read is partition-pruned to the query terms' buckets
        plan = _physical(stored)
        assert "PartitionFilters" in plan and "tb" in plan
        n_parts = (spark.read.parquet(f"{path}/postings")
                   .select("tb").distinct().count())
        buckets = {term_bucket_py(t, 16) for t in q.split()}
        assert len(buckets) < n_parts     # pruning is actually selective


def test_ivf_from_store_matches_scan_and_prunes(spark, tmp_path):
    from rassengine_spark.llmops.similarity import ivf_topk
    rows = [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)])
            for i in range(40)]
    e = spark.createDataFrame(rows, "vec_id int, v array<double>")
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), "v")
    c = e.filter(F.col("vec_id") >= 3)
    path = str(tmp_path / "ivfidx")
    save_ivf_index(c, "v", "vec_id", path, n_cells=8)
    stored = ivf_topk_from_store(spark, path, q, "v", "qid",
                                 k=3, n_probe=2)
    direct = ivf_topk(c, q, "v", "vec_id", "qid", k=3,
                      n_cells=8, n_probe=2)
    assert sorted(map(tuple, stored.collect())) == \
        sorted(map(tuple, direct.collect()))
    plan = _physical(stored)
    assert "PartitionFilters" in plan and "cell" in plan


def test_ivf_append_matches_full_rebuild_with_same_centroids(spark,
                                                             tmp_path):
    """Appending new vectors against the persisted centroids must serve
    the same results as indexing the union corpus with those centroids —
    and history's assignments are untouched."""
    import glob
    import os

    from rassengine_spark.llmops.similarity import ivf_topk
    from rassengine_spark.operators.index_store import append_ivf_index
    rows = [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)])
            for i in range(40)]
    e = spark.createDataFrame(rows, "vec_id int, v array<double>")
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), "v")
    base = e.filter((F.col("vec_id") >= 3) & (F.col("vec_id") < 30))
    extra = e.filter(F.col("vec_id") >= 30)
    path = str(tmp_path / "ivf_inc")
    save_ivf_index(base, "v", "vec_id", path, n_cells=8)
    before = {f: os.path.getmtime(f)
              for f in glob.glob(path + "/assignments/*/*.parquet")}
    append_ivf_index(extra, "v", "vec_id", path)
    # historical files untouched (appended, not rewritten)
    for f, mt in before.items():
        assert os.path.getmtime(f) == mt
    cents_rows = (spark.read.parquet(path + "/centroids")
                  .orderBy("cell").collect())
    cents = [[float(x) for x in r.cvec] for r in cents_rows]
    stored = ivf_topk_from_store(spark, path, q, "v", "qid",
                                 k=3, n_probe=2)
    direct = ivf_topk(base.unionAll(extra), q, "v", "vec_id", "qid", k=3,
                      n_probe=2, centroids=cents)
    assert sorted(map(tuple, stored.collect())) == \
        sorted(map(tuple, direct.collect()))


def test_term_index_append_matches_union_scan(spark, tmp_path):
    """Appended postings + recomputed stats must serve BM25 identical to
    a scan over the union corpus — avgdl is an integer-sum AVG, so the
    recompute is order-independent and bit-safe."""
    from rassengine_spark.operators.index_store import append_term_index
    base = corpus(spark)
    extra = spark.createDataFrame(
        [(10, "spark shuffles and spark joins again"),
         (11, "sorting networks and query engines")],
        "id long, text string")
    path = str(tmp_path / "termidx_inc")
    save_term_index(*build_term_index(base, "text", "id"), path,
                    n_buckets=16)
    append_term_index(extra, "text", "id", path)
    union = base.unionAll(extra)
    for q in ["spark join", "query planning spark", "sorting engines"]:
        scan = [(r.id, r.score)
                for r in bm25_topk(union, "text", "id", q, k=5).collect()]
        stored = [(r.id, r.score)
                  for r in bm25_topk_from_store(spark, path, q,
                                                k=5).collect()]
        assert stored == scan, q


def test_term_index_compaction_is_layout_only(spark, tmp_path):
    """compact_term_index must reduce the per-bucket append slivers to
    one file per bucket while serving byte-identical BM25, and the store
    must keep accepting appends afterwards."""
    import glob
    import os

    from rassengine_spark.operators.index_store import (append_term_index,
                                                        compact_term_index)

    base = corpus(spark)
    extra1 = spark.createDataFrame(
        [(10, "spark shuffles and spark joins again")], "id long, text string")
    extra2 = spark.createDataFrame(
        [(11, "sorting networks and query engines")], "id long, text string")
    path = str(tmp_path / "termidx_cmp")
    save_term_index(*build_term_index(base, "text", "id"), path,
                    n_buckets=4)
    append_term_index(extra1, "text", "id", path)
    append_term_index(extra2, "text", "id", path)

    def files_per_bucket():
        return {d: len(glob.glob(os.path.join(d, "*.parquet")))
                for d in glob.glob(os.path.join(path, "postings", "tb=*"))}

    before = files_per_bucket()
    assert max(before.values()) > 1          # appends really left slivers
    union = base.unionAll(extra1).unionAll(extra2)
    q = "spark join query"
    scan = [(r.id, r.score)
            for r in bm25_topk(union, "text", "id", q, k=5).collect()]
    compact_term_index(spark, path)
    after = files_per_bucket()
    assert set(after) == set(before) and max(after.values()) == 1
    assert [(r.id, r.score)
            for r in bm25_topk_from_store(spark, path, q,
                                          k=5).collect()] == scan
    # doclens coalesced too, and the store still appends after compaction
    assert len(glob.glob(os.path.join(path, "doclens", "*.parquet"))) == 1
    extra3 = spark.createDataFrame(
        [(12, "another spark document about joins")], "id long, text string")
    append_term_index(extra3, "text", "id", path)
    union3 = union.unionAll(extra3)
    scan3 = [(r.id, r.score)
             for r in bm25_topk(union3, "text", "id", q, k=5).collect()]
    assert [(r.id, r.score)
            for r in bm25_topk_from_store(spark, path, q,
                                          k=5).collect()] == scan3


def test_ivf_compaction_is_layout_only(spark, tmp_path):
    """compact_ivf_index folds per-cell append slivers to one file per
    cell; served top-k identical; appends keep working afterwards."""
    import glob
    import os

    from rassengine_spark.operators.index_store import (append_ivf_index,
                                                        compact_ivf_index)

    rows = [(i, [float((i * 7 + d) % 5), float((i * 3 + d) % 4), 1.0])
            for i in range(40) for d in [0]]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    path = str(tmp_path / "ivf_cmp")
    save_ivf_index(df.filter("id < 20"), "v", "id", path, n_cells=4)
    append_ivf_index(df.filter("id >= 20 and id < 30"), "v", "id", path)
    append_ivf_index(df.filter("id >= 30"), "v", "id", path)

    def files_per_cell():
        return {d: len(glob.glob(os.path.join(d, "*.parquet")))
                for d in glob.glob(os.path.join(path, "assignments",
                                                "cell=*"))}

    queries = spark.createDataFrame(
        [(100, [1.0, 2.0, 1.0]), (101, [3.0, 0.0, 1.0])],
        "qid long, v array<double>")

    def served():
        return sorted((r.query_id, r.id, r.score, r.rank)
                      for r in ivf_topk_from_store(
                          spark, path, queries, "v", "qid", k=3,
                          n_probe=2).collect())

    before_files = files_per_cell()
    assert max(before_files.values()) > 1
    before = served()
    compact_ivf_index(spark, path)
    after_files = files_per_cell()
    assert set(after_files) == set(before_files)
    assert max(after_files.values()) == 1
    assert served() == before
    append_ivf_index(
        spark.createDataFrame([(50, [2.0, 2.0, 1.0])],
                              "id long, v array<double>"), "v", "id", path)
    assert {r.id for r in spark.read.parquet(
        os.path.join(path, "assignments")).collect()} == set(range(40)) | {50}


def test_compaction_retry_heals_its_own_mid_swap_crash(spark, tmp_path):
    """A compaction that died between swap renames (data dir at
    .__fold_bak, tmp gone) must be recoverable by simply re-running the
    compaction."""
    import os

    from rassengine_spark.operators.index_store import compact_term_index

    docs = corpus(spark)
    path = str(tmp_path / "term_crash")
    save_term_index(*build_term_index(docs, "text", "id"), path,
                    n_buckets=4)
    scan = [(r.id, r.score)
            for r in bm25_topk(docs, "text", "id", "spark join",
                               k=5).collect()]
    # simulate the mid-swap crash window: data renamed away, tmp lost
    os.rename(f"{path}/postings", f"{path}/postings.__fold_bak")
    compact_term_index(spark, path)
    assert [(r.id, r.score)
            for r in bm25_topk_from_store(spark, path, "spark join",
                                          k=5).collect()] == scan


def test_store_metadata_cached_across_serve_calls(spark, tmp_path,
                                                  monkeypatch):
    """Serving metadata (term store n_buckets, IVF centroids) must be a
    load-ONCE per process (VERDICT r07 #3): the second serve call against
    an unchanged store issues ZERO parquet reads of the meta/centroids
    dirs — the reference's open-once index handle (app/main.py:350-352).
    A store REWRITE (new file mtimes) must invalidate the cache."""
    import pyspark.sql.readwriter as rw

    from rassengine_spark.llmops.similarity import hyperplanes  # noqa: F401

    df = corpus(spark)
    tpath = str(tmp_path / "term")
    save_term_index(*build_term_index(df, "text", "id"), tpath,
                    n_buckets=16)
    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 5) for j in range(4)])
         for i in range(20)], "vec_id long, embedding array<double>")
    qs = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("qid"), "embedding")
    vpath = str(tmp_path / "ivf")
    save_ivf_index(emb, "embedding", "vec_id", vpath, n_cells=4)

    reads: list[str] = []
    orig = rw.DataFrameReader.parquet

    def spy(self, *paths, **kw):
        reads.extend(paths)
        return orig(self, *paths, **kw)

    monkeypatch.setattr(rw.DataFrameReader, "parquet", spy)

    def meta_reads():
        return [p for p in reads
                if p.rstrip("/").endswith(("meta", "centroids"))]

    # cold call: loads (and caches) the metadata
    bm25_topk_from_store(spark, tpath, "spark join", k=3).collect()
    ivf_topk_from_store(spark, vpath, qs, "embedding", "qid",
                        k=2, n_probe=2).collect()
    reads.clear()
    # warm calls: zero metadata reads
    bm25_topk_from_store(spark, tpath, "spark join", k=3).collect()
    ivf_topk_from_store(spark, vpath, qs, "embedding", "qid",
                        k=2, n_probe=2).collect()
    assert meta_reads() == [], meta_reads()

    # a rewrite (new mtimes/sizes) must be picked up, not served stale
    save_term_index(*build_term_index(df, "text", "id"), tpath,
                    n_buckets=8)
    reads.clear()
    out = bm25_topk_from_store(spark, tpath, "spark join", k=3)
    out.collect()
    assert any(p.rstrip("/").endswith("meta") for p in reads)
    plan = _physical(out)
    assert "PartitionFilters" in plan     # still pruned after reload


def test_term_store_bucket_count_follows_corpus(spark, tmp_path):
    """Saved without n_buckets, a small corpus gets one bucket, recorded
    in meta; it serves BM25 identical to the same corpus in 16 buckets,
    before and after an append, and the append keeps the recorded count.
    An explicit n_buckets is recorded as given."""
    import glob
    import os

    from rassengine_spark.operators.index_store import append_term_index

    def meta(p):
        return spark.read.parquet(f"{p}/meta").collect()[0]["n_buckets"]

    def served(p, q):
        return [(r.id, r.score)
                for r in bm25_topk_from_store(spark, p, q, k=5).collect()]

    df = corpus(spark)
    derived, fixed = str(tmp_path / "derived"), str(tmp_path / "fixed")
    save_term_index(*build_term_index(df, "text", "id"), derived)
    save_term_index(*build_term_index(df, "text", "id"), fixed,
                    n_buckets=16)
    assert meta(derived) == 1 and meta(fixed) == 16
    assert len(glob.glob(os.path.join(derived, "postings", "tb=*"))) == 1
    queries = ["spark join", "query planning spark", "cooking recipe"]
    for q in queries:
        assert served(derived, q) == served(fixed, q), q

    extra = spark.createDataFrame(
        [(10, "spark shuffles and spark joins again")],
        "id long, text string")
    for p in (derived, fixed):
        append_term_index(extra, "text", "id", p)
    assert meta(derived) == 1 and meta(fixed) == 16
    for q in queries:
        assert served(derived, q) == served(fixed, q), q
