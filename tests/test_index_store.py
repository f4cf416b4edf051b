"""Persisted term store (operators/index_store.py): serving from the
saved tables must equal the independent Python BM25 over the raw rows
exactly, and the reads must PRUNE — PartitionFilters on the bucket
partition column in the physical plan, not a full-index scan."""

from rassengine_spark.operators.index_store import (bm25_topk_from_store,
                                                    save_term_index,
                                                    term_bucket_expr,
                                                    term_bucket_py)
from rassengine_spark.operators.inverted_index import build_term_index
from tests.bm25_reference import reference_topk

ROWS = [
    (1, "spark join strategies for large spark tables"),
    (2, "join order and join reordering in query planners"),
    (3, "window functions and sort based aggregation"),
    (4, "spark query planning with joins and shuffles"),
    (5, "completely unrelated cooking recipe text"),
]


def corpus(spark, rows=ROWS):
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
        stored = bm25_topk_from_store(spark, path, q, k=5)
        assert [(r.id, r.score) for r in stored.collect()] == \
            reference_topk(ROWS, q, k=5), q
        # the postings read is partition-pruned to the query terms' buckets
        plan = _physical(stored)
        assert "PartitionFilters" in plan and "tb" in plan
        n_parts = (spark.read.parquet(f"{path}/postings")
                   .select("tb").distinct().count())
        buckets = {term_bucket_py(t, 16) for t in q.split()}
        assert len(buckets) < n_parts     # pruning is actually selective


def test_term_index_append_matches_union_scan(spark, tmp_path):
    """Appended postings + recomputed stats must serve BM25 identical to
    a scan over the union corpus — avgdl is an integer-sum AVG, so the
    recompute is order-independent and bit-safe."""
    from rassengine_spark.operators.index_store import append_term_index
    extra = [(10, "spark shuffles and spark joins again"),
             (11, "sorting networks and query engines")]
    path = str(tmp_path / "termidx_inc")
    save_term_index(*build_term_index(corpus(spark), "text", "id"), path,
                    n_buckets=16)
    append_term_index(corpus(spark, extra), "text", "id", path)
    for q in ["spark join", "query planning spark", "sorting engines"]:
        stored = [(r.id, r.score)
                  for r in bm25_topk_from_store(spark, path, q,
                                                k=5).collect()]
        assert stored == reference_topk(ROWS + extra, q, k=5), q


def test_term_index_compaction_is_layout_only(spark, tmp_path):
    """compact_term_index must reduce the per-bucket append slivers to
    one file per bucket while serving byte-identical BM25, and the store
    must keep accepting appends afterwards."""
    import glob
    import os

    from rassengine_spark.operators.index_store import (append_term_index,
                                                        compact_term_index)

    extra1 = [(10, "spark shuffles and spark joins again")]
    extra2 = [(11, "sorting networks and query engines")]
    path = str(tmp_path / "termidx_cmp")
    save_term_index(*build_term_index(corpus(spark), "text", "id"), path,
                    n_buckets=4)
    append_term_index(corpus(spark, extra1), "text", "id", path)
    append_term_index(corpus(spark, extra2), "text", "id", path)

    def files_per_bucket():
        return {d: len(glob.glob(os.path.join(d, "*.parquet")))
                for d in glob.glob(os.path.join(path, "postings", "tb=*"))}

    before = files_per_bucket()
    assert max(before.values()) > 1          # appends really left slivers
    union = ROWS + extra1 + extra2
    q = "spark join query"
    scan = reference_topk(union, q, k=5)
    compact_term_index(spark, path)
    after = files_per_bucket()
    assert set(after) == set(before) and max(after.values()) == 1
    assert [(r.id, r.score)
            for r in bm25_topk_from_store(spark, path, q,
                                          k=5).collect()] == scan
    # doclens coalesced too, and the store still appends after compaction
    assert len(glob.glob(os.path.join(path, "doclens", "*.parquet"))) == 1
    extra3 = [(12, "another spark document about joins")]
    append_term_index(corpus(spark, extra3), "text", "id", path)
    scan3 = reference_topk(union + extra3, q, k=5)
    assert [(r.id, r.score)
            for r in bm25_topk_from_store(spark, path, q,
                                          k=5).collect()] == scan3


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
    scan = reference_topk(ROWS, "spark join", k=5)
    # simulate the mid-swap crash window: data renamed away, tmp lost
    os.rename(f"{path}/postings", f"{path}/postings.__fold_bak")
    compact_term_index(spark, path)
    assert [(r.id, r.score)
            for r in bm25_topk_from_store(spark, path, "spark join",
                                          k=5).collect()] == scan


def test_store_metadata_cached_across_serve_calls(spark, tmp_path,
                                                  monkeypatch):
    """Serving metadata (the term store's n_buckets) must be a load-ONCE
    per process (VERDICT r07 #3): the second serve call against an
    unchanged store issues ZERO parquet reads of the meta dir — the
    reference's open-once index handle (app/main.py:350-352). A store
    REWRITE (new file mtimes) must invalidate the cache."""
    import pyspark.sql.readwriter as rw

    df = corpus(spark)
    tpath = str(tmp_path / "term")
    save_term_index(*build_term_index(df, "text", "id"), tpath,
                    n_buckets=16)

    reads: list[str] = []
    orig = rw.DataFrameReader.parquet

    def spy(self, *paths, **kw):
        reads.extend(paths)
        return orig(self, *paths, **kw)

    monkeypatch.setattr(rw.DataFrameReader, "parquet", spy)

    def meta_reads():
        return [p for p in reads if p.rstrip("/").endswith("meta")]

    # cold call: loads (and caches) the metadata
    bm25_topk_from_store(spark, tpath, "spark join", k=3).collect()
    reads.clear()
    # warm call: zero metadata reads
    bm25_topk_from_store(spark, tpath, "spark join", k=3).collect()
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


def test_termless_query_gets_empty_answer(spark, tmp_path):
    """A query with no tokenizable term (empty, punctuation only, a
    non-ASCII script) gets an empty (id, score) answer from both the
    index frames and the persisted store, not an exception. In a batch,
    such a query is dropped and the other queries' rows are unchanged;
    a batch of only such queries gets an empty (query_id, id, score,
    rank) frame."""
    from rassengine_spark.operators.inverted_index import (
        bm25_batch_topk_from_index, bm25_topk_from_index)

    idx = build_term_index(corpus(spark), "text", "id")
    path = str(tmp_path / "term")
    save_term_index(*idx, path, n_buckets=4)
    for q in ["", "???", "患者"]:
        for out in (bm25_topk_from_index(*idx, q, k=3),
                    bm25_topk_from_store(spark, path, q, k=3)):
            assert out.columns == ["id", "score"]
            assert out.collect() == [], q

    def rows(batch):
        return sorted(((r.query_id, r.id, r.score, r.rank)
                       for r in bm25_batch_topk_from_index(
                           *idx, batch, k=3).collect()),
                      key=lambda r: (r[0], r[3]))

    alone = rows({"n": "spark join"})
    assert alone and [(i, s) for _, i, s, _ in alone] == \
        reference_topk(ROWS, "spark join", k=3)
    assert rows({"n": "spark join", "e": "???"}) == alone
    empty = bm25_batch_topk_from_index(*idx, {"e": "", "z": "患者"}, k=3)
    assert empty.columns == ["query_id", "id", "score", "rank"]
    assert empty.collect() == []
