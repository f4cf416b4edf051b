"""Per-partition HNSW ANN: exactness of the degenerate mode, recall of the
graph path, and the partition-merge plumbing."""

import hashlib

from pyspark.sql import functions as F

from rassengine_spark.llmops.hnsw import hnsw_topk
from rassengine_spark.llmops.similarity import brute_force_topk


def _h(s, lo=-1.0, hi=1.0):
    v = int(hashlib.md5(s.encode()).hexdigest()[:12], 16) / float(1 << 48)
    return lo + (hi - lo) * v


def _clustered(spark, n=240, dim=16, n_clusters=4):
    rows = []
    for i in range(n):
        c = i % n_clusters
        center = [3.0 * _h(f"c{c}/{j}") for j in range(dim)]
        vec = [center[j] + 0.15 * _h(f"p{i}/{j}") for j in range(dim)]
        rows.append((i, vec))
    return spark.createDataFrame(rows, "vec_id bigint, v array<double>")


def _queries(spark, dim=16, n_clusters=4):
    rows = [(100 + c, [3.0 * _h(f"c{c}/{j}") for j in range(dim)])
            for c in range(n_clusters)]
    return spark.createDataFrame(rows, "qid bigint, v array<double>")


def test_exhaustive_mode_equals_brute_force(spark):
    corpus, qs = _clustered(spark), _queries(spark)
    bf = brute_force_topk(corpus, qs, "v", "vec_id", "qid", k=5).collect()
    hn = hnsw_topk(corpus, qs, "v", "vec_id", "qid", k=5,
                   ef_search=10 ** 6, partitions=3).collect()
    assert [(r.query_id, r.id, r.score, r.rank) for r in hn] == \
           [(r.query_id, r.id, r.score, r.rank) for r in bf]


def test_graph_path_recall(spark):
    corpus, qs = _clustered(spark), _queries(spark)
    k = 10
    truth = {}
    for r in brute_force_topk(corpus, qs, "v", "vec_id", "qid",
                              k=k).collect():
        truth.setdefault(r.query_id, set()).add(r.id)
    got = {}
    for r in hnsw_topk(corpus, qs, "v", "vec_id", "qid", k=k, m=8,
                       ef_construction=48, ef_search=32,
                       partitions=2).collect():
        got.setdefault(r.query_id, set()).add(r.id)
    recalls = [len(truth[q] & got.get(q, set())) / k for q in truth]
    assert sum(recalls) / len(recalls) >= 0.9, recalls


def test_partition_merge_shape(spark):
    corpus, qs = _clustered(spark), _queries(spark)
    out = hnsw_topk(corpus, qs, "v", "vec_id", "qid", k=3,
                    ef_search=16, partitions=4)
    rows = out.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.rank)
    # exactly k results per query, ranks dense 1..k, scores sorted desc
    for q, ranks in per_q.items():
        assert sorted(ranks) == [1, 2, 3]
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append((r.rank, r.score))
    for pairs in by_q.values():
        pairs.sort()
        scores = [s for _, s in pairs]
        assert scores == sorted(scores, reverse=True)


def test_empty_partitions_ok(spark):
    # more partitions than rows -> empty graph partitions must yield nothing
    corpus = _clustered(spark, n=5)
    qs = _queries(spark)
    out = hnsw_topk(corpus, qs, "v", "vec_id", "qid", k=3,
                    ef_search=2, partitions=8).collect()
    assert len({r.query_id for r in out}) == 4


def test_store_roundtrip_matches_live_graph(spark, tmp_path):
    """Persisted graphs must serve the SAME results as the live build:
    identical partitioning -> identical graphs -> identical beam walks."""
    from rassengine_spark.llmops.hnsw import (hnsw_topk_from_store,
                                              save_hnsw_index)
    corpus, qs = _clustered(spark), _queries(spark)
    path = str(tmp_path / "hnsw")
    save_hnsw_index(corpus, "v", "vec_id", path, m=8,
                    ef_construction=48, partitions=2)
    live = hnsw_topk(corpus, qs, "v", "vec_id", "qid", k=5, m=8,
                     ef_construction=48, ef_search=32,
                     partitions=2).collect()
    stored = hnsw_topk_from_store(spark, path, qs, "v", "qid", k=5,
                                  ef_search=32).collect()
    assert sorted((r.query_id, r.id, r.score, r.rank) for r in stored) == \
           sorted((r.query_id, r.id, r.score, r.rank) for r in live)


def test_store_exhaustive_mode_is_exact(spark, tmp_path):
    from rassengine_spark.llmops.hnsw import (hnsw_topk_from_store,
                                              save_hnsw_index)
    corpus, qs = _clustered(spark), _queries(spark)
    path = str(tmp_path / "hnsw_exact")
    save_hnsw_index(corpus, "v", "vec_id", path, partitions=3)
    bf = brute_force_topk(corpus, qs, "v", "vec_id", "qid", k=5).collect()
    stored = hnsw_topk_from_store(spark, path, qs, "v", "qid", k=5,
                                  ef_search=10 ** 6).collect()
    assert [(r.query_id, r.id, r.score, r.rank) for r in stored] == \
           [(r.query_id, r.id, r.score, r.rank) for r in bf]


def test_store_df_query_path_matches_collect_path(spark, tmp_path):
    """The cogroup (unbounded-query) serving path must equal the
    bounded-list overload exactly — same graphs, same beam, same merge.
    A query DATAFRAME passed to hnsw_topk_from_store routes through the
    no-collect cogroup path (the default for query tables); only an
    explicit (query_id, vector) list takes the closure-broadcast form."""
    from rassengine_spark.llmops.hnsw import (hnsw_topk_from_store,
                                              hnsw_topk_from_store_df,
                                              save_hnsw_index)
    corpus, qs = _clustered(spark), _queries(spark)
    path = str(tmp_path / "hnsw_df")
    save_hnsw_index(corpus, "v", "vec_id", path, m=8,
                    ef_construction=48, partitions=2)
    q_list = [(r.qid, [float(x) for x in r.v]) for r in qs.collect()]
    a = hnsw_topk_from_store(spark, path, q_list, k=5,
                             ef_search=32).collect()
    b = hnsw_topk_from_store(spark, path, qs, "v", "qid", k=5,
                             ef_search=32).collect()
    c = hnsw_topk_from_store_df(spark, path, qs, "v", "qid", k=5,
                                ef_search=32).collect()
    key = lambda rows: sorted((r.query_id, r.id, r.score, r.rank)
                              for r in rows)
    assert key(b) == key(a) == key(c)


def test_live_df_query_path_never_collects(spark, monkeypatch):
    """A query DATAFRAME passed to the LIVE hnsw_topk routes through the
    cogroup path and must never ship queries through the driver: any
    collect() during plan construction OR execution fails the test. The
    bounded-list overload remains the only driver-side form (VERDICT
    r06 #3). Also pins cogroup-path == closure-path results (same
    pmod(hash(id), P) shard composition as repartition(P, id))."""
    from pyspark.sql import DataFrame as _DF
    corpus, qs = _clustered(spark), _queries(spark)
    q_list = [(r.qid, [float(x) for x in r.v]) for r in qs.collect()]
    orig = _DF.collect

    def no_collect(self):
        raise AssertionError("driver-side collect in the DF query path")

    monkeypatch.setattr(_DF, "collect", no_collect)
    out = hnsw_topk(corpus, qs, "v", "vec_id", "qid", k=5, m=8,
                    ef_construction=48, ef_search=32, partitions=2)
    got = out.toPandas()            # execute without collect()
    monkeypatch.setattr(_DF, "collect", orig)
    via_list = hnsw_topk(corpus, q_list, "v", "vec_id", k=5, m=8,
                         ef_construction=48, ef_search=32,
                         partitions=2).collect()
    assert sorted(map(tuple, got.itertuples(index=False))) == \
           sorted((r.query_id, r.id, r.score, r.rank) for r in via_list)


def test_subshard_chunking_bounds_build_and_stays_exact(spark, tmp_path):
    """max_shard_rows splits a partition into id-ordered subshard graphs:
    the persisted store carries multiple part_ids per build partition,
    exhaustive serving stays exactly brute force, and the graph path's
    live/store twins agree at the same chunk size."""
    from rassengine_spark.llmops.hnsw import (hnsw_topk_from_store,
                                              save_hnsw_index)
    corpus, qs = _clustered(spark), _queries(spark)
    path = str(tmp_path / "hnsw_chunked")
    save_hnsw_index(corpus, "v", "vec_id", path, m=8, ef_construction=48,
                    partitions=2, max_shard_rows=16)
    parts = {r.part_id for r in
             spark.read.parquet(path).select("part_id").distinct().collect()}
    assert len(parts) > 2          # 2 build partitions, >16 rows each
    bf = brute_force_topk(corpus, qs, "v", "vec_id", "qid", k=5).collect()
    stored = hnsw_topk_from_store(spark, path, qs, "v", "qid", k=5,
                                  ef_search=10 ** 6).collect()
    assert [(r.query_id, r.id, r.score, r.rank) for r in stored] == \
           [(r.query_id, r.id, r.score, r.rank) for r in bf]
    live = hnsw_topk(corpus, qs, "v", "vec_id", "qid", k=5, m=8,
                     ef_construction=48, ef_search=8, partitions=2,
                     max_shard_rows=16).collect()
    graph = hnsw_topk_from_store(spark, path, qs, "v", "qid", k=5,
                                 ef_search=8).collect()
    assert sorted((r.query_id, r.id, r.score, r.rank) for r in live) == \
           sorted((r.query_id, r.id, r.score, r.rank) for r in graph)


def test_append_hnsw_index_segments(spark, tmp_path):
    """Appended vectors become new shard graphs (Lucene-segment pattern):
    exhaustive serving over the appended store equals exact top-k over
    the full corpus, and historical shard files are untouched."""
    import os

    import numpy as np
    from pyspark.sql import functions as F

    from rassengine_spark.llmops.hnsw import (append_hnsw_index,
                                              hnsw_topk_from_store_df,
                                              save_hnsw_index)
    from rassengine_spark.llmops.similarity import brute_force_topk

    rng = np.random.RandomState(11)
    rows = [(i, [float(x) for x in rng.rand(8)]) for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    first = df.filter(F.col("vec_id") < 60)
    rest = df.filter(F.col("vec_id") >= 60)
    path = str(tmp_path / "hnsw")
    save_hnsw_index(first, "v", "vec_id", path, partitions=2)

    def _snap(p):
        out = {}
        for dp, _, names in os.walk(p):
            for n in names:
                fp = os.path.join(dp, n)
                st = os.stat(fp)
                out[fp] = (st.st_mtime_ns, st.st_size)
        return out

    before = {p: s for p, s in _snap(path).items()
              if "part_id=" in p}
    append_hnsw_index(rest, "v", "vec_id", path, partitions=2)
    after = _snap(path)
    for p, sig in before.items():
        assert after.get(p) == sig, f"historical shard rewritten: {p}"
    parts = {r.part_id for r in spark.read.parquet(path)
             .select("part_id").distinct().collect()}
    assert len(parts) == 4

    qs = df.filter(F.col("vec_id") < 3) \
           .select(F.col("vec_id").alias("qid"), F.col("v"))
    got = hnsw_topk_from_store_df(spark, path, qs, "v", "qid", k=5,
                                  ef_search=10 ** 9)
    want = brute_force_topk(df, qs, "v", "vec_id", "qid", k=5)
    g = {(r.query_id, r.rank): (r.id, r.score) for r in got.collect()}
    w = {(r.query_id, r.rank): (r.id, r.score) for r in want.collect()}
    assert g == w


def test_compact_hnsw_store_preserves_serving(spark, tmp_path):
    """Compaction rebuilds one fresh shard generation from the store's
    own vectors and swaps it in: exhaustive serving identical before and
    after, the appended generation's part_ids fold back into the
    save-time layout, and no backup/tmp siblings remain."""
    import os

    from rassengine_spark.llmops.hnsw import (_SUBSHARD_STRIDE,
                                              append_hnsw_index,
                                              compact_hnsw_store,
                                              hnsw_topk_from_store_df,
                                              save_hnsw_index)
    corpus, qs = _clustered(spark), _queries(spark)
    path = str(tmp_path / "g")
    first = corpus.filter(F.col("vec_id") < 120)
    rest = corpus.filter(F.col("vec_id") >= 120)
    save_hnsw_index(first, "v", "vec_id", path, partitions=2)
    append_hnsw_index(rest, "v", "vec_id", path, partitions=2)

    def part_ids():
        return {r.part_id for r in spark.read.parquet(path)
                .select("part_id").distinct().collect()}

    # part_id = offset + build partition * stride (one subshard each):
    # the save writes {0, S}; the append continues at offset S + 1
    s = _SUBSHARD_STRIDE
    assert part_ids() == {0, s, s + 1, 2 * s + 1}
    before = hnsw_topk_from_store_df(spark, path, qs, "v", "qid", k=5,
                                     ef_search=10 ** 6).collect()
    compact_hnsw_store(spark, path, partitions=2)
    after = hnsw_topk_from_store_df(spark, path, qs, "v", "qid", k=5,
                                    ef_search=10 ** 6).collect()
    key = lambda rows: [(r.query_id, r.id, r.score, r.rank) for r in rows]
    assert key(after) == key(before)
    assert part_ids() == {0, s}            # one generation, offset 0
    assert not os.path.exists(path + ".__fold_bak")
    assert not os.path.exists(path + ".__fold_tmp")


def test_df_overload_requires_explicit_partitions_and_qid(spark):
    """The DataFrame overload must refuse defaulted partitions /
    query_id_col with a clear ValueError (ADVICE r07): with partitions
    unset the closure path shards by scan layout while the cogroup path
    buckets by pmod(hash, defaultParallelism) — silently different
    graphs; and a None query_id_col used to die deep inside F.col(None)."""
    import pytest

    corpus, qs = _clustered(spark), _queries(spark)
    with pytest.raises(ValueError, match="partitions"):
        hnsw_topk(corpus, qs, "v", "vec_id", "qid", k=3, ef_search=8)
    with pytest.raises(ValueError, match="query_id_col"):
        hnsw_topk(corpus, qs, "v", "vec_id", k=3, ef_search=8,
                  partitions=2)
