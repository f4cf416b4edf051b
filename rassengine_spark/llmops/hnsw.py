"""Per-partition HNSW graph ANN — the engine's one ANN scorer, with the
same (corpus, queries) -> (query_id, id, score, rank) signature as its
exact reference ``similarity.brute_force_topk``.

This mirrors the reference's retrieval architecture exactly: OpenSearch
builds one HNSW graph PER SHARD (nmslib, m=48, ef_construction=400 —
reference app/main.py:563-572) and the coordinator merges per-shard top-k.
Here the "shard" is a Spark partition: each partition builds an in-memory
HNSW graph over its vectors inside one ``mapInPandas`` pass (Arrow-batched),
searches every query against it, emits its local top-k, and a final
per-query window rank merges the partition results — the coordinator step.

Scale shape: graph build is O(n_part * ef_construction) distance ops, fully
parallel across partitions, no shuffle; the merge handles only
P x Q x k rows. Query fan-out is a driver-side literal (queries are small,
like every other ANN tier here). At 100 TB, partition count follows data
size so each graph stays in executor memory.

Determinism: insertion follows Arrow batch order, node levels come from
md5(id) (no RNG), and final candidate scores are recomputed with the same
left-to-right float64 accumulation as ``functions.vector.cosine`` /
DuckDB's ``list_dot_product`` — so when ``ef_search >= partition size``
(beam covers the whole graph) results are bit-identical to exact kNN and
oracle-checkable. Realistic ``ef_search`` trades recall for speed; the
recall floor is unit-tested, matching the reference's treatment of HNSW
as a recall/latency operating point rather than exact semantics.

Pure-Python/numpy graph (no native ANN lib in the runtime); hnswlib can
drop in per-partition behind the same signature when available.
"""

from __future__ import annotations

import hashlib
import heapq
import math
import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _per_query_topk(scored: DataFrame, k: int) -> DataFrame:
    """The coordinator merge: per-query window rank by (score desc, id
    asc), cut at k — shared with the exact reference."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k))


def _level_of(key: str, m_l: float) -> int:
    """Deterministic HNSW level: md5-uniform in (0,1] -> geometric."""
    u = (int(hashlib.md5(key.encode()).hexdigest()[:15], 16) + 1) \
        / float(1 << 60)
    return int(-math.log(u) * m_l)


def _cos_exact(a: list[float], b: list[float]) -> float:
    """Cosine with left-to-right float64 accumulation — bit-identical to
    functions.vector.cosine (Spark aggregate) and DuckDB list arithmetic."""
    d = 0.0
    for x, y in zip(a, b):
        d += x * y
    na = 0.0
    for x in a:
        na += x * x
    nb = 0.0
    for y in b:
        nb += y * y
    return d / (math.sqrt(na) * math.sqrt(nb) + 1e-9)


def _cos_exact_rows(mat: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Row-batched twin of _cos_exact: out[i] == _cos_exact(mat[i], q)
    BIT-FOR-BIT. The j-loop walks elements in the same left-to-right
    order as the scalar fold, accumulating element j into every row's
    accumulator at once — each numpy element-wise op is one IEEE double
    op per row, so the per-row operation sequence is identical to the
    scalar loop's. (A gemv `mat @ q` would re-associate the sum and can
    drift in the last ulp — that is why this steps columns instead of
    calling BLAS; the serve-path exactness suites in tests/test_hnsw.py
    pin the equality.) Vectorizing ACROSS rows is the r09 kernel fix:
    the scalar rescore loop was O(rows·dim) interpreted Python per
    query."""
    dot = np.zeros(len(mat))
    na = np.zeros(len(mat))
    nb = 0.0
    for j in range(mat.shape[1]):
        col = mat[:, j]
        qj = q[j]
        dot += col * qj
        na += col * col
        nb += qj * qj
    return dot / (np.sqrt(na) * math.sqrt(nb) + 1e-9)


class _HNSW:
    """Compact in-memory HNSW over normalized vectors (cosine == dot).

    Vectors live in ONE row-major float64 matrix (grown geometrically):
    every inner-loop similarity is a batched BLAS matvec over the
    adjacency/candidate id list instead of per-neighbor np.dot calls —
    the Python-call overhead, not the flops, dominated the graph build at
    m=48/ef_construction=400 (~2-3x build speedup). Graph DECISIONS may
    differ from the per-dot version in the last ulp (dgemv vs ddot
    association), which only shapes the graph; served scores are always
    rescored with the engine-exact fold on the raw vectors
    (_shard_topk)."""

    def __init__(self, m: int = 8, ef_construction: int = 64):
        self.m = m
        self.efc = ef_construction
        self.m_l = 1.0 / math.log(max(m, 2))
        self._mat: np.ndarray | None = None
        self._n = 0
        self.adj: list[dict[int, list[int]]] = []
        self.entry = -1
        self.max_level = -1

    def set_vectors(self, mat: np.ndarray) -> None:
        """Adopt an already-normalized vector matrix (store reopen path)."""
        self._mat = np.ascontiguousarray(mat, dtype=np.float64)
        self._n = len(self._mat)

    def _append(self, vec: np.ndarray) -> int:
        if self._mat is None:
            self._mat = np.empty((16, len(vec)), dtype=np.float64)
        elif self._n >= len(self._mat):
            grown = np.empty((2 * len(self._mat), self._mat.shape[1]),
                             dtype=np.float64)
            grown[:self._n] = self._mat[:self._n]
            self._mat = grown
        self._mat[self._n] = vec
        self._n += 1
        return self._n - 1

    def _search_layer(self, q: np.ndarray, entries: list[int], ef: int,
                      layer: int) -> list[tuple[float, int]]:
        """Beam search: returns [(sim, node)] best-first, len <= ef."""
        visited = set(entries)
        sims_e = (self._mat[entries] @ q).tolist()
        cand = [(-s, e) for s, e in zip(sims_e, entries)]
        heapq.heapify(cand)
        result = list(zip(sims_e, entries))
        heapq.heapify(result)            # min-heap: worst of the best first
        while cand:
            neg_s, c = heapq.heappop(cand)
            if len(result) >= ef and -neg_s < result[0][0]:
                break                    # best candidate worse than beam tail
            nbs = [nb for nb in self.adj[c].get(layer, ())
                   if nb not in visited]
            if not nbs:
                continue
            visited.update(nbs)
            sims = (self._mat[nbs] @ q).tolist()
            for s, nb in zip(sims, nbs):
                if len(result) < ef or s > result[0][0]:
                    heapq.heappush(cand, (-s, nb))
                    heapq.heappush(result, (s, nb))
                    if len(result) > ef:
                        heapq.heappop(result)
        return sorted(result, key=lambda t: (-t[0], t[1]))

    def _select_neighbors(self, cands: list[tuple[float, int]],
                          m: int) -> list[int]:
        """Malkov's diversity heuristic (HNSW paper alg. 4): keep a
        candidate only if it is closer to the query node than to any
        already-chosen neighbor — this preserves bridges between clusters
        that plain nearest-m pruning severs (and without it, recall
        collapses on clustered data). Skipped candidates backfill if the
        diverse set comes up short (keepPrunedConnections)."""
        chosen: list[int] = []
        mat = self._mat
        # chosen vectors live in ONE contiguous buffer so the per-candidate
        # diversity test is a single gemv over a slice view (B[:k] @ vn) —
        # profiling showed the per-pair np.dot genexpr here was ~55% of the
        # whole graph build at m=48/ef_construction=400
        B = np.empty((m, mat.shape[1]), dtype=np.float64)
        k = 0
        for s, n in cands:
            vn = mat[n]
            if k == 0 or bool((B[:k] @ vn <= s).all()):
                chosen.append(n)
                B[k] = vn
                k += 1
                if k >= m:
                    return chosen
        for _, n in cands:
            if n not in chosen:
                chosen.append(n)
                if len(chosen) >= m:
                    break
        return chosen

    def add(self, vec: np.ndarray, key: str) -> None:
        idx = self._append(vec)
        lvl = _level_of(key, self.m_l)
        self.adj.append({})
        if self.entry < 0:
            self.entry, self.max_level = idx, lvl
            return
        cur = [self.entry]
        for layer in range(self.max_level, lvl, -1):
            cur = [self._search_layer(vec, cur, 1, layer)[0][1]]
        for layer in range(min(lvl, self.max_level), -1, -1):
            cands = self._search_layer(vec, cur, self.efc, layer)
            m_max = self.m * 2 if layer == 0 else self.m
            nbrs = self._select_neighbors(cands, self.m)
            self.adj[idx][layer] = list(nbrs)
            for n in nbrs:               # bidirectional, pruned to m_max
                lst = self.adj[n].setdefault(layer, [])
                lst.append(idx)
                # amortized prune: let a list overshoot m_max by 25%
                # before re-running the diversity heuristic (which is the
                # build's dominant cost) — degree stays O(m_max), popular
                # nodes re-select 4x less often, search quality is
                # unchanged-to-better (a few extra temporary edges)
                if len(lst) > m_max + (m_max >> 2):
                    sims = (self._mat[lst] @ self._mat[n]).tolist()
                    ncands = sorted(zip(sims, lst),
                                    key=lambda t: (-t[0], t[1]))
                    self.adj[n][layer] = self._select_neighbors(
                        ncands, m_max)
            cur = [n for _, n in cands] or cur
        if lvl > self.max_level:
            self.entry, self.max_level = idx, lvl

    def search(self, q: np.ndarray, ef: int) -> list[int]:
        if self.entry < 0:
            return []
        cur = [self.entry]
        for layer in range(self.max_level, 0, -1):
            cur = [self._search_layer(q, cur, 1, layer)[0][1]]
        return [n for _, n in self._search_layer(q, cur, ef, 0)]


def _shard_topk(ids, mat: np.ndarray, g: "_HNSW | None",
                qs: list[tuple[int, list[float]]], k: int,
                ef_search: int) -> tuple[list[int], list[int], list[float]]:
    """Per-shard scoring shared by the live and persisted paths:
    g=None => exact local scan (the degenerate/oracle mode); else beam
    search over the graph, candidates rescored with the engine-exact
    cosine on the RAW vectors (`mat`, row-major float64). One
    implementation keeps the two paths bit-identical by construction.
    r09: rescoring is _cos_exact_rows (same fold, batched across rows)
    and the top-k cut is one lexsort on (-score, id) — the exact
    (score desc, id asc) order the old per-row sorted((s, -i)) computed:
    bit-equal doubles compare equal under both, so ties still break on
    the ascending id."""
    out_q: list[int] = []
    out_i: list[int] = []
    out_s: list[float] = []
    ids = np.asarray(ids, dtype=np.int64)
    mat = np.asarray(mat, dtype=np.float64)
    for qid, qv in qs:
        qarr = np.asarray(qv, dtype=np.float64)
        if g is None:
            c_ids, c_mat = ids, mat
        else:
            qn = qarr / (np.linalg.norm(qarr) + 1e-12)
            cand = g.search(qn, max(ef_search, k))
            c_ids = ids[cand]
            c_mat = mat[cand]
        if not len(c_ids):
            continue
        sims = _cos_exact_rows(c_mat, qarr)
        top = np.lexsort((c_ids, -sims))[:k]
        out_q.extend([qid] * len(top))
        out_i.extend(int(i) for i in c_ids[top])
        out_s.extend(float(s) for s in sims[top])
    return out_q, out_i, out_s


# HNSW graph build is superlinear in shard size (each insert beam-searches
# the shard built so far), so every build path chunks its partition into
# subshards of at most this many rows: per-task cost stays LINEAR in the
# partition's rows no matter how the corpus grows, with no eager count()
# to pre-derive a partition number (the round-5 probe measured the
# unchunked build 1.67x of linear at 30x — this is the fix).
MAX_SHARD_ROWS = 4096


def _shard_chunks(ids, mat, max_shard_rows: int):
    """Deterministic subshards: consecutive id-order slices of at most
    max_shard_rows rows (callers sort by id first, so composition depends
    only on the ids in the partition). Works on ndarrays (views) and
    lists alike."""
    for lo in range(0, len(ids), max_shard_rows):
        yield ids[lo:lo + max_shard_rows], mat[lo:lo + max_shard_rows]


def _build_and_search_shard(ids: np.ndarray, mat: np.ndarray,
                            qs: list[tuple[int, list[float]]], k: int,
                            m: int, ef_construction: int, ef_search: int,
                            max_shard_rows: int
                            ) -> tuple[list[int], list[int], list[float]]:
    """One shard's full live pass (chunk -> build -> search), shared by
    the collect-free cogroup path and the bounded-list closure path so
    the two are bit-identical by construction. `mat` is the shard's raw
    vectors as one row-major float64 matrix (r09: the per-row
    list-of-floats conversions were pure interpreted-Python overhead;
    the double values are identical either way)."""
    out_q: list[int] = []
    out_i: list[int] = []
    out_s: list[float] = []
    if ef_search >= len(ids):
        chunks = [(ids, mat)]       # exhaustive degenerate mode: one scan
    else:
        chunks = _shard_chunks(ids, mat, max_shard_rows)
    for c_ids, c_mat in chunks:
        if ef_search >= len(c_ids):
            g = None                # exact scan of this subshard
        else:
            normed = c_mat / (np.linalg.norm(c_mat, axis=1,
                                             keepdims=True) + 1e-12)
            g = _HNSW(m=m, ef_construction=ef_construction)
            for row, ident in zip(normed, c_ids):
                g.add(row, str(ident))
        cq, ci, cs = _shard_topk(c_ids, c_mat, g, qs, k, ef_search)
        out_q.extend(cq), out_i.extend(ci), out_s.extend(cs)
    return out_q, out_i, out_s


def hnsw_topk(corpus: DataFrame, queries, vec_col: str,
              id_col: str, query_id_col: str | None = None, k: int = 5,
              m: int = 8, ef_construction: int = 64, ef_search: int = 32,
              partitions: int | None = None,
              round_to: int | None = 6,
              max_shard_rows: int = MAX_SHARD_ROWS) -> DataFrame:
    """Sharded-HNSW approximate top-k. ``ef_search >= shard size``
    degenerates to an exact per-shard scan (same results as
    brute_force_topk, bit-exact — the oracle mode); realistic ef_search
    takes the graph path. Shards larger than ``max_shard_rows`` are
    split into id-ordered subshards before the build, so graph-build cost
    is linear in corpus size at any fixed shard count (each insert
    only searches its own bounded subshard); every subshard is searched
    and the global window merge picks the final top-k.

    A query DATAFRAME routes through the collect-free cogroup path
    (mirroring hnsw_topk_from_store's dispatch): the query table is
    replicated per shard with a broadcast cross-join and never passes
    through the driver, so it can be unbounded (a stream's micro-batch,
    a query log). The DataFrame overload REQUIRES explicit
    ``query_id_col`` and ``partitions``: with partitions left to
    default, the closure path would shard by the scan's natural layout
    while the cogroup path buckets by pmod(hash(id), defaultParallelism)
    — different graphs, so the two overloads only score identically
    when the shard count is pinned by the caller. Pass an explicit
    bounded list of (query_id, vector) pairs for the closure-broadcast
    overload — the only form that ships queries through the driver, by
    construction already driver-sized (the reference's online
    single-query kNN, app/main.py:1527-1560).
    Returns (query_id, id, score, rank)."""
    if isinstance(queries, DataFrame):
        if query_id_col is None:
            raise ValueError(
                "hnsw_topk: a query DataFrame requires query_id_col "
                "(the column naming each query)")
        if not partitions:
            raise ValueError(
                "hnsw_topk: a query DataFrame requires an explicit "
                "partitions count — shard composition (and therefore "
                "approximate scores) must be pinned by the caller, not "
                "inherited from defaultParallelism, for parity with the "
                "list overload and with save_hnsw_index builds")
        return _hnsw_topk_df(corpus, queries, vec_col, id_col,
                             query_id_col, k=k, m=m,
                             ef_construction=ef_construction,
                             ef_search=ef_search, partitions=partitions,
                             round_to=round_to,
                             max_shard_rows=max_shard_rows)
    qs = [(int(q), [float(x) for x in v]) for q, v in queries]
    c = corpus.select(F.col(id_col).cast("long").alias("id"),
                      F.col(vec_col).alias("v"))
    if partitions:
        # hash-partition on id + in-shard id order: shard COMPOSITION and
        # INSERTION order depend only on the ids, never on the scan's
        # input-split layout — the same corpus builds the same graphs on
        # any machine (a bare round-robin repartition does not)
        c = c.repartition(partitions, F.col("id")) \
             .sortWithinPartitions("id")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        id_parts: list[np.ndarray] = []
        mats: list[np.ndarray] = []
        for pdf in batches:
            if len(pdf):
                id_parts.append(pdf["id"].to_numpy(dtype=np.int64))
                mats.append(np.array(pdf["v"].tolist(), dtype=np.float64))
        if not id_parts:
            return
        out_q, out_i, out_s = _build_and_search_shard(
            np.concatenate(id_parts), np.vstack(mats), qs, k, m,
            ef_construction, ef_search, max_shard_rows)
        yield pd.DataFrame({"query_id": pd.Series(out_q, dtype="int64"),
                            "id": pd.Series(out_i, dtype="int64"),
                            "score": pd.Series(out_s, dtype="float64")})

    res = c.mapInPandas(run, "query_id bigint, id bigint, score double")
    if round_to is not None:
        res = res.withColumn("score", F.round("score", round_to))
    return _per_query_topk(res, k).select("query_id", "id", "score", "rank")


def _hnsw_topk_df(corpus: DataFrame, queries: DataFrame, vec_col: str,
                  id_col: str, query_id_col: str, k: int, m: int,
                  ef_construction: int, ef_search: int,
                  partitions: int | None, round_to: int | None,
                  max_shard_rows: int) -> DataFrame:
    """Collect-free live path: the shard key is pmod(hash(id), P) — the
    EXACT assignment `repartition(P, col("id"))` computes (HashPartitioning
    = pmod(murmur3(id), P), same seed), so shard composition (and hence
    every graph and every served score) is identical to the closure path
    and to save_hnsw_index's builds. Queries replicate per shard via a
    broadcast cross-join with the P-row shard-id range and meet their
    shard's corpus rows in one cogroup — no driver collect on either
    side."""
    spark = corpus.sparkSession
    P = int(partitions or spark.sparkContext.defaultParallelism)
    c = (corpus.select(F.col(id_col).cast("long").alias("id"),
                       F.col(vec_col).alias("v"))
         .withColumn("part", F.pmod(F.hash(F.col("id")), F.lit(P))))
    qrep = (queries.select(F.col(query_id_col).cast("long").alias("qid"),
                           F.col(vec_col).alias("qv"))
            .crossJoin(F.broadcast(
                spark.range(P).select(F.col("id").cast("int")
                                      .alias("part")))))

    def search(key, c_pdf: pd.DataFrame, q_pdf: pd.DataFrame
               ) -> pd.DataFrame:
        empty = pd.DataFrame({"query_id": pd.Series([], dtype="int64"),
                              "id": pd.Series([], dtype="int64"),
                              "score": pd.Series([], dtype="float64")})
        if not len(c_pdf) or not len(q_pdf):
            return empty
        c_pdf = c_pdf.sort_values("id")     # == sortWithinPartitions("id")
        ids = c_pdf["id"].to_numpy(dtype=np.int64)
        mat = np.array(c_pdf["v"].tolist(), dtype=np.float64)
        qs = [(int(r.qid), [float(x) for x in r.qv])
              for r in q_pdf.itertuples()]
        out_q, out_i, out_s = _build_and_search_shard(
            ids, mat, qs, k, m, ef_construction, ef_search,
            max_shard_rows)
        return pd.DataFrame({"query_id": pd.Series(out_q, dtype="int64"),
                             "id": pd.Series(out_i, dtype="int64"),
                             "score": pd.Series(out_s, dtype="float64")})

    res = (c.groupBy("part")
           .cogroup(qrep.groupBy("part"))
           .applyInPandas(search,
                          "query_id bigint, id bigint, score double"))
    if round_to is not None:
        res = res.withColumn("score", F.round("score", round_to))
    return _per_query_topk(res, k).select("query_id", "id", "score", "rank")


# ------------------------------------------------------- persisted graphs
# The reference PERSISTS its HNSW graphs (OpenSearch index on disk,
# app/main.py:563-572) — serving reopens them instead of re-running the
# O(n x ef_construction) build. The Spark analog: one build pass serializes
# each partition's graph (node vectors + per-layer adjacency + entry
# point) into a part_id-partitioned table; serving reconstructs the graphs
# with ZERO distance computations and searches them in an applyInPandas
# group pass. Adjacency is a JSON string per node — portable through
# Arrow, deterministic (sorted keys), and tiny next to the vectors.


# chunks-per-partition headroom for subshard part_ids: a build partition
# may split into at most this many MAX_SHARD_ROWS subshards (~4.2M rows
# per build partition); part_id = offset + base_partition * stride + chunk
# stays unique within a generation and every generation's ids sit above
# the previous max, so append's offset = max+1 contract is preserved.
_SUBSHARD_STRIDE = 1024

# one row per graph node; part_id is the directory partition. Reads pass
# it explicitly, so opening the store infers nothing from parquet footers
# (schema inference is a Spark job per read).
_STORE_SCHEMA = ("part_id bigint, node bigint, id bigint, v array<double>, "
                 "adj string, entry bigint, max_level int")


def _read_store(spark, path: str) -> DataFrame:
    return spark.read.schema(_STORE_SCHEMA).parquet(path)


def save_hnsw_index(corpus: DataFrame, vec_col: str, id_col: str,
                    path: str, m: int = 8, ef_construction: int = 64,
                    partitions: int | None = None,
                    max_shard_rows: int = MAX_SHARD_ROWS) -> None:
    """Build per-partition HNSW graphs once and write them to `path`,
    partitioned by part_id (each shard's graph is one partition directory,
    read back whole by exactly one task). Partitions larger than
    MAX_SHARD_ROWS split into id-ordered subshards, each its own part_id —
    build cost stays linear in corpus size at any partition count."""
    _build_and_write_graphs(corpus, vec_col, id_col, path, m,
                            ef_construction, partitions,
                            mode="overwrite", part_offset=0,
                            max_shard_rows=max_shard_rows)


def append_hnsw_index(new_corpus: DataFrame, vec_col: str, id_col: str,
                      path: str, m: int = 8, ef_construction: int = 64,
                      partitions: int | None = None,
                      max_shard_rows: int = MAX_SHARD_ROWS) -> None:
    """Incrementally index NEW vectors into an existing HNSW store: they
    become NEW shard graphs whose part_ids continue after the existing
    ones — the Lucene-segment pattern the reference's OpenSearch index
    follows (app/main.py:563-572): historical graphs are immutable (an
    HNSW graph cannot cheaply absorb inserts without rebuilding its
    neighborhoods), serving merges across all shards, and a periodic
    full save_hnsw_index plays the role of segment compaction when the
    shard count grows. Use the same m/ef_construction operating point as
    the original build — quality knobs are per-shard."""
    offset = max(_store_part_ids(_read_store(new_corpus.sparkSession,
                                             path))) + 1
    _build_and_write_graphs(new_corpus, vec_col, id_col, path, m,
                            ef_construction, partitions,
                            mode="append", part_offset=offset,
                            max_shard_rows=max_shard_rows)


def compact_hnsw_store(spark, path: str, m: int = 8,
                       ef_construction: int = 64,
                       partitions: int | None = None,
                       max_shard_rows: int = MAX_SHARD_ROWS) -> None:
    """Segment compaction for an appended HNSW store: rebuild
    ONE fresh generation of shard graphs from the store's own vectors
    (the store carries raw `v`, so no corpus re-read) and swap it in
    crash-safely (util.swap_commit_dir: a failure mid-rebuild leaves the
    serving store untouched). Resets the part_id namespace — run it when
    the shard count has grown past the serving sweet spot, the role the
    reference's index merge plays (app/main.py:563-572). Single writer,
    like every fold store."""
    from ..util import swap_commit_dir

    vecs = (_read_store(spark, path).select("id", "v")
            .localCheckpoint(eager=False))

    def rebuild(tmp_p: str) -> None:
        _build_and_write_graphs(vecs, "v", "id", tmp_p, m,
                                ef_construction, partitions,
                                mode="overwrite", part_offset=0,
                                max_shard_rows=max_shard_rows)

    swap_commit_dir(rebuild, path)


def _build_and_write_graphs(corpus: DataFrame, vec_col: str, id_col: str,
                            path: str, m: int, ef_construction: int,
                            partitions: int | None, mode: str,
                            part_offset: int,
                            max_shard_rows: int = MAX_SHARD_ROWS) -> None:
    import json

    c = corpus.select(F.col(id_col).cast("long").alias("id"),
                      F.col(vec_col).alias("v"))
    if partitions:
        # deterministic shards + insertion order (see hnsw_topk)
        c = c.repartition(partitions, F.col("id")) \
             .sortWithinPartitions("id")
    c = c.withColumn("base_part", F.spark_partition_id())

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        id_parts: list[np.ndarray] = []
        mats: list[np.ndarray] = []
        base = -1
        for pdf in batches:
            if len(pdf):
                if base < 0:
                    base = int(pdf["base_part"].iloc[0])
                id_parts.append(pdf["id"].to_numpy(dtype=np.int64))
                mats.append(np.array(pdf["v"].tolist(), dtype=np.float64))
        if not id_parts:
            return
        ids = np.concatenate(id_parts)
        mat_all = np.vstack(mats)
        for chunk, (c_ids, c_mat) in enumerate(
                _shard_chunks(ids, mat_all, max_shard_rows)):
            part = part_offset + base * _SUBSHARD_STRIDE + chunk
            normed = c_mat / (np.linalg.norm(c_mat, axis=1,
                                             keepdims=True) + 1e-12)
            g = _HNSW(m=m, ef_construction=ef_construction)
            for row, ident in zip(normed, c_ids):
                g.add(row, str(ident))
            yield pd.DataFrame({
                "part_id": pd.Series([part] * len(c_ids), dtype="int64"),
                "node": pd.Series(range(len(c_ids)), dtype="int64"),
                "id": pd.Series(c_ids, dtype="int64"),
                # rows of the float64 matrix serialize through Arrow as
                # the same list<double> values the old list-of-lists did
                "v": pd.Series(list(c_mat), dtype="object"),
                "adj": pd.Series(
                    [json.dumps({str(l): nbrs
                                 for l, nbrs in sorted(g.adj[i].items())})
                     for i in range(len(c_ids))], dtype="object"),
                "entry": pd.Series([g.entry] * len(c_ids), dtype="int64"),
                "max_level": pd.Series([g.max_level] * len(c_ids),
                                       dtype="int32"),
            })

    out = c.mapInPandas(build, _STORE_SCHEMA)
    out.write.partitionBy("part_id").mode(mode).parquet(path)


def _store_part_ids(graphs: DataFrame) -> list[int]:
    """The store's shard ids, from the relation's file listing (the
    `part_id=N` directory of every data file): the listing is made when
    the store is opened, so this runs no Spark job."""
    return sorted({int(m.group(1)) for f in graphs.inputFiles()
                   for m in [re.search(r"/part_id=(\d+)/", f)] if m})


def hnsw_topk_from_store_df(spark, path: str, queries: DataFrame,
                            vec_col: str, query_id_col: str, k: int = 5,
                            ef_search: int = 32,
                            round_to: int | None = 6) -> DataFrame:
    """Serve the persisted graphs against a query DATAFRAME — no driver
    collect, so the query side can be unbounded (a stream's micro-batch,
    a query log). Each shard must see every query: each query row is
    replicated onto every shard by exploding the literal array of the
    store's shard ids, read from the store's file listing (Q x P rows of
    (id, vector) — the standard scatter for shard-local indexes), then a
    cogroup pairs each shard's graph rows with its query copy and one
    applyInPandas searches them together. The store is read once. Result
    merge is the usual per-query window rank."""
    graphs = _read_store(spark, path)
    parts = F.array(*[F.lit(p) for p in _store_part_ids(graphs)])
    qrep = queries.select(F.col(query_id_col).cast("long").alias("qid"),
                          F.col(vec_col).alias("qv"),
                          F.explode(parts.cast("array<bigint>"))
                          .alias("part_id"))

    def search(key, g_pdf: pd.DataFrame, q_pdf: pd.DataFrame
               ) -> pd.DataFrame:
        qs = [(int(r.qid), [float(x) for x in r.qv])
              for r in q_pdf.itertuples()]
        if not len(g_pdf) or not qs:
            return pd.DataFrame({"query_id": pd.Series([], dtype="int64"),
                                 "id": pd.Series([], dtype="int64"),
                                 "score": pd.Series([], dtype="float64")})
        out_q, out_i, out_s = _shard_topk(
            *_reconstruct(g_pdf, ef_search), qs, k, ef_search)
        return pd.DataFrame({"query_id": pd.Series(out_q, dtype="int64"),
                             "id": pd.Series(out_i, dtype="int64"),
                             "score": pd.Series(out_s, dtype="float64")})

    res = (graphs.groupBy("part_id")
           .cogroup(qrep.groupBy("part_id"))
           .applyInPandas(search,
                          "query_id bigint, id bigint, score double"))
    if round_to is not None:
        res = res.withColumn("score", F.round("score", round_to))
    return _per_query_topk(res, k).select("query_id", "id", "score", "rank")


def _reconstruct(pdf: pd.DataFrame, ef_search: int):
    """(ids, raw-matrix, graph-or-None) from one shard's persisted rows."""
    import json

    pdf = pdf.sort_values("node")
    ids = pdf["id"].to_numpy(dtype=np.int64)
    mat = np.array(pdf["v"].tolist(), dtype=np.float64)
    if ef_search >= len(ids):
        return ids, mat, None
    g = _HNSW()
    g.set_vectors(mat / (np.linalg.norm(mat, axis=1, keepdims=True) + 1e-12))
    g.adj = [{int(l): list(nbrs) for l, nbrs in json.loads(a).items()}
             for a in pdf["adj"]]
    g.entry = int(pdf["entry"].iloc[0])
    g.max_level = int(pdf["max_level"].iloc[0])
    return ids, mat, g


def hnsw_topk_from_store(spark, path: str, queries,
                         vec_col: str | None = None,
                         query_id_col: str | None = None, k: int = 5,
                         ef_search: int = 32,
                         round_to: int | None = 6) -> DataFrame:
    """Serve top-k from the persisted graphs: reconstruct each shard's
    graph (no distance ops), beam-search the query batch, merge shard
    results with the usual per-query window rank. ef_search >= shard size
    degenerates to the exact local scan, same as hnsw_topk.

    Takes a query DATAFRAME (with ``vec_col`` and ``query_id_col``) or a
    bounded list of (query_id, vector) pairs — the online single-query
    kNN form (app/main.py:1527-1560), which becomes a small query frame.
    Both serve through hnsw_topk_from_store_df."""
    if not isinstance(queries, DataFrame):
        queries = spark.createDataFrame(
            [(int(q), [float(x) for x in v]) for q, v in queries],
            "qid bigint, qv array<double>")
        vec_col, query_id_col = "qv", "qid"
    return hnsw_topk_from_store_df(spark, path, queries, vec_col,
                                   query_id_col, k=k, ef_search=ef_search,
                                   round_to=round_to)
