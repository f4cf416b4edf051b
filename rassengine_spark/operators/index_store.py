"""Persisted index tiers: the on-disk analog of the reference's Lucene
inverted index and HNSW vector index (which OpenSearch persists per shard;
the engine's serving processes reopen them instead of rebuilding —
app/main.py:563-572). Spark's equivalent is a partitioned TABLE whose
layout makes query-time scans PRUNE:

- term index  — postings bucketed into `tb = md5(term) % n_buckets`
  partitions. A query's terms map to a handful of buckets, so the scan
  reads |terms| partitions out of n_buckets, never the corpus. Bucketing
  (not one directory per term) keeps the partition count bounded at any
  corpus size — a directory per distinct term is millions of partitions of
  metadata at web scale. The bucket count follows corpus size: about
  _BUCKET_ROWS postings rows (~128 MB, compact_term_index's file target)
  per bucket, capped at _MAX_BUCKETS, so a small store is one directory
  and one file per append instead of hundreds of near-empty ones. md5
  (not xxhash64) so the bucket of a term is computable driver-side
  without a Spark job, and identically in any engine.

The vector tier is the HNSW store (llmops/hnsw.py). Served BM25 is
bit-identical to the index-frame scorer over the same corpus, and the
postings read is partition-pruned (tests/test_index_store.py pins both
against an independent Python BM25, plus PartitionFilters in the plans).
"""

from __future__ import annotations

import hashlib
import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import terms_of
from .inverted_index import (B, K1, bm25_topk_from_index,
                             build_term_index)


# ------------------------------------------------------ metadata cache
# Store METADATA (the term store's one-row n_buckets table) is tiny but
# was re-collected with a 1-row Spark job on EVERY serve/append call —
# extra jobs per online query (VERDICT r07 #3). The reference opens an
# index handle once and reuses it (app/main.py:350-352
# lazy-create-then-reuse); the Spark analog is a per-process cache keyed
# by store path, invalidated by the metadata directory's file
# fingerprint (names + sizes + mtimes — os.stat only, no Spark job), so
# an out-of-band reindex is always picked up.
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


# postings rows per term bucket when save_term_index derives the count:
# at the ~8 bytes a (term, id, tf) row takes in parquet once its ids
# outgrow the column dictionary, a full bucket is about the 128 MB file
# compact_term_index targets
_BUCKET_ROWS = 16 << 20
_MAX_BUCKETS = 256


def save_term_index(postings: DataFrame, doclens: DataFrame,
                    stats: DataFrame, path: str,
                    n_buckets: int | None = None) -> None:
    """Write (postings, doclens, stats) under `path`, postings partitioned
    by term bucket. One repartition on tb so each partition is written by
    one task (no tiny-file explosion: files = n_buckets, not
    n_buckets x tasks). The one-row stats are collected once: they size
    the bucket count when `n_buckets` is None (n_docs x avgdl postings
    rows estimated, _BUCKET_ROWS per bucket, at most _MAX_BUCKETS) and
    are written back from the collected values. The remaining tables are
    independent outputs (nothing reads another's files), so the writes
    run as concurrent jobs — the small jobs back-fill the postings job's
    task tail instead of queueing behind it."""
    from concurrent.futures import ThreadPoolExecutor

    spark = postings.sparkSession
    st = stats.collect()[0]
    n_docs, avgdl = st["n_docs"], st["avgdl"]
    if n_buckets is None:
        est_rows = n_docs * (avgdl or 0.0)
        n_buckets = min(_MAX_BUCKETS,
                        max(1, math.ceil(est_rows / _BUCKET_ROWS)))

    def w_postings() -> None:
        (postings.withColumn("tb", term_bucket_expr("term", n_buckets))
                 .repartition("tb")
                 .write.partitionBy("tb").mode("overwrite")
                 .parquet(f"{path}/postings"))

    def w_doclens() -> None:
        doclens.write.mode("overwrite").parquet(f"{path}/doclens")

    def w_stats() -> None:
        (spark.createDataFrame([(n_docs, avgdl)],
                               "n_docs bigint, avgdl double")
         .write.mode("overwrite").parquet(f"{path}/stats"))

    def w_meta() -> None:
        (spark.createDataFrame([(n_buckets,)], "n_buckets int")
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
        # read back with the appended frame's schema, which is the
        # store's: inferring it from the files is one more Spark job
        (spark.read.schema(doclens.schema).parquet(f"{path}/doclens")
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
    Scores are bit-identical to bm25_topk_from_index over the original
    corpus's index frames. A query with no tokenizable term gets an empty
    (id, score) frame."""
    from ..util import heal_swapped_dir

    heal_swapped_dir(f"{path}/postings")   # a compaction crashed mid-swap
    heal_swapped_dir(f"{path}/doclens")
    n_buckets = cached_store_meta(
        f"{path}/meta",
        lambda: int(spark.read.parquet(f"{path}/meta")
                    .collect()[0]["n_buckets"]))
    buckets = sorted({term_bucket_py(t, n_buckets)
                      for t in terms_of(query)})
    postings = (spark.read.parquet(f"{path}/postings")
                .filter(F.col("tb").isin(buckets))
                .select("term", "id", "tf"))
    doclens = spark.read.parquet(f"{path}/doclens")
    stats = spark.read.parquet(f"{path}/stats")
    return bm25_topk_from_index(postings, doclens, stats, query, k=k,
                                k1=k1, b=b, round_to=round_to)
