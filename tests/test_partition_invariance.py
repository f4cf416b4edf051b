"""Partition-invariance: contract queries must return identical result
SETS when the shuffle partition count changes — the property that makes
results reproducible when a job moves from 32 cores to a 1000-executor
cluster. Exercises the entries whose plans lean on hashing, windows,
Arrow passes, and decimal aggregation."""

import pytest

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"

# a representative slice: hash-split assignment, LSH banding, sequence
# packing, window collapse, decimal money sums, rollup, term-index BM25
QUERIES = [
    "split_hash_assign",
    "dedup_minhash_lsh",
    "pack_sequences",
    "q12_collapse_best_per_key",
    "tpch_q1_pricing",
    "bm25_batch_ranked",
    "events_funnel",
    # ordered-fold scores and cluster-keyed splits must also be
    # partitioning-independent:
    "text_lm_score",
    "bm25_index_ranked",
    "split_leakage_safe",
    # round-3 late ops: span stats, sharded batch windows, heavy-hitter
    # top-k:
    "text_span_dedup",
    "split_length_buckets",
    "text_top_ngrams",
    # round-4 ops: posting-cap window, cell-blocked gram matrices,
    # integer micro-ratio sums, spanning-forest fold sequences:
    "dedup_ngram_jaccard_capped",
    "dedup_embedding_cosine_cells",
    "split_dsir_weights",
    # spanning-forest fold sequence (FOLD_TWINS), invariance-pinned
    # through its callable:
    "dedup_cluster_store_merge",
]


def _query_fn(name):
    qs = entry.queries()
    if name in qs:
        return qs[name]
    from tests.test_fold_twin_parity import RETIRED_CALLABLES
    return RETIRED_CALLABLES[name]


def _rows(df):
    return sorted(
        tuple("" if v is None else str(v) for v in r) for r in df.collect())


def _evict_prepared_store(name):
    """Force lifecycle entries to REBUILD their store on the next call:
    _prepared_store caches per (name, sf_dir, pid), so without eviction
    the second invocation below would read the store built under the
    FIRST partition setting and the build-side fold sequence would never
    re-execute under the alternate partitioning (ADVICE r08) — the test
    would largely compare a parquet read to itself."""
    for k in [k for k in entry._PREPARED_STORES if k[0] == name]:
        del entry._PREPARED_STORES[k]


@pytest.mark.parametrize("name", QUERIES)
def test_result_set_invariant_under_shuffle_partitions(spark, name):
    q = _query_fn(name)
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "32")
        _evict_prepared_store(name)
        base = _rows(q(spark, SF))
        spark.conf.set(key, "5")
        _evict_prepared_store(name)
        alt = _rows(q(spark, SF))
    finally:
        spark.conf.set(key, old)
    assert base == alt
