"""Corpus-level overlap estimation with KMV (k-minimum-values) sketches
— "how much does corpus A share with corpus B" answered from bounded
per-corpus state, the sketch-tier complement of the pairwise dedup
operators (Bar-Yossef et al. 2002; Beyer et al. SIGMOD'07 for the
distinct estimator and the union/intersection algebra).

A corpus's sketch is the k smallest DISTINCT 60-bit shingle hashes.
Because the hash is uniform, the k-th smallest value h_k estimates the
distinct count as D ~= (k-1) * SPACE / h_k, and the k smallest of
A ∪ B (computable from the two sketches alone) is an unbiased sample
of the union — the fraction of that sample present in both sketches
estimates Jaccard(A, B); the fraction of the A-side members present in
B estimates containment(A in B).

Shapes at 100 TB:

- per-corpus state is k bigints REGARDLESS of corpus size; sketches are
  mergeable (union-then-retop-k == sketch of the union — tested), so
  they fold across partitions, days, or shards like any counter store.
- the k-min selection is `row_number OVER (PARTITION BY corpus ORDER BY
  hash) <= k` after a distinct — Spark's WindowGroupLimit rank-limit
  pushdown keeps only k rows per corpus per partition BEFORE the
  shuffle (the same physical plan tests/test_plans.py asserts for the
  collapse operator), so no corpus ever materializes its full distinct
  set on one node.
- pairwise comparison touches only (n_corpora choose 2) sketch rows —
  driver-scale metadata, never re-reading the corpora.

Hashing is the repo-wide md5-prefix hash60 (bit-identical in DuckDB),
so every estimate is deterministic and oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .dedup import hash60, word_shingles

HASH_SPACE = float(1 << 60)


def kmv_sketch(df: DataFrame, group_col: str, text_col: str,
               k: int = 256, shingle_n: int = 2) -> DataFrame:
    """(group, hs array<bigint> ascending, n_hashes) — the k smallest
    distinct word-shingle hashes per group. n_hashes < k means the
    sketch is exhaustive (small corpus) and every estimate degrades to
    exact."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    sh = df.select(
        F.col(group_col).alias("g"),
        F.explode(word_shingles(F.col(text_col), shingle_n)).alias("s"))
    h = (sh.select("g", hash60(F.col("s")).alias("h"))
           .groupBy("g", "h").agg(F.lit(1).alias("_one")))
    rn = F.row_number().over(Window.partitionBy("g").orderBy("h"))
    return (h.withColumn("_rn", rn).filter(F.col("_rn") <= k)
             .groupBy("g")
             .agg(F.array_sort(F.collect_list("h")).alias("hs"),
                  F.count(F.lit(1)).alias("n_hashes")))


def kmv_merge(sketches: DataFrame, k: int,
              out_group: Column | str = None) -> DataFrame:
    """Fold sketch rows into one sketch per `out_group` (default: all
    rows into one row with group '__all__'): union the hash arrays,
    distinct, keep the k smallest. Merging partial sketches of disjoint
    corpus shards equals sketching the concatenated corpus — the
    mergeability law the unit tests pin."""
    g = (F.lit("__all__") if out_group is None
         else (F.col(out_group) if isinstance(out_group, str) else out_group))
    merged = F.slice(F.array_sort(F.array_distinct(
        F.flatten(F.collect_list("hs")))), 1, k)
    return (sketches.select(g.alias("g"), "hs")
            .groupBy("g")
            .agg(merged.alias("hs"))
            .select("g", "hs", F.size("hs").alias("n_hashes")))


def _distinct_est(hs: Column, n: Column, k: int) -> Column:
    """(k-1) * SPACE / h_k, exact when the sketch is exhaustive."""
    return F.when(n < k, n.cast("double")).otherwise(
        float(k - 1) * HASH_SPACE
        / F.element_at(hs, k).cast("double"))


def kmv_pairwise_overlap(sketches: DataFrame, k: int,
                         round_to: int = 6) -> DataFrame:
    """All-pairs (ga < gb) overlap estimates from sketch rows alone:

      (ga, gb, jaccard_est, contain_a_in_b, contain_b_in_a,
       da_est, db_est, union_est)

    K = k smallest of hs_a ∪ hs_b is the union sample; membership
    fractions of K in both / each sketch give Jaccard / containment;
    distinct counts come from the k-th order statistic. Pure array math
    over n_corpora^2 rows — no corpus data touched."""
    a = sketches.select(F.col("g").alias("ga"), F.col("hs").alias("ha"),
                        F.col("n_hashes").alias("na"))
    b = sketches.select(F.col("g").alias("gb"), F.col("hs").alias("hb"),
                        F.col("n_hashes").alias("nb"))
    p = a.join(b, F.col("ga") < F.col("gb"))
    ku = F.slice(F.array_sort(F.array_union(F.col("ha"), F.col("hb"))),
                 1, k)
    both = F.array_intersect(F.col("ha"), F.col("hb"))
    n_union = F.size(ku)
    n_both = F.size(F.array_intersect(ku, both))
    in_a = F.size(F.array_intersect(ku, F.col("ha")))
    in_b = F.size(F.array_intersect(ku, F.col("hb")))
    da = _distinct_est(F.col("ha"), F.col("na"), k)
    db = _distinct_est(F.col("hb"), F.col("nb"), k)
    jac = n_both.cast("double") / n_union.cast("double")
    # with k small and corpus sizes wildly disparate, the union sample
    # can miss one side entirely (K ∩ A empty) — containment is then
    # undefined and surfaces as NULL, not inf/NaN (guard mirrored in
    # the oracle SQL)
    return p.select(
        "ga", "gb",
        F.round(jac, round_to).alias("jaccard_est"),
        F.when(in_a > 0,
               F.round(n_both.cast("double") / in_a.cast("double"),
                       round_to)).alias("contain_a_in_b"),
        F.when(in_b > 0,
               F.round(n_both.cast("double") / in_b.cast("double"),
                       round_to)).alias("contain_b_in_a"),
        F.round(da, round_to).alias("da_est"),
        F.round(db, round_to).alias("db_est"),
        # inclusion-exclusion: |A ∪ B| = (D_A + D_B) / (1 + J)
        F.round((da + db) / (1.0 + jac), round_to).alias("union_est"))


def corpus_overlap(df: DataFrame, group_col: str, text_col: str,
                   k: int = 256, shingle_n: int = 2,
                   round_to: int = 6) -> DataFrame:
    """One-shot sketch + pairwise compare (the composable pieces are
    `kmv_sketch` / `kmv_merge` / `kmv_pairwise_overlap` for persisted /
    incremental use)."""
    return kmv_pairwise_overlap(
        kmv_sketch(df, group_col, text_col, k=k, shingle_n=shingle_n),
        k=k, round_to=round_to)


# ------------------------------------------------------------------ store
# Persisted KMV sketch store: the min-merge sibling of the additive
# counter store (llmops/counter_store.py) — same manifest-committed LSM
# layout (base version + named deltas + atomic manifest.json), different
# merge algebra: rows are (g, h) sketch members, a segment holds at most
# k per group, and the read path re-top-ks across segments. Per-segment
# capping is LOSSLESS for min-k: the k smallest of a union are always
# among the per-segment k smallest. Folds are idempotent by delta name
# (counter-store replay contract); single writer per store.

def _kmv_rows(sketches: DataFrame) -> DataFrame:
    return sketches.select("g", F.explode("hs").alias("h"))


def _kmv_topk_rows(rows: DataFrame, k: int) -> DataFrame:
    rn = F.row_number().over(Window.partitionBy("g").orderBy("h"))
    return (rows.groupBy("g", "h").agg(F.lit(1).alias("_one"))
                .withColumn("_rn", rn).filter(F.col("_rn") <= k)
                .select("g", "h"))


def save_kmv_store(sketches: DataFrame, path: str, k: int,
                   buckets: int = 8) -> None:
    """Build the store from sketch rows (`kmv_sketch` output)."""
    import os
    import shutil

    from .counter_store import (commit_counter_manifest,
                                counter_store_writer)
    os.makedirs(path, exist_ok=True)
    with counter_store_writer(path):
        vdir = os.path.join(path, "versions", "v1")
        shutil.rmtree(vdir, ignore_errors=True)
        (_kmv_rows(sketches).repartition(buckets, "g")
         .write.mode("overwrite").parquet(vdir))
        commit_counter_manifest(path, {"version": 1, "deltas": [],
                                       "buckets": buckets, "keys": ["g"],
                                       "cnt": None, "k": int(k)})


def append_kmv_shard(shard_sketches: DataFrame, path: str,
                     delta_name: str | None = None,
                     k: int | None = None) -> None:
    """Fold one corpus shard's sketches in as an O(batch) delta —
    history files stay byte-identical. Unlike counters, replaying the
    SAME rows under a fresh name is harmless (min-merge is idempotent
    on values), but the named-delta contract is kept for symmetry.
    Shard sketches must be built with k >= the store's manifest k —
    a smaller shard k silently drops members of the global top-k.
    Pass the shard's build ``k`` to ENFORCE that contract (raises
    ValueError on a too-small shard instead of biasing estimates);
    sketch new shards at the manifest k for exactly this.
    The k cannot be inferred from the rows (a sparse group legitimately
    carries < k hashes), hence the explicit parameter."""
    import os

    from .counter_store import (commit_counter_manifest,
                                counter_store_writer,
                                load_counter_manifest)
    with counter_store_writer(path):
        m = load_counter_manifest(path)
        if k is not None and int(k) < int(m["k"]):
            raise ValueError(
                f"shard sketch k={k} < store manifest k={m['k']} — a "
                "smaller-k shard drops global top-k members and biases "
                "distinct/Jaccard estimates; rebuild the shard sketch "
                f"with k >= {m['k']}")
        if delta_name is None:
            seq = max((int(d[1:]) for d in m["deltas"]
                       if d[:1] == "d" and d[1:].isdigit()), default=0)
            delta_name = "d%d" % (seq + 1)
        if delta_name in m["deltas"]:
            return
        rows = _kmv_rows(shard_sketches).localCheckpoint(eager=True)
        if rows.isEmpty():
            return
        (rows.repartition(1, "g").write.mode("overwrite")
         .parquet(os.path.join(path, "deltas", delta_name)))
        m["deltas"] = m["deltas"] + [delta_name]
        commit_counter_manifest(path, m)


def read_kmv_store(spark, path: str) -> DataFrame:
    """Sketches (g, hs, n_hashes) re-top-k'd across the committed base +
    deltas — identical to sketching the concatenated corpus."""
    import os

    from .counter_store import load_counter_manifest
    m = load_counter_manifest(path)
    dirs = [os.path.join(path, "versions", f"v{m['version']}")]
    dirs += [os.path.join(path, "deltas", d) for d in m["deltas"]]
    top = _kmv_topk_rows(spark.read.parquet(*dirs), int(m["k"]))
    return (top.groupBy("g")
            .agg(F.array_sort(F.collect_list("h")).alias("hs"),
                 F.count(F.lit(1)).alias("n_hashes")))


def compact_kmv_store(spark, path: str) -> None:
    """Materialize the merged top-k as base v{N+1}; manifest commits
    before GC (counter-store crash-safety ordering)."""
    import os
    import shutil

    from .counter_store import (commit_counter_manifest,
                                counter_store_writer,
                                load_counter_manifest)
    with counter_store_writer(path):
        m = load_counter_manifest(path)
        if not m["deltas"]:
            return
        merged = read_kmv_store(spark, path)
        rows = _kmv_rows(merged).localCheckpoint(eager=True)
        nv = int(m["version"]) + 1
        vdir = os.path.join(path, "versions", f"v{nv}")
        shutil.rmtree(vdir, ignore_errors=True)
        (rows.repartition(int(m["buckets"]), "g")
         .write.mode("overwrite").parquet(vdir))
        old_deltas = m["deltas"]
        commit_counter_manifest(path, {**m, "version": nv, "deltas": []})
        shutil.rmtree(os.path.join(path, "versions", f"v{m['version']}"),
                      ignore_errors=True)
        for d in old_deltas:
            shutil.rmtree(os.path.join(path, "deltas", d),
                          ignore_errors=True)
