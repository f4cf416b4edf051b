"""DSIR-style data selection: hashed n-gram importance weights of raw
docs against a small target corpus (Xie et al. 2023, "Data Selection for
Language Models via Importance Resampling" — public method; no reference
analog, this is part of the training-data tier the engine adds).

Method shape (faithful): featurize every doc as hashed word-n-gram
buckets, estimate target and raw bucket densities, and weight each raw
doc by how target-like its grams are; keep/sample the top of the
distribution as the curated corpus.

Deliberate deviation for cross-engine exactness: the paper weights docs
by Σ log(p_target(b)/p_raw(b)). log() is not correctly-rounded across
libms, so the stamped form uses the INTEGER micro-ratio
``lr[b] = ((tgt[b]+1) * 1_000_000) div (raw[b]+1)`` and
``imp_micro = Σ_grams lr[bucket(g)]`` — order-free integer sums, bit-exact
in any engine (the pagerank_micro convention). Ranking by either form is
a monotone heuristic over the same density estimates; a caller wanting
the exact paper weighting passes ``weight_fn`` (it runs fine, it just
can't be value-hash-oracled).

Scale: two gram-explode scans (raw + target), two <=n_buckets-row count
aggregates (map-side combined), ONE broadcast join of the bucket->ratio
table (8 KiB at the default width), one hash-aggregate on doc id. No
self-joins, no windows, no sorts — linear at 100 TB with the target
corpus any size (only its bucket counts matter).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.index_store import term_bucket_expr
from .dedup import word_shingles

MICRO = 1_000_000


def hashed_gram_buckets(df: DataFrame, text_col: str, id_col: str,
                        n: int = 2, n_buckets: int = 8192) -> DataFrame:
    """(id, b): one row per (doc, DISTINCT word-n-gram), b = md5 60-bit
    bucket of the gram. Short texts collapse to one whole-text gram
    (word_shingles' guard), so every doc emits >= 1 row."""
    grams = word_shingles(F.col(text_col), n)
    return (df.select(F.col(id_col).alias("id"), F.explode(grams).alias("g"))
              .select("id", term_bucket_expr(F.col("g"), n_buckets)
                      .alias("b")))


def gram_bucket_counts(df: DataFrame, text_col: str, id_col: str,
                       n: int = 2, n_buckets: int = 8192) -> DataFrame:
    """(b, c): bucket frequencies of a corpus's per-doc-distinct grams —
    the <= n_buckets-row sufficient statistic DSIR needs from either
    side. ADDITIVE: counts over doc-disjoint corpus slices sum to the
    union's counts, which is what makes the persisted fold
    (merge_gram_counts) exactly equal a one-shot
    rebuild."""
    gb = hashed_gram_buckets(df, text_col, id_col, n, n_buckets)
    return gb.groupBy("b").agg(F.count(F.lit(1)).alias("c"))


def _weights_from_counts(rb: DataFrame, raw_counts: DataFrame,
                         tgt_counts: DataFrame,
                         weight_fn: Callable[[Column, Column], Column]
                         | None) -> DataFrame:
    """Score the (id, b) raw gram table against two (b, c) count tables.
    The ratio table is raw-side buckets only (every probed gram comes
    FROM raw, so a left join covers it; missing target counts coalesce
    to 0) and broadcasts at <= n_buckets rows."""
    raw_c = raw_counts.select("b", F.col("c").alias("_rc"))
    tgt_c = tgt_counts.select("b", F.col("c").alias("_tc"))
    ratio = (raw_c.join(tgt_c, "b", "left")
             .select("b", F.coalesce(F.col("_tc"), F.lit(0)).alias("_tc"),
                     F.col("_rc")))
    if weight_fn is None:
        w = F.expr(f"(( _tc + 1) * {MICRO}) div (_rc + 1)").alias("_w")
    else:
        w = weight_fn(F.col("_tc"), F.col("_rc")).alias("_w")
    ratio = ratio.select("b", w)
    return (rb.join(F.broadcast(ratio), "b")
              .groupBy("id")
              .agg(F.count(F.lit(1)).alias("n_grams"),
                   F.sum("_w").alias("imp_micro")))


def importance_weights(raw: DataFrame, target: DataFrame, text_col: str,
                       id_col: str, n: int = 2, n_buckets: int = 8192,
                       weight_fn: Callable[[Column, Column], Column]
                       | None = None) -> DataFrame:
    """Per-raw-doc target-likeness: (id, n_grams, imp_micro).

    imp_micro = Σ over the doc's distinct grams of
    ((tgt_count[b]+1) * MICRO) div (raw_count[b]+1)  (add-1 smoothing;
    buckets the target never hits contribute MICRO div (raw+1) — near
    zero for common raw grams, exactly the suppression DSIR wants).
    ``weight_fn(tgt_c, raw_c) -> Column`` overrides the per-bucket weight
    (e.g. the paper's log-ratio) when exact cross-engine reproducibility
    is not required."""
    # ONE raw gram scan: rb feeds both the scoring join and the raw
    # density counts — unpinned, the explode+md5 pass over the raw
    # corpus (the big side) ran twice, once per consumer. The pinned
    # (id, b) frame is 16 bytes/gram locally spilled vs a second full
    # shingle pass; counts derived FROM rb are the same aggregate
    # gram_bucket_counts computes (it is hashed_gram_buckets + groupBy).
    rb = hashed_gram_buckets(raw, text_col, id_col, n, n_buckets) \
        .localCheckpoint(eager=False)
    raw_c = rb.groupBy("b").agg(F.count(F.lit(1)).alias("c"))
    tgt_c = gram_bucket_counts(target, text_col, id_col, n, n_buckets)
    return _weights_from_counts(rb, raw_c, tgt_c, weight_fn)


def importance_weights_from_counts(
        raw: DataFrame, text_col: str, id_col: str,
        raw_counts: DataFrame, tgt_counts: DataFrame,
        n: int = 2, n_buckets: int = 8192,
        weight_fn: Callable[[Column, Column], Column]
        | None = None) -> DataFrame:
    """importance_weights served from PERSISTED density tables: both
    sides' (b, c) counts come from merge_gram_counts stores (or any
    precomputed aggregate), so scoring a corpus costs ONE gram scan of
    the docs being scored plus the broadcast ratio join — the target
    history (and, with a maintained raw store, the raw history) is never
    re-shingled. Counts must use the same n / n_buckets as this call.
    Since the fold equals a rebuild exactly (additive integers), weights
    from folded stores are bit-identical to importance_weights on the
    union corpora — the property the split_dsir_weights_fold entry
    stamps."""
    rb = hashed_gram_buckets(raw, text_col, id_col, n, n_buckets)
    return _weights_from_counts(rb, raw_counts, tgt_counts, weight_fn)


def merge_gram_counts(spark, path: str, batch: DataFrame, text_col: str,
                      id_col: str, n: int = 2,
                      n_buckets: int = 8192) -> None:
    """Incremental DSIR density maintenance: fold a doc batch's gram
    bucket counts into the persisted (b, c) table — the DSIR member of
    the incremental rollup family (counts are additive integers, so any
    fold sequence equals the one-shot aggregate over the union exactly,
    like merge_rollup's DECIMAL sums). The table is <= n_buckets rows
    (64 KiB at the default width): whole-table rewrite per fold is the
    right plan at any corpus size. Folds in place, crash-safe via
    util.swap_commit_dir. NOT idempotent under replay (counts double),
    exactly as with merge_rollup."""
    import os

    from ..util import heal_swapped_dir, swap_commit_dir

    data_p = os.path.join(path, "data")
    heal_swapped_dir(data_p)
    bc = gram_bucket_counts(batch, text_col, id_col, n, n_buckets)
    if os.path.exists(data_p):
        prev = spark.read.parquet(data_p) \
                    .select("b", F.col("c").alias("_pc"))
        out = (prev.join(bc, "b", "full_outer")
                   .select("b",
                           (F.coalesce(F.col("_pc"), F.lit(0))
                            + F.coalesce(F.col("c"), F.lit(0))).alias("c")))
    else:
        out = bc
    swap_commit_dir(
        lambda tmp: out.repartition(1).write.mode("overwrite").parquet(tmp),
        data_p)


def read_gram_counts(spark, path: str) -> DataFrame:
    """(b, c) from a merge_gram_counts store."""
    import os

    from ..util import heal_swapped_dir
    heal_swapped_dir(os.path.join(path, "data"))
    return spark.read.parquet(os.path.join(path, "data"))
