"""SCD2 dimension-history maintenance: slowly-changing-dimension type-2
tables on plain parquet — the lakehouse CDC pattern (Kimball's SCD2 /
Delta's MERGE-with-history recipe, public technique) the training-data
tier needs for reproducible joins against point-in-time dimension state
(e.g. which license/quality tier a source domain had WHEN a doc was
crawled).

Shape: an observation stream (key, attrs, ts, seq) compresses into
interval rows (key, attrs, valid_from, valid_to, is_current) — one row
per attribute REGIME, consecutive duplicates collapsed, each regime's
valid_to = the next regime's valid_from (NULL while current).

Everything is engine-exact relational algebra: the (ts, seq) pair is a
total order per key, duplicate-compression is one lag() comparison, and
interval assembly one lead() — so a DuckDB oracle reconstructs the whole
table from the raw observations and any fold sequence must match it
bit-for-bit (the fold-invisibility discipline of merge_cluster_store /
merge_gram_counts).

Scale: both windows partition on the key (never global); the fold
recomputes ONLY touched keys' CURRENT rows over |current| + |batch| rows
— closed history and untouched keys pass through unchanged, so fold cost
tracks batch size, not table history. No reference analog (the reference
has no dimension-history tier); cited technique is public Kimball SCD2.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..util import heal_swapped_dir, swap_commit_dir


def scd2_snapshot(obs: DataFrame, key_cols: list[str], attr_cols: list[str],
                  ts_col: str, seq_col: str) -> DataFrame:
    """One-shot SCD2 from an observation table. (ts, seq) must totally
    order each key's observations (seq breaks same-timestamp ties —
    e.g. the source row id); attrs compare NULL-safely, so a NULL→value
    flip is a regime change."""
    w = Window.partitionBy(*key_cols).orderBy(ts_col, seq_col)
    cur = F.struct(*[F.col(c) for c in attr_cols])
    d = obs.withColumn("_prev", F.lag(cur).over(w))
    chg = d.filter(F.col("_prev").isNull()
                   | ~cur.eqNullSafe(F.col("_prev"))).drop("_prev")
    w2 = Window.partitionBy(*key_cols).orderBy(ts_col, seq_col)
    out = (chg.withColumn("valid_from", F.col(ts_col))
              .withColumn("valid_to", F.lead(ts_col).over(w2))
              .withColumn("_seq", F.col(seq_col)))
    return out.select(*key_cols, *attr_cols, "valid_from", "valid_to",
                      F.col("valid_to").isNull().alias("is_current"),
                      "_seq")


def merge_scd2(spark: SparkSession, path: str, batch: DataFrame,
               key_cols: list[str], attr_cols: list[str],
               ts_col: str, seq_col: str) -> None:
    """Fold an observation batch into the persisted SCD2 table.

    CDC contract: per key, a batch's observations must not precede the
    stored current row's valid_from (the append-only change-log order
    every SCD2 maintainer assumes). Under that contract any fold
    sequence equals scd2_snapshot over the union of all observations
    exactly: untouched keys and CLOSED rows pass through byte-identical;
    each touched key re-derives from its current row (replayed as an
    observation, carrying its original (ts, seq)) plus the batch — if
    the first new observation repeats the current attrs it compresses
    away, otherwise the current row closes at the new valid_from.
    In-place folds are crash-safe via util.swap_commit_dir."""
    data_p = os.path.join(path, "data")
    heal_swapped_dir(data_p)
    obs = batch.select(*key_cols, *attr_cols,
                       F.col(ts_col).alias("_ts"),
                       F.col(seq_col).alias("_bseq"))
    if os.path.exists(data_p):
        prev = spark.read.parquet(data_p)
        bkeys = obs.select(*key_cols).distinct()
        untouched = prev.join(bkeys, key_cols, "left_anti")
        touched = prev.join(bkeys, key_cols, "left_semi")
        closed = touched.filter(~F.col("is_current"))
        # the current row re-enters as an observation with its ORIGINAL
        # (valid_from, seq) so compression/interval math see the exact
        # regime boundary the store recorded
        cur_obs = (touched.filter(F.col("is_current"))
                   .select(*key_cols, *attr_cols,
                           F.col("valid_from").alias("_ts"),
                           F.col("_seq").alias("_bseq")))
        snap = scd2_snapshot(cur_obs.unionByName(obs), key_cols, attr_cols,
                             "_ts", "_bseq")
        out = untouched.unionByName(closed).unionByName(snap)
    else:
        out = scd2_snapshot(obs, key_cols, attr_cols, "_ts", "_bseq")
    swap_commit_dir(
        lambda tmp: out.write.mode("overwrite").parquet(tmp), data_p)


def read_scd2(spark: SparkSession, path: str,
              include_seq: bool = False) -> DataFrame:
    """The persisted SCD2 table: (keys..., attrs..., valid_from,
    valid_to, is_current). ``_seq`` (the tie-break of the regime's
    opening observation — fold plumbing) is hidden unless asked for."""
    heal_swapped_dir(os.path.join(path, "data"))
    df = spark.read.parquet(os.path.join(path, "data"))
    return df if include_seq else df.drop("_seq")


def scd2_as_of(scd2: DataFrame, ts) -> DataFrame:
    """Point-in-time view: the attribute regime in force at ``ts``
    (valid_from <= ts < valid_to, open intervals current). This is the
    join a reproducible training run makes against dimension state as
    of its data snapshot."""
    t = F.lit(ts)
    return scd2.filter((F.col("valid_from") <= t)
                       & (F.col("valid_to").isNull()
                          | (F.col("valid_to") > t)))
