"""Batch ingestion job (SURVEY.md §3.3): files -> parse -> chunk -> embed ->
partitioned write.

Reference lifecycle (POST /upload_data, app/embedding_gen.py:1256-1408):
validate -> parse (.json FHIR / .md / .txt) -> chunk -> embed (Ollama,
batch 64, concurrency 5) -> L2 normalize -> bulk index with
``_id=doc_id`` (idempotent upsert) and ``_routing=patientId``.

Spark mapping: one declarative job. The per-request concurrency knobs
disappear into partition parallelism; the idempotent-upsert becomes
overwrite-by-key (anti-join + union append on plain parquet; MERGE on
Delta). Writes partition by ``user_id`` — the per-user-index analog
(app/main.py:346-347) — so every per-user query prunes to one partition;
``patientId`` stays a sort-within-partition key, the ``_routing`` analog
(app/main.py:1230).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ml.embed import EmbedFn, with_embeddings
from ..sources.fhir import parse_fhir
from ..sources.textfiles import (list_ingest_paths, read_text_files,
                                 text_chunk_documents)


def _meta_dir(root: str, name: str) -> str:
    """Resolve a store's sidecar-metadata dir. Metadata must NOT live in
    an underscore-prefixed dir: Spark's file index treats "_name" paths
    as hidden, so reading them worked only via their leaf files and
    WARNed "All paths were ignored" on every run — noise that buries real
    ignored-path warnings. Stores written before the rename (leading
    underscore) still resolve through the fallback."""
    new = os.path.join(root, name)
    old = os.path.join(root, "_" + name)
    return old if (os.path.exists(old) and not os.path.exists(new)) else new


def ingest_directory(spark: SparkSession, root: str, user_id: str,
                     chunk_size: int = 512, embed_fn: EmbedFn | None = None,
                     dim: int = 64) -> tuple[DataFrame, DataFrame]:
    """S5 + S1-S8: directory -> (documents, chunks-with-embeddings)."""
    paths = list_ingest_paths(root)
    docs = chunks = None
    if paths["json"]:
        raw = (spark.read.text(paths["json"], wholetext=True)
               .select(F.lit(user_id).alias("user_id"),
                       F.input_file_name().alias("file_path"),
                       F.col("value").alias("content")))
        docs, chunks = parse_fhir(raw, chunk_size)
    if paths["text"]:
        tchunks = text_chunk_documents(
            read_text_files(spark, paths["text"], user_id), chunk_size)
        chunks = tchunks if chunks is None else chunks.unionByName(tchunks)
    if docs is None:
        from ..schemas import DOCUMENTS_SCHEMA
        docs = spark.createDataFrame([], DOCUMENTS_SCHEMA)
    if chunks is None:
        from ..schemas import CHUNKS_SCHEMA
        chunks = spark.createDataFrame(
            [], CHUNKS_SCHEMA).drop("embedding")
    chunks = with_embeddings(chunks, "unstructuredText", embed_fn, dim)
    return docs, chunks


def upsert_parquet(df: DataFrame, path: str, key_col: str = "doc_id",
                   partition_col: str | None = "user_id") -> None:
    """S9 idempotent write: new rows replace same-key rows (the reference's
    ``_id=doc_id`` index semantics, app/main.py:1228). Plain-parquet
    implementation: anti-join existing data against incoming keys, union,
    rewrite. On Delta this is a single MERGE; the API is the seam."""
    spark = df.sparkSession
    if os.path.exists(path):
        existing = spark.read.parquet(path)
        keep = existing.join(df.select(key_col).distinct(), key_col,
                             "left_anti")
        # materialize before overwrite — the plan must not lazily re-read
        # the very path it is about to truncate
        df = keep.unionByName(df, allowMissingColumns=True).localCheckpoint()
    writer = df.write.mode("overwrite")
    if partition_col and partition_col in df.columns:
        writer = writer.partitionBy(partition_col)
    writer.parquet(path)


def bucketed_upsert(df: DataFrame, path: str, key_col: str = "doc_id",
                    n_buckets: int = 64) -> None:
    """MERGE-shaped idempotent upsert on plain parquet — the 100 TB form
    of the reference's ``_id=doc_id`` index semantics
    (app/main.py:1211-1282, ``_id=doc_id`` at :1228) without Delta (not
    installed in this environment; NOTES tracks re-probing).

    Layout: hive-partitioned by ``kb = md5(key) % n_buckets`` (the same
    engine-portable bucketing as operators/index_store.py). An upsert then
    touches ONLY the buckets its keys hash into:

      1. incoming batch gets its kb,
      2. existing rows of the touched buckets are read back (partition
         pruning — PartitionFilters on kb, never a full scan),
      3. same-key rows are anti-joined away, batch unioned in,
      4. dynamic partition overwrite replaces JUST those bucket
         directories.

    Write amplification is |touched buckets| / n_buckets of the table per
    batch instead of 1.0 (upsert_parquet's full rewrite) — size n_buckets
    so a typical batch's buckets sum to a few GB. Untouched buckets are
    never read or written (tests/test_bucketed_upsert.py proves their
    files stay byte-identical)."""
    spark = df.sparkSession
    from ..operators.index_store import term_bucket_expr

    meta_p = _meta_dir(path, "upsert_meta")
    data_p = os.path.join(path, "data")
    if os.path.exists(meta_p):
        from ..operators.index_store import cached_store_meta
        n_buckets = cached_store_meta(
            meta_p, lambda: int(spark.read.parquet(meta_p)
                                .collect()[0]["n_buckets"]))
    else:
        # meta commits BEFORE the first data write: a crash between the
        # two must never leave data whose bucket count a retry (possibly
        # with a different n_buckets default) cannot recover
        (spark.createDataFrame([(n_buckets,)], "n_buckets int")
         .repartition(1).write.mode("overwrite").parquet(meta_p))
    batch = df.withColumn(
        "kb", term_bucket_expr(F.col(key_col).cast("string"), n_buckets))
    if os.path.exists(data_p):
        # pin the batch: its lineage otherwise re-executes for the
        # touched-kb collect, the anti-join build, and the final write
        # (the first-write path consumes it exactly once — no pin there)
        batch = batch.localCheckpoint(eager=False)
        touched = [r[0] for r in batch.select("kb").distinct().collect()]
        existing = (spark.read.parquet(data_p)
                    .filter(F.col("kb").isin(touched)))
        keep = existing.join(batch.select(key_col).distinct(), key_col,
                             "left_anti")
        # materialize before overwrite — the plan must not lazily re-read
        # the partitions it is about to replace
        out = keep.unionByName(batch,
                               allowMissingColumns=True).localCheckpoint()
    else:
        out = batch
    # writer-level option, not a session-conf toggle: the option overrides
    # spark.sql.sources.partitionOverwriteMode for THIS write only, so
    # concurrent driver threads (guide §2.6 job overlap) never observe a
    # transiently-dynamic session (the hnsw append writer's pattern)
    (out.repartition("kb").write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("kb").parquet(data_p))


def bucketed_lookup(spark: SparkSession, path: str, keys: list,
                    key_col: str = "doc_id") -> DataFrame:
    """Point lookups against a bucketed_upsert table: bucket ids are
    computed DRIVER-side (md5 twin — no job), so the read plan carries
    PartitionFilters on kb and scans |distinct buckets| directories out of
    n_buckets — the whole-file-fetch / GET-by-_id analog
    (app/main.py:1178-1190) at table scale."""
    from ..operators.index_store import cached_store_meta, term_bucket_py

    meta_p = _meta_dir(path, "upsert_meta")
    n_buckets = cached_store_meta(
        meta_p, lambda: int(spark.read.parquet(meta_p)
                            .collect()[0]["n_buckets"]))
    kbs = sorted({term_bucket_py(str(k), n_buckets) for k in keys})
    return (spark.read.parquet(os.path.join(path, "data"))
            .filter(F.col("kb").isin(kbs))
            .filter(F.col(key_col).isin(list(keys)))
            .drop("kb"))


def bucketed_delete(spark: SparkSession, path: str, keys: list,
                    key_col: str = "doc_id") -> None:
    """Erasure by key against a bucketed_upsert table (the GDPR/right-
    to-be-forgotten job a corpus store needs): compute the keys' buckets
    DRIVER-side (md5 twin — no planning job), read back ONLY those
    bucket directories (PartitionFilters), drop the keys' rows, and
    dynamic-partition-overwrite just the touched buckets. Untouched
    buckets are never read or rewritten — same |touched|/n_buckets write
    amplification as the upsert. Deleting keys that don't exist is a
    no-op rewrite of their buckets (idempotent)."""
    from ..operators.index_store import cached_store_meta, term_bucket_py

    data_p = os.path.join(path, "data")
    meta_p = _meta_dir(path, "upsert_meta")
    n_buckets = cached_store_meta(
        meta_p, lambda: int(spark.read.parquet(meta_p)
                            .collect()[0]["n_buckets"]))
    kbs = sorted({term_bucket_py(str(k), n_buckets) for k in keys})
    keep = (spark.read.parquet(data_p)
            .filter(F.col("kb").isin(kbs))
            .filter(~F.col(key_col).isin(list(keys)))
            .localCheckpoint())   # must not lazily re-read the
    #                               partitions the write replaces
    # dynamic overwrite only replaces partitions PRESENT in the written
    # frame: a bucket whose every row was deleted writes nothing, so its
    # directory must go explicitly — BEFORE the overwrite and WITHOUT
    # swallowing errors, or a crash/failed rmtree after a "successful"
    # return would leave every erased key readable in that bucket.
    # (Crash between rmtree and overwrite: emptied buckets are already
    # erased, surviving buckets still hold victims — but the call never
    # reported success, and the rerun is idempotent.)
    survived = {r[0] for r in keep.select("kb").distinct().collect()}
    for kb in set(kbs) - survived:
        d = os.path.join(data_p, f"kb={kb}")
        if os.path.exists(d):
            shutil.rmtree(d)
    # writer-level dynamic overwrite (see bucketed_upsert): per-write
    # scope, no session-conf race window for concurrent driver threads
    (keep.repartition("kb").write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("kb").parquet(data_p))


def run_ingest(spark: SparkSession, root: str, user_id: str, out_dir: str,
               chunk_size: int = 512, embed_fn: EmbedFn | None = None,
               dim: int = 64) -> dict[str, int]:
    """Full S1-S10 job; returns row counts per table."""
    docs, chunks = ingest_directory(spark, root, user_id, chunk_size,
                                    embed_fn, dim)
    upsert_parquet(docs, os.path.join(out_dir, "documents"))
    upsert_parquet(chunks, os.path.join(out_dir, "chunks"))
    out = {
        "documents": spark.read.parquet(
            os.path.join(out_dir, "documents")).count(),
        "chunks": spark.read.parquet(
            os.path.join(out_dir, "chunks")).count(),
    }
    return out


def _split_touched(existing: DataFrame, touched: DataFrame,
                   group_cols: list[str]) -> tuple[DataFrame, DataFrame]:
    """(affected, untouched) split of a rollup table by the batch's
    group keys, NULL-SAFE: a plain equi-semi-join would route an
    existing NULL-group row to 'untouched' while the batch's NULL-group
    partial lands in 'merged' — duplicate un-merged rows per fold (the
    eqNullSafe lesson from quantile_sketch_bounds, found again in
    merge_mg_rollup by review)."""
    e, t = existing.alias("e"), touched.alias("t")
    cond = F.lit(True)
    for c in group_cols:
        cond = cond & F.col(f"e.{c}").eqNullSafe(F.col(f"t.{c}"))
    return (e.join(t, cond, "left_semi"),
            e.join(t, cond, "left_anti"))


def merge_rollup(spark: SparkSession, rollup_path: str, delta: DataFrame,
                 group_cols: list[str], agg_exprs: dict[str, str]) -> None:
    """Incremental aggregate maintenance: fold a new micro-batch into a
    persisted additive rollup, re-aggregating ONLY the groups the batch
    touches — the 100 TB pattern for keeping serving rollups fresh without
    rescanning history.

    `agg_exprs` maps output column -> additive SQL aggregate over it (e.g.
    {"n_events": "sum", "sum_value": "sum"}): the stored rollup row and the
    batch partial combine by the same aggregate, which is exact for
    sum/count/min/max (count is stored as a sum-able column). Plan: the
    delta pre-aggregates map-side, joins nothing — the union touches only
    existing rows for AFFECTED groups (semi-join pruned), so the rewrite
    cost scales with the batch's group count, not the table.
    """
    partial = delta
    if os.path.exists(rollup_path):
        existing = spark.read.parquet(rollup_path)
        touched = partial.select(group_cols).distinct()
        affected, untouched = _split_touched(existing, touched, group_cols)
        merged = (affected.unionByName(partial)
                  .groupBy(group_cols)
                  .agg(*[F.expr(f"{fn}({c})").alias(c)
                         for c, fn in agg_exprs.items()]))
        out = untouched.unionByName(merged).localCheckpoint()
    else:
        out = (partial.groupBy(group_cols)
               .agg(*[F.expr(f"{fn}({c})").alias(c)
                      for c, fn in agg_exprs.items()])).localCheckpoint()
    out.write.mode("overwrite").parquet(rollup_path)


def merge_mg_rollup(spark: SparkSession, rollup_path: str,
                    delta: DataFrame, group_cols: list[str],
                    item_col: str, k: int = 64) -> None:
    """merge_rollup's HEAVY-HITTER sibling: maintain persisted per-group
    Misra-Gries summaries (<= k (item, est) counters per group) and fold
    each micro-batch in by counter-merging the touched groups only —
    the frequency member of the incremental family (additive counts /
    MG heavy hitters). MG summaries are MERGEABLE (Agarwal et al.,
    "Mergeable Summaries", public): sum
    matched counters, then if more than k survive, subtract the
    (k+1)-th largest and drop non-positives — the deterministic
    undercount bound true − est <= N_group/(k+1) holds after ANY fold
    sequence, so the serving read needs no history rescan. k is
    persisted on first write and reused (summaries of mixed k don't
    compose into one bound)."""
    import pandas as pd

    meta_p = _meta_dir(rollup_path, "mg_meta")
    data_p = os.path.join(rollup_path, "data")
    if os.path.exists(meta_p):
        k = int(spark.read.parquet(meta_p).collect()[0]["k"])
    else:
        (spark.createDataFrame([(k,)], "k int")
         .repartition(1).write.mode("overwrite").parquet(meta_p))

    gtypes = ", ".join(
        f"{c} {delta.schema[c].dataType.simpleString()}"
        for c in group_cols)
    itype = delta.schema[item_col].dataType.simpleString()
    schema = f"{gtypes}, item {itype}, est long"

    def _emit(pdf: pd.DataFrame, counters: dict) -> pd.DataFrame:
        return pd.DataFrame({
            **{c: [pdf[c].iloc[0]] * len(counters) for c in group_cols},
            "item": list(counters),
            "est": pd.Series(list(counters.values()), dtype="object")})

    def summarize(it):
        # PER-PARTITION partial summaries (mapInPandas), not per-group
        # applyInPandas: heavy-hitter workloads are skewed by definition,
        # and shuffling a whole group to one pandas task defeats the
        # mergeability this function exists for — partials fold in
        # merge_counters under the same bound
        by_group: dict = {}
        last = None
        for pdf in it:
            last = pdf
            for row in zip(*([pdf[c] for c in group_cols]
                             + [pdf[item_col]])):
                gk, item = row[:-1], row[-1]
                if item is None:
                    continue
                counters = by_group.setdefault(gk, {})
                if item in counters:
                    counters[item] += 1
                elif len(counters) < k:
                    counters[item] = 1
                else:
                    dead = []
                    for key in counters:
                        counters[key] -= 1
                        if counters[key] == 0:
                            dead.append(key)
                    for key in dead:
                        del counters[key]
        if last is None:
            return
        rows = [(gk, item, est) for gk, cs in by_group.items()
                for item, est in cs.items()]
        # dtype=object everywhere: a None (null group/item) in a plain
        # list coerces numeric columns to float64 (the winnow lesson)
        yield pd.DataFrame({
            **{c: pd.Series([r[0][i] for r in rows], dtype="object")
               for i, c in enumerate(group_cols)},
            "item": pd.Series([r[1] for r in rows], dtype="object"),
            "est": pd.Series([r[2] for r in rows], dtype="object")})

    def merge_counters(pdf: pd.DataFrame) -> pd.DataFrame:
        sums: dict = {}
        for it, est in zip(pdf["item"], pdf["est"]):
            sums[it] = sums.get(it, 0) + int(est)
        if len(sums) > k:
            # mergeable-summaries prune: subtract the (k+1)-th largest,
            # drop non-positives — boundary ties fall to exactly 0 and
            # drop, so the result is order-independent
            offset = sorted(sums.values(), reverse=True)[k]
            sums = {it: est - offset for it, est in sums.items()
                    if est - offset > 0}
        return _emit(pdf, sums)

    # pin: part feeds the touched-split semi/anti joins AND the merge
    # union (the bucketed_upsert lesson — unpinned lineage re-runs the
    # Python pass per consumer)
    part = (delta.select(*group_cols, item_col)
            .mapInPandas(summarize, schema)
            .groupBy(group_cols).applyInPandas(merge_counters, schema)
            .localCheckpoint(eager=False))
    if os.path.exists(data_p):
        existing = spark.read.parquet(data_p)
        touched = part.select(group_cols).distinct()
        affected, untouched = _split_touched(existing, touched, group_cols)
        merged = (affected.unionByName(part)
                  .groupBy(group_cols)
                  .applyInPandas(merge_counters, schema))
        out = untouched.unionByName(merged).localCheckpoint()
    else:
        out = part.localCheckpoint()
    out.write.mode("overwrite").parquet(data_p)


def read_mg_rollup(spark: SparkSession, rollup_path: str) -> DataFrame:
    """The serving view of a merge_mg_rollup table: per group, the
    surviving heavy-hitter candidates with their (under-)estimates —
    every item with true frequency > N_group/(k+1) is guaranteed
    present."""
    return spark.read.parquet(os.path.join(rollup_path, "data"))
