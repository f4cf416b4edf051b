"""Train/eval decontamination: n-gram overlap between an evaluation set and
a training corpus.

The standard LLM-benchmark hygiene check (cf. GPT-3 / PaLM appendix
methodology, public papers): an eval document is *contaminated* when a large
fraction of its word n-grams also appear anywhere in the training corpus.

Spark-first shape, designed for a 100-TB train side:

- both sides explode to (doc, n-gram) rows, but the join key is the salted
  60-bit md5 of the gram (``dedup.hash60``) — an 8-byte bigint instead of a
  ~50-byte string, so the shuffle is narrow and codegen compares ints;
- the train side is reduced to DISTINCT gram hashes before the join (one
  shuffle with map-side combine; the distinct set is the *vocabulary* of
  n-grams, far smaller than the corpus);
- eval grams LEFT-join the train vocabulary (each build-side key is unique,
  so the join can never blow up a probe row) and a single per-doc aggregate
  produces total / matched counts in one pass.

md5-based hashing keeps the operator bit-identical across engines (Spark,
DuckDB, Python) — the same reason dedup.py uses it — so the whole pipeline
is oracle-checkable.

Reference scope note: the reference engine (RASSEngine) has no
decontamination operator; this extends the corpus toolset the same way
dedup.py does (BASELINE.json north-star ops).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import hash60, word_shingles


def ngram_overlap(eval_df: DataFrame, train_df: DataFrame,
                  text_col: str, id_col: str, n: int = 8) -> DataFrame:
    """Per eval doc: (id, n_grams, n_matched, overlap_frac).

    ``n_grams`` counts the doc's DISTINCT word n-grams (texts shorter than
    n words contribute their single whole-text shingle); ``n_matched`` of
    those occur somewhere in ``train_df``; ``overlap_frac`` is their ratio
    rounded to 6dp.
    """
    ev = (eval_df
          .select(F.col(id_col),
                  F.explode(word_shingles(F.col(text_col), n)).alias("gram"))
          .select(id_col, hash60(F.col("gram")).alias("gh")))
    vocab = (train_df
             .select(F.explode(word_shingles(F.col(text_col), n))
                     .alias("gram"))
             .select(hash60(F.col("gram")).alias("gh"))
             .distinct()
             .withColumn("hit", F.lit(1)))
    per_doc = (ev.join(vocab, "gh", "left")
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("n_grams"),
                    F.count("hit").alias("n_matched")))
    return per_doc.withColumn(
        "overlap_frac",
        F.round(F.col("n_matched").cast("double") / F.col("n_grams"), 6))


def _gram_hash_pandas(df: DataFrame, text_col: str, id_col: str,
                      n: int) -> DataFrame:
    """Arrow-batched twin of explode(word_shingles) + hash60: one row per
    (doc, distinct word-n-gram) with the SAME 60-bit md5 key bit-for-bit
    (int(md5[:15 hex], 16)), so results stay oracle-identical while the
    interpreted transform/slice/array_join + md5-expression chain (the
    profiled hot spot, cf. dedup._shingle_index_pandas) becomes one pandas
    pass fused over the scan."""
    import hashlib
    import re

    from pyspark.sql.types import LongType, StructField, StructType

    # Java \s (no UNICODE_CHARACTER_CLASS) is exactly this ASCII class.
    ws_re = re.compile("[ \t\n\x0b\f\r]+")
    src = df.select(F.col(id_col).alias("id"),
                    F.col(text_col).cast("string").alias("txt"))
    schema = StructType([StructField("id", src.schema["id"].dataType, False),
                         StructField("gh", LongType(), False)])

    def run(batches):
        import pandas as pd
        for pdf in batches:
            ids, ghs = [], []
            for rid, txt in zip(pdf["id"].tolist(), pdf["txt"].tolist()):
                ws = [w for w in ws_re.split(txt or "") if w != ""]
                if len(ws) >= n:
                    grams = {" ".join(ws[j:j + n])
                             for j in range(len(ws) - n + 1)}
                else:
                    grams = {" ".join(ws)}      # whole-text fallback
                for g in grams:
                    ids.append(rid)
                    ghs.append(int(hashlib.md5(g.encode("utf-8"))
                                   .hexdigest()[:15], 16))
            yield pd.DataFrame({"id": ids, "gh": ghs})

    return src.mapInPandas(run, schema=schema)


def ngram_overlap_fast(eval_df: DataFrame, train_df: DataFrame,
                       text_col: str, id_col: str, n: int = 8) -> DataFrame:
    """Identical output to ``ngram_overlap`` via the Arrow gram-hash pass
    on both sides (expression form stays exported + parity-tested)."""
    ev = _gram_hash_pandas(eval_df, text_col, id_col, n) \
        .withColumnRenamed("id", id_col)
    vocab = (_gram_hash_pandas(train_df, text_col, id_col, n)
             .select("gh").distinct().withColumn("hit", F.lit(1)))
    per_doc = (ev.join(vocab, "gh", "left")
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("n_grams"),
                    F.count("hit").alias("n_matched")))
    return per_doc.withColumn(
        "overlap_frac",
        F.round(F.col("n_matched").cast("double") / F.col("n_grams"), 6))


def flag_contaminated(eval_df: DataFrame, train_df: DataFrame,
                      text_col: str, id_col: str, n: int = 8,
                      threshold: float = 0.8, fast: bool = True) -> DataFrame:
    """ngram_overlap + boolean ``contaminated`` (overlap_frac >= threshold).

    Filter on the flag to drop tainted eval docs, or anti-join the flagged
    ids back onto the *train* side to scrub the training corpus instead.
    ``fast`` picks the Arrow gram-hash pass (default); the expression form
    is kept for oracle documentation and parity tests.
    """
    fn = ngram_overlap_fast if fast else ngram_overlap
    return (fn(eval_df, train_df, text_col, id_col, n)
            .withColumn("contaminated",
                        F.col("overlap_frac") >= F.lit(threshold)))


def contamination_report(eval_df: DataFrame, train_df: DataFrame,
                         text_col: str, id_col: str,
                         slice_cols: list[str], n: int = 8,
                         threshold: float = 0.8,
                         fast: bool = True) -> DataFrame:
    """Corpus-level contamination report: the per-doc overlap rolled up
    per `slice_cols` grain (eval-suite x domain, datacard's ROLLUP
    shape) — the release-gate view an eval-hygiene review reads, instead
    of 50k per-doc rows.

    Per (slice..., gid) row: n_docs, n_contaminated (overlap >=
    threshold), tot_grams / tot_matched (exact integer sums),
    matched_frac (pooled micro-average: one division over the exact
    sums) and avg_overlap (macro-average of per-doc fractions). The
    macro mean folds integer MICRO-units of the already-6dp-rounded
    per-doc fraction with the half-up integer formula datacard uses —
    no double accumulation, so every engine agrees at the 6th decimal.

    Scale: the vocabulary join dominates and is shared with the per-doc
    form; the rollup adds one tiny aggregate over |eval| rows."""
    fn = ngram_overlap_fast if fast else ngram_overlap
    per_doc = fn(eval_df, train_df, text_col, id_col, n)
    meta = eval_df.select(F.col(id_col), *[F.col(c) for c in slice_cols])
    j = (per_doc.join(meta, id_col)
         .withColumn("_micro",
                     F.round(F.col("overlap_frac") * 1e6, 0).cast("long")))
    agg = (j.rollup(*[F.col(c) for c in slice_cols])
           .agg(F.grouping_id().alias("gid"),
                F.count(F.lit(1)).alias("n_docs"),
                F.sum((F.col("overlap_frac") >= F.lit(threshold))
                      .cast("int")).cast("long").alias("n_contaminated"),
                F.sum("n_grams").alias("tot_grams"),
                F.sum("n_matched").alias("tot_matched"),
                F.sum("_micro").alias("_sum_micro")))
    return agg.select(
        *slice_cols, "gid", "n_docs", "n_contaminated", "tot_grams",
        "tot_matched",
        F.round(F.col("tot_matched").cast("double")
                / F.col("tot_grams"), 6).alias("matched_frac"),
        (F.expr("(_sum_micro * 2 + n_docs) div (2 * n_docs)")
         / F.lit(1e6)).alias("avg_overlap"))


# ------------------------------------------------------ persisted vocabulary
# At 100 TB the train side's distinct-gram vocabulary is the expensive
# half of every decontamination run — and it only changes when the train
# corpus does. The store materializes it ONCE (the Lucene-segment/
# signature-store pattern every other incremental tier here follows):
# save indexes the corpus, append folds in only NOVEL grams (history is
# never re-shingled or rewritten), and eval probes join the store
# directly. Single WRITER per store (like the fold stores); readers any
# time — parquet appends are atomic at file granularity and an extra
# in-flight gram can only make a probe marginally stricter, never wrong.


def save_gram_vocab(train_df: DataFrame, text_col: str, path: str,
                    n: int = 8, buckets: int = 64) -> None:
    """Persist the train corpus's DISTINCT word-n-gram 60-bit hashes to
    ``path`` (parquet, gh-clustered into `buckets` files so later
    anti-joins and probes shuffle evenly); records `n` in a meta file —
    probes and appends must shingle identically."""
    import json
    import os

    vocab = (_gram_hash_pandas(train_df.withColumn("_gid", F.lit(0)),
                               text_col, "_gid", n)
             .select("gh").distinct()
             .repartition(buckets, "gh"))
    vocab.write.mode("overwrite").parquet(os.path.join(path, "vocab"))
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump({"n": n, "buckets": buckets}, f)


def _load_vocab_meta(path: str) -> dict:
    import json
    import os

    with open(os.path.join(path, "meta.json")) as f:
        return json.load(f)


# target gram hashes per appended parquet file: 8-byte keys, so ~8 MB
# files — small appends write ONE file, not `buckets` slivers
_VOCAB_ROWS_PER_FILE = 1_000_000


def append_gram_vocab(new_train_df: DataFrame, text_col: str,
                      path: str) -> None:
    """Fold NEW train documents into the persisted vocabulary: only
    grams not already stored are appended (left_anti against the store),
    so history files stay byte-identical and repeated appends of the
    same corpus are no-ops. Same n as the original build (from meta).
    The appended file count scales with the NOVEL row count (one file
    per ~1M hashes, capped at the store's bucket count) — a maintainer
    folding small batches writes one small file per batch,
    not `buckets` slivers; run compact_gram_vocab when the accumulated
    file count starts to dominate probe planning."""
    import os

    meta = _load_vocab_meta(path)
    spark = new_train_df.sparkSession
    vocab_p = os.path.join(path, "vocab")
    existing = spark.read.parquet(vocab_p)
    novel = (_gram_hash_pandas(new_train_df.withColumn("_gid", F.lit(0)),
                               text_col, "_gid", int(meta["n"]))
             .select("gh").distinct()
             .join(existing, "gh", "left_anti")
             .localCheckpoint(eager=True))   # one pass: count + write
    n = novel.count()
    if n == 0:
        return
    parts = max(1, min(int(meta["buckets"]),
                       -(-n // _VOCAB_ROWS_PER_FILE)))
    novel.repartition(parts, "gh").write.mode("append").parquet(vocab_p)


def compact_gram_vocab(spark, path: str) -> None:
    """Rewrite the accumulated append slivers into the store's bucketed
    layout in one crash-safe swap (util.swap_commit_dir — a failure
    mid-rewrite leaves the serving vocabulary untouched). Values are
    unchanged: the vocabulary is a set and compaction only re-buckets
    it. Single writer, like every fold store."""
    import os

    from ..util import swap_commit_dir

    meta = _load_vocab_meta(path)
    vocab_p = os.path.join(path, "vocab")
    vocab = (spark.read.parquet(vocab_p)
             .localCheckpoint(eager=False))

    def rewrite(tmp_p: str) -> None:
        (vocab.repartition(int(meta["buckets"]), "gh")
              .write.mode("overwrite").parquet(tmp_p))

    swap_commit_dir(rewrite, vocab_p)


def ngram_overlap_from_store(spark, eval_df: DataFrame, text_col: str,
                             id_col: str, path: str) -> DataFrame:
    """Per-eval-doc overlap against the PERSISTED vocabulary — identical
    output to ``ngram_overlap(eval_df, <full train corpus>)`` (the store
    is exactly that corpus's distinct-gram set), but the train side is
    one parquet scan of 8-byte keys instead of a re-shingle of the whole
    corpus."""
    import os

    n = int(_load_vocab_meta(path)["n"])
    ev = _gram_hash_pandas(eval_df, text_col, id_col, n) \
        .withColumnRenamed("id", id_col)
    vocab = (spark.read.parquet(os.path.join(path, "vocab"))
             .withColumn("hit", F.lit(1)))
    per_doc = (ev.join(vocab, "gh", "left")
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("n_grams"),
                    F.count("hit").alias("n_matched")))
    return per_doc.withColumn(
        "overlap_frac",
        F.round(F.col("n_matched").cast("double") / F.col("n_grams"), 6))


def flag_neardup_leakage(df: DataFrame, text_col: str, id_col: str,
                         split_col: str = "split",
                         eval_value: str = "eval",
                         train_value: str = "train",
                         shingle_n: int = 5, num_hashes: int = 16,
                         bands: int = 4,
                         threshold: float = 0.5) -> DataFrame:
    """Near-duplicate eval leakage: eval docs whose MinHash-LSH duplicate
    COMPONENT contains any train doc — the contamination mode the n-gram
    overlap misses once wording shifts (a paraphrased eval item shares
    few exact n-grams with its train twin but still clusters with it).
    Component-level on purpose: transitive paraphrase chains leak too,
    the same rationale as splits.with_split_leakage_safe — this operator
    is that guard's AUDIT view for a split that already exists.

    Returns one row per eval doc: (id, root, cluster_size, leaked);
    unclustered docs have NULL root/size and leaked = false.

    Scale: the LSH pair pass + component resolution (dedup.dup_clusters'
    machinery, banded, never all-pairs); the train-root set is one
    DISTINCT over cluster roots."""
    from .dedup import dup_clusters, minhash_lsh_pairs

    pairs = minhash_lsh_pairs(df, text_col, id_col, shingle_n=shingle_n,
                              num_hashes=num_hashes, bands=bands,
                              threshold=threshold)
    cl = dup_clusters(pairs)
    lab = df.select(F.col(id_col), F.col(split_col))
    comp = cl.join(lab.select(F.col(id_col).alias("node"), split_col),
                   "node")
    tr_roots = (comp.filter(F.col(split_col) == train_value)
                .select("root").distinct().withColumn("_t", F.lit(1)))
    ev = lab.filter(F.col(split_col) == eval_value).select(id_col)
    return (ev.join(cl.select(F.col("node").alias(id_col), "root",
                              "cluster_size"), id_col, "left")
            .join(tr_roots, "root", "left")
            .select(id_col, "root", "cluster_size",
                    F.coalesce(F.col("_t") == 1,
                               F.lit(False)).alias("leaked")))


# ------------------------------------------------ incremental report tier
# The report's aggregates are all ADDITIVE integers at the finest slice
# grain, so a persisted counters table folds batch-by-batch (the DSIR/
# rollup family) and the full ROLLUP report is derivable from it at any
# moment — eval suites stream in, the release-gate view stays fresh, and
# nothing ever re-probes folded history.


def contamination_counters(spark, eval_df: DataFrame, text_col: str,
                           id_col: str, slice_cols: list[str],
                           vocab_path: str,
                           threshold: float = 0.8) -> DataFrame:
    """Finest-grain additive counters of the contamination report for
    one eval batch, probed against the persisted vocabulary:
    (slice..., n_docs, n_contaminated, tot_grams, tot_matched,
    sum_micro). All exact integers, so any fold sequence equals the
    one-shot counters over the union of all folded eval docs — the
    property merge_contamination_counters relies on. Slice values must be
    non-null (they become fold join keys)."""
    per_doc = ngram_overlap_from_store(spark, eval_df, text_col, id_col,
                                       vocab_path)
    meta = eval_df.select(F.col(id_col), *[F.col(c) for c in slice_cols])
    j = (per_doc.join(meta, id_col)
         .withColumn("_micro",
                     F.round(F.col("overlap_frac") * 1e6, 0).cast("long")))
    return (j.groupBy(*[F.col(c) for c in slice_cols])
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum((F.col("overlap_frac") >= F.lit(threshold))
                       .cast("int")).cast("long").alias("n_contaminated"),
                 F.sum("n_grams").alias("tot_grams"),
                 F.sum("n_matched").alias("tot_matched"),
                 F.sum("_micro").alias("sum_micro")))


_COUNTER_COLS = ["n_docs", "n_contaminated", "tot_grams", "tot_matched",
                 "sum_micro"]


def merge_contamination_counters(spark, path: str, batch: DataFrame,
                                 slice_cols: list[str]) -> None:
    """Fold one batch's counters into the persisted table (full-outer
    join on the slice grain, integer sums; whole-table rewrite — the
    table is one row per populated slice combination, tiny at any eval
    volume). Folds in place, crash-safe via util.swap_commit_dir. NOT
    idempotent under replay (counters double), exactly as for the
    additive rollups."""
    import os

    from ..util import heal_swapped_dir, swap_commit_dir

    data_p = os.path.join(path, "data")
    heal_swapped_dir(data_p)
    if os.path.exists(data_p):
        prev = spark.read.parquet(data_p).select(
            *slice_cols, *[F.col(c).alias(f"_p_{c}")
                           for c in _COUNTER_COLS])
        out = (prev.join(batch, slice_cols, "full_outer")
               .select(*slice_cols,
                       *[(F.coalesce(F.col(f"_p_{c}"), F.lit(0))
                          + F.coalesce(F.col(c), F.lit(0))).alias(c)
                         for c in _COUNTER_COLS]))
    else:
        out = batch
    swap_commit_dir(
        lambda tmp: out.repartition(1).write.mode("overwrite").parquet(tmp),
        data_p)


def read_contamination_counters(spark, path: str) -> DataFrame:
    """(slice..., counters) from a merge_contamination_counters store."""
    import os

    from ..util import heal_swapped_dir
    heal_swapped_dir(os.path.join(path, "data"))
    return spark.read.parquet(os.path.join(path, "data"))


def report_from_counters(counters: DataFrame,
                         slice_cols: list[str]) -> DataFrame:
    """The full ROLLUP contamination report served from folded counters
    — identical to ``contamination_report`` over every eval doc the
    store has folded (same vocabulary), because every aggregate is an
    exact integer sum over the finest grain."""
    agg = (counters.rollup(*[F.col(c) for c in slice_cols])
           .agg(F.grouping_id().alias("gid"),
                F.sum("n_docs").alias("n_docs"),
                F.sum("n_contaminated").alias("n_contaminated"),
                F.sum("tot_grams").alias("tot_grams"),
                F.sum("tot_matched").alias("tot_matched"),
                F.sum("sum_micro").alias("_sum_micro")))
    return agg.select(
        *slice_cols, "gid", "n_docs", "n_contaminated", "tot_grams",
        "tot_matched",
        F.round(F.col("tot_matched").cast("double")
                / F.col("tot_grams"), 6).alias("matched_frac"),
        (F.expr("(_sum_micro * 2 + n_docs) div (2 * n_docs)")
         / F.lit(1e6)).alias("avg_overlap"))
