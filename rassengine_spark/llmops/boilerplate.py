"""Per-source boilerplate line statistics.

The corpus-GLOBAL repeated-line pass is ``text_analysis.line_dedup`` (C4,
Raffel et al. 2020 §2.2). Web-crawl curation needs the PER-SOURCE variant:
CCNet (Wenzek et al. 2020) and RefinedWeb (Penedo et al. 2023, both public)
strip lines that repeat across many documents *of the same domain* —
headers, footers, cookie banners, subscription prompts — because a line
frequent within one crawl source is boilerplate there even when it is rare
corpus-wide. This module computes those per-(source, line) document
frequencies, flags lines above a document-fraction threshold, and persists
the counters in an incrementally-foldable store so a growing crawl never
recounts history.

Spark-first shape, designed for a 100-TB corpus:

- line explosion is scan-fused (split + explode, no shuffle);
- per-(source, doc, line) de-dup is ONE distinct (partial aggregation
  map-side — the boilerplate heavy hitters compress hardest);
- counting is ONE hash aggregate on (source, line); the per-source doc
  totals are a tiny aggregate broadcast into the final join;
- no window over the corpus, no driver-side state.

The persisted store is a manifest-committed LSM of counter rows:

- ``versions/v{N}/`` — the compacted base counters;
- ``deltas/{name}/``  — one O(batch) parquet per fold, history untouched;
- ``manifest.json``   — the ATOMIC commit point (tmp + rename) naming the
  live base version and the live delta list. Readers see a consistent
  snapshot; a crash mid-fold leaves an orphan directory no reader lists;
  compaction writes v{N+1} + empty delta list and only then GCs, so a
  crash between commit and GC double-counts nothing.

Counter rows are (source, norm, cnt); a NULL ``norm`` row carries the
source's document total. Additivity requires folds to bring NEW documents
(the same contract as every fold store here: dedup signature store,
decontamination vocabulary, DSIR counts). Single writer per store.

Reference scope note: the reference engine (RASSEngine) has no corpus-
statistics tier; this extends the training-data toolset the same way
dedup.py / decontam.py do (BASELINE.json north-star ops).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _norm_lines(df: DataFrame, text_col: str, id_col: str, source_col: str,
                min_len: int, sep: str) -> DataFrame:
    """One row per DISTINCT (source, doc, normalized line): lower+trim —
    the same normalization as line_dedup — and drop lines shorter than
    ``min_len`` after trimming (empty lines always drop)."""
    lines = df.select(
        F.col(source_col).alias("source"),
        F.col(id_col).alias("id"),
        F.explode(F.split(F.coalesce(F.col(text_col), F.lit("")),
                          re.escape(sep))).alias("line"))
    norm = F.lower(F.trim(F.col("line")))
    return (lines.select("source", "id", norm.alias("norm"))
            .filter(F.length("norm") >= max(1, min_len))
            .distinct())


def line_doc_counts(df: DataFrame, text_col: str, id_col: str,
                    source_col: str, min_len: int = 1,
                    sep: str = "\n") -> DataFrame:
    """(source, norm, n_docs) — how many documents of each source contain
    each normalized line. The additive unit of the persisted store:
    counts over disjoint document sets sum to the count over their union
    (ids are assumed unique across the corpus, as everywhere here)."""
    return (_norm_lines(df, text_col, id_col, source_col, min_len, sep)
            .groupBy("source", "norm")
            .agg(F.count(F.lit(1)).alias("n_docs")))


def source_doc_counts(df: DataFrame, id_col: str,
                      source_col: str) -> DataFrame:
    """(source, src_docs) — documents per source (ids unique)."""
    return (df.groupBy(F.col(source_col).alias("source"))
            .agg(F.count(F.lit(1)).alias("src_docs")))


def _flag(cnt: DataFrame, src: DataFrame, min_docs: int,
          min_frac_ppm: int) -> DataFrame:
    """Shared threshold/join tail of the one-shot and store-served paths
    (so their semantics cannot drift): keep lines seen in >= min_docs
    documents of a source, attach the source total, and flag those at or
    above ``min_frac_ppm`` parts-per-million of the source's documents.
    frac_ppm is an exact BIGINT floor-division — no float in the
    contract (n_docs * 1e6 stays well under 2^63)."""
    out = (cnt.filter(F.col("n_docs") >= min_docs)
           .join(F.broadcast(src), "source")
           .withColumn("frac_ppm",
                       F.expr("n_docs * 1000000 div src_docs"))
           .withColumn("flagged", F.col("frac_ppm") >= min_frac_ppm))
    return out.select("source", F.col("norm").alias("line"), "n_docs",
                      "src_docs", "frac_ppm", "flagged")


def boilerplate_lines_by_source(df: DataFrame, text_col: str, id_col: str,
                                source_col: str, min_docs: int = 2,
                                min_frac_ppm: int = 250_000,
                                min_len: int = 1,
                                sep: str = "\n") -> DataFrame:
    """One-shot per-source boilerplate report:
    (source, line, n_docs, src_docs, frac_ppm, flagged).

    ``flagged`` lines are the CCNet-style removal candidates; the
    below-threshold rows (>= min_docs but < min_frac_ppm) are kept in the
    report so curators can see the near-misses. Feed flagged lines to
    line-removal (line_dedup's join shape) or to prep.py's boilerplate
    stage."""
    cnt = line_doc_counts(df, text_col, id_col, source_col, min_len, sep)
    src = source_doc_counts(df, id_col, source_col)
    return _flag(cnt, src, min_docs, min_frac_ppm)


def strip_boilerplate_by_source(df: DataFrame, text_col: str, id_col: str,
                                source_col: str, flags: DataFrame,
                                sep: str = "\n") -> DataFrame:
    """REMOVE every occurrence of the flagged per-source lines — the
    application half of the report (CCNet drops the line everywhere,
    unlike line_dedup's keep-first): ``flags`` is any frame with
    (source, line) rows, e.g. the flagged rows of
    ``boilerplate_lines_by_source`` or ``boilerplate_from_store``, so a
    NEW crawl increment can be stripped against the persisted counters
    without rescanning history. Returns (id, text, n_kept, n_dropped)
    with surviving lines reassembled in original order.

    Plan at 100 TB: the flag set is by construction the per-source heavy
    hitters (tiny next to the corpus) — broadcast hash join against the
    scan-fused posexplode; reassembly is the one groupBy(id) shuffle,
    same shape as line_dedup."""
    sep_re = re.escape(sep)
    lines = df.select(
        F.col(source_col).alias("source"),
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")),
                             sep_re)).alias("pos", "line"))
    lines = lines.withColumn("norm", F.lower(F.trim(F.col("line"))))
    fl = (flags.select(F.col("source"),
                       F.lower(F.trim(F.col("line"))).alias("norm"))
          .distinct().withColumn("_hit", F.lit(1)))
    keep = (lines.join(F.broadcast(fl), ["source", "norm"], "left")
            .withColumn("_keep", F.col("_hit").isNull()))
    return (keep.groupBy("id")
            .agg(F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(
                             F.when(F.col("_keep"),
                                    F.struct("pos", "line")))),
                         lambda s: s["line"]), sep).alias("text"),
                 F.sum(F.when(F.col("_keep"), 1).otherwise(0))
                  .alias("n_kept"),
                 F.sum(F.when(F.col("_keep"), 0).otherwise(1))
                  .alias("n_dropped")))


# ---------------------------------------------------------------------------
# persisted counter store — thin wrappers over the generic
# manifest-committed LSM (llmops/counter_store.py), which documents the
# layout, crash ordering, and replay/naming contract
# ---------------------------------------------------------------------------


def _stats_frame(df: DataFrame, text_col: str, id_col: str,
                 source_col: str, min_len: int, sep: str) -> DataFrame:
    """Counter rows for one document batch: line counters plus one
    NULL-norm doc-total row per source, one schema so the store is a
    single foldable table."""
    lines = (line_doc_counts(df, text_col, id_col, source_col, min_len,
                             sep)
             .select("source", "norm", F.col("n_docs").alias("cnt")))
    docs = (source_doc_counts(df, id_col, source_col)
            .select("source", F.lit(None).cast("string").alias("norm"),
                    F.col("src_docs").alias("cnt")))
    return lines.unionByName(docs)


def save_line_stats(df: DataFrame, text_col: str, id_col: str,
                    source_col: str, path: str, min_len: int = 1,
                    sep: str = "\n", buckets: int = 32) -> None:
    """Build the persisted per-source line-counter store from an initial
    corpus (base v1, empty delta list); min_len/sep are recorded so
    every fold normalizes identically."""
    from .counter_store import save_counters

    save_counters(_stats_frame(df, text_col, id_col, source_col,
                               min_len, sep),
                  ["source", "norm"], path, buckets=buckets,
                  extra={"min_len": min_len, "sep": sep})


def append_line_stats(new_df: DataFrame, text_col: str, id_col: str,
                      source_col: str, path: str,
                      delta_name: str | None = None) -> None:
    """Fold NEW documents in as one O(batch) delta — history files stay
    byte-identical; nothing is re-read or re-counted. Naming/replay
    contract per counter_store: an UNcommitted crash rewrites the
    orphan in place, an already-committed ``delta_name`` is a pure
    no-op (name deltas by batch id to make batch replay safe). Single
    writer, new-documents-only — replaying the
    same docs under a new name double-counts."""
    from .counter_store import append_counters, load_counter_manifest

    m = load_counter_manifest(path)
    append_counters(_stats_frame(new_df, text_col, id_col, source_col,
                                 int(m["min_len"]), m["sep"]),
                    path, delta_name=delta_name)


def read_line_stats(spark: SparkSession, path: str) -> DataFrame:
    """(source, norm, cnt) summed over the committed base + deltas — the
    consistent snapshot the manifest names (norm NULL rows are the
    per-source doc totals)."""
    from .counter_store import read_counters

    return read_counters(spark, path)


def compact_line_stats(spark: SparkSession, path: str) -> None:
    """Merge the delta slivers into base v{N+1}; manifest commits before
    GC, so a crash leaves either snapshot, never a double count."""
    from .counter_store import compact_counters

    compact_counters(spark, path)


def gc_line_stats(path: str) -> list[str]:
    """Remove unreferenced directories (crashed folds' orphan deltas,
    stale base versions). Returns the removed paths."""
    from .counter_store import gc_counters

    return gc_counters(path)


def boilerplate_from_store(spark: SparkSession, path: str,
                           min_docs: int = 2,
                           min_frac_ppm: int = 250_000) -> DataFrame:
    """The per-source boilerplate report served from the PERSISTED
    counters — identical output to ``boilerplate_lines_by_source`` over
    every document ever folded in, without touching any document text."""
    stats = read_line_stats(spark, path)
    cnt = (stats.filter(F.col("norm").isNotNull())
           .withColumnRenamed("cnt", "n_docs"))
    src = (stats.filter(F.col("norm").isNull())
           .select("source", F.col("cnt").alias("src_docs")))
    return _flag(cnt, src, min_docs, min_frac_ppm)
