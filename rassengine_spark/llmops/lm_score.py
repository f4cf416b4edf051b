"""Statistical language-model quality scoring: a Laplace-smoothed bigram
LM estimated from a reference corpus, scoring documents by average
log-probability — the CCNet-style "does this text look like the reference
distribution" filter (public methodology), built as pure DataFrame ops.

    P(w2 | w1) = (count(w1 w2) + a) / (count(w1) + a * V)
    score(doc) = mean over bigram positions of ln P(w2 | w1)

Shapes at 100 TB:

- the MODEL is two count tables (bigrams, unigrams) + a vocab size — the
  output of one explode + hash-aggregate over the reference corpus;
  persist and reuse across scoring runs like any materialized view.
- SCORING explodes each doc's bigrams and joins the count tables on the
  bigram/unigram keys (hash joins; the model tables are vocab-bounded,
  far smaller than any corpus), then one per-doc aggregate.
- the per-doc sum folds in POSITION order on both engines (array_sort +
  sequential fold in Spark; ORDER BY inside the aggregate in DuckDB), so
  scores are bit-reproducible and oracle-checkable despite floating-point
  addition being order-sensitive.

Low score = unlike the reference corpus (gibberish, boilerplate, wrong
language); threshold or quantile-trim downstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.chunker import words_of


def _doc_bigrams(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, pos, w1, w2) — one row per bigram position. Arrow-batched
    (the interpreted transform/struct expression form profiled as the
    dominant cost on both the fit and score sides); tokenization is the
    same Java-``\\s+`` ASCII split as `words_of`, and outputs are strings
    + ints, so results are bit-identical to the expression form."""
    import re

    id_type = df.schema[id_col].dataType.simpleString()
    ws_re = re.compile("[ \t\n\x0b\f\r]+")

    def run(batches):
        import pandas as pd
        for pdf in batches:
            ids, poss, w1s, w2s = [], [], [], []
            for rid, txt in zip(pdf["id"], pdf["txt"]):
                ws = [w for w in ws_re.split(txt or "") if w]
                for j in range(len(ws) - 1):
                    ids.append(rid)
                    poss.append(j)
                    w1s.append(ws[j])
                    w2s.append(ws[j + 1])
            yield pd.DataFrame({"id": ids, "pos": poss,
                                "w1": w1s, "w2": w2s})

    return df.select(F.col(id_col).alias("id"),
                     F.col(text_col).cast("string").alias("txt")) \
             .mapInPandas(run,
                          schema=f"id {id_type}, pos int, "
                                 "w1 string, w2 string")


def fit_bigram_lm(train: DataFrame, text_col: str,
                  id_col: str) -> tuple[DataFrame, DataFrame, int]:
    """(bigram_counts(w1,w2,c2), unigram_counts(w1,c1), vocab_size) from a
    reference corpus. Unigram counts use the w1 positions (each bigram's
    history), which is exactly the denominator the conditional needs."""
    bg = _doc_bigrams(train, text_col, id_col)
    # pin the aggregated count table: it feeds the unigram marginal AND
    # the caller's score join — unpinned, each consumer re-runs the
    # Arrow bigram explode over the train corpus (the dominant fit
    # cost). The pinned frame is the vocab-bounded model itself, the
    # thing production persists and reuses (the store tier below).
    bigrams = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2")) \
        .localCheckpoint(eager=False)
    # history counts are a marginal of the bigram table (c1 = sum of c2
    # over w2) — derived from the aggregated counts, NOT a second explode
    # pass over the corpus
    unigrams = bigrams.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vocab = (train.select(F.explode(words_of(F.col(text_col)))
                          .alias("w")).distinct().count())
    return bigrams, unigrams, int(vocab)


def fit_kn_bigram_lm(train: DataFrame, text_col: str, id_col: str,
                     ) -> tuple[DataFrame, DataFrame, DataFrame, int, int]:
    """Model tables for an interpolated Kneser-Ney bigram LM (Kneser &
    Ney 1995; the KenLM-family smoothing CCNet-style filters actually
    ship): returns (bigrams(w1,w2,c2), histories(w1,c1,n1p_fw),
    continuations(w2,n1p_bw), n_bigram_types, vocab_size).

    - ``n1p_fw`` = N1+(w1, .) — distinct continuations of history w1
      (the interpolation weight numerator).
    - ``n1p_bw`` = N1+(., w2) — distinct histories preceding w2 (the
      continuation-probability numerator: "how novel is w2", not "how
      frequent" — the KN insight).
    - ``n_bigram_types`` = N1+(., .) — total distinct bigram types.

    All three tables are marginals of ONE hash-aggregated bigram count
    table — a single explode pass over the corpus, exactly like
    `fit_bigram_lm`; at 100 TB the model stays vocab-bounded and is
    persisted/reused like any materialized view."""
    bg = _doc_bigrams(train, text_col, id_col)
    # pin the count table (same rationale as fit_bigram_lm): histories,
    # continuations, the eager n_types count, and the caller's score
    # join are four consumers — unpinned, each re-ran the Arrow bigram
    # explode over the train corpus. The n_types count below
    # materializes the checkpoint, so the explode runs exactly once.
    bigrams = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2")) \
        .localCheckpoint(eager=False)
    histories = bigrams.groupBy("w1").agg(
        F.sum("c2").alias("c1"), F.count(F.lit(1)).alias("n1p_fw"))
    continuations = bigrams.groupBy("w2").agg(
        F.count(F.lit(1)).alias("n1p_bw"))
    n_types = bigrams.count()
    vocab = (train.select(F.explode(words_of(F.col(text_col)))
                          .alias("w")).distinct().count())
    return bigrams, histories, continuations, int(n_types), int(vocab)


def kn_bigram_score(docs: DataFrame, bigrams: DataFrame,
                    histories: DataFrame, continuations: DataFrame,
                    n_types: int, vocab: int, text_col: str, id_col: str,
                    discount: float = 0.75, alpha: float = 1.0,
                    round_to: int = 6) -> DataFrame:
    """(id, n_bigrams, avg_logp) per doc under interpolated Kneser-Ney:

        Pc(w2)      = (N1+(., w2) + a) / (N1+(., .) + a * V)
        P(w2 | w1)  = (max(c(w1,w2) - d, 0) + d * N1+(w1, .) * Pc(w2))
                      / c(w1)                       if c(w1) > 0
                    = Pc(w2)                        otherwise (OOV history)

    The +a floor on Pc keeps unseen-everywhere bigrams finite (standard
    add-alpha over the type space; KenLM's <unk> mass plays this role).
    Docs under 2 words score null with n_bigrams = 0. Per-doc sums fold
    in position order on both engines (same contract as
    `bigram_lm_score`), so scores are bit-reproducible. Scoring is three
    hash joins against vocab-bounded model tables + one per-doc
    aggregate — the same 100 TB shape as the Laplace scorer."""
    if not 0.0 < discount < 1.0:
        raise ValueError(f"discount must be in (0, 1), got {discount}")
    bg = _doc_bigrams(docs, text_col, id_col)
    joined = (bg.join(bigrams, ["w1", "w2"], "left")
                .join(histories, "w1", "left")
                .join(continuations, "w2", "left"))
    pc = ((F.coalesce(F.col("n1p_bw"), F.lit(0)).cast("double") + alpha)
          / (float(n_types) + alpha * float(vocab)))
    seen = ((F.greatest(F.coalesce(F.col("c2"), F.lit(0)).cast("double")
                        - discount, F.lit(0.0))
             + (discount * F.col("n1p_fw").cast("double")) * pc)
            / F.col("c1").cast("double"))
    logp = F.when(F.col("c1").isNotNull(), F.log(seen)) \
            .otherwise(F.log(pc))
    per_pos = joined.select(
        "id", F.struct(F.col("pos").alias("p"), logp.alias("lp"))
        .alias("plp"))
    total = F.aggregate(F.array_sort(F.collect_list("plp")),
                        F.lit(0.0), lambda acc, x: acc + x["lp"])
    scored = (per_pos.groupBy("id")
              .agg(F.count(F.lit(1)).alias("n_bigrams"),
                   F.round(total / F.count(F.lit(1)), round_to)
                   .alias("avg_logp")))
    short = (docs.select(F.col(id_col).alias("id"),
                         F.size(words_of(F.col(text_col))).alias("_nw"))
             .filter(F.col("_nw") < 2)
             .select("id", F.lit(0).alias("n_bigrams"),
                     F.lit(None).cast("double").alias("avg_logp")))
    return scored.unionByName(short)


def bigram_lm_score(docs: DataFrame, bigrams: DataFrame,
                    unigrams: DataFrame, vocab: int, text_col: str,
                    id_col: str, alpha: float = 1.0,
                    round_to: int = 6) -> DataFrame:
    """(id, n_bigrams, avg_logp) per doc; docs under 2 words score null
    with n_bigrams = 0."""
    bg = _doc_bigrams(docs, text_col, id_col)
    joined = (bg.join(bigrams, ["w1", "w2"], "left")
                .join(unigrams, "w1", "left"))
    logp = F.log(
        (F.coalesce(F.col("c2"), F.lit(0)).cast("double") + alpha)
        / (F.coalesce(F.col("c1"), F.lit(0)).cast("double")
           + alpha * float(vocab)))
    per_pos = joined.select(
        "id", F.struct(F.col("pos").alias("p"), logp.alias("lp"))
        .alias("plp"))
    total = F.aggregate(F.array_sort(F.collect_list("plp")),
                        F.lit(0.0), lambda acc, x: acc + x["lp"])
    scored = (per_pos.groupBy("id")
              .agg(F.count(F.lit(1)).alias("n_bigrams"),
                   F.round(total / F.count(F.lit(1)), round_to)
                   .alias("avg_logp")))
    # docs with no bigrams (0 or 1 word) re-enter with null score
    short = (docs.select(F.col(id_col).alias("id"),
                         F.size(words_of(F.col(text_col))).alias("_nw"))
             .filter(F.col("_nw") < 2)
             .select("id", F.lit(0).alias("n_bigrams"),
                     F.lit(None).cast("double").alias("avg_logp")))
    return scored.unionByName(short)


# ------------------------------------------------------------------ store
# Persisted, incrementally-maintained LM model: the bigram count table
# and the unigram vocab table are both ADDITIVE, so they ride the
# manifest-LSM counter store (llmops/counter_store.py) — fold a crawl
# shard in as one O(batch) delta and every KN/Laplace model quantity
# (history counts, continuation fan-in, type totals, vocab size) is
# re-derived from the folded counts, exactly as fit derives them from a
# one-shot count. Two stores under one root:
#
#   path/bigrams  keys (w1, w2), cnt c2
#   path/words    keys (w,),     cnt c1   (presence => vocab membership)
#
# Two manifests = two commit points, so folds follow a fixed protocol:
# bigrams commits FIRST, words SECOND, and the default delta name is
# derived from the LAST-committed store (words). A crash between the
# two commits is healed by replaying the same batch: the name resolves
# to the crashed fold's name, the bigrams append no-ops (committed name)
# and the words append completes. Single writer, like every fold store.

def _bigram_counts(train: DataFrame, text_col: str,
                   id_col: str) -> DataFrame:
    bg = _doc_bigrams(train, text_col, id_col)
    return bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))


def _word_counts(train: DataFrame, text_col: str) -> DataFrame:
    return (train.select(F.explode(words_of(F.col(text_col))).alias("w"))
            .groupBy("w").agg(F.count(F.lit(1)).alias("c1")))


def save_lm_store(train: DataFrame, text_col: str, id_col: str,
                  path: str, buckets: int = 8) -> None:
    """Build the persisted LM model from an initial corpus. A top-level
    manifest commits LAST, after both sub-stores — it is the build's
    completion marker (a crash mid-build leaves no top manifest, so an
    init-if-missing check re-runs the build)."""
    import os

    from .counter_store import commit_counter_manifest, save_counters
    save_counters(_bigram_counts(train, text_col, id_col), ["w1", "w2"],
                  os.path.join(path, "bigrams"), cnt_col="c2",
                  buckets=buckets)
    save_counters(_word_counts(train, text_col), ["w"],
                  os.path.join(path, "words"), cnt_col="c1",
                  buckets=buckets)
    commit_counter_manifest(path, {"version": 1, "deltas": [],
                                   "stores": ["bigrams", "words"]})


def append_lm_shard(shard: DataFrame, text_col: str, id_col: str,
                    path: str, delta_name: str | None = None) -> None:
    """Fold one corpus shard's counts in (O(batch); history untouched).
    See the two-store commit protocol above — pass the same
    ``delta_name`` when replaying a crashed fold."""
    import os

    from .counter_store import append_counters, load_counter_manifest
    if delta_name is None:
        m = load_counter_manifest(os.path.join(path, "words"))
        seq = max((int(d[1:]) for d in m["deltas"]
                   if d[:1] == "d" and d[1:].isdigit()), default=0)
        delta_name = "d%d" % (seq + 1)
    append_counters(_bigram_counts(shard, text_col, id_col),
                    os.path.join(path, "bigrams"), delta_name=delta_name)
    append_counters(_word_counts(shard, text_col),
                    os.path.join(path, "words"), delta_name=delta_name)


def compact_lm_store(spark, path: str) -> None:
    import os

    from .counter_store import compact_counters
    compact_counters(spark, os.path.join(path, "bigrams"))
    compact_counters(spark, os.path.join(path, "words"))


def kn_model_from_store(spark, path: str
                        ) -> tuple[DataFrame, DataFrame, DataFrame,
                                   int, int]:
    """(bigrams, histories, continuations, n_types, vocab) for
    `kn_bigram_score`, re-derived from the folded counts — identical to
    `fit_kn_bigram_lm` on the concatenated corpus (counts are additive;
    every other quantity is a marginal of the summed table)."""
    import os

    from .counter_store import read_counters
    # pin the summed count table (fit_kn_bigram_lm's rationale): the
    # marginals, the eager n_types count, and the caller's score join
    # would otherwise each re-run the LSM base+delta union-aggregate
    bigrams = read_counters(spark, os.path.join(path, "bigrams")) \
        .localCheckpoint(eager=False)
    histories = bigrams.groupBy("w1").agg(
        F.sum("c2").alias("c1"), F.count(F.lit(1)).alias("n1p_fw"))
    continuations = bigrams.groupBy("w2").agg(
        F.count(F.lit(1)).alias("n1p_bw"))
    n_types = bigrams.count()
    vocab = read_counters(spark, os.path.join(path, "words")).count()
    return bigrams, histories, continuations, int(n_types), int(vocab)
