"""Learned document-quality scoring: a hashed-bag-of-words logistic
regression in the role CCNet/LLaMA-style pipelines give a fastText
classifier — score every document for "looks like reference text" and
keep the top mass. Public recipe (Wenzek et al. 2019, "CCNet"; the
quality-classifier pattern of the LLaMA data notes).

Division of labor:

- the heuristic tiers (`quality_features`, `gopher_flags`) are
  deterministic expressions and carry the DuckDB oracles;
- this tier LEARNS from labels — seed docs you trust (or the heuristics
  as weak supervision) — and generalizes past hand thresholds. Seeded and
  single-pass, so scores are reproducible run-to-run, but model-derived,
  so coverage is pytest, not a SQL oracle.

Scale: featurization is HashingTF over the engine tokenizer's output
(scan-fused split + a per-row hashed projection — no vocabulary build,
no shuffle); training runs on the labeled frame (typically a sample);
scoring is one broadcast-model projection over the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokenize

N_FEATURES = 1 << 18


def _featurize(df: DataFrame, text_col: str,
               n_features: int = N_FEATURES):
    from pyspark.ml.feature import HashingTF

    # NULL text would make tokenize yield a NULL array and HashingTF
    # throw (NPE inside the UDF); the SQL oracle coalesces the same way
    toks = df.withColumn("_toks",
                         tokenize(F.coalesce(F.col(text_col), F.lit(""))))
    tf = HashingTF(inputCol="_toks", outputCol="features",
                   numFeatures=n_features)
    return tf.transform(toks).drop("_toks")


def train_quality_model(labeled: DataFrame, text_col: str,
                        label_col: str, reg: float = 1e-4,
                        max_iter: int = 50,
                        n_features: int = N_FEATURES,
                        train_partitions: int | None = None):
    """Fit the classifier on (text, label in {0,1}) rows — label 1 =
    reference-quality. Returns the fitted LogisticRegressionModel.

    `train_partitions` coalesces the featurized frame before the fit:
    every LBFGS iteration is a treeAggregate whose task count is the
    frame's partition count, and the labeled frame is typically a
    SAMPLE that arrives over-partitioned from upstream shuffles — at
    bench scale 15 rounds x 32 near-empty tasks was ~3x the fit time of
    the same rounds over 4. Default scales with the cluster
    (defaultParallelism div 8, floor 1) instead of any fixed local
    number; pass an explicit value for huge labeled sets. Partitioning
    only reorders FP accumulation (the documented LBFGS wiggle the
    accuracy floor absorbs); labels/counts are unaffected."""
    from pyspark.ml.classification import LogisticRegression

    feats = _featurize(
        labeled.withColumn("label", F.col(label_col).cast("double")),
        text_col, n_features)
    if train_partitions is None:
        train_partitions = max(
            1, labeled.sparkSession.sparkContext.defaultParallelism // 8)
    feats = feats.coalesce(train_partitions)
    lr = LogisticRegression(featuresCol="features", labelCol="label",
                            regParam=reg, maxIter=max_iter)
    return lr.fit(feats)


def score_quality(df: DataFrame, text_col: str, id_col: str,
                  model) -> DataFrame:
    """(id, quality_score): P(label=1) per doc under the trained model —
    one broadcast-model projection; filter or bucket downstream
    (compose with splits.token_budget_take for 'best N tokens')."""
    from pyspark.ml.functions import vector_to_array

    # featurize at the MODEL's width, not the module default — a model
    # trained at a custom n_features would otherwise hit a BLAS size
    # mismatch (or silently mis-score)
    scored = model.transform(
        _featurize(df.select(F.col(id_col).alias("id"),
                             F.col(text_col).alias("_txt")), "_txt",
                   model.numFeatures))
    return scored.select(
        "id",
        F.element_at(vector_to_array("probability"), 2)
         .alias("quality_score"))


def quality_holdout_eval(train: DataFrame, holdout: DataFrame,
                         text_col: str, label_col: str = "label",
                         floor: float = 0.7, max_iter: int = 15,
                         n_features: int = N_FEATURES) -> DataFrame:
    """Train on `train`, score `holdout`, and report ONE row
    (n_eval, n_pos, acc_ok): exact holdout counts plus a boolean
    accuracy floor — the trainer-eval evidence shape the driver can
    oracle-check (exact counts hash-compare; the accuracy itself is
    model-derived, so only its floor is asserted, the recall-floor
    pattern). LBFGS coefficients can wiggle with partitioning, but any
    competent fit clears a floor set well under the observed accuracy,
    so the boolean is stable."""
    from pyspark.ml.functions import vector_to_array

    # max_iter=15 default: holdout accuracy plateaus by ~10 LBFGS
    # iterations on weak-label fits while 50 costs ~3x the wall clock
    model = train_quality_model(train, text_col, label_col,
                                max_iter=max_iter,
                                n_features=n_features)
    # label rides THROUGH the scoring projection (model.transform keeps
    # input columns) — no scored-vs-truth join, no SMJ sort
    scored = model.transform(_featurize(
        holdout.select(F.col(text_col),
                       F.col(label_col).cast("int").alias("y")),
        text_col, n_features))
    prob = F.element_at(vector_to_array("probability"), 2)
    pred = (prob >= 0.5).cast("int")
    return (scored.agg(
                F.count(F.lit(1)).alias("n_eval"),
                F.sum("y").cast("long").alias("n_pos"),
                F.avg((pred == F.col("y")).cast("double")).alias("_acc"))
            .select("n_eval", "n_pos",
                    (F.col("_acc") >= floor).alias("acc_ok")))


def weak_label_from_gopher(df: DataFrame, text_col: str,
                           id_col: str) -> DataFrame:
    """Bootstrap labels without human annotation: the Gopher rule
    composite as weak supervision ((text, label) rows) — the standard
    cold-start for a learned quality filter; swap in curated positives
    when available."""
    from .text_analysis import gopher_flags

    flags = gopher_flags(df, text_col, id_col) \
        .select("id", F.col("keep").cast("int").alias("label"))
    return (df.select(F.col(id_col).alias("id"), F.col(text_col)
                      .alias(text_col))
            .join(flags, "id"))
