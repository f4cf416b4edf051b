"""llmops/dsir.py: hashed n-gram importance weights (DSIR-style data
selection) — target-likeness ordering, smoothing and short-text
fallback."""

from pyspark.sql import functions as F

from rassengine_spark.llmops.dsir import MICRO, importance_weights


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_target_like_doc_outranks_unrelated(spark):
    target = _docs(spark, [
        (100, "the patient has severe hypertension today"),
        (101, "patient blood pressure treatment plan")])
    raw = _docs(spark, [
        (1, "the patient has severe hypertension today"),   # = target text
        (2, "quarterly revenue grew nine percent annually")])
    w = {r.id: r for r in
         importance_weights(raw, target, "text", "doc_id").collect()}
    # same gram count (6-word docs -> 5 bigrams each)
    assert w[1].n_grams == 5 and w[2].n_grams == 5
    assert w[1].imp_micro > w[2].imp_micro
    # unrelated doc: every bucket has tgt=0, raw=1 -> 5 * (1*M div 2)
    assert w[2].imp_micro == 5 * (MICRO // 2)
    # target-identical doc: each bucket tgt=1, raw=1 -> 5 * (2*M div 2)
    assert w[1].imp_micro == 5 * MICRO


def test_short_text_whole_doc_fallback(spark):
    target = _docs(spark, [(100, "alpha")])
    raw = _docs(spark, [(1, "alpha"), (2, "beta")])
    w = {r.id: r for r in
         importance_weights(raw, target, "text", "doc_id").collect()}
    # one whole-text gram each (len < n words)
    assert w[1].n_grams == 1 and w[2].n_grams == 1
    assert w[1].imp_micro == MICRO          # (1+1)*M div (1+1)
    assert w[2].imp_micro == MICRO // 2     # (0+1)*M div (1+1)


def test_weight_fn_override_runs(spark):
    target = _docs(spark, [(100, "a b c")])
    raw = _docs(spark, [(1, "a b c"), (2, "x y z")])
    out = importance_weights(
        raw, target, "text", "doc_id",
        weight_fn=lambda t, r: F.log((t + 1.0) / (r + 1.0))).collect()
    got = {r.id: r.imp_micro for r in out}
    assert got[1] > got[2]                  # log-ratio form, same ordering
