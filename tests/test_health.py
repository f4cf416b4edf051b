"""Pipeline-health view (llmops/health.py): the composed dashboard read
from stores built by batch folds — one exact-integer row per gate, and
empty stores read as zero."""

from pyspark.sql import functions as F

from rassengine_spark.llmops import dataquality as DQ
from rassengine_spark.llmops import decontam as DC
from rassengine_spark.llmops.health import health_report


def _orders_checks():
    return [DQ.completeness("v"),
            DQ.satisfies("pos(v)", F.col("v") > 0, min_metric=0.9)]


def test_health_report_batch_and_docs_modes(spark, tmp_path):
    """Batch-built stores: the health frame carries one exact-integer
    row per gate; docs=None omits the corpus-scan rows (the store-only
    online mode)."""
    dq_p, psi_p = str(tmp_path / "dq"), str(tmp_path / "psi")
    contam_p = str(tmp_path / "contam")
    vocab_p = str(tmp_path / "vocab")

    rows = [(i, (i % 7) - 1 if i % 5 else None) for i in range(60)]
    dq_df = spark.createDataFrame(rows, "id long, v long")
    DQ.save_dq_counters(dq_df, _orders_checks(), dq_p)

    ev = spark.createDataFrame(
        [(f"t{i % 2}", float(i % 50)) for i in range(200)],
        "g string, value double")
    DQ.save_psi_counters(ev, "g", "value", psi_p, lo=0.0, hi=50.0)
    # drifted current window for one group
    cur = spark.createDataFrame(
        [("t0", 49.0)] * 60 + [("t1", float(i % 50)) for i in range(60)],
        "g string, value double")
    DQ.append_psi_current(cur, psi_p)

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i} common tail words")
         for i in range(24)] + [(100, "alpha beta gamma delta 0 common "
                                 "tail words")],
        "doc_id long, text string")
    train = docs.filter("doc_id % 2 = 0")
    ev_docs = (docs.filter("doc_id % 2 = 1")
               .withColumn("suite", F.lit("s0"))
               .withColumn("lang", F.lit("en")))
    DC.save_gram_vocab(train, "text", vocab_p, n=3)
    c = DC.contamination_counters(spark, ev_docs, "text", "doc_id",
                                  ["suite", "lang"], vocab_p,
                                  threshold=0.8)
    DC.merge_contamination_counters(spark, contam_p, c, ["suite", "lang"])

    full = health_report(spark, dq_p, psi_p, contam_p, docs=docs)
    got = dict((r.metric, (r.value, r.flagged)) for r in full.collect())
    assert got["drifted_event_types"][0] >= 1        # t0 shifted to 49
    assert got["drifted_event_types"][1] is True
    assert got["total_docs"] == (25, False)
    assert got["duplicate_docs"] == (1, True)        # doc 100 == doc 0's
    assert got["eval_docs_checked"][0] == ev_docs.count()
    store_only = health_report(spark, dq_p, psi_p, contam_p, docs=None)
    assert {r.metric for r in store_only.collect()} == {
        "dq_row_checks_failed", "drifted_event_types",
        "contaminated_eval_docs", "eval_docs_checked"}


def test_health_report_empty_stores_read_as_zero(spark, tmp_path):
    """Stores that exist but have folded nothing yet (a maintainer's
    empty init) must read as zero-valued unflagged gates, never null
    rows — the dashboard is valid from the first moment of a run."""
    dq_p, psi_p = str(tmp_path / "dq"), str(tmp_path / "psi")
    contam_p = str(tmp_path / "ct")

    DQ.save_dq_counters(spark.createDataFrame([], "id long, v long"),
                        _orders_checks(), dq_p)
    DQ.save_psi_counters(
        spark.createDataFrame([("t0", 1.0)], "g string, value double"),
        "g", "value", psi_p, lo=0.0, hi=10.0)   # baseline, no current
    # contamination store with a zero-row committed counters table
    empty = spark.createDataFrame(
        [], "suite string, lang string, n_docs long, n_contaminated long,"
            " tot_grams long, tot_matched long, sum_micro long")
    DC.merge_contamination_counters(spark, contam_p, empty,
                                    ["suite", "lang"])

    got = {r.metric: (r.value, r.flagged) for r in
           health_report(spark, dq_p, psi_p, contam_p).collect()}
    assert got["contaminated_eval_docs"] == (0, False)
    assert got["eval_docs_checked"] == (0, False)
    assert got["drifted_event_types"][1] in (False, None) or \
        got["drifted_event_types"][0] == 0
