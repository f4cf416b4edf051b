"""Bigram LM scorer: hand-computed probabilities, in-distribution vs
gibberish separation, short-doc handling."""

import math

from rassengine_spark.llmops.lm_score import bigram_lm_score, fit_bigram_lm


def test_hand_computed_probabilities(spark):
    train = spark.createDataFrame([(1, "a b a b")], "doc_id int, text string")
    bigrams, unigrams, vocab = fit_bigram_lm(train, "text", "doc_id")
    assert vocab == 2
    bc = {(r.w1, r.w2): r.c2 for r in bigrams.collect()}
    uc = {r.w1: r.c1 for r in unigrams.collect()}
    assert bc == {("a", "b"): 2, ("b", "a"): 1}
    assert uc == {"a": 2, "b": 1}

    score_df = spark.createDataFrame(
        [(10, "a b"), (11, "b b"), (12, "a")], "doc_id int, text string")
    got = {r.id: r for r in bigram_lm_score(
        score_df, bigrams, unigrams, vocab, "text", "doc_id").collect()}
    # P(b|a) = (2+1)/(2+2) = 0.75 ; P(b|b) = (0+1)/(1+2) = 1/3
    assert got[10].n_bigrams == 1
    assert abs(got[10].avg_logp - math.log(0.75)) < 1e-6
    assert abs(got[11].avg_logp - math.log(1 / 3)) < 1e-6
    # single-word doc: no bigrams, null score
    assert got[12].n_bigrams == 0 and got[12].avg_logp is None


def test_in_distribution_scores_higher(spark):
    train = spark.createDataFrame(
        [(i, "the cat sat on the mat and the dog sat on the rug")
         for i in range(5)], "doc_id int, text string")
    bigrams, unigrams, vocab = fit_bigram_lm(train, "text", "doc_id")
    score_df = spark.createDataFrame(
        [(1, "the cat sat on the rug"),
         (2, "rug dog mat zq xw cat")],          # shuffled/gibberish
        "doc_id int, text string")
    got = {r.id: r.avg_logp for r in bigram_lm_score(
        score_df, bigrams, unigrams, vocab, "text", "doc_id").collect()}
    assert got[1] > got[2]

def test_kn_hand_computed(spark):
    from rassengine_spark.llmops.lm_score import (fit_kn_bigram_lm,
                                                  kn_bigram_score)
    train = spark.createDataFrame([(1, "a b a b a c")],
                                  "doc_id int, text string")
    bigrams, hist, cont, n_types, vocab = fit_kn_bigram_lm(
        train, "text", "doc_id")
    # bigrams: (a,b)x2 (b,a)x2 (a,c)x1 -> 3 types; vocab {a,b,c}
    assert n_types == 3 and vocab == 3
    hc = {r.w1: (r.c1, r.n1p_fw) for r in hist.collect()}
    assert hc == {"a": (3, 2), "b": (2, 1)}
    bw = {r.w2: r.n1p_bw for r in cont.collect()}
    assert bw == {"a": 1, "b": 1, "c": 1}

    score_df = spark.createDataFrame(
        [(10, "a b"), (11, "z b"), (12, "a")], "doc_id int, text string")
    got = {r.id: r for r in kn_bigram_score(
        score_df, bigrams, hist, cont, n_types, vocab,
        "text", "doc_id").collect()}
    d, a = 0.75, 1.0
    pc_b = (1 + a) / (3 + a * 3)                      # N1+(.,b)=1, T=3, V=3
    # seen history a: (max(2 - d, 0) + d * N1+(a,.) * Pc(b)) / c1(a)
    exp10 = math.log((max(2 - d, 0.0) + d * 2 * pc_b) / 3)
    assert abs(got[10].avg_logp - exp10) < 1e-6
    # unseen history z: backs off to the continuation probability alone
    assert abs(got[11].avg_logp - math.log(pc_b)) < 1e-6
    assert got[12].n_bigrams == 0 and got[12].avg_logp is None


def test_kn_rewards_novel_continuations(spark):
    """The KN insight: a word seen after MANY distinct histories gets a
    higher continuation probability than an equally frequent word welded
    to one history ("Francisco" after anything-but-"San" should look
    bad; a versatile word should not)."""
    from rassengine_spark.llmops.lm_score import (fit_kn_bigram_lm,
                                                  kn_bigram_score)
    rows = [(i, f"w{i} versatile") for i in range(6)]          # 6 histories
    rows += [(100 + i, "san francisco") for i in range(6)]     # 1 history
    train = spark.createDataFrame(rows, "doc_id int, text string")
    model = fit_kn_bigram_lm(train, "text", "doc_id")
    score_df = spark.createDataFrame(
        [(1, "oov versatile"), (2, "oov francisco")],
        "doc_id int, text string")
    got = {r.id: r.avg_logp for r in kn_bigram_score(
        score_df, *model, "text", "doc_id").collect()}
    assert got[1] > got[2]


def test_kn_discount_validation(spark):
    import pytest
    from rassengine_spark.llmops.lm_score import (fit_kn_bigram_lm,
                                                  kn_bigram_score)
    train = spark.createDataFrame([(1, "a b")], "doc_id int, text string")
    model = fit_kn_bigram_lm(train, "text", "doc_id")
    with pytest.raises(ValueError):
        kn_bigram_score(train, *model, "text", "doc_id", discount=1.5)


def test_lm_store_fold_equals_fit(spark, tmp_path):
    """Folded count stores re-derive the exact fit_kn_bigram_lm model;
    scores from the store match the one-shot scores."""
    from rassengine_spark.llmops.lm_score import (append_lm_shard,
                                                  compact_lm_store,
                                                  fit_kn_bigram_lm,
                                                  kn_bigram_score,
                                                  kn_model_from_store,
                                                  save_lm_store)
    rows = [(i, f"w{i % 7} w{(i + 1) % 7} w{(i + 2) % 5} tail")
            for i in range(30)]
    train = spark.createDataFrame(rows, "doc_id int, text string")
    path = str(tmp_path / "lm")
    save_lm_store(train.filter("doc_id % 3 = 0"), "text", "doc_id", path)
    append_lm_shard(train.filter("doc_id % 3 = 1"), "text", "doc_id", path)
    compact_lm_store(spark, path)
    append_lm_shard(train.filter("doc_id % 3 = 2"), "text", "doc_id", path)

    got = kn_model_from_store(spark, path)
    want = fit_kn_bigram_lm(train, "text", "doc_id")
    assert got[3] == want[3] and got[4] == want[4]      # n_types, vocab
    assert sorted(map(tuple, got[0].collect())) == \
        sorted(map(tuple, want[0].collect()))           # bigram counts

    score_df = spark.createDataFrame(
        [(100, "w1 w2 w100"), (101, "solo")], "doc_id int, text string")
    s_got = sorted(map(tuple, kn_bigram_score(
        score_df, *got, "text", "doc_id").collect()))
    s_want = sorted(map(tuple, kn_bigram_score(
        score_df, *want, "text", "doc_id").collect()))
    assert s_got == s_want


def test_lm_store_crash_replay_heals(spark, tmp_path):
    """Crash between the bigrams and words commits: replaying the same
    batch resolves to the crashed delta name, no-ops the committed
    store, and completes the other — no double counts."""
    import os

    from rassengine_spark.llmops.counter_store import (
        append_counters, load_counter_manifest)
    from rassengine_spark.llmops.lm_score import (_bigram_counts,
                                                  append_lm_shard,
                                                  kn_model_from_store,
                                                  save_lm_store)
    base = spark.createDataFrame([(1, "a b c")], "doc_id int, text string")
    batch = spark.createDataFrame([(2, "a b d")], "doc_id int, text string")
    path = str(tmp_path / "lm")
    save_lm_store(base, "text", "doc_id", path)
    # simulate the crash window: bigrams committed, words not
    append_counters(_bigram_counts(batch, "text", "doc_id"),
                    os.path.join(path, "bigrams"), delta_name="d1")
    assert load_counter_manifest(
        os.path.join(path, "words"))["deltas"] == []
    # replay the whole shard through the public API
    append_lm_shard(batch, "text", "doc_id", path)
    bigrams, _, _, n_types, vocab = kn_model_from_store(spark, path)
    bc = {(r.w1, r.w2): r.c2 for r in bigrams.collect()}
    assert bc == {("a", "b"): 2, ("b", "c"): 1, ("b", "d"): 1}
    assert vocab == 4                                   # a b c d
