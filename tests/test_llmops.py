"""Tests for the training-data pipeline operators (dedup / exact kNN
reference / text analysis)."""

from pyspark.sql import functions as F

from rassengine_spark.llmops import dedup as DD
from rassengine_spark.llmops import similarity as SIM
from rassengine_spark.llmops import text_analysis as TA


def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again", "en"),
        (2, "the quick brown fox jumps over the lazy dog again and again", "en"),  # exact dup of 1
        (3, "quick brown fox jumps over the lazy dog again and again", "en"),      # near dup of 1
        (4, "completely different words about spark shuffles and parquet files", "en"),
        (5, "el zorro marron salta sobre el perro perezoso", "es"),
    ]
    return spark.createDataFrame(rows, "id int, text string, lang string")


def test_minhash_lsh_finds_near_dups(spark):
    pairs = DD.minhash_lsh_pairs(docs(spark), "text", "id",
                                 shingle_n=3, threshold=0.5).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert got[(1, 2)] == 1.0            # exact dup -> jaccard 1
    assert (1, 3) in got and got[(1, 3)] > 0.5
    assert all(4 not in p and 5 not in p for p in got)


def test_simhash_near_for_near_dups(spark):
    fp = {r["id"]: r["simhash"]
          for r in DD.simhash_fingerprints(docs(spark), "text", "id").collect()}
    assert fp[1] == fp[2]                # identical text -> identical simhash
    ham = bin(fp[1] ^ fp[3]).count("1")
    assert ham <= 4                      # near dup -> small hamming
    far = bin(fp[1] ^ fp[4]).count("1")
    assert far > ham                     # unrelated text is farther


def test_ngram_jaccard_blocks(spark):
    pairs = DD.ngram_jaccard_pairs(docs(spark), "text", "id", "lang",
                                   n=2, threshold=0.3).collect()
    keys = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in keys and (1, 3) in keys
    # doc 5 is in another block -> never compared
    assert all(5 not in k for k in keys)


def vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0], 0),
        (2, [0.0, 1.0, 0.0], 0),
        (3, [-1.0, 0.0, 0.0], 1),
        (4, [0.95, 0.05, 0.0], 1),
    ]
    return spark.createDataFrame(rows, "vec_id int, v array<double>, label int")


def test_brute_force_topk(spark):
    e = vecs(spark)
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), "v")
    out = SIM.brute_force_topk(e.filter(F.col("vec_id") > 0), q,
                               "v", "vec_id", "qid", k=2).collect()
    assert [(r["id"], r["rank"]) for r in out] == [(4, 1), (1, 2)]


def test_ivf_plan_builds_fast_at_large_n_cells(spark):
    """Scale guard: the embedding-dedup md5-IVF cell assignment must be O(1)
    plan nodes in n_cells (one matrix literal + a transform), not one
    expression subtree per centroid — at a realistic 4k-64k cells the
    latter dies in plan construction/analysis long before any data
    moves. 2048 cells x 3 dims must build AND analyze in seconds."""
    import time
    c = vecs(spark)
    cents = [[float((i * 7 + j) % 5 - 2) for j in range(3)]
             for i in range(2048)]
    t0 = time.perf_counter()
    plan = c.select("vec_id", DD._best_cell("v", cents, 6).alias("cell"))
    plan.schema               # forces full analysis of the plan
    assert time.perf_counter() - t0 < 30


def test_recall_at_k_counts_misses(spark):
    exact = spark.createDataFrame(
        [(0, i) for i in range(5)], "query_id int, id int")
    approx = spark.createDataFrame(           # missing id=4, has stray id=9
        [(0, 0), (0, 1), (0, 2), (0, 3), (0, 9)], "query_id int, id int")
    r = SIM.recall_at_k(approx, exact).collect()[0]
    assert (r["n_exact"], r["n_matched"], r["recall"]) == (5, 4, 0.8)


def test_embedding_near_pairs(spark):
    out = DD.embedding_near_pairs_topn(vecs(spark), "v", "vec_id", "label",
                                       top_n=2).collect()
    assert (out[0]["id_a"], out[0]["id_b"]) == (0, 1)  # most similar in block


def test_scale_safe_defaults_round5(spark):
    # VERDICT r4 #2: the 100 TB-safe forms are the API defaults. The
    # posting cap defaults ON for n-gram Jaccard; the gram-matrix ops
    # default to md5-IVF cell refinement that SELF-DISABLES below
    # max_block rows (small frames stay exact) and only ever removes
    # cross-cell pairs when it engages.
    import inspect
    assert inspect.signature(DD.ngram_jaccard_pairs) \
                  .parameters["max_postings"].default == 20
    v = vecs(spark)
    key = lambda rows: [(r.id_a, r.id_b, r.cos) for r in rows]   # noqa: E731
    exact = DD.embedding_near_pairs_topn(v, "v", "vec_id", "label",
                                         top_n=10, max_block=None).collect()
    default = DD.embedding_near_pairs_topn(v, "v", "vec_id", "label",
                                           top_n=10).collect()
    assert key(default) == key(exact)        # n=5 << 4096: self-disabled
    celled = DD.embedding_near_pairs_topn(v, "v", "vec_id", "label",
                                          top_n=10, max_block=2).collect()
    assert set(key(celled)) <= set(key(exact))
    # semantic_prune: same self-disable contract, block col preserved
    p_exact = {r.id: (r.kept, r.blk) for r in
               DD.semantic_prune(v, "v", "vec_id", "label", threshold=0.8,
                                 max_block=None).collect()}
    p_default = {r.id: (r.kept, r.blk) for r in
                 DD.semantic_prune(v, "v", "vec_id", "label",
                                   threshold=0.8).collect()}
    assert p_default == p_exact


def test_semantic_prune_keep_min_id_not_transitive(spark):
    # chain: 0~1 and 1~2 similar, 0!~2 — the rule drops any row with a
    # similar SMALLER id regardless of that row's own fate: 1 drops
    # (dup of 0) and 2 ALSO drops (dup of dropped 1) — the conservative
    # superset of greedy pruning the docstring spells out. Orthogonal 4
    # in the same block and singleton block "y" are kept.
    df = spark.createDataFrame(
        [(0, "x", [1.0, 0.0]),
         (1, "x", [0.9, 0.45]),       # cos(0,1)=.895, cos(1,2)=.893
         (2, "x", [0.45, 0.9]),       # cos(0,2)=.447
         (4, "x", [-1.0, 0.0]),       # cos vs 0/1/2 all <= 0
         (3, "y", [1.0, 0.0])],
        "vec_id long, label string, v array<double>")
    got = {r.id: r.kept for r in
           DD.semantic_prune(df, "v", "vec_id", "label",
                             threshold=0.8).collect()}
    assert got == {0: True, 1: False, 2: False, 4: True, 3: True}


def test_text_analysis_columns(spark):
    d = docs(spark)
    lang = {r["id"]: r["lang_pred"] for r in d.select(
        F.col("id"), TA.lang_id_expr(F.col("text")).alias("lang_pred")).collect()}
    assert lang[1] == "en" and lang[5] == "es"

    q = {r["id"]: r for r in TA.quality_features(d, "text", "id").collect()}
    assert q[1]["n_tokens"] == 12
    assert q[1]["quality"] == 1.0
    tc = {r["id"]: r for r in TA.token_counts(d, "text", "id").collect()}
    assert tc[1]["ws_tokens"] == 12
    fp = {r["id"]: r["fingerprint"]
          for r in TA.fingerprints(d, "text", "id").collect()}
    assert fp[1] == fp[2] and fp[1] != fp[4]


def test_minhash_bucket_cap_drops_boilerplate(spark):
    from rassengine_spark.llmops.dedup import minhash_lsh_pairs
    # 8 identical boilerplate docs (collide in every band bucket) + one
    # true near-dup pair of a distinct text
    boiler = "the quick brown fox jumps over the lazy dog again and again"
    distinct = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
                "lambda mu nu xi omicron pi rho sigma tau")
    rows = [(i, boiler) for i in range(8)]
    rows += [(100, distinct), (101, distinct + " extra")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    full = minhash_lsh_pairs(df, "text", "doc_id", threshold=0.3)
    capped = minhash_lsh_pairs(df, "text", "doc_id", threshold=0.3,
                               max_bucket_size=4)
    full_pairs = {(r.id_a, r.id_b) for r in full.collect()}
    capped_pairs = {(r.id_a, r.id_b) for r in capped.collect()}
    # uncapped finds all 28 boilerplate pairs + the true pair
    assert (100, 101) in full_pairs and len(full_pairs) == 29
    # cap drops the oversized boilerplate buckets, keeps the true pair
    assert capped_pairs == {(100, 101)}


def test_ngram_posting_cap_bounds_boilerplate_work(spark):
    # 6 docs sharing one boilerplate bigram everywhere + a true near-dup
    # pair with private overlap; cap = 4 drops the boilerplate postings
    boiler = "terms apply " * 5            # every bigram occurs in 6 docs
    rows = [(i, boiler + f"unique{i} filler{i}") for i in range(6)]
    rows += [(100, "alpha beta gamma delta epsilon zeta"),
             (101, "alpha beta gamma delta epsilon eta")]
    df = (spark.createDataFrame(rows, "id int, text string")
               .withColumn("lang", F.lit("en")))
    full = DD.ngram_jaccard_pairs(df, "text", "id", "lang",
                                  n=2, threshold=0.1)
    capped = DD.ngram_jaccard_pairs(df, "text", "id", "lang",
                                    n=2, threshold=0.1, max_postings=4)
    full_pairs = {(r.id_a, r.id_b): r.jaccard for r in full.collect()}
    capped_pairs = {(r.id_a, r.id_b): r.jaccard for r in capped.collect()}
    # uncapped sees every boilerplate pair and the true pair
    assert (100, 101) in full_pairs
    assert sum(1 for a, b in full_pairs if a < 100) == 15
    # capped keeps the true pair at its exact jaccard, drops boilerplate
    assert (100, 101) in capped_pairs
    assert capped_pairs[(100, 101)] == full_pairs[(100, 101)]
    assert all(a >= 100 for a, b in capped_pairs)
    # capped jaccards are lower bounds of the exact values
    assert all(capped_pairs[k] <= full_pairs[k] for k in capped_pairs)


# ---------------------------------------------------------------- decontam
def test_decontam_overlap_fractions(spark):
    from rassengine_spark.llmops.decontam import flag_contaminated
    train = spark.createDataFrame(
        [(1, "a b c d e f g h"),           # grams of this text are "in train"
         (2, "z y x w v u t s")],
        "doc_id int, text string")
    ev = spark.createDataFrame(
        [(10, "a b c d e f g h"),          # fully contained -> frac 1.0
         (11, "a b c d q q q q"),          # 2 of 5 distinct trigrams match
         (12, "m n o p q r s t")],         # nothing matches
        "doc_id int, text string")
    got = {r.doc_id: r for r in
           flag_contaminated(ev, train, "text", "doc_id",
                             n=3, threshold=0.9).collect()}
    assert got[10].n_grams == 6 and got[10].n_matched == 6
    assert got[10].overlap_frac == 1.0 and got[10].contaminated
    assert got[11].n_grams == 5 and got[11].n_matched == 2
    assert not got[11].contaminated
    assert got[12].n_matched == 0 and not got[12].contaminated


def test_decontam_short_text_whole_shingle(spark):
    from rassengine_spark.llmops.decontam import ngram_overlap
    # texts shorter than n collapse to one whole-text shingle on both sides
    train = spark.createDataFrame([(1, "tiny doc")], "doc_id int, text string")
    ev = spark.createDataFrame([(10, "tiny doc"), (11, "other doc")],
                               "doc_id int, text string")
    got = {r.doc_id: r for r in
           ngram_overlap(ev, train, "text", "doc_id", n=8).collect()}
    assert got[10].n_grams == 1 and got[10].n_matched == 1
    assert got[11].n_grams == 1 and got[11].n_matched == 0


def test_contamination_report_rollup_grains(spark):
    """ROLLUP report: finest rows sum to the suite subtotal and the
    corpus total; pooled matched_frac divides the exact sums; macro
    avg_overlap is the half-up integer-micro mean of per-doc fractions."""
    from rassengine_spark.llmops.decontam import contamination_report
    train = spark.createDataFrame(
        [(1, "a b c d e f g h")], "doc_id int, text string")
    ev = spark.createDataFrame(
        [(10, "a b c d e f g h", "s0", "en"),   # frac 1.0 (6/6)
         (11, "a b c d q q q q", "s0", "de"),   # 2/5
         (12, "m n o p q r s t", "s1", "en")],  # 0/6
        "doc_id int, text string, suite string, lang string")
    rows = contamination_report(ev, train, "text", "doc_id",
                                ["suite", "lang"], n=3,
                                threshold=0.9).collect()
    by = {(r.suite, r.lang, r.gid): r for r in rows}
    assert len(rows) == 6  # 3 finest + 2 suite subtotals + 1 total
    f = by[("s0", "de", 0)]
    assert (f.n_docs, f.n_contaminated, f.tot_grams, f.tot_matched) \
        == (1, 0, 5, 2)
    assert f.matched_frac == 0.4 and f.avg_overlap == 0.4
    sub = by[("s0", None, 1)]
    assert (sub.n_docs, sub.n_contaminated, sub.tot_grams,
            sub.tot_matched) == (2, 1, 11, 8)
    assert sub.matched_frac == round(8 / 11, 6)
    # macro mean of micro units: (1000000 + 400000 + 1) // 2 -> half-up
    assert sub.avg_overlap == 0.7
    tot = by[(None, None, 3)]
    assert (tot.n_docs, tot.n_contaminated, tot.tot_grams,
            tot.tot_matched) == (3, 1, 17, 8)
    assert tot.avg_overlap == round((1.0 + 0.4 + 0.0) / 3 + 1e-12, 6)


# ---------------------------------------------------------------- repetition
def test_repetition_features_hand_computed(spark):
    from rassengine_spark.llmops.text_analysis import repetition_features
    df = spark.createDataFrame(
        [(1, "a a a b"),            # words 4, distinct 2; run 3
         (2, "x y x y x y"),        # bigrams: xy,yx,xy,yx,xy -> top 3/5
         (3, "unique words only here"),
         (4, "solo")],              # < n words -> no grams
        "doc_id int, text string")
    got = {r.id: r for r in
           repetition_features(df, "text", "doc_id", n=2).collect()}
    r1 = got[1]
    assert r1.n_words == 4 and r1.max_word_run == 3
    assert r1.dup_word_frac == 0.5
    # bigrams of doc1: "a a","a a","a b" -> top 2/3, distinct 2/3
    assert r1.top_ngram_frac == round(2 / 3, 6)
    assert r1.dup_ngram_frac == round(1 - 2 / 3, 6)
    r2 = got[2]
    assert r2.max_word_run == 1 and r2.top_ngram_frac == 0.6
    assert r2.dup_ngram_frac == round(1 - 2 / 5, 6)
    r3 = got[3]
    assert r3.dup_word_frac == 0.0 and r3.max_word_run == 1
    assert r3.top_ngram_frac == round(1 / 3, 6) and r3.dup_ngram_frac == 0.0
    r4 = got[4]
    assert r4.n_words == 1 and r4.max_word_run == 1
    assert r4.top_ngram_frac == 0.0 and r4.dup_ngram_frac == 0.0


def test_repetition_fast_matches_expression_form(spark):
    """The Arrow-batched integer-stats pass must be bit-identical to the
    explode+aggregate expression form, including null/empty/short texts."""
    from rassengine_spark.llmops.text_analysis import (
        repetition_features, repetition_features_fast)
    rows = [("1", "a a a b"), ("2", "x y x y x y"), ("3", "solo"),
            ("4", ""), ("5", None), ("6", "  tab\tsep  words\nhere  "),
            ("7", "w " * 50 + "w")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    slow = sorted(map(str, repetition_features(
        df, "text", "doc_id", n=2).collect()))
    fast = sorted(map(str, repetition_features_fast(
        df, "text", "doc_id", n=2).collect()))
    assert fast == slow


def test_decontam_fast_matches_expression_form(spark):
    """Arrow gram-hash pass == explode(word_shingles)+hash60 expression
    form, including short-text whole-shingle fallback and empty text."""
    from rassengine_spark.llmops.decontam import (ngram_overlap,
                                                  ngram_overlap_fast)
    ev = spark.createDataFrame(
        [("e1", "alpha beta gamma delta epsilon zeta"),
         ("e2", "tiny"), ("e3", ""), ("e4", "alpha beta gamma new words x")],
        "doc_id string, text string")
    tr = spark.createDataFrame(
        [("t1", "alpha beta gamma delta epsilon zeta eta theta"),
         ("t2", "tiny")],
        "doc_id string, text string")
    slow = sorted(map(str, ngram_overlap(ev, tr, "text", "doc_id",
                                         n=3).collect()))
    fast = sorted(map(str, ngram_overlap_fast(ev, tr, "text", "doc_id",
                                              n=3).collect()))
    assert fast == slow


def test_quality_fast_matches_expression_form(spark):
    rows = [(1, "The quick brown fox, it is on the mat!!!"),
            (2, ""),
            (3, None),
            (4, "x"),
            (5, "word " * 30),
            (6, "!!! ??? ;;; :::"),
            (7, "Tab\tand\nnewline   spacing a an it as on at")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    slow = {r["id"]: r for r in
            TA.quality_features(df, "text", "doc_id").collect()}
    fast = {r["id"]: r for r in
            TA.quality_features_fast(df, "text", "doc_id").collect()}
    assert set(slow) == set(fast)
    for k in slow:
        assert tuple(slow[k]) == tuple(fast[k]), (k, slow[k], fast[k])


def test_langid_fast_matches_expression_form(spark):
    rows = [(1, "the quick brown fox and the dog"),
            (2, "el zorro y el perro en la casa"),
            (3, "der hund und die katze ist da"),
            (4, "le chat et les chiens en ville"),
            (5, "xyzzy qwerty plugh"),
            (6, None),
            (7, ""),
            (8, "de la the und el le")]       # cross-language tie material
    df = spark.createDataFrame(rows, "doc_id int, text string")
    slow = {r["id"]: r["lang_pred"] for r in df.select(
        F.col("doc_id").alias("id"),
        TA.lang_id_expr(F.col("text")).alias("lang_pred")).collect()}
    fast = {r["id"]: r["lang_pred"]
            for r in TA.lang_id_fast(df, "text", "doc_id").collect()}
    assert slow == fast


def _ppm(w, h, rgb):
    header = b"P6\n%d %d\n255\n" % (w, h)
    return header + bytes(rgb) * (w * h)


def test_incremental_dedup_against_signature_store(spark, tmp_path):
    """New-batch near-dups must be found against the persisted signature
    store WITHOUT touching historical text, and the estimate must agree
    with the store-frame (non-persisted) path bit-for-bit."""
    hist = docs(spark)
    new = spark.createDataFrame(
        [(101, "quick brown fox jumps over the lazy dog again and again"),
         (102, "totally novel content that matches nothing at all here")],
        "id int, text string")
    live = DD.incremental_minhash_pairs(
        new, DD.minhash_store_frame(hist, "text", "id"), "text", "id",
        threshold=0.5).collect()
    path = str(tmp_path / "mhstore")
    DD.save_minhash_store(hist, "text", "id", path)
    stored = DD.incremental_minhash_pairs(
        new, spark.read.parquet(path), "text", "id",
        threshold=0.5).collect()
    assert sorted(map(tuple, stored)) == sorted(map(tuple, live))
    found = {(r.id_old, r.id_new) for r in stored}
    assert (1, 101) in found and (2, 101) in found   # near-dups of 1/2
    assert all(nid != 102 for _, nid in found)       # novel doc is clean


def test_gopher_flags_rules(spark):
    long_ok = " ".join(f"word{i%7} the and for that with this from"
                       .split()[i % 8] for i in range(80))
    rows = [
        (1, long_ok),                                     # passes all rules
        (2, "short text"),                                # too few words
        (3, "\n".join("- item %d here" % i for i in range(20))),  # bullets
        (4, " ".join("a" for _ in range(60))),            # mean word len < 3
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    out = {r.id: r for r in TA.gopher_flags(df, "text", "id").collect()}
    assert out[1].keep
    assert out[2].flag_word_count and not out[2].keep
    assert out[3].flag_bullet_lines and not out[3].keep
    assert out[4].flag_mean_word_len and not out[4].keep


def test_line_dedup_semantics(spark):
    """C4-style line dedup: repeated lines drop except the FIRST corpus
    occurrence ((id, pos) order), blank lines are exempt everywhere, and
    docs reassemble in original line order."""
    from rassengine_spark.llmops.text_analysis import line_dedup
    docs = spark.createDataFrame(
        [(1, "HEADER\nunique one\n\nHEADER"),
         (2, "HEADER\nunique two"),
         (3, "header \nALSO UNIQUE")],      # normalizes equal to HEADER
        "doc_id long, text string")
    out = {r.id: r for r in
           line_dedup(docs, "text", "doc_id").collect()}
    # doc 1 holds the first occurrence (pos 0); its SECOND header drops,
    # the blank line survives
    assert out[1].text == "HEADER\nunique one\n"
    assert (out[1].n_kept, out[1].n_dropped) == (3, 1)
    # later docs lose their header entirely (original casing immaterial)
    assert out[2].text == "unique two"
    assert out[3].text == "ALSO UNIQUE"
    assert out[3].n_dropped == 1


def test_line_dedup_all_dropped_doc(spark):
    from rassengine_spark.llmops.text_analysis import line_dedup
    docs = spark.createDataFrame(
        [(1, "dup"), (2, "dup"), (3, "dup")], "doc_id long, text string")
    out = {r.id: r for r in
           line_dedup(docs, "text", "doc_id").collect()}
    assert out[1].text == "dup" and out[1].n_kept == 1
    assert out[2].text == "" and out[2].n_kept == 0
    assert out[3].n_dropped == 1


def test_unicode_clean_rules(spark):
    """NFC composes decomposed sequences; CRLF/CR become LF; zero-width
    and C0 controls vanish while tab/newline survive."""
    from rassengine_spark.llmops.text_analysis import unicode_clean
    docs = spark.createDataFrame(
        [(1, "Cafe\u0301 ok"),            # decomposed -> composed
         (2, "a\r\nb\rc"),               # CRLF + bare CR -> LF
         (3, "z\u200bw\ufeff!\x07\ttab")],  # zero-width/BOM/BEL out, tab in
        "doc_id long, text string")
    out = {r.id: r for r in unicode_clean(docs, "text", "doc_id").collect()}
    assert out[1].clean == "Café ok"
    assert (out[1].n_chars_before, out[1].n_chars_after) == (8, 7)
    assert out[2].clean == "a\nb\nc"
    assert out[3].clean == "zw!\ttab"


def test_line_dedup_paragraph_variant(spark):
    """sep='\\n\\n' dedups whole repeated paragraphs while lines inside
    unique paragraphs survive untouched."""
    from rassengine_spark.llmops.text_analysis import line_dedup
    boiler = "Subscribe to our newsletter!\nClick here."
    docs = spark.createDataFrame(
        [(1, boiler + "\n\nunique article one"),
         (2, boiler + "\n\nunique article two"),
         (3, "standalone piece\n\n" + boiler)],
        "doc_id long, text string")
    out = {r.id: r for r in
           line_dedup(docs, "text", "doc_id", sep="\n\n").collect()}
    assert out[1].text == boiler + "\n\nunique article one"
    assert out[2].text == "unique article two"
    assert out[3].text == "standalone piece"
    assert out[2].n_dropped == 1 and out[3].n_dropped == 1


def test_gram_vocab_store_roundtrip_append_and_meta(spark, tmp_path):
    """Persisted vocabulary tier: store probes equal the one-shot
    overlap; append folds only NOVEL grams and never rewrites history
    files; repeated appends are no-ops; meta pins n."""
    import os

    from rassengine_spark.llmops.decontam import (append_gram_vocab,
                                                  ngram_overlap,
                                                  ngram_overlap_from_store,
                                                  save_gram_vocab)
    train = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "z y x w v u"), (3, "a b c q r s")],
        "doc_id int, text string")
    ev = spark.createDataFrame(
        [(10, "a b c d e f"), (11, "a b c n o p"), (12, "m n o p q t")],
        "doc_id int, text string")
    path = str(tmp_path / "vocab")
    save_gram_vocab(train.filter("doc_id <= 2"), "text", path, n=3)
    append_gram_vocab(train.filter("doc_id = 3"), "text", path)

    def _snap(p):
        out = {}
        for dp, _, names in os.walk(p):
            for fn in names:
                fp = os.path.join(dp, fn)
                st = os.stat(fp)
                out[fp] = (st.st_mtime_ns, st.st_size)
        return out

    before = {p: s for p, s in _snap(path).items()
              if p.endswith(".parquet")}
    stored = {(r.doc_id, r.n_grams, r.n_matched, r.overlap_frac)
              for r in ngram_overlap_from_store(spark, ev, "text",
                                                "doc_id", path).collect()}
    oneshot = {(r.doc_id, r.n_grams, r.n_matched, r.overlap_frac)
               for r in ngram_overlap(ev, train, "text", "doc_id",
                                      n=3).collect()}
    assert stored == oneshot

    # idempotent re-append: zero novel grams -> history byte-untouched
    n_rows = spark.read.parquet(os.path.join(path, "vocab")).count()
    append_gram_vocab(train, "text", path)
    after = {p: s for p, s in _snap(path).items()
             if p.endswith(".parquet") and p in before}
    assert after == before
    assert spark.read.parquet(
        os.path.join(path, "vocab")).count() == n_rows
    # vocabulary stays a set across appends
    assert (spark.read.parquet(os.path.join(path, "vocab"))
            .distinct().count() == n_rows)


def test_neardup_leakage_component_level(spark):
    """Leakage audit: an eval doc leaks when its LSH component contains a
    train doc — including TRANSITIVELY (eval ~ bridge ~ train chain);
    near-dup pairs wholly inside eval do not leak; unclustered eval docs
    report NULL root and leaked=false."""
    from rassengine_spark.llmops.decontam import flag_neardup_leakage
    t = ("the quick brown fox jumps over the lazy dog again and again "
         "and it keeps on jumping all day long")
    rows = [
        (1, t, "train"),
        (2, t + " extra", "eval"),                  # direct leak
        (3, "totally different text about spark shuffles and parquet "
            "files at scale with many executors", "eval"),  # unclustered
        (10, "alpha beta gamma delta epsilon zeta eta theta iota kappa "
             "lambda mu nu xi", "eval"),
        (11, "alpha beta gamma delta epsilon zeta eta theta iota kappa "
             "lambda mu nu", "eval"),               # eval-only cluster
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, split string")
    got = {r.doc_id: r for r in
           flag_neardup_leakage(df, "text", "doc_id", shingle_n=3,
                                threshold=0.5).collect()}
    assert set(got) == {2, 3, 10, 11}
    assert got[2].leaked and got[2].root == 1
    assert not got[3].leaked and got[3].root is None
    assert not got[10].leaked and not got[11].leaked
    assert got[10].root == 10 and got[11].root == 10


def test_gram_vocab_append_sizes_files_and_compacts(spark, tmp_path):
    """Small appends write one file (not `buckets` slivers); compaction
    re-buckets the slivers crash-safely without changing the set."""
    import os

    from rassengine_spark.llmops.decontam import (append_gram_vocab,
                                                  compact_gram_vocab,
                                                  ngram_overlap_from_store,
                                                  save_gram_vocab)
    train = spark.createDataFrame(
        [(1, "a b c d e f")], "doc_id int, text string")
    path = str(tmp_path / "v")
    save_gram_vocab(train, "text", path, n=3, buckets=8)
    vocab_p = os.path.join(path, "vocab")

    def n_files():
        return sum(1 for dp, _, names in os.walk(vocab_p)
                   for f in names if f.endswith(".parquet"))

    base_files = n_files()
    append_gram_vocab(spark.createDataFrame(
        [(2, "q r s t u v")], "doc_id int, text string"), "text", path)
    assert n_files() == base_files + 1      # one small file, not 8
    rows = {r.gh for r in spark.read.parquet(vocab_p).collect()}
    compact_gram_vocab(spark, path)
    assert {r.gh for r in spark.read.parquet(vocab_p).collect()} == rows
    assert not os.path.exists(vocab_p + ".__fold_bak")
    ev = spark.createDataFrame([(10, "a b c d e f")],
                               "doc_id int, text string")
    got = ngram_overlap_from_store(spark, ev, "text", "doc_id",
                                   path).collect()[0]
    assert got.n_matched == got.n_grams == 4


def test_weighted_sample_proportional_to_weight(spark):
    """Inclusion frequency across many seeds tracks the weight ratio
    (Efraimidis-Spirakis property), and the sample is deterministic."""
    from rassengine_spark.llmops.splits import weighted_sample_take
    rows = [(i, 9.0 if i < 10 else 1.0) for i in range(110)]
    df = spark.createDataFrame(rows, "id long, w double")
    heavy_hits = light_hits = 0
    for s in range(12):
        got = weighted_sample_take(df, "w", "id", k=20,
                                   seed=f"s{s}").collect()
        ids = {r.id for r in got}
        assert len(ids) == 20
        heavy_hits += sum(1 for i in ids if i < 10)
        light_hits += sum(1 for i in ids if i >= 10)
    # 10 heavy rows at weight 9 vs 100 light at weight 1: heavy rows
    # must be sampled far above their 1/11 population share
    assert heavy_hits / 12 > 4.0
    # deterministic: same seed, same sample, ascending race keys
    a = weighted_sample_take(df, "w", "id", k=20, seed="s0").collect()
    b = weighted_sample_take(df, "w", "id", k=20, seed="s0").collect()
    assert [r.id for r in a] == [r.id for r in b]
    races = [r.race for r in a]
    assert races == sorted(races)


def test_weighted_sample_edge_cases(spark):
    import pytest as _pytest

    from rassengine_spark.llmops.splits import weighted_sample_take
    df = spark.createDataFrame(
        [(1, 2.0), (2, 0.0), (3, -1.0), (4, None)], "id long, w double")
    got = weighted_sample_take(df, "w", "id", k=10).collect()
    assert [r.id for r in got] == [1]       # only the positive weight
    with _pytest.raises(ValueError):
        weighted_sample_take(df, "w", "id", k=0)
