"""Connected-components cluster resolution + deterministic splits."""

from pyspark.sql import functions as F

from rassengine_spark.llmops.dedup import connected_components, dup_clusters
from rassengine_spark.llmops.splits import (hash_sample, stratified_take,
                                            with_split)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a bigint, id_b bigint")


def test_cc_chain_and_islands(spark):
    # chain 1-2-3, pair 10-11, triangle 20-21-22 (redundant edge)
    edges = _edges(spark, [(1, 2), (2, 3), (10, 11),
                           (20, 21), (21, 22), (20, 22)])
    got = {r.node: r.root
           for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}


def test_cc_long_chain_converges(spark):
    # a 12-node path needs multiple propagation rounds
    edges = _edges(spark, [(i, i + 1) for i in range(12)])
    got = connected_components(edges).collect()
    assert all(r.root == 0 for r in got) and len(got) == 13


def test_cc_distributed_path_matches_driver_path(spark):
    # force the iterative tier (driver_threshold=0) on a mixed graph and
    # require identical output to the union-find tier
    pairs = [(i, i + 1) for i in range(30)] + [(100, 101), (101, 102),
                                               (102, 100), (200, 201)]
    edges = _edges(spark, pairs)
    dist = connected_components(edges, driver_threshold=0)
    drv = connected_components(edges)
    assert dist.exceptAll(drv).count() == 0
    assert drv.exceptAll(dist).count() == 0
    got = {r.node: r.root for r in drv.collect()}
    assert got[29] == 0 and got[102] == 100 and got[201] == 200


def test_dup_clusters_sizes_and_keepers(spark):
    edges = _edges(spark, [(1, 2), (2, 3), (10, 11)])
    rows = dup_clusters(edges).collect()
    sizes = {r.node: r.cluster_size for r in rows}
    assert sizes == {1: 3, 2: 3, 3: 3, 10: 2, 11: 2}
    keepers = sorted(r.node for r in rows if r.node == r.root)
    assert keepers == [1, 10]


def test_split_assign_deterministic_and_complete(spark):
    df = spark.range(2000).toDF("k")
    out = with_split(df, "k", {"train": 0.75, "val": 0.125, "test": 0.125})
    counts = {r.split: r.n for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 2000
    # roughly proportional (hash uniformity; generous bounds)
    assert 0.65 < counts["train"] / 2000 < 0.85
    # identical on recompute — pure function of the key
    again = with_split(df, "k", {"train": 0.75, "val": 0.125, "test": 0.125})
    assert out.exceptAll(again).count() == 0


def test_hash_sample_nested(spark):
    df = spark.range(1000).toDF("k")
    small = set(r.k for r in hash_sample(df, "k", 0.1).collect())
    big = set(r.k for r in hash_sample(df, "k", 0.3).collect())
    assert small and small < big  # nested: same seed, larger fraction


def test_stratified_take_exact_n(spark):
    df = spark.createDataFrame(
        [(i, "ab"[i % 2]) for i in range(100)], "k int, s string")
    out = stratified_take(df, "s", "k", 7)
    counts = {r.s: r.n for r in
              out.groupBy("s").agg(F.count("*").alias("n")).collect()}
    assert counts == {"a": 7, "b": 7}
    assert out.exceptAll(stratified_take(df, "s", "k", 7)).count() == 0


def test_mixture_resample_keeps_other_strata_whole(spark):
    from rassengine_spark.llmops.splits import mixture_resample
    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de") for i in range(400)],
        "k int, lang string")
    out = mixture_resample(df, "lang", "k", {"en": 0.3})
    counts = {r.lang: r.n for r in
              out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts["de"] == 200            # untouched stratum
    assert 30 < counts["en"] < 90         # ~30% of 200, hash-uniform


def test_pack_sequences_budget_and_determinism(spark):
    from rassengine_spark.llmops.splits import pack_sequences
    df = spark.createDataFrame([(i, 100) for i in range(60)],
                               "k int, n int")
    out = pack_sequences(df, "k", "n", budget=250, shards=4)
    rows = out.collect()
    assert len(rows) == 60
    # within a shard, pack ids are non-decreasing in key order and every
    # pack's token total before its last doc stays under budget
    by_shard = {}
    for r in sorted(rows, key=lambda r: (r.shard, r.key)):
        by_shard.setdefault(r.shard, []).append(r)
    for rs in by_shard.values():
        cum = 0
        for r in rs:
            assert r.pack_id == cum // 250
            cum += r.n_tokens
    assert out.exceptAll(
        pack_sequences(df, "k", "n", budget=250, shards=4)).count() == 0


def test_pii_redact(spark):
    from rassengine_spark.llmops.text_analysis import pii_counts
    df = spark.createDataFrame(
        [(1, "mail me at a.b@x.org or call 555-123-4567"),
         (2, "ssn 123-45-6789 twice 123-45-6789"),
         (3, "clean text")],
        "id int, text string")
    got = {r.id: r for r in pii_counts(df, "text", "id").collect()}
    assert (got[1].n_email, got[1].n_phone, got[1].n_ssn) == (1, 1, 0)
    assert got[1].redacted == "mail me at [EMAIL] or call [PHONE]"
    assert got[2].n_ssn == 2 and "[SSN]" in got[2].redacted
    assert "123-45" not in got[2].redacted
    assert got[3].redacted == "clean text"


def test_leakage_safe_split_groups_near_dups(spark):
    from rassengine_spark.llmops.splits import (with_split,
                                                with_split_leakage_safe)
    base = ("the quick brown fox jumps over the lazy dog and runs far "
            "away into the quiet dark forest tonight")
    rows = [(i, base + f" tail{i%3}") for i in range(30)]        # near dups
    rows += [(100 + i, f"unique document number {i} about topic {i} "
                       f"with distinct content entirely") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    w = {"train": 0.5, "val": 0.25, "test": 0.25}
    safe = with_split_leakage_safe(df, "doc_id", "text", weights=w)
    got = {r["doc_id"]: r["split"] for r in safe.collect()}
    # every near-dup of the base text shares ONE split
    assert len({got[i] for i in range(30)}) == 1
    # schema: original columns + split
    assert set(safe.columns) == {"doc_id", "text", "split"}
    # naive id-hash split DOES scatter the same cluster (the bug)
    naive = {r["doc_id"]: r["split"]
             for r in with_split(df, "doc_id", weights=w).collect()}
    assert len({naive[i] for i in range(30)}) > 1


def test_temperature_fractions_rebalance(spark):
    from rassengine_spark.llmops.splits import (mixture_resample,
                                                temperature_fractions)
    rows = [(i, "en") for i in range(800)] + \
           [(1000 + i, "sw") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id int, lang string")
    fr = temperature_fractions(df, "lang", alpha=0.3)
    # the rare stratum keeps everything; the dominant one is cut hard
    assert fr["sw"] == 1.0
    assert 0 < fr["en"] < 0.5
    out = mixture_resample(df, "lang", "doc_id", fr)
    got = {r["lang"]: r["n"] for r in
           out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert got["sw"] == 40                    # kept whole
    # post-mixture en share should approach the alpha-tempered target
    # (p_en^.3/(p_en^.3+p_sw^.3) ~ 0.71) from the natural 0.95
    share = got["en"] / (got["en"] + got["sw"])
    assert 0.55 < share < 0.85
    # alpha=1 keeps the natural mixture: every fraction == 1
    assert all(v == 1.0 for v in
               temperature_fractions(df, "lang", alpha=1.0).values())


def test_token_budget_take_equals_global_prefix(spark):
    """The two-phase bin-cumsum must equal the naive global ordered
    prefix for any budget, including boundary docs mid-bin."""
    import hashlib

    from pyspark.sql import functions as F
    from rassengine_spark.llmops.splits import token_budget_take

    rows = []
    for i in range(200):
        h = int(hashlib.md5(f"s{i}".encode()).hexdigest()[:8], 16)
        score = -10.0 + (h % 1000) / 100.0          # [-10, 0)
        toks = 5 + (h % 37)
        rows.append((i, float(score), int(toks)))
    df = spark.createDataFrame(rows, "id int, score double, toks int")
    ordered = sorted(rows, key=lambda r: (-r[1], r[0]))
    for budget in (0, 57, 500, 2000, 10 ** 9):
        run, expect = 0, set()
        for i, s, t in ordered:
            run += t
            if run > budget:
                break
            expect.add(i)
        got = {r.id for r in token_budget_take(
            df, "score", "toks", "id", budget=budget,
            lo=-10.0, hi=0.0, bins=16).collect()}
        assert got == expect, budget


def test_mixture_token_budget_take_per_stratum(spark):
    """Each stratum independently equals its own global ordered prefix;
    strata without a budget are dropped."""
    import hashlib

    from rassengine_spark.llmops.splits import mixture_token_budget_take

    rows = []
    for i in range(150):
        h = int(hashlib.md5(f"m{i}".encode()).hexdigest()[:8], 16)
        rows.append((i, ["a", "b", "c"][i % 3],
                     -10.0 + (h % 1000) / 100.0, 5 + (h % 23)))
    df = spark.createDataFrame(rows, "id int, d string, score double, toks int")
    budgets = {"a": 300, "b": 120}
    got = mixture_token_budget_take(
        df, "d", "score", "toks", "id", budgets, lo=-10.0, hi=0.0,
        bins=8).collect()
    by_d = {}
    for r in got:
        by_d.setdefault(r.d, set()).add(r.id)
    assert set(by_d) <= {"a", "b"}                 # 'c' has no budget
    for dkey, budget in budgets.items():
        ordered = sorted((r for r in rows if r[1] == dkey),
                         key=lambda r: (-r[2], r[0]))
        run, expect = 0, set()
        for i, _, s, t in ordered:
            run += t
            if run > budget:
                break
            expect.add(i)
        assert by_d.get(dkey, set()) == expect, dkey


def test_epoch_shuffle_dense_permutation(spark):
    """pos is a dense 0..N-1 permutation, differs across epochs, and is
    invariant under repartitioning (a seeded rand() is neither)."""
    from rassengine_spark.llmops.splits import epoch_shuffle
    df = spark.createDataFrame([(i,) for i in range(300)], "doc_id long")
    e1 = {r.id: r.pos for r in
          epoch_shuffle(df, "doc_id", epoch=1).collect()}
    assert sorted(e1.values()) == list(range(300))
    e2 = {r.id: r.pos for r in
          epoch_shuffle(df, "doc_id", epoch=2).collect()}
    assert sorted(e2.values()) == list(range(300))
    assert e1 != e2
    again = {r.id: r.pos for r in
             epoch_shuffle(df.repartition(13), "doc_id", epoch=1).collect()}
    assert again == e1


def test_curriculum_order_easy_first_dense_and_invariant(spark):
    """step is a dense 0..N-1 rank, monotone in difficulty (every easier
    doc precedes every harder one), shuffled within a level by the epoch
    key, and invariant under repartitioning."""
    import hashlib

    from rassengine_spark.llmops.splits import curriculum_order
    rows = [(i, i % 4) for i in range(200)]      # 4 difficulty levels
    df = spark.createDataFrame(rows, "doc_id long, d long")
    got = {r.id: (r.difficulty, r.step)
           for r in curriculum_order(df, "doc_id", "d", epoch=1).collect()}
    assert sorted(s for _, s in got.values()) == list(range(200))
    # monotone pacing: steps of level k all precede steps of level k+1
    by_level = {}
    for i, (d, s) in got.items():
        by_level.setdefault(d, []).append(s)
    for d in range(3):
        assert max(by_level[d]) < min(by_level[d + 1])
    # within-level order is exactly the md5(id#e1) order
    for d in range(4):
        ids = [i for i in range(200) if i % 4 == d]
        want = sorted(ids, key=lambda i: (
            hashlib.md5(f"{i}#e1".encode()).hexdigest(), i))
        by_step = sorted(((got[i][1], i) for i in ids))
        assert [i for _, i in by_step] == want
    again = {r.id: (r.difficulty, r.step)
             for r in curriculum_order(df.repartition(7), "doc_id", "d",
                                       epoch=1).collect()}
    assert again == got


def test_drop_bottom_quantile_exact_counts_and_ties(spark):
    """drop_bottom_quantile: k = n*ppm//1e6 exactly per group; ties at
    the threshold score drop smallest-id first; k=0 keeps everything;
    ppm high enough to empty a group leaves nothing of it."""
    from rassengine_spark.llmops.splits import drop_bottom_quantile

    rows = ([(i, "A", s) for i, s in
             enumerate([5, 5, 1, 3, 3, 3, 9, 7])]       # n=8 -> k=2
            + [(10 + i, "B", s) for i, s in
               enumerate([2, 2, 2, 8, 6])])             # n=5 -> k=1
    df = spark.createDataFrame(rows, "id long, g string, s long")
    kept = {(r.g, r.id)
            for r in drop_bottom_quantile(df, "s", "id", "g",
                                          drop_ppm=250_000).collect()}
    assert kept == {("A", 0), ("A", 1), ("A", 4), ("A", 5), ("A", 6),
                    ("A", 7), ("B", 11), ("B", 12), ("B", 13), ("B", 14)}
    # k=0 (ppm below 1/n): nothing drops — all 13 rows survive
    assert drop_bottom_quantile(df, "s", "id", "g",
                                drop_ppm=100_000).count() == 13
    # ppm=1e6: k=n, every row of every group drops
    assert drop_bottom_quantile(df, "s", "id", "g",
                                drop_ppm=1_000_000).count() == 0


def test_drop_bottom_quantile_matches_rank_reference(spark):
    """Property: the histogram-threshold plan equals the one-window
    rank spec (drop rn <= n*ppm//1e6 by (score, id)) on random data
    with heavy score ties."""
    import random

    rng = random.Random(23)
    for trial, ppm in enumerate([250_000, 500_000, 730_000]):
        rows = [(i, "G" + str(rng.randrange(3)), rng.randrange(6))
                for i in range(40)]
        from rassengine_spark.llmops.splits import drop_bottom_quantile
        df = spark.createDataFrame(rows, "id long, g string, s long")
        got = {(r.g, r.id) for r in drop_bottom_quantile(
            df, "s", "id", "g", drop_ppm=ppm).collect()}
        # python reference: per-group sort by (s, id), drop first k
        by_g = {}
        for i, g, s in rows:
            by_g.setdefault(g, []).append((s, i))
        want = set()
        for g, mem in by_g.items():
            mem.sort()
            k = len(mem) * ppm // 1_000_000
            want |= {(g, i) for _, i in mem[k:]}
        assert got == want, (trial, ppm)


def test_score_hist_store_fold_equals_one_shot(spark, tmp_path):
    """Persisted histogram thresholds == inline thresholds over the full
    corpus, through save -> fold -> compact -> fold, replay no-op."""
    import random

    from rassengine_spark.llmops.counter_store import compact_counters
    from rassengine_spark.llmops.splits import (
        _quantile_thresholds, append_score_hist,
        quantile_thresholds_from_store, save_score_hist, score_histogram)

    rng = random.Random(5)
    rows = [(i, "G" + str(rng.randrange(3)), rng.randrange(8))
            for i in range(60)]
    df = spark.createDataFrame(rows, "id long, g string, s long")
    want = {tuple(r) for r in _quantile_thresholds(
        score_histogram(df, "s", "g"), "g", "s", 250_000).collect()}

    path = str(tmp_path / "hist")
    save_score_hist(df.filter("id % 2 = 0"), "s", "g", path, buckets=2)
    append_score_hist(df.filter("id % 4 = 1"), path, delta_name="b1")
    compact_counters(spark, path)
    append_score_hist(df.filter("id % 4 = 3"), path, delta_name="b2")
    append_score_hist(df.filter("id % 4 = 3"), path, delta_name="b2")  # replay
    got = {tuple(r) for r in quantile_thresholds_from_store(
        spark, path, 250_000).collect()}
    assert got == want


def test_drop_bottom_quantile_null_group_is_a_group(spark):
    """NULL group rows form their own partition (the rank-window spec),
    not a silent full drop."""
    from rassengine_spark.llmops.splits import drop_bottom_quantile
    rows = [(1, None, 1), (2, None, 5), (3, None, 9), (4, None, 7),
            (5, "A", 2), (6, "A", 8)]
    df = spark.createDataFrame(rows, "id long, g string, s long")
    kept = {r.id for r in drop_bottom_quantile(
        df, "s", "id", "g", drop_ppm=250_000).collect()}
    # NULL group: n=4, k=1 -> drop id 1 (s=1); A: n=2, k=0 -> keep both
    assert kept == {2, 3, 4, 5, 6}
