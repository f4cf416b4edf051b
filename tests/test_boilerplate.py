"""llmops/boilerplate.py: per-source boilerplate line stats —
hand-computed semantics, store folds ≡ one-shot, crash-safe compaction,
idempotent named deltas."""

import json
import os

import pytest
from pyspark.sql import functions as F

from rassengine_spark.llmops.boilerplate import (
    append_line_stats, boilerplate_from_store, boilerplate_lines_by_source,
    compact_line_stats, read_line_stats, save_line_stats)

DOCS = [
    # source A: 'header a' in all 3 docs (twice in d1 — counts once),
    # 'promo' in 2 of 3
    (1, "A", "Header A\nfoo bar\nPromo\nheader a"),
    (2, "A", "header a\nbaz\npromo"),
    (3, "A", " HEADER A \nqux"),
    # source B: 'header b' in both docs
    (4, "B", "header b\nfoo bar\nzz"),
    (5, "B", "header b\n\nzz"),
]
SCHEMA = "doc_id long, source string, text string"

EXPECTED = {
    ("A", "header a", 3, 3, 1_000_000, True),
    ("A", "promo", 2, 3, 666_666, False),
    ("B", "header b", 2, 2, 1_000_000, True),
    ("B", "zz", 2, 2, 1_000_000, True),
}


def _rows(df):
    return {(r.source, r.line, r.n_docs, r.src_docs, r.frac_ppm, r.flagged)
            for r in df.collect()}


def test_one_shot_semantics(spark):
    df = spark.createDataFrame(DOCS, SCHEMA)
    out = boilerplate_lines_by_source(df, "text", "doc_id", "source",
                                      min_docs=2, min_frac_ppm=700_000)
    assert _rows(out) == EXPECTED


def test_min_len_drops_short_lines(spark):
    df = spark.createDataFrame(DOCS, SCHEMA)
    out = boilerplate_lines_by_source(df, "text", "doc_id", "source",
                                      min_docs=2, min_frac_ppm=700_000,
                                      min_len=3)
    assert _rows(out) == EXPECTED - {("B", "zz", 2, 2, 1_000_000, True)}


def _fold_store(spark, path, waves, buckets=4):
    first, *rest = waves
    save_line_stats(spark.createDataFrame(first, SCHEMA), "text",
                    "doc_id", "source", path, buckets=buckets)
    for w in rest:
        append_line_stats(spark.createDataFrame(w, SCHEMA), "text",
                          "doc_id", "source", path)


def test_store_fold_equals_one_shot_and_compacts(spark, tmp_path):
    path = str(tmp_path / "stats")
    waves = [[DOCS[0], DOCS[3]], [DOCS[1], DOCS[4]], [DOCS[2]]]
    _fold_store(spark, path, waves)
    df = spark.createDataFrame(DOCS, SCHEMA)
    oneshot = _rows(boilerplate_lines_by_source(
        df, "text", "doc_id", "source", min_docs=2, min_frac_ppm=700_000))
    assert _rows(boilerplate_from_store(
        spark, path, min_docs=2, min_frac_ppm=700_000)) == oneshot

    # compaction: values unchanged, deltas folded into a new base version
    m0 = json.load(open(os.path.join(path, "manifest.json")))
    assert len(m0["deltas"]) == 2
    compact_line_stats(spark, path)
    m1 = json.load(open(os.path.join(path, "manifest.json")))
    assert m1["deltas"] == [] and m1["version"] == m0["version"] + 1
    assert not os.path.exists(
        os.path.join(path, "versions", f"v{m0['version']}"))
    assert not os.listdir(os.path.join(path, "deltas"))
    assert _rows(boilerplate_from_store(
        spark, path, min_docs=2, min_frac_ppm=700_000)) == oneshot

    # folds keep working after compaction
    extra = [(6, "A", "header a\nnew line")]
    append_line_stats(spark.createDataFrame(extra, SCHEMA), "text",
                      "doc_id", "source", path)
    full = spark.createDataFrame(DOCS + extra, SCHEMA)
    assert _rows(boilerplate_from_store(
        spark, path, min_docs=2, min_frac_ppm=700_000)) == _rows(
        boilerplate_lines_by_source(full, "text", "doc_id", "source",
                                    min_docs=2, min_frac_ppm=700_000))


def test_named_delta_replay_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "stats")
    save_line_stats(spark.createDataFrame([DOCS[0]], SCHEMA), "text",
                    "doc_id", "source", path, buckets=2)
    w = spark.createDataFrame([DOCS[1]], SCHEMA)
    append_line_stats(w, "text", "doc_id", "source", path, delta_name="b7")
    before = {(r.source, r.norm, r.cnt)
              for r in read_line_stats(spark, path).collect()}
    append_line_stats(w, "text", "doc_id", "source", path, delta_name="b7")
    after = {(r.source, r.norm, r.cnt)
             for r in read_line_stats(spark, path).collect()}
    assert before == after
    m = json.load(open(os.path.join(path, "manifest.json")))
    assert m["deltas"] == ["b7"]


def test_uncommitted_orphan_delta_is_invisible(spark, tmp_path):
    path = str(tmp_path / "stats")
    save_line_stats(spark.createDataFrame([DOCS[0]], SCHEMA), "text",
                    "doc_id", "source", path, buckets=2)
    committed = {(r.source, r.norm, r.cnt)
                 for r in read_line_stats(spark, path).collect()}
    # simulate a fold that crashed before its manifest commit: the delta
    # parquet exists but the manifest never listed it
    (spark.createDataFrame([("A", "ghost line", 9)],
                           "source string, norm string, cnt long")
     .coalesce(1).write.mode("overwrite")
     .parquet(os.path.join(path, "deltas", "d99")))
    assert {(r.source, r.norm, r.cnt)
            for r in read_line_stats(spark, path).collect()} == committed


def test_empty_fold_is_a_noop(spark, tmp_path):
    path = str(tmp_path / "stats")
    save_line_stats(spark.createDataFrame([DOCS[0]], SCHEMA), "text",
                    "doc_id", "source", path, buckets=2)
    empty = spark.createDataFrame([], SCHEMA)
    append_line_stats(empty, "text", "doc_id", "source", path)
    m = json.load(open(os.path.join(path, "manifest.json")))
    assert m["deltas"] == []


def test_concurrent_counter_fold_refused(spark, tmp_path):
    """Manifest-LSM single-writer ENFORCED: a second fold arriving while
    one is mid-commit must raise RuntimeError before reading the
    manifest — two interleaved read-manifest -> commit sequences would
    drop a delta name (last-write-wins). Same lease as
    util.swap_commit_dir."""
    import json
    import os
    import socket

    import pytest

    from rassengine_spark.llmops.counter_store import (append_counters,
                                                       load_counter_manifest,
                                                       save_counters)
    df = spark.createDataFrame([("a", 1), ("b", 2)], "k string, cnt long")
    path = str(tmp_path / "ctr")
    save_counters(df, ["k"], path, buckets=2)
    m_before = load_counter_manifest(path)
    # simulate a live concurrent writer (this very pid)
    with open(path + ".__fold_lock", "w") as f:
        json.dump({"pid": os.getpid(), "host": socket.gethostname(),
                   "ts": 0}, f)
    with pytest.raises(RuntimeError, match="concurrent fold"):
        append_counters(df, path)
    assert load_counter_manifest(path) == m_before   # store untouched
    os.unlink(path + ".__fold_lock")
    append_counters(df, path)                        # lease freed: folds
    assert load_counter_manifest(path)["deltas"] == ["d1"]


def test_strip_removes_every_flagged_occurrence(spark):
    from rassengine_spark.llmops.boilerplate import (
        strip_boilerplate_by_source)
    df = spark.createDataFrame(DOCS, SCHEMA)
    flags = spark.createDataFrame(
        [("A", "header a"), ("B", "header b")], "source string, line string")
    out = {r.id: (r.text, r.n_kept, r.n_dropped)
           for r in strip_boilerplate_by_source(
               df, "text", "doc_id", "source", flags).collect()}
    # 'header a' drops BOTH its occurrences in doc 1 (CCNet drops all,
    # unlike line_dedup's keep-first); normalization matches lower+trim
    assert out[1] == ("foo bar\nPromo", 2, 2)
    assert out[3] == ("qux", 1, 1)
    # flags are per-source: 'header b' only strips from B docs
    assert out[4] == ("foo bar\nzz", 2, 1)
    assert out[5] == ("\nzz", 2, 1)          # blank lines always survive
    # unflagged lines ('promo' never made the flag list) pass through
    assert out[2] == ("baz\npromo", 2, 1)


def test_prep_per_source_boilerplate_stage(spark):
    """prep's opt-in 0c stage strips per-source boilerplate before dedup
    so shared domain headers don't glue distinct docs into clusters."""
    from rassengine_spark.llmops.prep import prepare_training_corpus
    rows = [
        (1, "d1", "news", "promo header\nalpha words entirely distinct one"),
        (2, "d2", "news", "promo header\nbeta words entirely distinct two"),
        (3, "d3", "blog", "promo header\ngamma words entirely distinct three"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, name string, source string, text string")
    out, report = prepare_training_corpus(
        docs, None, text_col="text", id_col="doc_id",
        strip_boilerplate_sources="source", boilerplate_min_docs=2,
        boilerplate_min_frac_ppm=600_000, min_quality=0.0, redact=False)
    stages = dict(report)
    assert stages["boilerplate_by_source"] == 3
    texts = {r.doc_id: r.text for r in out.collect()}
    # 'promo header' is 2/2 of news -> stripped there; 1/1 of blog meets
    # the frac but not min_docs -> kept
    assert texts[1] == "alpha words entirely distinct one"
    assert texts[2] == "beta words entirely distinct two"
    assert texts[3] == "promo header\ngamma words entirely distinct three"
    # ride-along columns survive the stage rejoin
    assert {r.name for r in out.collect()} == {"d1", "d2", "d3"}


def test_gc_removes_only_unreferenced_dirs(spark, tmp_path):
    from rassengine_spark.llmops.boilerplate import gc_line_stats
    path = str(tmp_path / "stats")
    save_line_stats(spark.createDataFrame([DOCS[0]], SCHEMA), "text",
                    "doc_id", "source", path, buckets=2)
    append_line_stats(spark.createDataFrame([DOCS[1]], SCHEMA), "text",
                      "doc_id", "source", path, delta_name="b1")
    committed = {(r.source, r.norm, r.cnt)
                 for r in read_line_stats(spark, path).collect()}
    # orphans: a crashed fold's delta and a stale base version
    (spark.createDataFrame([("A", "ghost", 9)],
                           "source string, norm string, cnt long")
     .coalesce(1).write.parquet(os.path.join(path, "deltas", "d9")))
    os.makedirs(os.path.join(path, "versions", "v0"))
    removed = gc_line_stats(path)
    assert {os.path.basename(p) for p in removed} == {"d9", "v0"}
    assert os.path.isdir(os.path.join(path, "versions", "v1"))
    assert os.path.isdir(os.path.join(path, "deltas", "b1"))
    assert {(r.source, r.norm, r.cnt)
            for r in read_line_stats(spark, path).collect()} == committed


def test_committed_delta_replay_never_rewrites_the_dir(spark, tmp_path):
    """Replaying a fold whose name the manifest already lists must be a
    pure no-op — a concurrent reader may be scanning that directory, so
    even a same-bytes rewrite is not allowed."""
    from rassengine_spark.llmops.boilerplate import append_line_stats as alp
    path = str(tmp_path / "stats")
    save_line_stats(spark.createDataFrame([DOCS[0]], SCHEMA), "text",
                    "doc_id", "source", path, buckets=2)
    w = spark.createDataFrame([DOCS[1]], SCHEMA)
    alp(w, "text", "doc_id", "source", path, delta_name="b3")
    ddir = os.path.join(path, "deltas", "b3")
    files_before = {f: os.path.getmtime(os.path.join(ddir, f))
                    for f in os.listdir(ddir)}
    alp(w, "text", "doc_id", "source", path, delta_name="b3")
    files_after = {f: os.path.getmtime(os.path.join(ddir, f))
                   for f in os.listdir(ddir)}
    assert files_after == files_before


def test_random_fold_sequences_equal_one_shot(spark, tmp_path):
    """Property: ANY partition of a random corpus into fold waves gives
    counters (and the served report) identical to the one-shot pass —
    the fold-invisibility contract of every additive store here."""
    import random

    rng = random.Random(11)
    words = ["alpha", "beta", "gamma", "delta", "promo", "header"]
    docs = []
    for i in range(30):
        src = "S" + str(rng.randrange(3))
        lines = [" ".join(rng.choices(words, k=rng.randrange(1, 4)))
                 for _ in range(rng.randrange(1, 5))]
        docs.append((i, src, "\n".join(lines)))
    full = spark.createDataFrame(docs, SCHEMA)
    oneshot = _rows(boilerplate_lines_by_source(
        full, "text", "doc_id", "source", min_docs=2,
        min_frac_ppm=100_000))

    for trial in range(3):
        rng.shuffle(docs)
        cuts = sorted(rng.sample(range(1, len(docs)), 3))
        waves = [docs[a:b] for a, b in
                 zip([0] + cuts, cuts + [len(docs)])]
        path = str(tmp_path / f"stats{trial}")
        _fold_store(spark, path, waves, buckets=2)
        if trial % 2:
            compact_line_stats(spark, path)
        assert _rows(boilerplate_from_store(
            spark, path, min_docs=2, min_frac_ppm=100_000)) == oneshot, \
            f"trial {trial} waves {[len(w) for w in waves]}"
