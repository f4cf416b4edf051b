"""CLI surface: ingest -> ask, index and table flows through python -m
rassengine_spark's main(), end to end on a tiny corpus."""

import json

import pytest

from rassengine_spark.__main__ import main


def test_cli_ingest_then_ask(spark, tmp_path, capsys):
    from tests.test_fhir import BUNDLE
    src = tmp_path / "uploads"
    src.mkdir()
    with open(src / "patient_1_bundle.json", "w") as f:
        json.dump(BUNDLE, f)
    wh = str(tmp_path / "wh")

    assert main(["ingest", "--src", str(src), "--warehouse", wh]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["documents"] == 9 and out["chunks"] > 0

    # a second user's upload into the same warehouse prints its own
    # counts, not the warehouse's
    other = tmp_path / "uploads_other"
    other.mkdir()
    (other / "patient_2_note.txt").write_text("Follow-up visit, bp fine.")
    assert main(["ingest", "--src", str(other), "--warehouse", wh,
                 "--user", "other"]) == 0
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["documents"] == 0 and out2["chunks"] == 1

    assert main(["ask", "How many patients have hypertension?",
                 "--warehouse", wh]) == 0
    text = capsys.readouterr().out
    assert "intent: AGGREGATE" in text
    assert "Hypertension" in text

    assert main(["ask", "Explain the bp recheck note",
                 "--warehouse", wh, "--rerank"]) == 0
    text = capsys.readouterr().out
    assert "intent: EXPLANATORY" in text and "hit:" in text


def test_cli_index_and_table(spark, tmp_path, capsys):
    src = str(tmp_path / "docs2")
    rows = [(i, f"document number {i} about spark joins and shuffles "
                f"plus filler words {i % 5}",
             [float((i * 3 + j) % 7 - 3) for j in range(8)])
            for i in range(15)]
    spark.createDataFrame(
        rows, "doc_id int, text string, embedding array<double>") \
         .write.parquet(src)
    out_dir = str(tmp_path / "idx")

    assert main(["index", "--src", src, "--out", out_dir,
                 "--tiers", "terms,minhash,bpe,hnsw",
                 "--bpe-merges", "4"]) == 0
    built = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(built["built"]) == {"terms", "minhash", "bpe", "hnsw"}
    # a typo'd or retired tier fails loudly instead of silently building
    # a subset
    for bad in ("terms,hsnw", "ivf"):
        assert main(["index", "--src", src, "--out", out_dir,
                     "--tiers", bad]) == 2
    assert "unknown tier(s) ['ivf']" in capsys.readouterr().err
    # retired subcommands are argparse usage errors
    for retired in ("prep", "crawl", "health"):
        with pytest.raises(SystemExit) as exc:
            main([retired, "--src", src, "--out", out_dir])
        assert exc.value.code == 2
    # the persisted term and vector tiers actually serve
    from rassengine_spark.llmops.hnsw import hnsw_topk_from_store
    from rassengine_spark.operators.index_store import bm25_topk_from_store
    hits = bm25_topk_from_store(spark, built["built"]["terms"],
                                "spark joins", k=3).collect()
    assert len(hits) == 3
    from pyspark.sql import functions as F
    qs = spark.read.parquet(src).limit(1).select(
        F.col("doc_id").alias("qid"), "embedding")
    vhits = hnsw_topk_from_store(spark, built["built"]["hnsw"], qs,
                                 "embedding", "qid", k=3).collect()
    assert len(vhits) == 3

    # table maintenance roundtrip
    assert main(["table", "--path", src, "--publish"]) == 0
    pub = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    name = pub["published"]
    assert main(["table", "--path", src, "--list"]) == 0
    lst = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert name in lst["snapshots"]
    assert main(["table", "--path", src, "--compact", "1024",
                 "--prune"]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["files_after_compact"] >= 1
    assert res["pruned_files"] == 0       # snapshot still pins old files


def test_cli_table_compact_store(spark, tmp_path, capsys):
    """table --compact-store folds a term store's append slivers and the
    store keeps serving identical results."""
    import glob
    import json as _json

    from rassengine_spark.__main__ import main
    from rassengine_spark.operators.index_store import (append_term_index,
                                                        bm25_topk_from_store,
                                                        save_term_index)
    from rassengine_spark.operators.inverted_index import build_term_index

    docs = spark.createDataFrame(
        [(1, "spark joins and shuffles"), (2, "query planning for spark")],
        "id long, text string")
    path = str(tmp_path / "term")
    save_term_index(*build_term_index(docs, "text", "id"), path,
                    n_buckets=4)
    append_term_index(
        spark.createDataFrame([(3, "spark sort merge join")],
                              "id long, text string"), "text", "id", path)
    before = [(r.id, r.score)
              for r in bm25_topk_from_store(spark, path, "spark join",
                                            k=3).collect()]
    assert main(["table", "--path", path, "--compact-store", "term"]) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["compacted_store"] == "term"
    buckets = glob.glob(f"{path}/postings/tb=*")
    assert buckets and all(
        len(glob.glob(f"{b}/*.parquet")) == 1 for b in buckets)
    assert [(r.id, r.score)
            for r in bm25_topk_from_store(spark, path, "spark join",
                                          k=3).collect()] == before
