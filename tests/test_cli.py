"""CLI surface: ingest -> ask -> prep flows through python -m
rassengine_spark's main(), end to end on a tiny corpus."""

import json
import os

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

    assert main(["ask", "How many patients have hypertension?",
                 "--warehouse", wh]) == 0
    text = capsys.readouterr().out
    assert "intent: AGGREGATE" in text
    assert "Hypertension" in text

    assert main(["ask", "Explain the bp recheck note",
                 "--warehouse", wh, "--rerank"]) == 0
    text = capsys.readouterr().out
    assert "intent: EXPLANATORY" in text and "hit:" in text


def test_cli_prep(spark, tmp_path, capsys):
    src = str(tmp_path / "docs")
    rows = [(i, f"some sufficiently long document text number {i} with "
                f"several words in it") for i in range(20)]
    rows += [(100, rows[0][1])]                 # exact dup
    spark.createDataFrame(rows, "doc_id int, text string") \
         .write.parquet(src)
    out_dir = str(tmp_path / "clean")
    assert main(["prep", "--src", src, "--out", out_dir]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    stages = dict(rep["stages"])
    assert stages["input"] == 21 and stages["exact_dedup"] == 20
    assert rep["rows"] == stages["split"]
    assert os.path.isdir(out_dir)


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
                 "--tiers", "terms,minhash,bpe,ivf,hnsw",
                 "--bpe-merges", "4", "--ivf-cells", "4"]) == 0
    built = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(built["built"]) == {"terms", "minhash", "bpe", "ivf",
                                   "hnsw"}
    # a typo'd tier fails loudly instead of silently building a subset
    assert main(["index", "--src", src, "--out", out_dir,
                 "--tiers", "terms,hsnw"]) == 2
    capsys.readouterr()
    # the persisted term and vector tiers actually serve
    from rassengine_spark.operators.index_store import (
        bm25_topk_from_store, ivf_topk_from_store)
    hits = bm25_topk_from_store(spark, built["built"]["terms"],
                                "spark joins", k=3).collect()
    assert len(hits) == 3
    from pyspark.sql import functions as F
    qs = spark.read.parquet(src).limit(1).select(
        F.col("doc_id").alias("qid"), "embedding")
    vhits = ivf_topk_from_store(spark, built["built"]["ivf"], qs,
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


def test_cli_crawl(spark, tmp_path, capsys):
    """crawl: WARC dir -> text corpus, with domain blocking."""
    import gzip

    from tests.test_warc import HTTP, _record

    src = tmp_path / "warcs"
    src.mkdir()
    blob = (_record("response", "http://good.org/a", HTTP)
            # same page as above, spelled differently: URL-level dedup
            # must collapse it before any text processing
            + _record("response", "HTTP://GOOD.org:80/a?utm_source=x#top",
                      HTTP)
            + _record("response", "http://spam.biz/x", HTTP))
    (src / "c.warc.gz").write_bytes(gzip.compress(blob))
    block = tmp_path / "block.txt"
    block.write_text("spam.biz\n")
    out = str(tmp_path / "corpus")

    from rassengine_spark.__main__ import main
    assert main(["crawl", "--src", str(src), "--out", out,
                 "--block-domains", str(block)]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["records_to_docs"] == 3 and res["rows"] == 1
    urls = {r.url for r in spark.read.parquet(out).collect()}
    assert urls == {"http://good.org/a"}


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


def test_cli_health(spark, tmp_path, capsys):
    """`health` prints one JSON gate row per metric from the persisted
    counter stores (store-only mode; --docs adds the dup-rate rows)."""
    from pyspark.sql import functions as F

    from rassengine_spark.llmops import dataquality as DQ
    from rassengine_spark.llmops import decontam as DC

    dq_p, psi_p = str(tmp_path / "dq"), str(tmp_path / "psi")
    contam_p, vocab_p = str(tmp_path / "ct"), str(tmp_path / "vb")
    docs_p = str(tmp_path / "docs")

    DQ.save_dq_counters(
        spark.createDataFrame([(i, i % 3) for i in range(30)],
                              "id long, v long"),
        [DQ.completeness("v")], dq_p)
    ev = spark.createDataFrame(
        [(f"t{i % 2}", float(i % 10)) for i in range(80)],
        "g string, value double")
    DQ.save_psi_counters(ev, "g", "value", psi_p, lo=0.0, hi=10.0)
    DQ.append_psi_current(ev, psi_p)
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma {i} delta common words") for i in range(12)],
        "doc_id long, text string")
    docs.write.parquet(docs_p)
    DC.save_gram_vocab(docs.filter("doc_id % 2 = 0"), "text", vocab_p, n=3)
    evd = (docs.filter("doc_id % 2 = 1")
           .withColumn("suite", F.lit("s0")).withColumn("lang", F.lit("en")))
    c = DC.contamination_counters(spark, evd, "text", "doc_id",
                                  ["suite", "lang"], vocab_p)
    DC.merge_contamination_counters(spark, contam_p, c, ["suite", "lang"])

    assert main(["health", "--dq", dq_p, "--psi", psi_p,
                 "--contam", contam_p]) == 0
    rows = [json.loads(ln) for ln in
            capsys.readouterr().out.strip().splitlines()]
    metrics = {r["metric"] for r in rows}
    assert metrics == {"dq_row_checks_failed", "drifted_event_types",
                       "contaminated_eval_docs", "eval_docs_checked"}

    assert main(["health", "--dq", dq_p, "--psi", psi_p,
                 "--contam", contam_p, "--docs", docs_p]) == 0
    rows = [json.loads(ln) for ln in
            capsys.readouterr().out.strip().splitlines()]
    by = {r["metric"]: r for r in rows}
    assert by["total_docs"]["value"] == 12
    assert by["duplicate_docs"]["value"] == 0
    assert by["drifted_event_types"]["value"] == 0   # cur == baseline
