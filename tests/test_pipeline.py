"""End-to-end pipeline tests: text/markdown sources (S3/S4), batch ingest
with idempotent upsert (S9), the /ask lifecycle (§3.1), rollup folds."""

import json

import pytest
from pyspark.sql import functions as F

from rassengine_spark.pipeline.ask import AskPipeline
from rassengine_spark.pipeline.ingest import run_ingest, upsert_parquet
from rassengine_spark.sources.textfiles import (markdown_to_text,
                                                patient_id_from_path,
                                                read_text_files,
                                                text_chunk_documents)
from tests.test_fhir import BUNDLE


# ------------------------------------------------------------ S3/S4
def _strip(spark, md: str) -> str:
    return (spark.range(1).select(markdown_to_text(F.lit(md)).alias("t"))
            .first().t)


def test_markdown_to_text(spark):
    md = ("# Visit Note\n\n**Patient** has *severe* `hypertension`.\n\n"
          "- item one\n- [link label](http://x)\n\n```\ncode here\n```\n")
    assert _strip(spark, md) == ("Visit Note Patient has severe "
                                 "hypertension. item one link label "
                                 "code here")


def test_markdown_to_text_nested_and_html(spark):
    """Round-3 golden set for the syntax the reference's markdown->HTML->
    bs4 round-trip (app/embedding_gen.py:98-115) handles and the round-2
    regex chain missed: nested emphasis, HTML tags/entities/comments,
    reference-style links, setext headings, strikethrough."""
    cases = [
        ("***both* styles**", "both styles"),
        ("a <b>bold</b> tag<br/>and <span class='x'>span</span>",
         "a bold tag and span"),
        ("5 &lt; 6 &amp;&amp; 7 &gt; 2, &quot;q&quot; &amp;lt;",
         '5 < 6 && 7 > 2, "q" &lt;'),
        ("keep a < b inequality", "keep a < b inequality"),
        ("before <!-- hidden\ncomment --> after", "before after"),
        ("see [the spec][rfc] and [plain][]\n\n[rfc]: http://x \"t\"",
         "see the spec and plain"),
        ("Title\n=====\n\nSub\n---\n\nbody", "Title Sub body"),
        ("~~struck~~ text", "struck text"),
        ("it&#39;s &nbsp;ok", "it's ok"),
    ]
    for md, want in cases:
        assert _strip(spark, md) == want, md


def test_markdown_strip_rules_shared_with_oracle():
    """The SQL twin is generated from the same rule lists — guard that the
    generator output embeds every pattern (drift between engine and oracle
    was the round-2 failure mode for other entries)."""
    import __spark_entry__ as entrymod
    from rassengine_spark.sources.textfiles import (MARKDOWN_ENTITY_RULES,
                                                    MARKDOWN_STRIP_RULES)
    sql = entrymod.oracle_sql()["s3_markdown_strip"]
    assert sql.count("regexp_replace") == len(MARKDOWN_STRIP_RULES) + 1
    assert sql.count("replace(") - sql.count("regexp_replace(") \
        == len(MARKDOWN_ENTITY_RULES)


def test_patient_id_from_path(spark):
    df = spark.createDataFrame(
        [("/up/patient_42_notes.txt",), ("/up/readme.txt",)], "p string")
    got = [r[0] for r in
           df.select(patient_id_from_path(F.col("p"))).collect()]
    assert got == ["42", None]


def test_text_chunk_documents(spark, tmp_path):
    (tmp_path / "patient_7_note.txt").write_text(
        " ".join(f"w{i}" for i in range(12)))
    (tmp_path / "summary.md").write_text("# Title\n\nBody **text** here.")
    files = read_text_files(spark, str(tmp_path), "u1")
    chunks = text_chunk_documents(files, chunk_size=5).collect()
    by_doc = {r.doc_id: r for r in chunks}
    # 12 words / 5 -> 3 chunks for the txt file
    txt = [r for r in chunks if r.file_type == "txt"]
    assert len(txt) == 3 and txt[0].patientId == "7"
    assert all(len(r.unstructuredText.split()) <= 5 for r in chunks)
    md = [r for r in chunks if r.file_type == "markdown"]
    assert md[0].unstructuredText == "Title Body text here."
    assert md[0].patientId is None
    assert "patient_7_note-0-unstructured" in by_doc


# ------------------------------------------------------------ ingest job
@pytest.fixture(scope="module")
def corpus_dir(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("uploads")
    (root / "patient_1_bundle.json").write_text(json.dumps(BUNDLE))
    (root / "patient_1_history.txt").write_text(
        "Patient reports chronic headaches since 2019. "
        "Treated with ibuprofen as needed.")
    out = tmp_path_factory.mktemp("warehouse")
    counts = run_ingest(spark, str(root), "u1", str(out), chunk_size=64,
                        dim=16)
    return root, out, counts


def test_run_ingest_counts(spark, corpus_dir):
    _, out, counts = corpus_dir
    assert counts["documents"] == 9          # 9 handled resources
    assert counts["chunks"] >= 3             # narratives + notes + txt file
    chunks = spark.read.parquet(str(out / "chunks"))
    row = chunks.filter(F.col("file_type") == "txt").first()
    assert row.patientId == "1"              # filename inference
    assert len(row.embedding) == 16
    # user_id partition pruning survives the write
    assert chunks.select("user_id").distinct().first()[0] == "u1"


def test_upsert_is_idempotent(spark, corpus_dir):
    root, out, counts = corpus_dir
    # re-ingest the same directory: same keys -> same counts (S9 _id upsert)
    again = run_ingest(spark, str(root), "u1", str(out), chunk_size=64,
                       dim=16)
    assert again == counts


def test_upsert_replaces_same_key(spark, tmp_path):
    p = str(tmp_path / "t")
    df1 = spark.createDataFrame([("a", 1), ("b", 1)], "doc_id string, v int")
    upsert_parquet(df1, p, partition_col=None)
    df2 = spark.createDataFrame([("b", 2), ("c", 2)], "doc_id string, v int")
    upsert_parquet(df2, p, partition_col=None)
    got = {r.doc_id: r.v for r in spark.read.parquet(p).collect()}
    assert got == {"a": 1, "b": 2, "c": 2}


# ------------------------------------------------------------ /ask (§3.1)
@pytest.fixture(scope="module")
def pipeline(spark, corpus_dir):
    _, out, _ = corpus_dir
    docs = spark.read.parquet(str(out / "documents"))
    chunks = spark.read.parquet(str(out / "chunks"))
    chats = spark.createDataFrame(
        [("chat1", "u1", "t")], "id string, userId string, title string")
    import datetime as dt
    messages = spark.createDataFrame(
        [("m1", "chat1", "user", "hi", dt.datetime(2024, 1, 1, 0, 0, 0)),
         ("m2", "chat1", "assistant", "hello",
          dt.datetime(2024, 1, 1, 0, 0, 1))],
        "id string, chatId string, role string, content string, "
        "createdAt timestamp")
    return AskPipeline(docs, chunks, chats, messages, dim=16)


def test_ask_aggregate(pipeline):
    res = pipeline.ask("How many patients have hypertension?", "u1")
    assert res.intent == "AGGREGATE"
    assert ("Hypertension", 1) in res.aggregations["conditionCodeText"]
    # the CONDITION entity filter (P2) restricts all three aggregations,
    # matching the reference where filter_clause wraps the whole agg query
    assert res.aggregations["resourceType"] == [("Condition", 1)]
    assert res.aggregations["patientId"] == [("p1", 1)]


def test_ask_entity_specific(pipeline):
    res = pipeline.ask("Get details for patient Julian Q Stamm", "u1")
    assert res.intent == "ENTITY_SPECIFIC"
    rows = res.hits.collect()
    assert rows and rows[0].patientName == "Julian Q Stamm"
    assert "Julian" in res.answer            # context echoed by default LLM


def test_ask_semantic_hits_chunks(pipeline):
    res = pipeline.ask("Search for headache treatment options", "u1")
    assert res.intent == "SEMANTIC"
    assert res.hits.count() > 0
    assert all(r.doc_type == "unstructured" for r in res.hits.collect())


def test_ask_auth_and_validation(pipeline):
    with pytest.raises(ValueError):
        pipeline.ask("   ", "u1")
    with pytest.raises(PermissionError):
        pipeline.ask("anything goes", "intruder", chat_id="chat1")
    # owner passes auth and sees history
    assert pipeline.chat_history("chat1") == "user: hi\nassistant: hello"


def test_ask_ner_filter_routes(pipeline):
    # CONDITION entity restricts hits to hypertension docs (P2)
    res = pipeline.ask("Find patients with hypertension", "u1")
    assert res.intent == "HYBRID"
    for r in res.hits.collect():
        assert (r.conditionCodeText or "").lower() == "hypertension" \
            or r.doc_type == "unstructured"


def test_merge_rollup_incremental_equals_full(spark, tmp_path):
    """Folding batches incrementally must equal a one-shot rollup."""
    from rassengine_spark.pipeline.ingest import merge_rollup
    path = str(tmp_path / "rollup")
    b1 = spark.createDataFrame(
        [("2024-01-01", "a", 1, 10.0), ("2024-01-01", "b", 1, 5.0),
         ("2024-01-02", "a", 1, 2.0)],
        "day string, k string, n_events long, sum_value double")
    b2 = spark.createDataFrame(
        [("2024-01-02", "a", 1, 3.0),   # touches an existing group
         ("2024-01-03", "c", 1, 7.0)],  # new group
        "day string, k string, n_events long, sum_value double")
    aggs = {"n_events": "sum", "sum_value": "sum"}
    merge_rollup(spark, path, b1, ["day", "k"], aggs)
    merge_rollup(spark, path, b2, ["day", "k"], aggs)
    got = {(r.day, r.k): (r.n_events, r.sum_value)
           for r in spark.read.parquet(path).collect()}
    full = b1.unionByName(b2).groupBy("day", "k") \
             .agg(F.sum("n_events").alias("n"), F.sum("sum_value").alias("s"))
    expect = {(r.day, r.k): (r.n, r.s) for r in full.collect()}
    assert got == expect


def test_persist_turn_appends_both_roles(spark, pipeline, tmp_path):
    """C3 (app/main.py:2948-2963): one /ask turn appends a user and an
    assistant message, queryable for the next turn's history window."""
    path = str(tmp_path / "messages")
    pipeline.persist_turn(spark, path, "chat9", "what is bp?", "an answer")
    pipeline.persist_turn(spark, path, "chat9", "and now?", "another")
    rows = spark.read.parquet(path).filter(F.col("chatId") == "chat9")
    got = [(r.role, r.content) for r in
           rows.orderBy("createdAt", "role").collect()]
    assert len(got) == 4
    assert {g[0] for g in got} == {"user", "assistant"}
    assert ("user", "what is bp?") in got and ("assistant", "another") in got
    assert rows.filter(F.col("createdAt").isNull()).count() == 0


def test_check_user_exists(spark):
    from rassengine_spark.pipeline.ask import check_user_exists
    users = spark.createDataFrame(
        [("u1", "a@x.io", "A", "pw")],
        "id string, email string, name string, password string")
    assert check_user_exists(users, "u1") is True
    assert check_user_exists(users, "nope") is False
