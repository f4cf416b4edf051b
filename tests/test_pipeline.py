"""End-to-end pipeline tests: text/markdown sources (S3/S4), batch ingest
with idempotent upsert (S9), the /ask lifecycle (§3.1), rollup folds."""

import json
import uuid

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
    schema = "doc_id string, v int"
    assert upsert_parquet(spark.createDataFrame([("b", 0)], schema),
                          p, "other") == 1
    df1 = spark.createDataFrame([("a", 1), ("b", 1)], schema)
    assert upsert_parquet(df1, p, "u1") == 2
    df2 = spark.createDataFrame([("b", 2), ("c", 2)], schema)
    assert upsert_parquet(df2, p, "u1") == 2
    got = {(r.user_id, r.doc_id): r.v
           for r in spark.read.parquet(p).collect()}
    # the other tenant's same doc_id is not a same-key row
    assert got == {("u1", "a"): 1, ("u1", "b"): 2, ("u1", "c"): 2,
                   ("other", "b"): 0}


def _tenant_files(out, user_id: str) -> dict:
    """{path: (size, mtime_ns)} of one tenant's files in both tables."""
    return {str(f): (f.stat().st_size, f.stat().st_mtime_ns)
            for t in ("documents", "chunks")
            for f in (out / t / f"user_id={user_id}").rglob("*")
            if f.is_file()}


def _tenant_counts(spark, out, user_id: str) -> dict:
    return {t: spark.read.parquet(str(out / t))
            .filter(F.col("user_id") == user_id).count()
            for t in ("documents", "chunks")}


def test_upload_rewrites_only_its_own_tenant(spark, corpus_dir, tmp_path):
    """An upload reads and rewrites only its tenant's partition and
    returns its own row counts, not the store's."""
    root, _, counts_a = corpus_dir
    src_b = tmp_path / "uploads_b"
    src_b.mkdir()
    (src_b / "patient_1_bundle.json").write_text(json.dumps(BUNDLE))
    out = tmp_path / "warehouse"

    def ingest(src, user_id):
        return run_ingest(spark, str(src), user_id, str(out), chunk_size=64,
                          dim=16)

    assert ingest(root, "a") == counts_a
    counts_b = ingest(src_b, "b")
    assert counts_b["documents"] == 9
    assert counts_b["chunks"] < counts_a["chunks"]   # no txt file
    assert _tenant_counts(spark, out, "b") == counts_b
    b_files = _tenant_files(out, "b")
    a_rows = sorted(repr(r) for r in spark.read.parquet(str(out / "chunks"))
                    .filter(F.col("user_id") == "a").collect())

    assert ingest(root, "a") == counts_a
    assert _tenant_files(out, "b") == b_files
    assert sorted(repr(r) for r in spark.read.parquet(str(out / "chunks"))
                  .filter(F.col("user_id") == "a").collect()) == a_rows
    assert _tenant_counts(spark, out, "a") == counts_a


def test_concurrent_uploads_of_two_tenants(spark, corpus_dir, tmp_path):
    """Two tenants' uploads from two threads of one session leave every
    tenant's rows complete, with no duplicated (user_id, doc_id)."""
    from concurrent.futures import ThreadPoolExecutor

    root, _, counts = corpus_dir
    out = tmp_path / "warehouse"

    def ingest(user_id):
        return run_ingest(spark, str(root), user_id, str(out),
                          chunk_size=64, dim=16)

    ingest("t0")
    with ThreadPoolExecutor(2) as pool:
        got = list(pool.map(ingest, ["t1", "t2"]))
    assert got == [counts, counts]
    for t in ("documents", "chunks"):
        rows = spark.read.parquet(str(out / t))
        assert rows.groupBy("user_id", "doc_id").count() \
                   .filter(F.col("count") > 1).count() == 0
    for user_id in ("t0", "t1", "t2"):
        assert _tenant_counts(spark, out, user_id) == counts


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


@pytest.mark.parametrize("query,intent,hits", [
    # no [a-z0-9] term: the kNN clause alone scores
    ("???", "HYBRID", [("Patient-p1-unstructured-0", 0.654654)]),
    ("Find patients with O'Brien's \\ disease.", "HYBRID",
     [("patient_1_history-0-unstructured", 3.131519),
      ("Condition-c1-unstructured-0", 0.657596)]),
    ("Ünïcödé 患者 hypertension?", "HYBRID",
     [("Condition-c1-structured", 1.5)]),
    ("Look up ICD-10 code R13'; DROP", "MULTI_INTENT", []),
])
def test_ask_odd_queries(pipeline, query, intent, hits):
    """Quotes, backslashes, unicode and term-less queries get a defined
    answer; the expected hits are those of the per-term Column builders
    the SQL-text builders replaced."""
    res = pipeline.ask(query, "u1")
    assert res.intent == intent
    assert [(r.doc_id, r.score) for r in res.hits.collect()] == hits


def test_render_context_prints_values_as_spark_casts(spark, pipeline):
    """The context is rendered on the driver from the collected rows; each
    value must read as Spark's CAST(v AS STRING) prints it: the fixture's
    rows, plus fractional-second timestamps, early dates and booleans,
    under session time zones given as a region, an offset ('Z' among
    them) and a short id."""
    import datetime as dt

    from pyspark.sql.types import ArrayType

    from rassengine_spark.pipeline.ask import render_context
    from rassengine_spark.util import qident, sql_quote

    odd = spark.createDataFrame(
        [("x1", dt.datetime(2024, 1, 2, 3, 4, 5, 120000),
          dt.date(987, 6, 5), 7, True, 0.25, None),
         ("x2", dt.datetime(1999, 12, 31, 23, 59, 59), None, None, False,
          1234.5, None)],
        "doc_id string, ts timestamp, d date, n int, b boolean, x double, "
        "unstructuredText string")
    key = "spark.sql.session.timeZone"
    default = spark.conf.get(key)
    try:
        for tz in [default, "Z", "+05:30", "-3:00", "PST",
                   "America/New_York"]:
            spark.conf.set(key, tz)
            for frame in [pipeline.corpus, odd]:
                fields = [f.name for f in frame.schema.fields
                          if f.name not in {"doc_id", "doc_type",
                                            "resourceType", "user_id",
                                            "file_path", "file_type"}
                          and not isinstance(f.dataType, ArrayType)]
                kvs = ", ".join(f"concat({sql_quote(c + ': ')}, "
                                f"CAST({qident(c)} AS STRING))"
                                for c in fields)
                ref = F.expr("coalesce(unstructuredText, "
                             f"concat_ws(' | ', {kvs}))")
                rows = frame.select("*", ref.alias("_ref")).collect()
                assert rows
                for r in rows:
                    assert render_context([r], frame.schema) == r["_ref"], tz
    finally:
        spark.conf.set(key, default)


# one question per route family; none of the single-scan ones names a
# person, so each is one scan under one take-ordered
SINGLE_SCAN = [
    ("KEYWORD", "Look up ICD-10 code I10."),
    ("SEMANTIC", "Search for hypertension treatment options."),
    ("HYBRID", "Find patients with hypertension."),
    ("STRUCTURED", "List all procedures with CPT code 44950."),
    ("HYBRID_STRUCTURED", "Search for female patients over 40 with "
                          "hypertension and high blood pressure."),
    ("COMPARISON", "Compare the outcomes of appendectomy vs. medication."),
    ("TEMPORAL", "Show me trends in glucose for patient 1 over time."),
    ("EXPLANATORY", "What are the symptoms of hypertension?"),
    ("MULTI_INTENT", "Explain the procedure for appendectomy and list "
                     "patients who had it."),
]
# routes that resolve the named patient inside their own plan
ONE_SHUFFLE = [
    ("DOCUMENT_FETCH", "Fetch the medical records for patient Julian Q "
                       "Stamm."),
    ("ENTITY_SPECIFIC", "Get details for patient Julian Q Stamm."),
]
# AGGREGATE counts in one shuffle and ranks per dim in a second; a kNN
# route resolves a named patient first, in an action of its own
TWO_SHUFFLES = [
    ("AGGREGATE", "How many patients have hypertension?"),
    ("SEMANTIC", "Search for hypertension treatment options for patient "
                 "Julian Q Stamm."),
]


def _jobs_and_stages(spark, fn):
    """(result, Spark jobs, stages) of fn() run under its own job group."""
    sc = spark.sparkContext
    group = f"ask-budget-{uuid.uuid4()}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = sum(len(tracker.getJobInfo(j).stageIds) for j in jobs)
    return out, len(jobs), stages


@pytest.mark.parametrize("intent,query",
                         SINGLE_SCAN + ONE_SHUFFLE + TWO_SHUFFLES)
def test_ask_job_budget(spark, pipeline, intent, query):
    """The Spark jobs and stages of one ask. A single-scan route is one
    job of one stage (the take-ordered merges on the driver); each shuffle
    adds one job, since adaptive execution runs every shuffle as a job of
    its own, and its stages (a job also lists the stages it skips)."""
    res, jobs, stages = _jobs_and_stages(
        spark, lambda: pipeline.ask(query, "u1"))
    assert res.intent == intent
    if (intent, query) in SINGLE_SCAN:
        assert (jobs, stages) == (1, 1)
    elif (intent, query) in ONE_SHUFFLE:
        assert jobs <= 2 and stages <= 3
    else:
        assert jobs <= 3 and stages <= 6
    if intent != "AGGREGATE" and (intent, query) not in SINGLE_SCAN:
        assert res.patient_ids == ["p1"]


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
