"""Physical-plan audits: the optimizations the engine depends on at 100 TB
must actually appear in the executed plans (SURVEY §4's Catalyst mapping).

Each test writes a small partitioned parquet corpus and asserts on
`executedPlan` strings — if a regression un-broadcasts a dim join, breaks
filter pushdown, or turns top-k into a global sort, these fail."""

import pytest
from pyspark.sql import functions as F

from rassengine_spark.operators.search import (CorpusSpec, collapse_best_per_key,
                                               exact_match_search)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("plans") / "docs")
    rows = [(f"d{i}", f"p{i % 7}", f"u{i % 3}", f"text spark number {i}",
             float(i % 11)) for i in range(200)]
    (spark.createDataFrame(
        rows, "doc_id string, patientId string, user_id string, "
              "text string, score0 double")
        .write.partitionBy("user_id").parquet(d))
    return spark.read.parquet(d)


SPEC = CorpusSpec(id_col="doc_id", text_fields=["text"],
                  keyword_fields=["patientId"], partition_col="patientId")


def test_partition_pruning_on_user_id(corpus):
    """Tenant filter must prune partitions at scan time, not post-filter."""
    plan = _plan(corpus.filter(F.col("user_id") == "u1").select("doc_id"))
    assert "PartitionFilters: [isnotnull(user_id" in plan \
        or "user_id#" in plan.split("PartitionFilters")[1].split("]")[0]


def test_predicate_pushdown_reaches_scan(corpus):
    """Non-partition predicates must appear in PushedFilters."""
    plan = _plan(corpus.filter(F.col("patientId") == "p3").select("doc_id"))
    assert "PushedFilters: [IsNotNull(patientId), EqualTo(patientId,p3)]" \
        in plan


def test_column_pruning_reaches_scan(corpus):
    """A 2-column projection must not read the full schema."""
    plan = _plan(corpus.select("doc_id", "patientId"))
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "doc_id" in read and "patientId" in read
    assert "text" not in read and "score0" not in read


def test_search_topk_is_take_ordered(corpus):
    """Q1-Q11 top-k must be TakeOrderedAndProject (per-partition k-heaps),
    never a global Sort + CollectLimit."""
    plan = _plan(exact_match_search(corpus, SPEC, "spark", k=3))
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan


def test_search_filter_pushes_through_score(corpus):
    """The patient filter composes with scoring as a scan-level pushdown —
    scoring is a projection, so Catalyst pushes the predicate below it."""
    plan = _plan(exact_match_search(corpus, SPEC, "spark", k=3,
                                    partition_key="p3"))
    assert "EqualTo(patientId,p3)" in plan.split("PushedFilters")[1] \
        .split("]")[0] + "]"


def test_collapse_uses_window_group_limit(corpus):
    """W1 collapse (best doc per patient) must hit the WindowGroupLimit
    optimization (rank filter pushed into a per-partition group limit)."""
    scored = corpus.withColumn("score", F.col("score0"))
    plan = _plan(collapse_best_per_key(scored, "patientId", "score",
                                      "doc_id"))
    assert "WindowGroupLimit" in plan


def test_small_dim_join_broadcasts(spark, corpus):
    """A resolved-ids semi-join (J1) must broadcast the small side — no
    shuffle of the corpus."""
    ids = spark.createDataFrame([("p1",), ("p2",)], "patientId string")
    joined = corpus.join(ids, "patientId", "left_semi")
    joined.collect()          # AQE decides join strategy from runtime stats
    plan = _plan(joined)
    assert "BroadcastHashJoin" in plan
    assert "isFinalPlan=true" in plan


def test_scoring_stays_in_codegen(corpus):
    """Lexical scoring must sit inside a WholeStageCodegen span with the
    scan — no interpreted projection barrier, no Python eval."""
    plan = _plan(exact_match_search(corpus, SPEC, "spark", k=3))
    assert "*(1)" in plan     # whole-stage-codegen stage marker
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_stratified_take_uses_window_group_limit(corpus):
    """Per-stratum take must prune with WindowGroupLimit before the
    shuffle, not rank every row post-shuffle."""
    from rassengine_spark.llmops.splits import stratified_take
    plan = _plan(stratified_take(corpus, "patientId", "doc_id", 3))
    assert "WindowGroupLimit" in plan


def test_split_predicates_fuse_into_scan(corpus):
    """hash_sample / mixture_resample are scan-fused filters: single
    codegen stage, no exchange."""
    from rassengine_spark.llmops.splits import hash_sample, mixture_resample
    for df in (hash_sample(corpus, "doc_id", 0.5),
               mixture_resample(corpus, "patientId", "doc_id", {"p1": 0.5})):
        plan = _plan(df.select("doc_id"))
        assert "Exchange" not in plan
        assert "*(1)" in plan  # whole-stage-codegen span markers


def test_pack_sequences_single_shuffle(corpus):
    """Packing = exactly one exchange (the shard key) feeding the window."""
    from rassengine_spark.llmops.splits import pack_sequences
    toks = corpus.select("doc_id", F.length("text").alias("n"))
    plan = _plan(pack_sequences(toks, "doc_id", "n", budget=100, shards=4))
    assert plan.count("Exchange hashpartitioning") == 1


def test_pii_redact_stays_in_codegen(corpus):
    """The redaction chain is a pure projection fused into the scan."""
    from rassengine_spark.llmops.text_analysis import pii_counts
    plan = _plan(pii_counts(corpus, "text", "doc_id"))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dq_suite_single_exchange_and_pruned_scan(spark, tmp_path_factory):
    """The constraint suite over a parquet table must be one scan with
    map-side partial aggregation (exactly one shuffle: the 1-row final
    agg) reading ONLY the checked columns."""
    from rassengine_spark.llmops import dataquality as DQ

    d = str(tmp_path_factory.mktemp("dqplan") / "t")
    (spark.createDataFrame(
        [(i, float(i), f"s{i % 3}", f"pad{i}") for i in range(50)],
        "id long, v double, s string, unused string")
        .write.parquet(d))
    t = spark.read.parquet(d)
    rep = DQ.check_suite(t, [DQ.completeness("v"),
                             DQ.satisfies("pos", F.col("v") > 0)])
    plan = rep._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "v" in read and "unused" not in read and "s:" not in read


def test_prefix_filter_no_cartesian_no_global_sort(spark):
    """The prefix-filter join must stay equi-join shaped: no
    CartesianProduct, no BroadcastNestedLoop, and every Sort in the plan
    is partition-local (global=false)."""
    from rassengine_spark.llmops.dedup import prefix_filter_jaccard_pairs

    df = spark.createDataFrame(
        [(i, "tok%d tok%d tok%d common" % (i % 5, i % 7, i % 3))
         for i in range(40)], ["doc_id", "text"])
    out = prefix_filter_jaccard_pairs(df, "text", "doc_id",
                                      threshold=0.6, n=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for line in plan.splitlines():
        ls = line.lstrip("+-: *")
        if ls.startswith("Sort "):
            assert ", true, " not in ls, f"global sort: {ls}"


def test_ask_dispatch_prunes_tenant_partition(corpus):
    """Multi-tenant dispatch (VERDICT r07 #8): two tenants' queries
    through ONE AskPipeline, tenant as the spec partition key, on a
    user_id-partitioned store — each branch's scan must carry a
    PartitionFilters entry on user_id (index-per-user isolation,
    app/main.py:346-347, as storage-level pruning), and the union plan
    must keep both pruned scans rather than one full scan + filter."""
    import dataclasses

    from rassengine_spark.pipeline.ask import AskPipeline

    spec = dataclasses.replace(SPEC, partition_col="user_id")
    pipe = AskPipeline(corpus, corpus.limit(0), spec=spec)
    plans = []
    for tenant in ("u1", "u2"):
        hits = pipe.dispatch("KEYWORD", "spark", qvec=[], k=3,
                             filter_expr=None, patient_id=tenant)
        plan = _plan(hits)
        plans.append(plan)
        pf = plan.split("PartitionFilters")[1].split("]")[0]
        assert "user_id" in pf, plan
    # and the two dispatches are isolated: no cross-tenant rows
    rows1 = {r.doc_id for r in pipe.dispatch(
        "KEYWORD", "spark", qvec=[], k=50, filter_expr=None,
        patient_id="u1").collect()}
    rows2 = {r.doc_id for r in pipe.dispatch(
        "KEYWORD", "spark", qvec=[], k=50, filter_expr=None,
        patient_id="u2").collect()}
    assert rows1 and rows2 and not (rows1 & rows2)


def test_substring_pairs_single_winnow_pass(spark):
    """Round-8 pin: the Arrow winnowing index is materialized ONCE (lazy
    localCheckpoint) — the serve plan must reference the checkpointed RDD
    on both self-join sides instead of re-running the Python sweep per
    consumer (the before-plan had 4 scans + 4 MapInPandas nodes)."""
    from rassengine_spark.llmops.dedup import substring_dup_pairs
    df = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog " * 3 + str(i))
         for i in range(12)], "id long, text string")
    plan = _plan(substring_dup_pairs(df, "text", "id", k=8, w=4,
                                     min_shared=1))
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan, \
        "winnow pass leaked into the serve plan (pin lost)"
    assert plan.count("Scan ExistingRDD") >= 2, \
        "self-join sides no longer share the checkpointed index"


def test_bigram_fit_single_arrow_pass(spark):
    """Round-8 pin: fit_bigram_lm's count table is checkpointed, so the
    score-side plan must not re-run the train-side Arrow bigram explode
    per consumer (the before-plan carried 3 copies of it)."""
    from rassengine_spark.llmops.lm_score import (bigram_lm_score,
                                                  fit_bigram_lm)
    df = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i}") for i in range(10)],
        "id long, text string")
    bigrams, unigrams, vocab = fit_bigram_lm(df, "text", "id")
    plan = _plan(bigram_lm_score(df, bigrams, unigrams, vocab,
                                 "text", "id"))
    # exactly ONE Python pass may remain: the SCORE side's own bigram
    # explode over `df`; the train-side fit passes must be gone
    assert plan.count("MapInPandas") <= 1, \
        f"fit-side Arrow passes leaked into the score plan:\n{plan[:2000]}"


@pytest.fixture(scope="module")
def fhir_corpus(spark, tmp_path_factory):
    """One FHIR row carrying every document and chunk column, so the
    optimized plan keeps every field's clause (no column folds to NULL)."""
    from pyspark.sql.types import StructType

    from rassengine_spark.schemas import CHUNKS_SCHEMA, DOCUMENTS_SCHEMA

    names = set(DOCUMENTS_SCHEMA.fieldNames())
    schema = StructType(DOCUMENTS_SCHEMA.fields + [
        f for f in CHUNKS_SCHEMA.fields if f.name not in names])
    vals = {"doc_id": "d1", "doc_type": "structured",
            "resourceType": "Patient", "user_id": "u1",
            "unstructuredText": "x"}
    d = str(tmp_path_factory.mktemp("fhir") / "docs")
    spark.createDataFrame([tuple(vals.get(n) for n in schema.fieldNames())],
                          schema).write.parquet(d)
    return spark.read.parquet(d)


@pytest.mark.parametrize("intent,call,n_fields", [
    ("HYBRID", "levenshtein(", "text"),
    ("KEYWORD", "array_contains(", "keyword"),
])
def test_ask_plan_shape_does_not_depend_on_terms(spark, fhir_corpus, intent,
                                                 call, n_fields):
    """A 1-term and a 9-term ask build plans of one shape: the terms ride
    in one array literal, so a lexical clause holds one fuzzy (HYBRID) or
    keyword (KEYWORD) match per field whatever the term count."""
    from rassengine_spark.pipeline.ask import FHIR_SPEC, AskPipeline

    fields = {"text": FHIR_SPEC.text_fields,
              "keyword": FHIR_SPEC.keyword_fields}[n_fields]
    pipe = AskPipeline(fhir_corpus, fhir_corpus.limit(0), dim=4)
    key = "spark.sql.debug.maxToStringFields"
    old = spark.conf.get(key)
    spark.conf.set(key, "100000")        # print every field of the plan
    try:
        counts = []
        for q in ["diabetes", "patients with diabetes taking metformin "
                              "and insulin since last year"]:
            hits = pipe.dispatch(intent, q, [0.5] * 4, 3, None, None)
            counts.append(hits._jdf.queryExecution().optimizedPlan()
                          .toString().count(call))
    finally:
        spark.conf.set(key, old)
    assert counts == [len(fields), len(fields)]


@pytest.fixture(scope="module")
def term_store(spark, tmp_path_factory):
    from rassengine_spark.operators.index_store import save_term_index
    from rassengine_spark.operators.inverted_index import build_term_index

    words = ["spark", "join", "shuffle", "window", "sort", "query", "plan",
             "scan", "index", "bucket", "merge", "hash"]
    rows = [(i, " ".join(words[(i * j) % len(words)] for j in range(1, 9)))
            for i in range(60)]
    path = str(tmp_path_factory.mktemp("terms") / "store")
    save_term_index(*build_term_index(
        spark.createDataFrame(rows, "id long, text string"), "text", "id"),
        path)
    return path, words


@pytest.mark.parametrize("batch", ["one", "thirty_two", "long_query"])
def test_bm25_batch_is_one_shuffle(spark, term_store, batch):
    """A store-served BM25 batch shuffles once (by query_id): df is a
    window on that partitioning, so no aggregate is keyed on term, and
    the (query_id, id) fold and the rank window reuse it — for a 1-query
    batch, a 32-query batch and one with a query longer than
    _MAX_PIVOT_POS (the map-fold path)."""
    from rassengine_spark.operators.inverted_index import (
        _MAX_PIVOT_POS, bm25_batch_topk_from_index)

    path, words = term_store
    queries = {"one": {"q0": "spark join"},
               "thirty_two": {f"q{i}": f"{words[i % 12]} {words[i * 5 % 12]}"
                              for i in range(32)},
               "long_query": {"q0": "spark join",
                              "q1": " ".join(words[i % 12] for i in
                                             range(_MAX_PIVOT_POS + 3))},
               }[batch]
    out = bm25_batch_topk_from_index(
        spark.read.parquet(f"{path}/postings").select("term", "id", "tf"),
        spark.read.parquet(f"{path}/doclens"),
        spark.read.parquet(f"{path}/stats"), queries, k=5)
    assert out.collect()
    plan = _plan(out)
    assert "isFinalPlan=true" in plan
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "HashAggregate(keys=[term" not in plan, plan


def test_hnsw_store_batch_scans_store_once(spark, tmp_path):
    """Serving a query frame from the HNSW store reads the store once:
    the shard ids come from its file listing, not a second scan."""
    from rassengine_spark.llmops.hnsw import (hnsw_topk_from_store_df,
                                              save_hnsw_index)

    rows = [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)])
            for i in range(60)]
    corpus = spark.createDataFrame(rows, "vec_id long, v array<double>")
    path = str(tmp_path / "hnsw")
    save_hnsw_index(corpus, "v", "vec_id", path, partitions=3)
    qs = corpus.filter(F.col("vec_id") < 4) \
               .select(F.col("vec_id").alias("qid"), "v")
    out = hnsw_topk_from_store_df(spark, path, qs, "v", "qid", k=3)
    assert out.count() == 12
    plan = _plan(out)
    assert plan.count("FileScan parquet") == 1, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
