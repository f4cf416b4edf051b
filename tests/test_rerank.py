"""Second-stage rerank: deterministic term-Jaccard default, pluggable
scorer path, and the ask-pipeline integration."""

from pyspark.sql import functions as F

from rassengine_spark.ml.rerank import rerank_topk, term_jaccard_expr


def hits(spark):
    rows = [
        (1, "spark join strategies for large tables", 9.0),
        (2, "spark spark spark spark spark", 8.0),          # high tf, low overlap
        (3, "join query planning in spark explained", 7.0),
        (4, "completely unrelated cooking recipe", 6.0),
        (5, None, 5.0),                                     # null text survives
    ]
    return spark.createDataFrame(rows, "id int, text string, score double")


def test_term_jaccard_reranks_by_set_overlap(spark):
    out = rerank_topk(hits(spark), "spark join query", "text", "id", k=3)
    rows = out.collect()
    # Jaccard on DISTINCT term sets: doc 3 covers all 3 query terms (3/6);
    # doc 2's repeated 'spark' collapses to one token ({spark}: 1/3); doc 1
    # covers 2 terms but over 6 distinct tokens (2/7). tf inflation (doc 2
    # vs doc 1's raw score order) no longer decides.
    assert [r["id"] for r in rows] == [3, 2, 1]
    assert rows[0]["rerank_score"] > rows[1]["rerank_score"] \
        > rows[2]["rerank_score"]


def test_null_text_scores_zero(spark):
    scored = hits(spark).withColumn(
        "s", term_jaccard_expr(F.col("text"), "spark join"))
    assert {r["id"]: r["s"] for r in scored.collect()}[5] == 0.0


def test_pluggable_rerank_fn(spark):
    def reverse_len(query, texts):           # silly but deterministic
        return [float(len(t)) for t in texts]

    out = rerank_topk(hits(spark), "q", "text", "id", k=2,
                      rerank_fn=reverse_len)
    got = [r["id"] for r in out.collect()]
    assert got == [1, 3]                     # two longest texts


def test_ask_pipeline_with_rerank(spark):
    from rassengine_spark.pipeline.ask import AskPipeline
    from rassengine_spark.schemas import DOCUMENTS_SCHEMA
    docs = spark.createDataFrame([], DOCUMENTS_SCHEMA)
    chunk_rows = [
        ("c1", "unstructured", "p1", "headache treatment with rest",
         [1.0, 0.0]),
        ("c2", "unstructured", "p1", "headache headache headache notes",
         [0.9, 0.1]),
        ("c3", "unstructured", "p2", "treatment options for headache pain",
         [0.8, 0.2]),
    ]
    chunks = spark.createDataFrame(
        [(i, dt, pid, txt, emb, "u1", None, None)
         for (i, dt, pid, txt, emb) in chunk_rows],
        "doc_id string, doc_type string, patientId string, "
        "unstructuredText string, embedding array<double>, "
        "user_id string, file_path string, file_type string")
    pipe = AskPipeline(docs, chunks, rerank=True, dim=2)
    # EXPLANATORY route scores note/unstructured fields lexically, so all
    # three chunks are first-stage candidates; rerank re-orders by term
    # overlap with the question
    res = pipe.ask("Explain the headache treatment options note", "u1",
                   top_k=2)
    assert res.intent == "EXPLANATORY"
    ids = [r["doc_id"] for r in res.hits.select("doc_id").collect()]
    # c3 covers 3 query terms over 5 distinct tokens; c1 2 over 4; c2's
    # repetition collapses to one matching token
    assert ids == ["c3", "c1"]
