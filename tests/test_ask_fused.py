"""The one-action ask against the separate operators it fuses.

Each ask below is compared with the same question answered the unfused
way, computed in the test: Q13 name resolution first, then the route with
the resolved patient as a literal key, and AGGREGATE as one plain
groupBy per dim. The corpus holds two tenants that share a patient name,
so the same asks also show that no row of one tenant reaches the other.
"""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from rassengine_spark.ml.embed import embed_query
from rassengine_spark.ml.intent import classify_intent
from rassengine_spark.ml.ner import ner_filter, tag_entities
from rassengine_spark.operators import search as ops
from rassengine_spark.pipeline.ask import FHIR_SPEC, AskPipeline
from rassengine_spark.schemas import CHUNKS_SCHEMA, DOCUMENTS_SCHEMA

DIM = 4
DIMS = ["conditionCodeText", "resourceType", "patientId"]


def _doc(user, pid, name, kind, n, **cols):
    return {"doc_id": f"{kind}-{pid}-{n}", "doc_type": "structured",
            "resourceType": kind, "user_id": user, "patientId": pid,
            "patientName": name, **cols}


def _tenant(user, ann, ann2, bob):
    """Two patients named Ann Lee (equal name scores) and one Bob Stone.
    The first Ann has one hypertension row and no diabetes row; the second
    Ann has more hypertension rows than k; one condition has no code."""
    day = dt.datetime(2024, 5, 1)
    docs = [
        _doc(user, ann, "Ann Lee", "Patient", 0),
        _doc(user, ann, "Ann Lee", "Condition", 1,
             conditionCodeText="Hypertension", conditionNote="bp high"),
        _doc(user, ann, "Ann Lee", "Observation", 2,
             observationCodeText="Glucose", observationIssued=day),
        _doc(user, ann2, "Ann Lee", "Patient", 0),
        _doc(user, ann2, "Ann Lee", "Condition", 1,
             conditionCodeText="Diabetes"),
        *[_doc(user, ann2, "Ann Lee", "Condition", n,
               conditionCodeText="Hypertension") for n in (2, 3, 4, 5)],
        _doc(user, bob, "Bob Stone", "Patient", 0),
        _doc(user, bob, "Bob Stone", "Condition", 1,
             conditionCodeText="Hypertension"),
        _doc(user, bob, "Bob Stone", "Condition", 2),   # NULL code
        _doc(user, bob, "Bob Stone", "Procedure", 3,
             procedureCodeText="Appendectomy", procedureStatus="completed"),
    ]
    chunks = [
        {"doc_id": f"note-{ann}-0", "doc_type": "unstructured",
         "user_id": user, "patientId": ann,
         "unstructuredText": "Ann Lee reports hypertension headaches",
         "embedding": [0.5, 0.5, 0.5, 0.5]},
        {"doc_id": f"note-{bob}-0", "doc_type": "unstructured",
         "user_id": user, "patientId": bob,
         "unstructuredText": "appendectomy recovery with hypertension",
         "embedding": [0.9, 0.1, 0.3, 0.1]},
    ]
    return docs, chunks


@pytest.fixture(scope="module")
def tenants(spark, tmp_path_factory):
    """Documents and chunks of tenants u1 and u2, written as one store
    partitioned by user_id, like the ingest writes it."""
    d1, c1 = _tenant("u1", "p1", "p2", "p3")
    d2, c2 = _tenant("u2", "p7", "p8", "p9")
    root = tmp_path_factory.mktemp("two_tenants")
    for name, rows, schema in [("documents", d1 + d2, DOCUMENTS_SCHEMA),
                               ("chunks", c1 + c2, CHUNKS_SCHEMA)]:
        (spark.createDataFrame([tuple(r.get(f) for f in schema.fieldNames())
                                for r in rows], schema)
         .write.partitionBy("user_id").parquet(str(root / name)))
    return (spark.read.parquet(str(root / "documents")),
            spark.read.parquet(str(root / "chunks")))


def _pipeline(docs, chunks):
    return AskPipeline(docs, chunks, dim=DIM)


def _terms_agg(corpus, filter_expr, pid):
    """The parent's AGGREGATE: one groupBy + take-ordered per dim."""
    if pid is not None:
        corpus = corpus.filter(F.col("patientId") == pid)
    if filter_expr is not None:
        corpus = corpus.filter(filter_expr)
    out = {}
    for gf in DIMS:
        rows = (corpus.filter(F.col(gf).isNotNull())
                .groupBy(F.col(gf).cast("string").alias("key"))
                .agg(F.count(F.lit(1)).alias("cnt"))
                .orderBy(F.col("cnt").desc(), F.col("key").asc())
                .limit(5).collect())
        if rows:
            out[gf] = [(r.key, r.cnt) for r in rows]
    return out


def _unfused(docs, chunks, user, query, k=3):
    """The ask answered by the separate operators: name resolution, then
    the route with the resolved patient as a literal partition key."""
    docs = docs.filter(F.col("user_id") == user)
    pipe = _pipeline(docs, chunks.filter(F.col("user_id") == user))
    persons = [e.text for e in tag_entities(query) if e.label == "PERSON"]
    pids = [r[0] for r in ops.resolve_ids_from_name(
        docs, "patientName", "patientId", persons[0], 3).collect()
            ] if persons else []
    intent, fe = classify_intent(query), ner_filter(query)
    pid = pids[0] if pids else None
    if intent == "AGGREGATE":
        return {"pids": pids, "aggs": _terms_agg(pipe.corpus, fe, pid)}
    if intent == "DOCUMENT_FETCH" and pids:
        first = (pipe.corpus.filter(F.col("patientId").isin(pids))
                 .groupBy("patientId").agg(F.min("doc_id")).collect())
        return {"pids": pids, "hits": [(i, 1.0) for i in
                                       sorted(r[1] for r in first)[:k]]}
    hits = pipe.dispatch(intent, query, embed_query(query, None, DIM), k,
                         fe, pid)
    return {"pids": pids,
            "hits": [(r.doc_id, r.score) for r in hits.collect()]}


def _fused(pipe, user, query):
    res = pipe.ask(query, user)
    out = {"pids": res.patient_ids}
    if res.aggregations is not None:
        out["aggs"] = res.aggregations
    else:
        out["hits"] = [(r.doc_id, r.score) for r in res.rows]
    return res, out


EDGE_CASES = [
    # AGGREGATE: cnt ties across dims and inside one, NULL keys
    "How many patients have hypertension?",
    # the same, scoped to the named patient
    "How many patients named Ann Lee have hypertension?",
    # two patients whose names score equally: the lower patientId wins
    "Get details for patient Ann Lee.",
    # the top patient has fewer than k positive rows; the second Ann's
    # rows must not spill into its hits
    "Compare the outcomes of hypertension vs. diabetes for patient Ann Lee.",
    # the NER filter excludes every row of the resolved patient
    "Get details for patient Ann Lee with diabetes.",
    "Fetch the medical records for patient Ann Lee.",
    # a name that matches nobody: the route over the whole tenant
    "Get details for patient Zed Nobody.",
    "Fetch the medical records for patient Zed Nobody.",
    # kNN routes that name a patient resolve the name first, then run for
    # the top patient
    "Search for hypertension treatment options for patient Ann Lee.",
    "Find patient Ann Lee with hypertension.",
]


@pytest.mark.parametrize("query", EDGE_CASES)
def test_fused_ask_equals_unfused_operators(tenants, query):
    docs, chunks = tenants
    _, got = _fused(_pipeline(docs, chunks), "u1", query)
    assert got == _unfused(docs, chunks, "u1", query)


def test_fused_edge_cases_are_exercised(tenants):
    """The edge cases above hold what they claim on this corpus."""
    docs, chunks = tenants
    pipe = _pipeline(docs, chunks)

    def ask(q):
        return _fused(pipe, "u1", q)[1]

    aggs = ask(EDGE_CASES[0])["aggs"]
    assert ("Hypertension", 6) in aggs["conditionCodeText"]
    assert aggs["patientId"][:2] == [("p2", 4), ("p1", 1)]
    named = ask(EDGE_CASES[1])
    assert named["pids"] == ["p1", "p2"]
    assert named["aggs"]["patientId"] == [("p1", 1)]
    tie = ask(EDGE_CASES[2])
    assert tie["pids"] == ["p1", "p2"]
    assert {d for d, _ in tie["hits"]} <= {"Patient-p1-0", "Condition-p1-1",
                                          "Observation-p1-2"}
    short = ask(EDGE_CASES[3])
    assert short["pids"] == ["p1", "p2"] and 0 < len(short["hits"]) < 3
    assert all("-p1-" in d for d, _ in short["hits"])
    empty = ask(EDGE_CASES[4])
    assert empty == {"pids": ["p1", "p2"], "hits": []}
    assert ask(EDGE_CASES[5])["hits"] == [("Condition-p1-1", 1.0),
                                          ("Condition-p2-1", 1.0)]
    assert ask(EDGE_CASES[6])["pids"] == []
    assert ask(EDGE_CASES[8])["pids"] == ["p1", "p2"]
    hybrid = ask(EDGE_CASES[9])
    assert hybrid["pids"] == ["p1", "p2"] and hybrid["hits"]
    assert all("-p1-" in d for d, _ in hybrid["hits"])


# one question per route family, naming a patient both tenants have
TWO_TENANT_ASKS = [
    "Look up ICD-10 code I10 for patient Ann Lee.",
    "Search for hypertension treatment options.",
    "Find patients with hypertension.",
    "List all procedures with CPT code 44950.",
    "Search for female patients over 40 with hypertension and high blood "
    "pressure.",
    "How many patients have hypertension?",
    "Compare the outcomes of appendectomy vs. medication.",
    "Show me trends in glucose for patient 1 over time.",
    "What are the symptoms of hypertension?",
    "Explain the procedure for appendectomy and list patients who had it.",
    "Get details for patient Ann Lee.",
    "Fetch the medical records for patient Ann Lee.",
]


def test_two_tenant_asks_never_cross(tenants):
    """Tenants u1 and u2 both hold an 'Ann Lee'. On all 12 routes an ask
    as one tenant answers exactly as a store holding only that tenant
    would, with zero rows of the other in hits, aggregations or ids."""
    docs, chunks = tenants
    both = _pipeline(docs, chunks)
    own = {u: ["p1", "p2", "p3"] if u == "u1" else ["p7", "p8", "p9"]
           for u in ("u1", "u2")}
    routes = set()
    for user in ("u1", "u2"):
        alone = _pipeline(docs.filter(F.col("user_id") == user),
                          chunks.filter(F.col("user_id") == user))
        for q in TWO_TENANT_ASKS:
            res, got = _fused(both, user, q)
            routes.add(res.intent)
            assert got == _fused(alone, user, q)[1], q
            assert set(res.patient_ids) <= set(own[user]), q
            if res.rows is not None:
                assert {r.user_id for r in res.rows} <= {user}, q
            else:
                keys = {k for k, _ in res.aggregations.get("patientId", [])}
                assert keys <= set(own[user]), q
    assert len(routes) == 12


def test_ask_requires_a_user(tenants):
    docs, chunks = tenants
    with pytest.raises(ValueError):
        _pipeline(docs, chunks).ask("Find patients with hypertension.", "")
