"""The benchmark workloads. Each drives the engine's public API from one
process with one closed-loop client: the next request is sent only after
the previous answer arrived.

A workload function returns a ``Result``: end-to-end samples measured with
tracing off (or on, in the traced run), the operation counts, and the
failures found by the independent checker (check.py).
"""

from __future__ import annotations

import dataclasses
import os
import statistics
import sys
import time
from dataclasses import dataclass, field

from . import check, gen
from .trace import file_bytes, store_listing


@dataclass
class Result:
    setup_s: float = 0.0
    latencies: list[float] = field(default_factory=list)
    loop_s: float = 0.0
    queries: int = 0
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    self_test_ok: bool = True
    layer: dict[str, float] = field(default_factory=dict)
    phases: dict[str, float] = field(default_factory=dict)


# ================================================================ ask_mixed
# One tenant (its own store partition, the reference's index per user),
# ingested during set-up by one upload request of 5 files (the engine's
# max_files_per_request): 4 FHIR bundles and 1 note file. Each further
# tenant adds about 11 s of ingest to every run's set-up.
ASK_TENANTS = 1
ASK_PATIENTS = 30


def _wrap_ask_layers(rec) -> None:
    from rassengine_spark.operators import search as ops
    from rassengine_spark.pipeline import ask as ask_mod
    from rassengine_spark.pipeline import ingest as ing

    for attr, name in [("ner_filter", "ml.ner_filter"),
                       ("tag_entities", "ml.tag_entities"),
                       ("classify_intent", "ml.classify_intent"),
                       ("embed_query", "ml.embed_query"),
                       ("render_context", "ask.render_context")]:
        rec.wrap(ask_mod, attr, name)
    for attr in ["ask", "resolve_patients", "dispatch"]:
        rec.wrap(ask_mod.AskPipeline, attr, f"ask.{attr}")
    for attr in ["aggregate_search", "document_fetch_search",
                 "resolve_ids_from_name"]:
        rec.wrap(ops, attr, f"search.{attr}")
    for attr, name in [("ingest_directory", "ingest.ingest_directory"),
                       ("parse_fhir", "sources.parse_fhir"),
                       ("read_text_files", "sources.read_text_files"),
                       ("text_chunk_documents",
                        "sources.text_chunk_documents"),
                       ("with_embeddings", "ml.with_embeddings"),
                       ("upsert_parquet", "ingest.upsert_parquet"),
                       ("run_ingest", "ingest.run_ingest")]:
        rec.wrap(ing, attr, name)


def ask_mixed(spark, work: str, seed: int, seconds: float, rec,
              t_start: float) -> Result:
    from pyspark.sql import functions as F

    from rassengine_spark.config import DEFAULT
    from rassengine_spark.ml.embed import embed_query
    from rassengine_spark.ml.ner import tag_entities
    from rassengine_spark.pipeline import ask as ask_mod
    from rassengine_spark.pipeline import ingest as ing

    res = Result()
    if rec.enabled:
        _wrap_ask_layers(rec)
    store = os.path.join(work, "store")
    tenants = gen.make_tenants(seed, ASK_TENANTS, ASK_PATIENTS)
    uploads = []
    for t in tenants:
        up = os.path.join(work, "uploads", t.user_id)
        paths = gen.write_request(up, t.user_id, t.patients, 4, 1)
        before = dict(_files(store))
        t0 = time.perf_counter()
        with rec.request("upload", f"upload-{t.user_id}"):
            counts = ing.run_ingest(spark, up, t.user_id, store)
        uploads.append({"s": time.perf_counter() - t0,
                        "in_bytes": file_bytes(paths),
                        "written": _written(before, _files(store)),
                        "counts": counts})
    docs = spark.read.parquet(os.path.join(store, "documents"))
    chunks = spark.read.parquet(os.path.join(store, "chunks"))
    frames = {t.user_id: (docs.filter(F.col("user_id") == t.user_id),
                          chunks.filter(F.col("user_id") == t.user_id))
              for t in tenants}
    cfg = dataclasses.replace(DEFAULT, now=gen.NOW)
    res.setup_s = time.perf_counter() - t_start

    records: list[dict] = []

    def ask(tenant, query: str, intent: str, absent: bool) -> None:
        uid = tenant.user_id
        res.attempted += 1
        t0 = time.perf_counter()
        with rec.request("ask", f"ask-{res.attempted}"):
            d, c = frames[uid]
            out = ask_mod.AskPipeline(d, c, config=cfg).ask(query, uid)
        lat = time.perf_counter() - t0
        records.append({
            "tenant": uid, "query": query, "expected_intent": intent,
            "absent": absent, "intent": out.intent, "latency": lat,
            "pids": list(out.patient_ids), "aggs": out.aggregations,
            "hits": None if out.hits is None else
            [(r[0], r[1]) for r in out.hits.select("doc_id", "score")
             .collect()],
            "entities": [(e.text, e.label) for e in tag_entities(query)],
            "qvec": embed_query(query)})
        print(f"\nask {intent} {lat:.2f}s absent={absent}", file=sys.stderr)

    # whole cycles until `seconds` of ask time have passed, so every run
    # asks the same mix (see gen.TIMED_MIX)
    stream = gen.ask_stream(seed, tenants, gen.TIMED_MIX, gen.ABSENT_IN_MIX)
    loop_start = time.perf_counter()
    try:
        while sum(res.latencies) < seconds:
            for item in next(stream):
                ask(*item)
                res.latencies.append(records[-1]["latency"])
        res.phases["loop_s"] = time.perf_counter() - loop_start
        if rec.enabled:
            for item in next(gen.ask_stream(seed + 1, tenants, gen.SWEEP)):
                ask(*item)
    except Exception as e:              # counted as failed; the run stops
        res.failures.append(f"ask raised {e!r}")
    res.loop_s = sum(res.latencies)
    res.queries = len(res.latencies)
    rec.restore()

    # ------------------------------------------------- independent check
    twin = check.AskTwin(store, gen.NOW, top_k=cfg.top_k)
    hit = 0
    for r in records:
        persons = [e for e, lab in r["entities"] if lab == "PERSON"]
        pids = twin.resolve(r["tenant"], persons[0]) if persons else []
        exp = twin.answer(r["tenant"], r["query"], r["expected_intent"],
                          r["entities"], pids, r["qvec"])
        exp["pids"] = pids
        why = check.compare_ask(r, exp)
        if why:
            res.failures.append(f"ask {r['query']!r}: {why}")
        hit += bool(r["aggs"] or r["hits"])
    # mutation self-test: a corrupted copy of a correct answer must fail
    for r in records:
        if r["hits"] and len(r["hits"]) >= 2:
            good = {"hits": [(d, check.round6(v)) for d, v in r["hits"]],
                    "pids": r["pids"]}
            res.self_test_ok = all(
                check.compare_ask({**r, "hits": m}, good)
                for m in check.mutations(r["hits"]))
            break

    res.layer.update({
        "ask.hit_frac": hit / len(records) if records else 0.0,
        "ml.intent_match_frac": (
            sum(r["intent"] == r["expected_intent"] for r in records)
            / len(records) if records else 0.0),
    })
    if rec.enabled:
        _ask_layers(rec, res, records, uploads, store)
    return res


def _files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _written(before: dict, after: dict) -> int:
    """Bytes of files created or rewritten between two listings."""
    return sum(sz for p, (sz, mt) in after.items()
               if before.get(p) != (sz, mt) and not p.endswith(".crc"))


_PRE_DISPATCH = ["ml.ner_filter", "ml.classify_intent", "ask.resolve_patients",
                 "ml.embed_query"]


def _ask_layers(rec, res: Result, records: list, uploads: list,
                store: str) -> None:
    L = res.layer
    per = rec.per_request
    L["ml.tag_entities_s"] = (per("ml.ner_filter", "ask")
                              + per("ml.tag_entities", "ask"))
    L["ml.classify_intent_s"] = per("ml.classify_intent", "ask")
    L["ml.embed_query_s"] = per("ml.embed_query", "ask")
    for name in ["resolve_patients", "dispatch", "render_context"]:
        L[f"ask.{name}_s"] = per(f"ask.{name}", "ask")
    L["ask.self_s"] = per("ask.ask", "ask", self_time=True)
    # a route's span: everything ask() does after the query embedding —
    # the dispatch call plus the execution render_context or the
    # aggregate collect triggers, since the frames are lazy
    spans = rec.spans
    by_req: dict[str, float] = {}
    for n, s, e, _, req in spans:
        if req is None:
            continue
        if n == "ask.ask":
            by_req[req] = by_req.get(req, 0.0) + (e - s)
        elif n in _PRE_DISPATCH:
            by_req[req] = by_req.get(req, 0.0) - (e - s)
    route_t: dict[str, list[float]] = {}
    for i, r in enumerate(records):
        t = by_req.get(f"ask-{i + 1}")
        if t is not None:
            route_t.setdefault(r["intent"], []).append(t)
    for route, v in route_t.items():
        L[f"search.{route.lower()}_s"] = sum(v) / len(v)
    if uploads:
        n = len(uploads)
        L["ingest.upload_s"] = statistics.median(u["s"] for u in uploads)
        L["sources.parse_fhir_s"] = per("sources.parse_fhir", "upload")
        L["sources.text_chunks_s"] = (
            per("sources.read_text_files", "upload")
            + per("sources.text_chunk_documents", "upload"))
        L["ml.with_embeddings_s"] = per("ml.with_embeddings", "upload")
        # run_ingest upserts documents first, then chunks
        ups = [e - s for n_, s, e, _, _ in spans
               if n_ == "ingest.upsert_parquet"]
        L["ingest.upsert_documents_s"] = sum(ups[0::2]) / n
        L["ingest.upsert_chunks_s"] = sum(ups[1::2]) / n
        L["ingest.recount_s"] = per("ingest.run_ingest", "upload",
                                    self_time=True)
        docs = sum(u["counts"]["documents"] for u in uploads)
        chunks = sum(u["counts"]["chunks"] for u in uploads)
        L["sources.docs_per_upload"] = docs / n
        L["sources.chunks_per_upload"] = chunks / n
        L["ingest.bytes_written"] = sum(u["written"] for u in uploads) / n
        size, files = store_listing(store)
        L["ingest.store_files"] = files
        in_bytes = sum(u["in_bytes"] for u in uploads)
        L["ingest.write_amp"] = sum(u["written"] for u in uploads) / in_bytes
        L["ingest.space_amp"] = size / in_bytes
        L["ingest.docs_per_s"] = (docs + chunks) / sum(u["s"]
                                                       for u in uploads)
        L["session.jobs_per_upload"] = rec.counter_mean("upload", "jobs")
        L["session.tasks_per_upload"] = rec.counter_mean("upload", "tasks")
    L["session.jobs_per_request"] = rec.counter_mean("ask", "jobs")
    L["session.stages_per_request"] = rec.counter_mean("ask", "stages")
    L["session.tasks_per_request"] = rec.counter_mean("ask", "tasks")


# =========================================================== batch_retrieve
BR_DOCS = 1500          # base corpus
BR_DELTA = 200          # docs appended between batches
BR_QUERIES = 32         # queries per batch
BR_K = 10


def batch_retrieve(spark, work: str, seed: int, seconds: float, rec,
                   t_start: float) -> Result:
    import duckdb
    import numpy as np
    from pyspark.sql import functions as F

    from rassengine_spark.llmops import hnsw
    from rassengine_spark.ml import embed
    from rassengine_spark.operators import index_store as ixs
    from rassengine_spark.operators import inverted_index as ii

    res = Result()
    term_p = os.path.join(work, "term")
    ann_p = os.path.join(work, "hnsw")
    corpus = gen.chunk_corpus(seed, BR_DOCS)
    with rec.span("ml.with_embeddings"):
        base = embed.with_embeddings(
            spark.createDataFrame(corpus, "id long, text string"),
            "text").localCheckpoint()
    with rec.span("index.term_build"):
        ixs.save_term_index(*ii.build_term_index(base, "text", "id"), term_p)
    with rec.span("ann.build"):
        hnsw.save_hnsw_index(base, "embedding", "id", ann_p)
    res.setup_s = time.perf_counter() - t_start

    # vectors indexed so far, for the checker (read outside the timing)
    vecs = {r[0]: r[1] for r in base.select("id", "embedding").collect()}
    texts = list(corpus)
    n_buckets = ixs.cached_store_meta(
        f"{term_p}/meta", lambda: int(spark.read.parquet(f"{term_p}/meta")
                                      .collect()[0]["n_buckets"]))
    batches: list[dict] = []

    def serve() -> None:
        """One request: a batch of queries answered by BM25 over the
        stored term tables and by ANN over the stored HNSW shards."""
        b = len(batches)
        qs = gen.retrieval_queries(seed, BR_QUERIES, b * BR_QUERIES)
        # each query gets two answers (BM25 and ANN), each checked
        res.attempted += 2 * len(qs)
        t0 = time.perf_counter()
        with rec.request("batch", f"batch-{b}"):
            buckets = sorted({ixs.term_bucket_py(t, n_buckets)
                              for _, q in qs for t in check.terms(q)})
            with rec.span("index.bm25_batch"):
                postings = (spark.read.parquet(f"{term_p}/postings")
                            .filter(F.col("tb").isin(buckets))
                            .select("term", "id", "tf"))
                bm = ii.bm25_batch_topk_from_index(
                    postings, spark.read.parquet(f"{term_p}/doclens"),
                    spark.read.parquet(f"{term_p}/stats"),
                    {str(i): q for i, q in qs}, k=BR_K).collect()
            with rec.span("ann.search_batch"):
                qdf = embed.with_embeddings(
                    spark.createDataFrame(qs, "qid long, text string"),
                    "text").localCheckpoint()
                ann = hnsw.hnsw_topk_from_store_df(
                    spark, ann_p, qdf, "embedding", "qid", k=BR_K).collect()
        res.latencies.append(time.perf_counter() - t0)
        res.queries += len(qs)
        batches.append({
            "queries": qs, "n_docs": len(texts),
            "qvecs": {r[0]: r[1] for r in qdf.select("qid", "embedding")
                      .collect()},
            "bm": [(r["query_id"], r["id"], r["score"], r["rank"])
                   for r in bm],
            "ann": [(r["query_id"], r["id"], r["score"], r["rank"])
                    for r in ann]})

    def append() -> None:
        """A delta segment joins both stores between two requests."""
        delta = gen.chunk_corpus(seed, BR_DELTA, len(texts))
        res.attempted += 1
        t0 = time.perf_counter()
        with rec.request("append", f"append-{len(texts)}"):
            with rec.span("ml.with_embeddings"):
                d = embed.with_embeddings(
                    spark.createDataFrame(delta, "id long, text string"),
                    "text").localCheckpoint()
            with rec.span("index.term_append"):
                ixs.append_term_index(d, "text", "id", term_p)
            with rec.span("ann.append"):
                hnsw.append_hnsw_index(d, "embedding", "id", ann_p)
        res.loop_s += time.perf_counter() - t0
        vecs.update({r[0]: r[1] for r in d.select("id", "embedding")
                     .collect()})
        texts.extend(delta)

    # whole cycles (request, append, request) until `seconds` of request
    # and append time have passed; the second request must see the delta
    loop_start = time.perf_counter()
    try:
        while res.loop_s + sum(res.latencies) < seconds:
            serve()
            append()
            serve()
    except Exception as e:              # counted as failed; the run stops
        res.failures.append(f"batch retrieval raised {e!r}")
    res.loop_s += sum(res.latencies)
    res.phases["loop_s"] = time.perf_counter() - loop_start

    # ------------------------------------------------- independent check
    con = duckdb.connect()
    ids_all = np.array(sorted(vecs), dtype=np.int64)
    mat_all = np.array([vecs[i] for i in ids_all], dtype=np.float32
                       ).astype(np.float64)
    text_of = dict(texts)
    recalls = []
    for bi, bt in enumerate(batches):
        n = bt["n_docs"]
        check.load_corpus(con, [(i, text_of[i])
                                for i in ids_all[:n].tolist()])
        got_bm: dict[str, list] = {}
        for qid, i, sc, _ in sorted(bt["bm"], key=lambda r: (r[0], r[3])):
            got_bm.setdefault(qid, []).append((i, sc))
        got_ann: dict[int, list] = {}
        for qid, i, sc, rank in sorted(bt["ann"],
                                       key=lambda r: (r[0], r[3])):
            got_ann.setdefault(qid, []).append((i, sc, rank))
        for qid, q in bt["queries"]:
            exp = check.bm25_expected(con, q, BR_K)
            got = got_bm.get(str(qid), [])
            if got != exp:
                res.failures.append(f"batch {bi} bm25 {q!r}: {got} != {exp}")
            qv = np.array(bt["qvecs"][qid], dtype=np.float32
                          ).astype(np.float64)
            why, recall = check.check_ann(got_ann.get(qid, []), ids_all[:n],
                                          mat_all[:n], qv, BR_K)
            if why:
                res.failures.append(f"batch {bi} ann {q!r}: {why}")
            recalls.append(recall)
    # mutation self-test on the first query of the first batch: every
    # corrupted copy of a recorded result must fail its check
    self_test = False
    if batches:
        bt = batches[0]
        qid, q = bt["queries"][0]
        n = bt["n_docs"]
        check.load_corpus(con, [(i, text_of[i])
                                for i in ids_all[:n].tolist()])
        exp = check.bm25_expected(con, q, BR_K)
        ann_rows = sorted([(i, sc, rk) for qq, i, sc, rk in bt["ann"]
                           if qq == qid], key=lambda r: r[2])
        qv = np.array(bt["qvecs"][qid], dtype=np.float32).astype(np.float64)
        bm_bad = check.mutations(exp)
        ann_bad = [[(i, s, k + 1) for k, (i, s, _) in enumerate(m)]
                   for m in check.mutations(ann_rows)]
        self_test = bool(bm_bad) and bool(ann_bad) and all(
            m != exp for m in bm_bad) and all(
            check.check_ann(m, ids_all[:n], mat_all[:n], qv, BR_K)[0]
            for m in ann_bad)
    res.self_test_ok = bool(self_test)
    res.layer["ann.recall_at_10"] = (sum(recalls) / len(recalls)
                                     if recalls else 0.0)
    if rec.enabled:
        L = res.layer
        L["ml.with_embeddings_s"] = sum(   # the set-up corpus only
            e - s for n, s, e, _, req in rec.spans
            if n == "ml.with_embeddings" and req is None)
        L["index.term_build_s"] = rec.total("index.term_build")
        L["ann.build_s"] = rec.total("ann.build")
        L["index.term_append_s"] = rec.per_request("index.term_append",
                                                   "append")
        L["ann.append_s"] = rec.per_request("ann.append", "append")
        L["index.bm25_batch_s"] = rec.per_request("index.bm25_batch",
                                                  "batch")
        L["ann.search_batch_s"] = rec.per_request("ann.search_batch",
                                                  "batch")
        L["index.postings_files"] = store_listing(f"{term_p}/postings")[1]
        L["ann.shards"] = len([d for d in os.listdir(ann_p)
                               if d.startswith("part_id=")])
        L["session.jobs_per_request"] = rec.counter_mean("batch", "jobs")
        L["session.stages_per_request"] = rec.counter_mean("batch",
                                                           "stages")
        L["session.tasks_per_request"] = rec.counter_mean("batch", "tasks")
    return res


WORKLOADS = {"ask_mixed": ask_mixed, "batch_retrieve": batch_retrieve}
