"""Concurrent query execution: the reference serves parallel /ask
requests (async + semaphores, app/main.py:70-71); the Spark analog is
concurrent job submission on one session. Results under concurrency must
equal sequential results exactly."""

from concurrent.futures import ThreadPoolExecutor

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"

QUERIES = ["q1_keyword_phrase", "q2_semantic_knn", "q6_terms_agg",
           "bm25_index_ranked", "events_funnel", "text_langid"]


def _rows(df):
    return sorted(
        tuple("" if v is None else str(v) for v in r) for r in df.collect())


def test_concurrent_queries_match_sequential(spark):
    qs = entry.queries()
    sequential = {n: _rows(qs[n](spark, SF)) for n in QUERIES}

    def run(name):
        return name, _rows(qs[name](spark, SF))

    with ThreadPoolExecutor(max_workers=len(QUERIES)) as pool:
        concurrent = dict(pool.map(run, QUERIES))

    for n in QUERIES:
        assert concurrent[n] == sequential[n], n
