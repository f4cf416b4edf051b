"""The search routes and the retrieval stores against their DuckDB
oracles: each `__spark_entry__.py` entry that runs an intent-routed
operator (or the ask dispatch itself), or that serves BM25 from the term
index or kNN from the HNSW store, is executed on Spark and compared with
its `oracle_sql()` twin through tools/check.py's canonical compare
(schema, row count, value multiset)."""

import importlib.util
import os

import pytest

import __spark_entry__ as entrymod

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = entrymod.SF0001

ROUTES = [
    "q1_keyword_phrase", "ask_two_tenants_pruned", "q2_semantic_knn",
    "q3_hybrid_search", "hybrid_rrf_fusion", "q4_structured_prefix",
    "q5_hybrid_structured", "q6_terms_agg", "q7_comparison", "q8_temporal",
    "q9_explanatory", "q10_multi_intent", "q11_entity_specific",
    "q12_collapse_best_per_key", "q13_name_resolution", "q13_fuzzy_trigram",
    "q14_has_data", "rerank_lexical",
    # term index and HNSW store: build, append, compact, serve
    "bm25_batch_ranked", "bm25_index_ranked", "bm25_known_item_eval",
    "bm25_ndcg_mrr_eval", "bm25_store_ranked", "bm25_store_append_ranked",
    "bm25_store_compacted_ranked", "sim_hnsw_recall",
    "sim_hnsw_store_recall", "sim_hnsw_store_append_recall",
    "sim_hnsw_compacted_recall",
]


@pytest.fixture(scope="module")
def check():
    if not os.path.isdir(SF_DIR):
        pytest.skip(f"{SF_DIR} not present")
    spec = importlib.util.spec_from_file_location(
        "tools_check", os.path.join(REPO, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def duck(check):
    con = check.connect(SF_DIR)
    yield con
    con.close()


@pytest.fixture(scope="module")
def entries():
    return entrymod.queries(), entrymod.oracle_sql()


@pytest.mark.parametrize("name", ROUTES)
def test_route_matches_oracle(spark, check, duck, entries, name):
    queries, oracles = entries
    sdf = queries[name](spark, SF_DIR).toPandas()
    problems = check.compare(sdf, duck.sql(oracles[name]).fetchdf())
    assert not problems, problems
