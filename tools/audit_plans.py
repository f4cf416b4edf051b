"""Physical-plan audit across the whole driver contract: build every
`queries()` DataFrame at the given SF and scan its executed plan for
antipatterns that would hurt at 100 TB. Complements tests/test_plans.py
(which asserts specific shapes) by covering every query by default.

Run:  python tools/audit_plans.py [sf_dir]    (default /root/testdata/sf0.001)

Flags per query:
- CARTESIAN: CartesianProduct in the plan (never acceptable — broadcast
  cross joins show as BroadcastNestedLoopJoin and are whitelisted where
  the small side is genuinely bounded).
- PYTHON: ArrowEvalPython / BatchEvalPython / FlatMapsInPandas outside the
  whitelist of deliberately-Arrow operators.
- SORT_ALL: a global Sort with no limit anywhere (full-data sort).
- WINDOW_GLOBAL: a Window with an EMPTY partition spec (single-partition
  execution of the whole input). This is the auditable replacement for
  WindowExec's per-run WARN, which session.py silences: the two
  whitelisted sites run over provably bounded frames (<=256-row shard
  offsets, <=20-row rank frames); anything new fails the audit.
Exit code 1 if any non-whitelisted flag fires.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Arrow/pandas is the *point* of these operators:
PYTHON_OK = {
    "text_fingerprint", "dedup_simhash", "dedup_embedding_cosine",
    "dedup_embedding_cosine_cells",
    # per-block gram-matrix prune (same numpy pass as the pairs entry):
    "dedup_semantic_prune",
    "s7_embed_hash_ngram",
    # Arrow-batched shingle/minhash index passes (vectorized twins of the
    # interpreted expression forms — deliberate, see llmops/dedup.py);
    # dedup_incremental signatures both sides with the same pass:
    "dedup_minhash_lsh", "dedup_ngram_jaccard_exact_unbounded",
    "dedup_incremental", "dedup_ngram_jaccard_capped",
    # per-partition graph build is the point (recall variant walks the
    # graphs for real, plus the exact brute-force comparison arm; the
    # store variant serves persisted graphs through the cogroup pass):
    "sim_hnsw_topk", "sim_hnsw_recall", "sim_hnsw_store_recall",
    "sim_hnsw_store_append_recall",
    # Arrow-batched integer-stats / gram-hash passes (expression twins
    # parity-tested):
    "text_repetition", "decontam_ngram_overlap", "text_quality",
    # rollup view over the same Arrow gram-hash pass as decontam above:
    "decontam_report",
    # same Arrow minhash pass as dedup_minhash_lsh + CC resolution:
    "decontam_neardup_leakage",
    "text_langid", "text_lm_score",
    # NFC normalization has no Spark built-in — Arrow-vectorized
    # pandas_udf, oracle twin is DuckDB's utf8proc nfc_normalize:
    "text_unicode_clean",
    # compose the lm-score pipeline (same deliberate pass as
    # text_lm_score above):
    "split_token_budget", "split_mixture_token_budget",
    # same Arrow _doc_bigrams pass as text_lm_score (KN smoothing, the
    # DoReMi reweight step, and the folded-store KN entry all score
    # through it):
    "text_kn_lm_score", "split_domain_reweight",
    # winnowing fingerprint sweep (monotone-deque sliding min over md5
    # digests — Arrow twin of winnow_expr, parity-tested); the pairs
    # entry is the inverted-index join over the same sweep:
    "text_winnow_fingerprints", "dedup_substring_pairs",
    # Misra-Gries summaries ARE the per-partition Arrow pass (fixed k
    # counters per partition — the point of the sketch):
    "text_heavy_hitters_mg",
    # the 12 restored fold/compaction twins (round 8) serve through the
    # SAME deliberate Arrow passes as their whitelisted batch twins:
    # text_kn_fold scores via _doc_bigrams like text_kn_lm_score;
    # decontam_from_store probes via the gram-hash pass like
    # decontam_kmv_containment; the compacted HNSW recall walks
    # per-partition graphs like sim_hnsw_store_recall:
    "text_kn_fold", "decontam_from_store", "sim_hnsw_compacted_recall",
}
# bounded driver-side collect feeding a literal/broadcast is fine:
SORT_OK = {
    # ORDER BY in the *result* of a small aggregate (rows ~ groups, driver
    # display order) — not a full-data sort
    "q6_terms_agg", "events_rollup_multigrain", "events_distinct_daily",
    "events_pivot_daily", "events_cube_dow_type", "events_moving_avg_7d",
    "events_volume_anomaly",
    "lineitem_quantity_percentiles", "split_hash_assign",
    "split_stratified_take", "split_hash_sample", "split_mixture_resample",
    "pack_sequences", "tpch_q1_pricing", "tpch_q4_late_orders",
    # bin windows: one <=`bins`-row (per-stratum) window + per-bin sorts
    # bounded by bin width — the deliberate two-phase cumsum shape:
    "split_token_budget", "split_mixture_token_budget",
    # histogram cumsum window over per-group DISTINCT scores + an id
    # window over only the threshold-score boundary rows — both
    # group-partitioned, never a corpus-wide order-by:
    "split_drop_bottom_quantile",
    # same histogram cumsum, served from the persisted counter store:
    "split_quantile_threshold_fold",
    # 256-shard range buckets: per-shard partition-local rank sorts + one
    # <=256-row offset cumsum — the global-order-without-global-sort shape:
    "split_epoch_shuffle",
    # same shape keyed one level up: (difficulty, shard) partition-local
    # ranks + one <= levels x 256-row offset cumsum:
    "split_curriculum_order",
    # sort-merge-join sorts on the w join key (corpus words x segmented
    # vocab — both corpus-scale, broadcast is wrong at 100 TB):
    "tokenizer_bpe_token_counts", "tokenizer_fertility_by_lang",
    # SMJ per-partition sorts on the normalized-line join key (line stats
    # x exploded lines — both corpus-scale at 100 TB, broadcast is wrong):
    "text_line_dedup",
    # SMJ sorts per PageRank round (edges x |V|-row rank/degree frames —
    # every side is graph-scale at 100 TB, broadcast is wrong):
    "basket_part_pagerank",
    # same class: SMJ sorts on the oriented-edge wedge/closing joins
    # (edges x edges — both graph-scale), not a result sort:
    "basket_part_triangles",
    "basket_part_triangles_frac",
    # SMJ sorts of the (partitions x steps)-row daily-rollup self-join +
    # the partition-local row_number sort; never a corpus-scale sort:
    "events_ewma_daily",
    # same shape one level up (normalized SPAN stats join) + the
    # sort-based min(struct) aggregate's partition-local sorts:
    "text_span_dedup",
    # per-(shard, bucket) partition-local window sort — the
    # pack_sequences sharded shape, never a global order-by:
    "split_length_buckets",
    # FlatMapGroupsInPandas's partition-local sort on the block key (the
    # grouped-map contract), not a global order-by:
    "dedup_semantic_prune",
    # per-group window over the (group x <=10-bin) PRE-AGGREGATE — the
    # windowed frame is <= groups*bins rows at any corpus size (the
    # fold variant serves the same window from the counter store):
    "drift_psi_events",
    # per-doc row_number window sort (partition key = doc id, frame =
    # that doc's token set) + SMJ sorts on the prefix-token and pair-id
    # join keys — all partition-local, never a corpus-wide order-by:
    "dedup_prefix_jaccard",
    "skew_salted_agg", "events_sessionize", "events_tumbling_counts",
    "m_synth_intent_corpus", "s1_fhir_parse", "s3_markdown_strip",
    "dedup_cc_clusters", "decontam_neardup_leakage", "events_asof_join",
    # the restored fold twin reads the persisted forest and displays it
    # through the SAME bounded orderBy(root, node) as dedup_cc_clusters
    # above (contract display order over cluster-scale rows):
    "dedup_cluster_store_merge",
    # SMJ per-partition sorts on the root re-join of the two-pass hash
    # argmax (member rows x cluster rows — both dedup-graph-scale at
    # 100 TB, broadcast is wrong) + the CC lineage's own SMJ sorts;
    # never a global order-by:
    "dedup_keeper_policy",
    "events_asof_forward_tol",
    "orders_running_total",
    # bounded few-group aggregates with display order:
    "tpch_q5_region_revenue", "j1_semi_join_resolved",
    "sketch_daily_rollup",
    # few-group aggregates (nation/year/cntrycode/c_count grains):
    "tpch_q7_nation_volume", "tpch_q8_market_share",
    "tpch_q9_product_profit", "tpch_q13_order_distribution",
    "tpch_q15_top_supplier", "tpch_q22_inactive_customers",
    # bounded-aggregate display sorts: HAVING survivors / 3-flag mix /
    # (brand,type,size) grains / <=|supplier| rows:
    "tpch_q11_important_parts", "tpch_q12_priority_mix",
    "tpch_q16_supplier_counts", "tpch_q20_heavy_shippers",
    # window COUNT over the shingle key (posting-length cap): the Sort is
    # partition-local on the window key, not a global order-by:
    "dedup_ngram_jaccard_capped",
    # SortMergeJoin's per-partition sorts on the cluster-map join (the map
    # comes from driver union-find -> createDataFrame, so no stats for a
    # broadcast decision); not a global result sort:
    "split_leakage_safe",
    # global ntile over the per-customer aggregate: the sorted frame is
    # customer-count rows (already reduced), not the orders fact table:
    "customer_rfm_segments",
}
# unpartitioned windows over provably BOUNDED frames (constant partition
# keys get folded away by Catalyst, so these are structural):
WINDOW_OK = {
    # <=256-row shard-offset cumsum (the two-phase global-rank shape):
    "split_epoch_shuffle",
    # <= levels x 256-row offset cumsum (curriculum two-phase shape):
    "split_curriculum_order",
    # <=`bins`-row bin-offset cumsums (token-budget two-phase shape):
    "split_token_budget", "split_mixture_token_budget",
    # 20-row rank frames over the two already-top-k routes:
    "hybrid_rrf_fusion",
    # global ntile over the <=|customers|-row aggregate (also SORT_OK):
    "customer_rfm_segments",
    # <=|shards| and <=|bins| offset frames (pack/bucket accounting):
    "pack_sequences", "split_length_buckets",
    # order-only frames over the DAILY pre-aggregate (<= #calendar-days
    # rows at any corpus size — the aggregate is the reduction):
    "events_moving_avg_7d", "events_volume_anomaly",
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    import __spark_entry__ as entry
    from rassengine_spark.session import get_spark

    spark = get_spark("plan-audit")
    failures = []
    for name, fn in entry.queries().items():
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"build error: {e}"))
            continue
        flags = []
        if "CartesianProduct" in plan:
            flags.append("CARTESIAN")
        if (any(k in plan for k in
                ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                 "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas"))
                and name not in PYTHON_OK):
            flags.append("PYTHON")
        # SortExec prints "Sort [keys], <global>, 0" — only global=true
        # is a full-data range sort; global=false is a partition-local
        # sort (SortMergeJoin / SortAggregate / window), which is the
        # CORRECT shape at scale and must not flag. Matched per LINE and
        # anchored to the trailing ", true, <n>" so a sort key that
        # itself contains brackets (e.g. "v#5[0] ASC") cannot end the
        # key-group match early and hide a global sort (ADVICE r07).
        if (any(re.search(r"Sort \[.*\], true, \d+\s*$", ln)
                for ln in plan.splitlines())
                and "TakeOrdered" not in plan
                and "Limit" not in plan and name not in SORT_OK):
            flags.append("SORT_ALL")
        # "Window [fns], [part], [order]" prints 3 bracket groups; with 2
        # the second is EITHER a partition spec (partition-only window,
        # fine) or an order spec (unpartitioned window — single-partition
        # execution); order specs are the ones carrying ASC/DESC
        def _window_unpartitioned(line: str) -> bool:
            groups = line.split("], [")
            return (len(groups) == 2
                    and (" ASC" in groups[1] or " DESC" in groups[1]))
        if (any(_window_unpartitioned(w) for w in plan.splitlines()
                if w.lstrip("+- :*").startswith("Window "))
                and name not in WINDOW_OK):
            flags.append("WINDOW_GLOBAL")
        n_ex = plan.count("Exchange hashpartitioning")
        status = ",".join(flags) if flags else "ok"
        print(f"{status:10s} exchanges={n_ex:2d}  {name}")
        if flags:
            failures.append((name, status))
    if failures:
        print(f"\n{len(failures)} flagged: {[f[0] for f in failures]}")
        return 1
    print("\nall plans clean")
    return 0


if __name__ == "__main__":
    sys.exit(main())
