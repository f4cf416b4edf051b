"""Scale probe: run contract entries at N x the fact-table volume and
report how their wall time actually scales — the check the per-round
sf0.1 bench cannot make (nonlinear blowups like pair self-joins, per-block
gram matrices, or BPE rewrite rounds only show up when rows grow).

Fact tables scale by unioning N key-shifted copies; DIMENSION tables stay
fixed (a 100 TB corpus has 1000x the facts, not 1000x the nations):

- orders / lineitem: o_orderkey / l_orderkey shifted per copy (new orders
  over the SAME parts/suppliers/customers — per-part density grows xN,
  exactly the skew a bigger corpus brings).
- events: event_id shifted, user domain KEPT (per-user groups grow xN —
  the harder test for sessionize/window entries).
- documents: doc_id shifted; copies >0 get a per-copy text suffix, so the
  corpus gains NEAR-duplicates (what a bigger crawl actually adds) rather
  than collapsing under exact dedup.
- embeddings: vec_id shifted, vectors kept (duplicate vectors are legal
  ANN corpus content).
- region/nation/customer/supplier/part: single copy.

Usage:
  python tools/scale_probe.py [--factor N] [--src SF_DIR] [--top K]
                              [--entries name1,name2,...]

Runs each chosen entry once at 1x (warm session) and once at Nx, prints
per-entry (t1, tN, ratio, ratio/N) and flags entries whose growth exceeds
``--flag-ratio`` (default 1.8) x linear. Results land in SCALE_PROBE.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

# key DOMAINS shift together: lineitem.l_orderkey must land on the same
# shifted value as orders.o_orderkey or copy i's facts stop joining
DOMAIN_OF = {"o_orderkey": "orderkey", "l_orderkey": "orderkey",
             "event_id": "event", "doc_id": "doc", "vec_id": "vec"}
DOMAIN_BASE_COL = {"orderkey": ("orders", "o_orderkey"),
                   "event": ("events", "event_id"),
                   "doc": ("documents", "doc_id"),
                   "vec": ("embeddings", "vec_id")}
FACT_SHIFT = {
    # table -> (shifted key columns, text-suffix column)
    "orders": (["o_orderkey"], None),
    "lineitem": (["l_orderkey"], None),
    "events": (["event_id"], None),
    "documents": (["doc_id"], "text"),
    "embeddings": (["vec_id"], None),
}
DIMS = ["region", "nation", "customer", "supplier", "part"]

# Result-stability invariants (VERDICT r4 #4): wall-time ratios catch
# slow-at-scale; these catch WRONG-at-scale. Evaluated on a per-run
# summary (row count + boolean-guarantee violations) so the probe never
# retains a scaled result set.
#
# Entries whose row count must NOT scale with the factor: pinned query
# sets (md5-sampled or literal), fixed grouping cardinality, fixed top-N.
FIXED_ROWS = {
    "bm25_known_item_eval",        # md5-pinned 50-query sample
    "bm25_ndcg_mrr_eval",          # same pinned sample
    "rag_chunk_known_item_eval",   # same pinned sample, chunk corpus
    "tokenizer_fertility_by_lang",  # one row per language
    "sim_hnsw_recall",             # fixed query set
    "sim_bruteforce_topk",         # |Q| x k, both fixed
    "tpch_q1_pricing",             # grouping cardinality <= 6
    "events_mg_rollup_bounds",     # top-5 per event type
    "text_heavy_hitters_mg",       # top-10
}
# Entries with a LIMIT N contract: row count <= cap at every factor.
TOPK_CAP = {
    "basket_part_lift": 20,
    "basket_part_lift_frac": 20,
    "dedup_embedding_cosine": 20,
    "dedup_embedding_cosine_cells": 20,
}


def summarize_rows(rows) -> dict:
    """Bounded per-run summary: row count + violations of boolean
    guarantee columns (recall floors, sketch bounds, eval accuracy all
    surface as *_ok booleans in this contract)."""
    ok_false = 0
    for r in rows:
        d = r.asDict()
        for k, v in d.items():
            if (k == "ok" or k.endswith("_ok")) and v is False:
                ok_false += 1
    return {"n_rows": len(rows), "ok_false": ok_false}


def invariant_fails(name: str, s1: dict, sN: dict, factor: int) -> list:
    fails = []
    for tag, s in (("1x", s1), (f"{factor}x", sN)):
        if s["ok_false"]:
            fails.append(f"{tag}: {s['ok_false']} *_ok rows are False")
    if name in FIXED_ROWS and s1["n_rows"] != sN["n_rows"]:
        fails.append(f"fixed-cardinality entry scaled: "
                     f"{s1['n_rows']} -> {sN['n_rows']} rows")
    cap = TOPK_CAP.get(name)
    if cap is not None:
        for tag, s in (("1x", s1), (f"{factor}x", sN)):
            if s["n_rows"] > cap:
                fails.append(f"{tag}: {s['n_rows']} rows > top-{cap} cap")
    return fails


# default probe set: the entries whose cost class could go nonlinear
# Documented opt-in escape hatches that are SUPERLINEAR BY DESIGN: their
# measurements are kept in results for honesty but they never enter
# flagged_superlinear (they land in expected_superlinear instead). The
# only member is the exact-unbounded Jaccard twin, which exists AS the
# oracle/small-corpus baseline — its capped sibling (max_postings=20,
# the API default since round 5) is the probed scale form; the docstring
# on ngram_jaccard_pairs carries the same warning.
EXPECTED_SUPERLINEAR = {
    "dedup_ngram_jaccard_exact_unbounded",
}

DEFAULT_ENTRIES = [
    "basket_part_pagerank", "basket_part_lift",
    "basket_part_lift_frac", "basket_part_triangles",
    "basket_part_triangles_frac",
    # dedup_ngram_jaccard_exact_unbounded is EXEMPT by design: it is the
    # explicitly-named exact twin whose docstring warns it is superlinear;
    # its scale form IS dedup_ngram_jaccard_capped, which is probed.
    "dedup_minhash_lsh", "dedup_ngram_jaccard_capped",
    "dedup_cc_clusters",
    "dedup_incremental", "dedup_substring_pairs", "dedup_embedding_cosine",
    "dedup_embedding_cosine_cells", "split_dsir_weights",
    "sim_bruteforce_topk", "sim_hnsw_recall",
    "tokenizer_bpe_merges", "tokenizer_bpe_token_counts",
    "text_winnow_fingerprints", "text_line_dedup", "text_span_dedup",
    "bm25_known_item_eval",
    "split_token_budget", "split_epoch_shuffle", "events_sessionize",
    "tpch_q1_pricing", "tpch_q21_waiting_orders", "s7_embed_hash_ngram",
    "events_mg_rollup_bounds", "text_heavy_hitters_mg",
    # round-5 additions
    "orders_scd2_priority", "split_curriculum_order", "q13_fuzzy_trigram",
    "events_ewma_daily", "tokenizer_compression_eval",
    "skew_salted_join",
    # round-8 composed entry
    "ask_two_tenants_pruned",
]


def build_scaled(spark, src: str, dst: str, factor: int) -> None:
    from rassengine_spark.session import load_tables

    os.makedirs(dst, exist_ok=True)
    tables = load_tables(spark, src)
    for name in DIMS:
        tables[name].write.mode("overwrite").parquet(
            os.path.join(dst, f"{name}.parquet"))
    bases = {
        dom: int(tables[t].agg(F.max(c)).collect()[0][0]) + 1
        for dom, (t, c) in DOMAIN_BASE_COL.items()}
    for name, (shift_cols, text_col) in FACT_SHIFT.items():
        df = tables[name]
        copies = []
        for i in range(factor):
            c = df
            for col in shift_cols:
                c = c.withColumn(
                    col, F.col(col) + F.lit(i * bases[DOMAIN_OF[col]]))
            if text_col is not None and i > 0:
                c = c.withColumn(
                    text_col,
                    F.concat(F.coalesce(F.col(text_col), F.lit("")),
                             F.lit(f" (copy {i})")))
            copies.append(c)
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        (out.repartition(32)
            .write.mode("overwrite")
            .parquet(os.path.join(dst, f"{name}.parquet")))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--entries", default=None)
    ap.add_argument("--top", type=int, default=None,
                    help="probe only the first K default entries")
    ap.add_argument("--flag-ratio", type=float, default=1.8)
    ap.add_argument("--keep", action="store_true",
                    help="keep the scaled dataset dir")
    args = ap.parse_args()

    import __spark_entry__ as entry
    from rassengine_spark.session import get_spark, load_tables

    spark = get_spark("scale-probe")
    names = (args.entries.split(",") if args.entries
             else DEFAULT_ENTRIES[: args.top])
    qs = entry.queries()
    if not args.entries:
        # a default entry absent from the contract must not abort the
        # whole run; explicit --entries still fails loudly below
        absent = [n for n in names if n not in qs]
        if absent:
            print(f"skipping non-contract default entries: {absent}",
                  file=sys.stderr)
            names = [n for n in names if n not in absent]
    missing = [n for n in names if n not in qs]
    if missing:
        print(f"unknown entries: {missing}", file=sys.stderr)
        return 2

    dst = os.path.join(tempfile.gettempdir(),
                       f"rass_scale_{args.factor}x_{os.getpid()}")
    print(f"building {args.factor}x dataset at {dst} ...", file=sys.stderr)
    t0 = time.perf_counter()
    build_scaled(spark, args.src, dst, args.factor)
    print(f"built in {time.perf_counter() - t0:.1f}s", file=sys.stderr)

    # warm both directions (parquet footers + Python workers)
    for d in (args.src, dst):
        for df in load_tables(spark, d).values():
            df.limit(1).count()
    spark.range(0, 64, 1, 32).toDF("id").mapInPandas(
        lambda it: it, "id long").count()

    # index-lifecycle entries expose a prepare() seam: build the store
    # UNTIMED first, so t1/tN measure the SERVE phase — the recurring
    # per-query cost whose scaling actually matters (the one-time build
    # is bench.py's build_s). Entries without a seam are timed whole.
    phases = getattr(entry, "bench_phases", dict)()

    results = {}
    for name in names:
        row = {}
        sums = {}
        prepare = phases.get(name)
        for tag, d in (("t1", args.src), ("tN", dst)):
            if prepare is not None:
                try:
                    prepare(spark, d)
                    row["serve_only"] = True
                except Exception as e:  # noqa: BLE001
                    # a failed prepare must NOT fall through to the timed
                    # call: _prepared_store would rebuild inside it, so
                    # one tag would time build+serve while the other
                    # timed serve alone — a corrupt ratio that can mask
                    # (or fabricate) a serve regression
                    row["serve_only"] = False
                    row["err"] = f"prepare {tag}: {e}"
                    break
            t0 = time.perf_counter()
            try:
                rows = qs[name](spark, d).collect()
                row[tag] = round(time.perf_counter() - t0, 2)
                # summarize immediately and drop: never retain a scaled
                # result set on the driver
                sums[tag] = summarize_rows(rows)
                del rows
            except Exception as e:  # noqa: BLE001
                row[tag] = None
                row["err"] = f"{tag}: {e}"
                break
        if row.get("t1") and row.get("tN"):
            row["ratio"] = round(row["tN"] / row["t1"], 2)
            row["vs_linear"] = round(row["ratio"] / args.factor, 2)
            fails = invariant_fails(name, sums["t1"], sums["tN"],
                                    args.factor)
            row["rows_1x"] = sums["t1"]["n_rows"]
            row["rows_Nx"] = sums["tN"]["n_rows"]
            row["invariants_ok"] = not fails
            if fails:
                row["invariant_fails"] = fails
        results[name] = row
        print(f"{name:32s} t1={row.get('t1')}s tN={row.get('tN')}s "
              f"ratio={row.get('ratio')} vs_linear={row.get('vs_linear')}"
              f" inv={'OK' if row.get('invariants_ok', True) else 'FAIL'}"
              + (f" ERR {row.get('err')}" if row.get("err") else ""),
              file=sys.stderr)

    out_path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "SCALE_PROBE.json")
    # MERGE into the committed artifact: a focused re-probe of two
    # entries must not clobber the full sweep's rows (latest result per
    # entry wins; factor/src recorded per entry for honesty)
    merged = {}
    try:
        with open(out_path) as f:
            merged = json.load(f).get("results", {})
    except (OSError, ValueError):
        pass
    for n, r in results.items():
        merged[n] = {**r, "factor": args.factor, "src": args.src}
    flagged = [n for n, r in merged.items()
               if r.get("vs_linear") and r["vs_linear"] > args.flag_ratio
               and n not in EXPECTED_SUPERLINEAR]
    expected_hot = [n for n, r in merged.items()
                    if r.get("vs_linear")
                    and r["vs_linear"] > args.flag_ratio
                    and n in EXPECTED_SUPERLINEAR]
    inv_failed = [n for n, r in merged.items()
                  if r.get("invariants_ok") is False]
    out = {"factor": args.factor, "src": args.src, "results": merged,
           "flagged_superlinear": flagged,
           "expected_superlinear": expected_hot,
           "invariant_failures": inv_failed}
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({"flagged_superlinear": flagged,
                      "invariant_failures": inv_failed,
                      "n_probed": len(results)}))
    if not args.keep:
        shutil.rmtree(dst, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
