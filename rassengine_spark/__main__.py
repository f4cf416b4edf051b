"""Command-line entry point: the engine's job surface as a CLI, so a user
of the reference's REST endpoints has a direct equivalent for each flow.

    python -m rassengine_spark ingest --src DIR --warehouse DIR [--user U]
        the /upload_data flow (SURVEY §3.3): parse FHIR bundles / NDJSON /
        text / markdown, chunk, embed (deterministic default embedder),
        upsert into user U's partition of the warehouse parquet tables.
        Prints the upload's own row counts per table (this upload's rows,
        not the warehouse's).

    python -m rassengine_spark ask "QUESTION" --warehouse DIR [--user U]
            [--top-k K]
        the /ask flow (SURVEY §3.1) over user U's rows (the same default
        as ingest's): NER filter -> intent route ->
        dispatched search -> context assembly -> (template) answer. Prints
        intent, hits, and the answer. `--rerank` enables the second-stage
        term-overlap rerank.

    python -m rassengine_spark index --src PARQUET --out DIR --tiers LIST
        build + persist serving index tiers from a corpus parquet:
        `terms` (bucketed BM25 postings), `minhash` (dedup signature
        store), `bpe` (tokenizer merges + vocab), and `hnsw` (the
        sharded-HNSW vector store over --vec-col).

    python -m rassengine_spark table --path DIR ACTION
        dataset maintenance: --publish [NAME] / --list / --drop NAME
        snapshots, --compact MB small-file compaction, --prune retention.

Models stay pluggable: the CLI wires the deterministic defaults; swap in
ml/plugins.py constructors programmatically for real models.
"""

from __future__ import annotations

import argparse
import json
import sys


def _cmd_ingest(args) -> int:
    from .pipeline.ingest import run_ingest
    from .session import get_spark

    spark = get_spark("cli-ingest")
    counts = run_ingest(spark, args.src, args.user, args.warehouse,
                        chunk_size=args.chunk_size, dim=args.dim)
    print(json.dumps({"warehouse": args.warehouse, **counts}))
    return 0


def _cmd_ask(args) -> int:
    import os

    from .pipeline.ask import AskPipeline
    from .session import get_spark

    spark = get_spark("cli-ask")
    docs = spark.read.parquet(os.path.join(args.warehouse, "documents"))
    chunks = spark.read.parquet(os.path.join(args.warehouse, "chunks"))
    pipe = AskPipeline(docs, chunks, dim=args.dim, rerank=args.rerank)
    res = pipe.ask(args.question, args.user, top_k=args.top_k)
    print(f"intent: {res.intent}")
    if res.hits is not None:
        for r in res.hits.select("doc_id").collect():
            print(f"hit: {r['doc_id']}")
    print(f"answer: {res.answer}")
    return 0


def _cmd_index(args) -> int:
    import os

    from .session import get_spark

    spark = get_spark("cli-index")
    docs = spark.read.parquet(args.src)
    tiers = [t.strip() for t in args.tiers.split(",") if t.strip()]
    known = {"terms", "minhash", "bpe", "hnsw"}
    unknown = sorted(set(tiers) - known)
    if unknown:
        print(f"unknown tier(s) {unknown}; valid: {sorted(known)}",
              file=sys.stderr)
        return 2
    built = {}
    if "terms" in tiers:
        from .operators.index_store import save_term_index
        from .operators.inverted_index import build_term_index
        save_term_index(*build_term_index(docs, args.text_col,
                                          args.id_col),
                        os.path.join(args.out, "terms"),
                        n_buckets=args.term_buckets)
        built["terms"] = os.path.join(args.out, "terms")
    if "minhash" in tiers:
        from .llmops.dedup import save_minhash_store
        save_minhash_store(docs, args.text_col, args.id_col,
                           os.path.join(args.out, "minhash"))
        built["minhash"] = os.path.join(args.out, "minhash")
    if "bpe" in tiers:
        from .llmops.tokenizer import save_bpe
        save_bpe(spark, docs, args.text_col,
                 os.path.join(args.out, "bpe"), n_merges=args.bpe_merges)
        built["bpe"] = os.path.join(args.out, "bpe")
    if "hnsw" in tiers:
        from .llmops.hnsw import save_hnsw_index
        save_hnsw_index(docs, args.vec_col, args.id_col,
                        os.path.join(args.out, "hnsw"))
        built["hnsw"] = os.path.join(args.out, "hnsw")
    print(json.dumps({"built": built}))
    return 0


def _cmd_table(args) -> int:
    from .pipeline import maintenance as M

    def spark():
        # lazy: --list/--drop/--prune are metadata ops that should not
        # pay multi-second session startup
        from .session import get_spark
        return get_spark("cli-table")

    if args.compact is not None and args.compact < 1:
        print("--compact target must be >= 1 MB", file=sys.stderr)
        return 2
    out: dict = {"path": args.path}
    if args.publish is not None:
        out["published"] = M.publish_snapshot(
            spark(), args.path, args.publish or None)
    if args.list:
        out["snapshots"] = M.list_snapshots(args.path)
    if args.drop:
        M.drop_snapshot(args.path, args.drop)
        out["dropped"] = args.drop
    if args.compact is not None:
        out["files_after_compact"] = M.compact_parquet(
            spark(), args.path, target_file_mb=args.compact)
    if args.compact_store:
        kind = args.compact_store
        if kind == "term":
            from .operators.index_store import compact_term_index
            compact_term_index(spark(), args.path)
        elif kind == "hnsw":
            # NOT layout-only: HNSW compaction rebuilds one fresh
            # generation of shard graphs — m/ef must match the
            # original build or served recall silently shifts
            from .llmops.hnsw import compact_hnsw_store
            compact_hnsw_store(spark(), args.path, m=args.hnsw_m,
                               ef_construction=args.hnsw_ef)
        elif kind == "vocab":
            from .llmops.decontam import compact_gram_vocab
            compact_gram_vocab(spark(), args.path)
        elif kind == "kmv":
            from .llmops.overlap import compact_kmv_store
            compact_kmv_store(spark(), args.path)
        elif kind == "lm":
            from .llmops.lm_score import compact_lm_store
            compact_lm_store(spark(), args.path)
        else:              # boilerplate / scorehist / dq: LSM counter
            from .llmops.counter_store import compact_counters
            compact_counters(spark(), args.path)
        out["compacted_store"] = kind
    if args.prune:
        out["pruned_files"] = M.prune_versions(args.path)
    print(json.dumps(out))
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="rassengine_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    pi = sub.add_parser(
        "ingest", help="parse + chunk + embed + upsert into the user's "
        "partition; prints this upload's own row counts")
    pi.add_argument("--src", required=True)
    pi.add_argument("--warehouse", required=True)
    pi.add_argument("--user", default="default")
    pi.add_argument("--chunk-size", type=int, default=512)
    pi.add_argument("--dim", type=int, default=64)
    pi.set_defaults(fn=_cmd_ingest)

    pa = sub.add_parser("ask", help="intent-routed search + answer")
    pa.add_argument("question")
    pa.add_argument("--warehouse", required=True)
    pa.add_argument("--user", default="default")
    pa.add_argument("--top-k", type=int, default=3)
    pa.add_argument("--dim", type=int, default=64)
    pa.add_argument("--rerank", action="store_true")
    pa.set_defaults(fn=_cmd_ask)

    px = sub.add_parser("index", help="build + persist serving index tiers")
    px.add_argument("--src", required=True)
    px.add_argument("--out", required=True)
    px.add_argument("--tiers", default="terms,minhash,bpe")
    px.add_argument("--text-col", default="text")
    px.add_argument("--id-col", default="doc_id")
    px.add_argument("--vec-col", default="embedding")
    px.add_argument("--term-buckets", type=int, default=None,
                    help="term-store bucket count (default: derived from "
                         "the corpus size)")
    px.add_argument("--bpe-merges", type=int, default=64)
    px.set_defaults(fn=_cmd_index)

    pt = sub.add_parser("table", help="snapshots / compaction / retention")
    pt.add_argument("--path", required=True)
    pt.add_argument("--publish", nargs="?", const="", default=None,
                    metavar="NAME")
    pt.add_argument("--list", action="store_true")
    pt.add_argument("--drop", metavar="NAME")
    pt.add_argument("--compact", type=int, metavar="TARGET_MB")
    pt.add_argument("--compact-store",
                    choices=["term", "hnsw", "vocab",
                             "boilerplate", "scorehist", "dq",
                             "kmv", "lm"],
                    help="fold a persisted index/counter store's append "
                         "slivers back into its save-time layout "
                         "(layout-only for term/vocab/boilerplate; "
                         "hnsw REBUILDS its shard graphs — pass "
                         "--hnsw-m/--hnsw-ef matching the original "
                         "build; single writer)")
    pt.add_argument("--hnsw-m", type=int, default=8,
                    help="graph degree for --compact-store hnsw "
                         "(match the original build)")
    pt.add_argument("--hnsw-ef", type=int, default=64,
                    help="ef_construction for --compact-store hnsw "
                         "(match the original build)")
    pt.add_argument("--prune", action="store_true")
    pt.set_defaults(fn=_cmd_table)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
