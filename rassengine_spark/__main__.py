"""Command-line entry point: the engine's job surface as a CLI, so a user
of the reference's REST endpoints has a direct equivalent for each flow.

    python -m rassengine_spark ingest --src DIR --warehouse DIR [--user U]
        the /upload_data flow (SURVEY §3.3): parse FHIR bundles / NDJSON /
        text / markdown, chunk, embed (deterministic default embedder),
        upsert into warehouse parquet tables.

    python -m rassengine_spark ask "QUESTION" --warehouse DIR [--top-k K]
        the /ask flow (SURVEY §3.1): NER filter -> intent route ->
        dispatched search -> context assembly -> (template) answer. Prints
        intent, hits, and the answer. `--rerank` enables the second-stage
        term-overlap rerank.

    python -m rassengine_spark prep --src PARQUET --out DIR
        the training-data prep pipeline (llmops/prep.py) over a parquet of
        (doc_id, text [, ...]): dedup -> quality -> PII -> split; writes
        the cleaned corpus partitioned by split and prints the stage
        report.

    python -m rassengine_spark index --src PARQUET --out DIR --tiers LIST
        build + persist serving index tiers from a corpus parquet:
        `terms` (bucketed BM25 postings), `minhash` (dedup signature
        store), `bpe` (tokenizer merges + vocab), and — when --vec-col is
        present — `ivf` / `hnsw` vector tiers.

    python -m rassengine_spark health --dq DIR --psi DIR --contam DIR
        the pipeline-health dashboard (llmops/health.py): one JSON line
        per curation gate, read from the persisted counter stores alone
        (add --docs PARQUET for the corpus dup-rate rows).

    python -m rassengine_spark table --path DIR ACTION
        dataset maintenance: --publish [NAME] / --list / --drop NAME
        snapshots, --compact MB small-file compaction, --prune retention.

    python -m rassengine_spark crawl --src WARC_DIR --out DIR
        crawl-to-corpus: WARC/WARC.GZ records -> HTML->text documents
        (doc_id = md5(url@date)) -> optional URL domain gating
        (--block-domains FILE) -> optional full prep pipeline (--prep);
        writes the corpus parquet and prints counts.

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
    res = pipe.ask(args.question, top_k=args.top_k)
    print(f"intent: {res.intent}")
    if res.hits is not None:
        for r in res.hits.select("doc_id").collect():
            print(f"hit: {r['doc_id']}")
    print(f"answer: {res.answer}")
    return 0


def _cmd_health(args) -> int:
    """Print the pipeline-health dashboard (llmops/health.py) from the
    persisted counter stores the maintenance jobs keep fresh — one JSON
    line per (metric, value, flagged) gate, store-only unless --docs
    points at a corpus parquet for the dup-rate rows."""
    import json as _json

    from .llmops.health import health_report
    from .session import get_spark

    spark = get_spark("cli-health")
    docs = spark.read.parquet(args.docs) if args.docs else None
    rows = health_report(spark, args.dq, args.psi, args.contam,
                         docs=docs, text_col=args.text_col).collect()
    for r in rows:
        print(_json.dumps({"metric": r.metric, "value": r.value,
                           "flagged": r.flagged}))
    return 0


def _cmd_prep(args) -> int:
    from pyspark.sql import functions as F

    from .llmops.prep import prepare_training_corpus
    from .session import get_spark

    spark = get_spark("cli-prep")
    docs = spark.read.parquet(args.src)
    target = (spark.read.parquet(args.dsir_target)
              if args.dsir_target else None)
    out, report = prepare_training_corpus(
        docs, None, text_col=args.text_col, id_col=args.id_col,
        dsir_target=target, dsir_keep_pct=args.dsir_keep_pct,
        materialize=True)
    (out.write.mode("overwrite").partitionBy("split").parquet(args.out))
    n = spark.read.parquet(args.out).count()
    print(json.dumps({"stages": report, "out": args.out, "rows": n}))
    return 0


def _cmd_crawl(args) -> int:
    from pyspark.sql import functions as F

    from .session import get_spark
    from .sources.warc import read_warc, warc_text_documents

    spark = get_spark("cli-crawl")
    docs = warc_text_documents(read_warc(spark, args.src))
    n_raw = docs.count()
    # URL-level dedup before any text processing: raw crawls spell the
    # same page many ways (case, ports, tracking params, fragments);
    # keep the smallest doc_id per canonical key (deterministic)
    from .llmops.urls import canonical_url
    from pyspark.sql.window import Window as _W
    docs = (docs.withColumn("_cu", canonical_url(F.col("url")))
            .withColumn("_rn", F.row_number().over(
                _W.partitionBy("_cu").orderBy("doc_id")))
            .filter(F.col("_rn") == 1).drop("_cu", "_rn"))
    if args.block_domains:
        from .llmops.urls import filter_by_domain
        block = (spark.read.text(args.block_domains)
                 .select(F.trim(F.col("value")).alias("domain"))
                 .filter(F.col("domain") != ""))
        docs = filter_by_domain(docs, "url", blocklist=block)
    stages: list = []
    if args.prep:
        from .llmops.prep import prepare_training_corpus
        docs, stages = prepare_training_corpus(
            docs, None, text_col="text", id_col="doc_id",
            unicode_normalize=True, drop_boilerplate_lines=True,
            materialize=True)
        docs.write.mode("overwrite").partitionBy("split").parquet(args.out)
    else:
        docs.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(json.dumps({"records_to_docs": n_raw, "rows": n,
                      "stages": stages, "out": args.out}))
    return 0


def _cmd_index(args) -> int:
    import os

    from .session import get_spark

    spark = get_spark("cli-index")
    docs = spark.read.parquet(args.src)
    tiers = [t.strip() for t in args.tiers.split(",") if t.strip()]
    known = {"terms", "minhash", "bpe", "ivf", "hnsw"}
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
    if "ivf" in tiers:
        from .operators.index_store import save_ivf_index
        save_ivf_index(docs, args.vec_col, args.id_col,
                       os.path.join(args.out, "ivf"),
                       n_cells=args.ivf_cells)
        built["ivf"] = os.path.join(args.out, "ivf")
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
        elif kind == "ivf":
            from .operators.index_store import compact_ivf_index
            compact_ivf_index(spark(), args.path)
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

    pi = sub.add_parser("ingest", help="parse + chunk + embed + upsert")
    pi.add_argument("--src", required=True)
    pi.add_argument("--warehouse", required=True)
    pi.add_argument("--user", default="default")
    pi.add_argument("--chunk-size", type=int, default=512)
    pi.add_argument("--dim", type=int, default=64)
    pi.set_defaults(fn=_cmd_ingest)

    pa = sub.add_parser("ask", help="intent-routed search + answer")
    pa.add_argument("question")
    pa.add_argument("--warehouse", required=True)
    pa.add_argument("--top-k", type=int, default=3)
    pa.add_argument("--dim", type=int, default=64)
    pa.add_argument("--rerank", action="store_true")
    pa.set_defaults(fn=_cmd_ask)

    pp = sub.add_parser("prep", help="training-data prep pipeline")
    pp.add_argument("--src", required=True)
    pp.add_argument("--out", required=True)
    pp.add_argument("--text-col", default="text")
    pp.add_argument("--id-col", default="doc_id")
    pp.add_argument("--dsir-target", default=None,
                    help="parquet of target-domain docs: keep only the "
                         "most target-like fraction (DSIR stage)")
    pp.add_argument("--dsir-keep-pct", type=int, default=25)
    pp.set_defaults(fn=_cmd_prep)

    px = sub.add_parser("index", help="build + persist serving index tiers")
    px.add_argument("--src", required=True)
    px.add_argument("--out", required=True)
    px.add_argument("--tiers", default="terms,minhash,bpe")
    px.add_argument("--text-col", default="text")
    px.add_argument("--id-col", default="doc_id")
    px.add_argument("--vec-col", default="embedding")
    px.add_argument("--term-buckets", type=int, default=256)
    px.add_argument("--bpe-merges", type=int, default=64)
    px.add_argument("--ivf-cells", type=int, default=64)
    px.set_defaults(fn=_cmd_index)

    pc = sub.add_parser("crawl", help="WARC crawl -> text corpus")
    pc.add_argument("--src", required=True,
                    help="dir of .warc / .warc.gz files")
    pc.add_argument("--out", required=True)
    pc.add_argument("--block-domains", default=None,
                    help="text file, one blocked registered domain/line")
    pc.add_argument("--prep", action="store_true",
                    help="run the full prep pipeline (unicode + line "
                         "dedup + dedup/quality/PII/split)")
    pc.set_defaults(fn=_cmd_crawl)

    ph = sub.add_parser(
        "health",
        help="pipeline-health dashboard from persisted counter stores")
    ph.add_argument("--dq", required=True,
                    help="DQ counter store dir (save_dq_counters layout)")
    ph.add_argument("--psi", required=True,
                    help="PSI drift store dir (save_psi_counters layout)")
    ph.add_argument("--contam", required=True,
                    help="contamination counter store dir "
                         "(merge_contamination_counters layout)")
    ph.add_argument("--docs", default=None,
                    help="corpus parquet for the dup-rate rows "
                         "(omit for store-only online mode)")
    ph.add_argument("--text-col", default="text")
    ph.set_defaults(fn=_cmd_health)

    pt = sub.add_parser("table", help="snapshots / compaction / retention")
    pt.add_argument("--path", required=True)
    pt.add_argument("--publish", nargs="?", const="", default=None,
                    metavar="NAME")
    pt.add_argument("--list", action="store_true")
    pt.add_argument("--drop", metavar="NAME")
    pt.add_argument("--compact", type=int, metavar="TARGET_MB")
    pt.add_argument("--compact-store",
                    choices=["term", "ivf", "hnsw", "vocab",
                             "boilerplate", "scorehist", "dq",
                             "kmv", "lm"],
                    help="fold a persisted index/counter store's append "
                         "slivers back into its save-time layout "
                         "(layout-only for term/ivf/vocab/boilerplate; "
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
