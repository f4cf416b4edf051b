"""Benchmark entry point.

    python3 perfbench/run.py --workload ask_mixed --seed 1 --seconds 20 \\
        --trace 0

Run from the repository root. Starts a Spark session (local[<cores>]),
generates the workload's inputs from --seed, sets up, measures for
--seconds seconds with one closed-loop client, checks every recorded
output against an independent reference, and prints one JSON line last
on stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones
and writes the recorded spans to .perfbench_trace/ (see README.md).
Everything else the run writes stays under .perfbench_work/ in the
current directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

END_TO_END = {"setup_s": "s", "request_p50_s": "s", "queries_per_s": "1/s"}

ROUTES = ["keyword", "semantic", "hybrid", "structured", "hybrid_structured",
          "aggregate", "comparison", "temporal", "explanatory",
          "multi_intent", "entity_specific", "document_fetch"]
PER_LAYER = {
    "session.start_s": "s", "session.job_floor_s": "s",
    "session.jobs_per_request": "count", "session.stages_per_request": "count",
    "session.tasks_per_request": "count", "session.jobs_per_upload": "count",
    "session.tasks_per_upload": "count",
    "ml.tag_entities_s": "s", "ml.classify_intent_s": "s",
    "ml.embed_query_s": "s", "ml.intent_match_frac": "ratio",
    "ml.with_embeddings_s": "s",
    "sources.parse_fhir_s": "s", "sources.text_chunks_s": "s",
    "sources.docs_per_upload": "count", "sources.chunks_per_upload": "count",
    "ingest.upload_s": "s", "ingest.upsert_documents_s": "s",
    "ingest.upsert_chunks_s": "s", "ingest.recount_s": "s",
    "ingest.bytes_written": "bytes", "ingest.store_files": "count",
    "ingest.write_amp": "ratio", "ingest.space_amp": "ratio",
    "ingest.docs_per_s": "1/s",
    "ask.resolve_patients_s": "s", "ask.dispatch_s": "s",
    "ask.render_context_s": "s",
    "ask.self_s": "s", "ask.hit_frac": "ratio",
    **{f"search.{r}_s": "s" for r in ROUTES},
    "index.term_build_s": "s", "index.term_append_s": "s",
    "index.bm25_batch_s": "s", "index.postings_files": "count",
    "ann.build_s": "s", "ann.append_s": "s", "ann.search_batch_s": "s",
    "ann.shards": "count", "ann.recall_at_10": "ratio",
    "trace.request_p50_s": "s", "trace.overhead_s": "s",
    "trace.spans": "count",
}


def _isolate(work: str) -> None:
    """Keep every file the run writes (Python, the Spark JVM, its Python
    workers) under `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        f"pyspark-shell")


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = os.getcwd()
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        _isolate(work)
        t_start = time.perf_counter()
        from rassengine_spark.session import get_spark

        from perfbench.trace import NullRecorder, Recorder
        from perfbench.workloads import WORKLOADS

        workload = WORKLOADS[args.workload]
        cores = len(os.sched_getaffinity(0))
        spark = get_spark("perfbench", master=f"local[{cores}]")
        start_s = time.perf_counter() - t_start
        spark.sparkContext.setLogLevel("ERROR")
        try:
            rec = Recorder(spark) if args.trace else NullRecorder()
            res = workload(spark, work, args.seed, args.seconds, rec,
                           t_start)
            res.phases["workload_s"] = time.perf_counter() - t_start
            floor = rec.job_floor_s(spark) if args.trace else 0.0
            if args.trace:
                rec.dump(os.path.join(root, ".perfbench_trace",
                                      f"{args.workload}-{args.seed}.json"))
        finally:
            _stop(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        base = os.path.join(root, ".perfbench_work")
        if os.path.isdir(base) and not os.listdir(base):
            os.rmdir(base)

    res.phases["setup_s"] = res.setup_s
    print("\nphases", json.dumps({k: round(v, 2)
                                  for k, v in res.phases.items()}),
          "latencies", [round(x, 2) for x in res.latencies],
          file=sys.stderr)
    for f in res.failures[:20]:
        print("FAIL", f, file=sys.stderr)
    if not res.self_test_ok:
        print("FAIL checker mutation self-test did not reject a corrupted "
              "result", file=sys.stderr)
    if not res.latencies:
        print("no request completed", file=sys.stderr)
        return 1
    p50 = statistics.median(res.latencies)
    if args.trace:
        layer = {k: 0.0 for k in PER_LAYER}
        layer.update({k: v for k, v in res.layer.items() if k in PER_LAYER})
        layer["session.start_s"] = start_s
        layer["session.job_floor_s"] = floor
        layer["trace.request_p50_s"] = p50
        layer["trace.overhead_s"] = rec.overhead_s / len(res.latencies)
        layer["trace.spans"] = len(rec.spans)
        metrics = {k: {"value": layer[k], "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        values = {"setup_s": res.setup_s, "request_p50_s": p50,
                  "queries_per_s": res.queries / res.loop_s}
        metrics = {k: {"value": values[k], "unit": u}
                   for k, u in END_TO_END.items()}
    failed = len(res.failures)
    print(json.dumps({
        "correct": failed == 0 and res.self_test_ok,
        "attempted": res.attempted,
        "failed": failed,
        "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
