"""Table maintenance: dataset-version snapshots and small-file
compaction — the operational half of a training-data pipeline (Delta/
Iceberg provide these as table-format features; with delta-spark absent
in this runtime, plain parquet plus a manifest gives the two properties
training jobs actually need):

- **snapshots**: "dataset v7" must mean the same bytes forever — a
  training run that pins v7 is reproducible even while ingest keeps
  appending. `publish_snapshot` records the table's current file list in
  a manifest; `read_snapshot` plans a scan over EXACTLY those files.
  Publishing is metadata-only (no data copy) and O(#files).
- **compaction**: micro-batch appends accumulate small files;
  at 100 TB scan cost is dominated by per-file overhead and row-group
  fragmentation. `compact_parquet` rewrites the table into
  ceil(bytes/target) files and swaps directories atomically-enough for a
  single-writer pipeline (write to .compact-tmp, then rename). Published
  manifests keep working: snapshots taken BEFORE a compaction reference
  the old files, so compaction MOVES them into a retained `.versions`
  area instead of deleting (the Delta/Iceberg "old files are removed by
  retention, not by rewrite" rule, in miniature).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession


def _data_files(path: str) -> list[str]:
    # abspath everywhere: manifests store these strings and retention
    # compares them literally — a differently-spelled `path` must not
    # defeat the reference check
    path = os.path.abspath(path)
    return sorted(
        os.path.join(path, f) for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith("."))


def publish_snapshot(spark: SparkSession, path: str,
                     name: str | None = None) -> str:
    """Record the table's current parquet file list under
    `<path>/_snapshots/<name>.json`; returns the snapshot name.
    Metadata-only — no data is copied."""
    path = os.path.abspath(path)
    files = _data_files(path)
    if name is None:
        # max existing numeric suffix + 1 — len()+1 would collide with a
        # surviving snapshot after any drop_snapshot
        nums = [int(n[1:]) for n in list_snapshots(path)
                if n.startswith("v") and n[1:].isdigit()]
        name = f"v{max(nums, default=0) + 1}"
    snap_dir = os.path.join(path, "_snapshots")
    os.makedirs(snap_dir, exist_ok=True)
    target = os.path.join(snap_dir, f"{name}.json")
    if os.path.exists(target):
        raise ValueError(f"snapshot {name!r} already exists — a manifest "
                         "is immutable; drop it first or pick a new name")
    with open(target, "w") as f:
        json.dump({"files": files, "published_at": time.time()}, f)
    return name


def read_snapshot(spark: SparkSession, path: str, name: str) -> DataFrame:
    """Scan exactly the files the snapshot recorded — appends and
    compactions after publish never change what this returns."""
    path = os.path.abspath(path)
    with open(os.path.join(path, "_snapshots", f"{name}.json")) as f:
        manifest = json.load(f)
    if not manifest["files"]:
        from pyspark.sql.types import StructType
        return spark.createDataFrame([], StructType([]))
    return spark.read.parquet(*manifest["files"])


def read_snapshot_diff(spark: SparkSession, path: str,
                       since: str, until: str) -> DataFrame:
    """Rows APPENDED between two snapshots — incremental consumption
    (the Delta/Iceberg CDF "what's new since v7" read, append-only
    form): scan exactly the files `until` records that `since` does not.
    Metadata-only planning (a set difference of manifest file lists);
    correct for the append-only ingest this pipeline runs because
    appends only add files. A compaction between the snapshots breaks
    file-identity — publish diffs from the same epoch, or re-baseline
    after compacting (compaction renames are intra-version moves
    recorded in the manifests, so pre/post lists stay literal)."""
    path = os.path.abspath(path)

    def files_of(name: str) -> list[str]:
        with open(os.path.join(path, "_snapshots", f"{name}.json")) as f:
            return json.load(f)["files"]

    new = sorted(set(files_of(until)) - set(files_of(since)))
    if not new:
        # an empty diff is the STEADY STATE of an incremental consumer —
        # it must keep the table's schema (a zero-column frame would
        # crash the consumer's select on the routine no-appends cycle)
        until_files = files_of(until)
        if until_files:
            return spark.read.parquet(*until_files).limit(0)
        from pyspark.sql.types import StructType
        return spark.createDataFrame([], StructType([]))
    return spark.read.parquet(*new)


def list_snapshots(path: str) -> list[str]:
    snap_dir = os.path.join(path, "_snapshots")
    if not os.path.isdir(snap_dir):
        return []
    return sorted(n[:-5] for n in os.listdir(snap_dir)
                  if n.endswith(".json"))


def compact_parquet(spark: SparkSession, path: str,
                    target_file_mb: int = 128) -> int:
    """Rewrite the table's data files into ceil(bytes/target) files;
    returns the new file count. Old files move to `<path>/.versions/...`
    (NOT deleted) so previously published snapshots keep resolving;
    prune that area with a retention job once no manifest needs it."""
    files = _data_files(path)
    if not files:
        return 0
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(total / (target_file_mb * (1 << 20))))
    df = spark.read.parquet(*files)
    tmp = path.rstrip("/") + ".compact-tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    df.coalesce(n_out).write.mode("overwrite").parquet(tmp)

    path = os.path.abspath(path)
    retained = os.path.join(path, ".versions", str(int(time.time() * 1e3)))
    os.makedirs(retained, exist_ok=True)
    renames = {}
    for f in files:
        new_loc = os.path.join(retained, os.path.basename(f))
        os.rename(f, new_loc)
        renames[f] = new_loc
    _rewrite_manifests(path, renames)   # each manifest rewritten ONCE
    for f in _data_files(tmp):
        os.rename(f, os.path.join(path, os.path.basename(f)))
    shutil.rmtree(tmp, ignore_errors=True)
    return len(_data_files(path))


def _rewrite_manifests(path: str, renames: dict[str, str]) -> None:
    snap_dir = os.path.join(path, "_snapshots")
    if not os.path.isdir(snap_dir):
        return
    for name in os.listdir(snap_dir):
        p = os.path.join(snap_dir, name)
        with open(p) as f:
            m = json.load(f)
        new_files = [renames.get(x, x) for x in m["files"]]
        if new_files != m["files"]:
            m["files"] = new_files
            with open(p, "w") as f:
                json.dump(m, f)


def prune_versions(path: str) -> int:
    """Retention job: delete retained files under `<path>/.versions` that
    no snapshot manifest references any longer (and drop emptied version
    dirs); returns the number of files removed. Run after deleting old
    snapshots — never during a compaction."""
    path = os.path.abspath(path)
    vdir = os.path.join(path, ".versions")
    if not os.path.isdir(vdir):
        return 0
    referenced: set[str] = set()
    snap_dir = os.path.join(path, "_snapshots")
    if os.path.isdir(snap_dir):
        for name in os.listdir(snap_dir):
            with open(os.path.join(snap_dir, name)) as f:
                referenced.update(json.load(f)["files"])
    removed = 0
    for ver in sorted(os.listdir(vdir)):
        vpath = os.path.join(vdir, ver)
        for fn in sorted(os.listdir(vpath)):
            full = os.path.join(vpath, fn)
            if full not in referenced:
                os.remove(full)
                removed += 1
        if not os.listdir(vpath):
            os.rmdir(vpath)
    return removed


def drop_snapshot(path: str, name: str) -> None:
    os.remove(os.path.join(os.path.abspath(path), "_snapshots",
                           f"{name}.json"))
