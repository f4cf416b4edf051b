"""Manifest-committed LSM counter store — generic machinery.

A persisted table of ADDITIVE counter rows (key columns + one bigint
count) that grows by O(batch) delta folds: the shape behind the
per-source boilerplate line counters (``llmops/boilerplate.py``) and the
score-histogram threshold tier (``llmops/splits.py``). Contrast with the
other exactly-once store shapes here: versioned
copy-on-write rewrites O(store) per fold; the anti-joined set stores get
idempotence from their algebra; this one appends O(batch) and makes the
commit atomic with a manifest.

Layout under ``path``:

- ``versions/v{N}/``  — the compacted base counters;
- ``deltas/{name}/``  — one parquet directory per fold, history untouched;
- ``manifest.json``   — the ATOMIC commit point (tmp + os.replace): names
  the live base version and the live delta list, plus the key columns
  and any caller extras. Readers see a consistent snapshot; a fold that
  crashes before its manifest commit leaves an orphan no reader lists
  (``gc_counters`` collects those); compaction writes base v{N+1} and
  commits BEFORE GC, so a crash at any point leaves the old snapshot or
  the new one, never a double count.

Replay discipline: deltas are named. Re-folding an UNcommitted name
overwrites the orphan in place; an already-committed name is a pure
no-op (never rewrite a directory a reader can see): a maintainer that
names deltas by batch id can replay a batch safely. Additivity
requires each fold to bring NEW underlying rows — replaying the same
data under a fresh name double-counts. Single writer per store.
"""

from __future__ import annotations

import json
import math
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# counter rows per appended parquet file: small folds write ONE file,
# never `buckets` slivers
ROWS_PER_FILE = 2_000_000


def _manifest_path(path: str) -> str:
    return os.path.join(path, "manifest.json")


from contextlib import contextmanager


@contextmanager
def counter_store_writer(path: str):
    """Single-writer lease for one manifest-LSM store (the same O_EXCL
    lease machinery as util.swap_commit_dir): two concurrent
    read-manifest -> write-delta -> commit-manifest sequences would both
    read the same delta list and the second commit would silently drop
    the first's delta name (manifest last-write-wins). Every mutator
    here takes this; a live concurrent writer raises RuntimeError
    immediately, a crashed writer's lease self-breaks (dead pid / TTL —
    see util.acquire_fold_lease)."""
    from ..util import acquire_fold_lease, release_fold_lease
    lock = acquire_fold_lease(path)
    try:
        yield
    finally:
        release_fold_lease(lock)


def load_counter_manifest(path: str) -> dict:
    with open(_manifest_path(path)) as f:
        return json.load(f)


def commit_counter_manifest(path: str, m: dict) -> None:
    """Atomic commit point: tmp + rename (POSIX rename is atomic on one
    filesystem). Everything the manifest does not list is invisible to
    readers and fair game for GC."""
    tmp = _manifest_path(path) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(m, f)
    os.replace(tmp, _manifest_path(path))


def save_counters(df: DataFrame, keys: list[str], path: str,
                  cnt_col: str = "cnt", buckets: int = 32,
                  extra: dict | None = None) -> None:
    """Build the store from an initial counter frame (``keys`` + one
    bigint ``cnt_col``): base version v1, empty delta list. ``buckets``
    bounds the base's file count (hash-clustered on the keys so a later
    compaction's merge shuffle lines up with the layout). ``extra``
    lands in the manifest for the caller's own parameters."""
    reserved = {"version", "deltas", "buckets", "keys", "cnt"}
    bad = reserved & set(extra or {})
    if bad:
        raise ValueError(f"extra keys collide with reserved manifest "
                         f"fields: {sorted(bad)}")
    os.makedirs(path, exist_ok=True)
    with counter_store_writer(path):
        vdir = os.path.join(path, "versions", "v1")
        shutil.rmtree(vdir, ignore_errors=True)
        (df.select(*keys, F.col(cnt_col).cast("bigint").alias(cnt_col))
         .repartition(buckets, *keys)
         .write.mode("overwrite").parquet(vdir))
        commit_counter_manifest(path, {"version": 1, "deltas": [],
                                       "buckets": buckets, "keys": keys,
                                       "cnt": cnt_col, **(extra or {})})


def append_counters(delta_df: DataFrame, path: str,
                    delta_name: str | None = None) -> None:
    """Fold one O(batch) counter delta in — history files stay
    byte-identical. See the module docstring for the naming/replay
    contract. Empty deltas are a no-op."""
    with counter_store_writer(path):
        m = load_counter_manifest(path)
        if delta_name is None:
            seq = max((int(d[1:]) for d in m["deltas"]
                       if d[:1] == "d" and d[1:].isdigit()), default=0)
            delta_name = "d%d" % (seq + 1)
        if delta_name in m["deltas"]:
            # replay of an already-committed fold: pure no-op — rewriting
            # a manifest-listed directory would momentarily empty it
            # under a concurrent reader
            return
        keys, cnt = m["keys"], m["cnt"]
        delta = (delta_df
                 .select(*keys, F.col(cnt).cast("bigint").alias(cnt))
                 .localCheckpoint(eager=True))  # one pass: count + write
        n = delta.count()
        if n == 0:
            return
        parts = max(1, min(int(m["buckets"]),
                           math.ceil(n / ROWS_PER_FILE)))
        (delta.repartition(parts, *keys)
         .write.mode("overwrite")
         .parquet(os.path.join(path, "deltas", delta_name)))
        m["deltas"] = m["deltas"] + [delta_name]
        commit_counter_manifest(path, m)


def read_counters(spark: SparkSession, path: str) -> DataFrame:
    """Counters summed over the committed base + deltas — the consistent
    snapshot the manifest names."""
    m = load_counter_manifest(path)
    dirs = [os.path.join(path, "versions", f"v{m['version']}")]
    dirs += [os.path.join(path, "deltas", d) for d in m["deltas"]]
    return (spark.read.parquet(*dirs)
            .groupBy(*m["keys"])
            .agg(F.sum(m["cnt"]).alias(m["cnt"])))


def compact_counters(spark: SparkSession, path: str) -> None:
    """Merge the delta slivers into base v{N+1}; manifest commits BEFORE
    the old version and folded deltas are GC'd — a crash leaves either
    snapshot, never a double count. Values unchanged (the read path
    already sums; compaction materializes that sum once)."""
    with counter_store_writer(path):
        m = load_counter_manifest(path)
        if not m["deltas"]:
            return
        merged = read_counters(spark, path).localCheckpoint(eager=True)
        nv = int(m["version"]) + 1
        vdir = os.path.join(path, "versions", f"v{nv}")
        shutil.rmtree(vdir, ignore_errors=True)   # a crashed earlier try
        (merged.repartition(int(m["buckets"]), *m["keys"])
         .write.mode("overwrite").parquet(vdir))
        old_deltas = m["deltas"]
        commit_counter_manifest(path, {**m, "version": nv, "deltas": []})
        shutil.rmtree(os.path.join(path, "versions", f"v{m['version']}"),
                      ignore_errors=True)
        for d in old_deltas:
            shutil.rmtree(os.path.join(path, "deltas", d),
                          ignore_errors=True)


def gc_counters(path: str) -> list[str]:
    """Remove UNREFERENCED directories — deltas from crashed folds that
    never reached the manifest, and base versions a compaction GC'd
    past. Safe any time in the single-writer window: readers only open
    what the manifest names. Returns the removed paths."""
    with counter_store_writer(path):
        m = load_counter_manifest(path)
        removed = []
        vroot = os.path.join(path, "versions")
        droot = os.path.join(path, "deltas")
        live_v = f"v{m['version']}"
        if os.path.isdir(vroot):
            for d in os.listdir(vroot):
                if d != live_v:
                    shutil.rmtree(os.path.join(vroot, d),
                                  ignore_errors=True)
                    removed.append(os.path.join(vroot, d))
        if os.path.isdir(droot):
            for d in os.listdir(droot):
                if d not in m["deltas"]:
                    shutil.rmtree(os.path.join(droot, d),
                                  ignore_errors=True)
                    removed.append(os.path.join(droot, d))
        return removed
