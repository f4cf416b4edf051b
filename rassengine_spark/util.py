"""Small shared plan-shaping helpers."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def qident(name: str) -> str:
    """Backtick-quoted SQL identifier for a column name, for splicing
    into SQL-text expression builders."""
    return "`" + name.replace("`", "``") + "`"


def sql_quote(s: str) -> str:
    """Single-quoted Spark SQL string literal, for splicing into SQL-text
    expression builders. Escapes backslash and quote with a backslash,
    as the default parser reads them
    (spark.sql.parser.escapedStringLiterals=false)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def double_array_sql(vals: list[float]) -> str:
    """array<double> literal as SQL text (see double_array_lit). repr()
    round-trips every finite double exactly, so the parsed literal is
    bit-identical."""
    return "array(" + ",".join(f"{float(x)!r}D" for x in vals) + ")"


def double_array_lit(vals: list[float]) -> Column:
    """array<double> literal built from ONE parsed SQL string.

    ``F.lit(list)`` / per-element ``F.lit`` cost one py4j round-trip per
    element — ~100x slower to build for embedding-sized vectors. repr()
    round-trips every finite double exactly, so the parsed literal is
    bit-identical."""
    return F.expr(double_array_sql(vals))


def string_array_lit(vals: list[str]) -> Column:
    """array<string> literal from ONE parsed SQL string (the string twin of
    double_array_lit — per-element F.lit costs one py4j round-trip each,
    which dominates plan construction for template/pool arrays)."""
    return F.expr("array(" + ",".join(map(sql_quote, vals)) + ")")


def double_matrix_sql(rows: list[list[float]]) -> str:
    """array<array<double>> literal as SQL text: the whole matrix is a
    single expression node, so plan size and analysis cost are O(1) in
    the row count (one subtree per row dies around a few thousand rows —
    Catalyst spends minutes analyzing before any data moves)."""
    return "array(" + ",".join(
        "array(" + ",".join(f"{float(x)!r}D" for x in r) + ")"
        for r in rows) + ")"


def micros(col: str | Column) -> Column:
    """``unix_micros`` tolerant of TIMESTAMP_NTZ inputs.

    Parquet written by pyarrow/DuckDB (e.g. the driver testdata) reads as
    TIMESTAMP_NTZ, which ``unix_micros`` rejects. With the session timezone
    pinned to UTC (session.py) the NTZ→TIMESTAMP cast is the exact
    naive-as-UTC interpretation DuckDB's ``epoch_us`` uses, and for plain
    TIMESTAMP inputs the cast is a no-op."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


def spread(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Round-robin repartition when the input is narrower than the cluster's
    parallelism — CPU-heavy per-row stages (interpreted higher-order
    functions, Arrow-batched UDFs) otherwise run on a handful of tasks while
    the rest of the cluster idles (a single small parquet file reads as ONE
    split). No-op when the input is already wide enough, which is the common
    case at scale (thousands of input splits); when it does fire it costs one
    shuffle of the raw rows, which the downstream CPU win repays."""
    target = partitions or df.sparkSession.sparkContext.defaultParallelism
    # Narrowness probe via file listing, NOT df.rdd.getNumPartitions(): the
    # RDD conversion physically plans (and codegens) the frame on the driver
    # — measured ~6 s on a cold session — while inputFiles() is a metadata
    # call. One file can still split into several partitions, so this can
    # fire on a wide-but-single-file input; that costs one extra shuffle,
    # acceptable next to a CPU-bound stage. Multi-thousand-file tables (the
    # 100 TB case) correctly no-op.
    try:
        if len(df.inputFiles()) >= target:
            return df
    except Exception:
        pass
    return df.repartition(target)


FOLD_LEASE_TTL_SEC = 3600

# token of every lease THIS process holds, keyed by lock path — lets the
# commit step prove the lease on disk is still its own (not a fresh lease
# taken by another writer after ours was broken as stale)
_FOLD_LEASE_TOKENS: dict[str, str] = {}


def _fold_lease_path(data_p: str) -> str:
    return data_p + ".__fold_lock"


def _fold_lease_is_live(lock_p: str,
                        ttl_sec: int = FOLD_LEASE_TTL_SEC) -> bool:
    """A lease is LIVE unless its holder is provably gone: same-host
    holder whose pid is dead, or any holder whose lease file has aged
    past the TTL (the cross-host fallback — a healthy fold renews
    nothing, it just finishes well inside the TTL)."""
    import json
    import os
    import socket
    import time

    try:
        st = os.stat(lock_p)
    except OSError:
        return os.path.exists(lock_p)     # racing delete: resolved live
    # TTL first, from the stat alone: a corrupt / partially-written
    # lease (crash between create and write) must still expire — the
    # parse below can never veto staleness
    if time.time() - st.st_mtime > ttl_sec:
        return False
    try:
        with open(lock_p) as f:
            meta = json.load(f)
    except (OSError, ValueError):
        return True               # fresh but unreadable (mid-write): live
    if meta.get("host") == socket.gethostname():
        try:
            os.kill(int(meta["pid"]), 0)
        except (ProcessLookupError, ValueError, TypeError):
            return False                  # same host, holder dead
        except PermissionError:
            pass                          # exists under another user: live
    return True


def acquire_fold_lease(data_p: str,
                       ttl_sec: int = FOLD_LEASE_TTL_SEC) -> str:
    """Take the single-writer lease for a fold store (O_EXCL marker
    file). A live concurrent lease raises RuntimeError IMMEDIATELY — a
    second fold must fail fast, never interleave (its commit could
    silently drop the first fold's delta). A stale lease (dead same-host
    pid, or older than the TTL) is broken and re-acquired. Returns the
    lock path; release with release_fold_lease."""
    import json
    import os
    import socket
    import time

    import uuid

    lock_p = _fold_lease_path(data_p)
    os.makedirs(os.path.dirname(os.path.abspath(lock_p)), exist_ok=True)
    for _ in range(3):
        try:
            fd = os.open(lock_p, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            token = uuid.uuid4().hex
            with os.fdopen(fd, "w") as f:
                json.dump({"pid": os.getpid(),
                           "host": socket.gethostname(),
                           "ts": time.time(),
                           "token": token}, f)
            _FOLD_LEASE_TOKENS[lock_p] = token
            return lock_p
        except FileExistsError:
            if _fold_lease_is_live(lock_p, ttl_sec):
                raise RuntimeError(
                    f"concurrent fold in progress on {data_p!r} (live "
                    f"lease {lock_p!r}); fold stores are single-writer "
                    "— serialize folds, or remove the lease if its "
                    "holder is known dead") from None
            try:
                os.unlink(lock_p)         # break the stale lease
            except OSError:
                pass
    raise RuntimeError(f"could not acquire fold lease {lock_p!r}")


def release_fold_lease(lock_p: str) -> None:
    import json
    import os

    import time

    own = _FOLD_LEASE_TOKENS.pop(lock_p, None)
    if own is not None:
        # retry transient read errors: a healthy process wedging its OWN
        # store for the TTL because of one EIO blip would be far worse
        # than a 150 ms release
        for attempt in range(3):
            try:
                with open(lock_p) as f:
                    if json.load(f).get("token") != own:
                        return  # stolen: the file is the NEW writer's
                break
            except FileNotFoundError:
                return          # already broken + not re-acquired
            except (OSError, ValueError):
                if attempt == 2:
                    # persistently unreadable: could be a successor
                    # mid-create (crash window between its O_EXCL open
                    # and json write) — deleting it would hand a third
                    # writer a live fold's store. Leave it; a truly
                    # orphaned corrupt lease expires by TTL.
                    return
                time.sleep(0.05)
    try:
        os.unlink(lock_p)
    except OSError:
        pass


def renew_fold_lease(lock_p: str) -> None:
    """Push the lease's TTL clock forward (mtime touch) — ONLY while the
    lease on disk is still this process's own. Called by the renewal
    thread during the materialization and again before the commit
    renames, so a fold running close to FOLD_LEASE_TTL_SEC is not
    declared stale mid-commit. The ownership check matters: after a TTL
    break + steal, blindly touching the file would keep the THIEF's
    lease (possibly a crashed writer's) artificially fresh and lock the
    store until our write finished."""
    import json
    import os

    own = _FOLD_LEASE_TOKENS.get(lock_p)
    try:
        with open(lock_p) as f:
            if own is None or json.load(f).get("token") != own:
                return            # not ours (stolen / vanished): hands off
        os.utime(lock_p, None)
    except (OSError, ValueError):
        pass                      # verified separately by ownership check


def assert_fold_lease_owned(lock_p: str) -> None:
    """Prove the lease on disk is still the one THIS process wrote —
    raise if it was broken as stale and re-acquired by another writer
    while our materialization ran past the TTL. Committing under a
    stolen lease is exactly the silent delta-drop/interleave the lease
    exists to prevent, so the losing writer must fail loudly here, NOT
    rename its (now-conflicting) tmp over the winner's commit."""
    import json

    own = _FOLD_LEASE_TOKENS.get(lock_p)
    try:
        with open(lock_p) as f:
            meta = json.load(f)
    except (OSError, ValueError) as e:
        raise RuntimeError(
            f"fold lease {lock_p!r} vanished or is unreadable mid-fold "
            "— it was broken as stale (fold exceeded FOLD_LEASE_TTL_SEC?)"
            "; aborting commit to avoid clobbering a newer writer"
        ) from e
    if own is None or meta.get("token") != own:
        raise RuntimeError(
            f"fold lease {lock_p!r} is held by another writer "
            f"(pid {meta.get('pid')} on {meta.get('host')}) — this "
            "fold's lease was broken as stale while its materialization "
            "ran; aborting commit (the store still holds the other "
            "writer's consistent state)")


def swap_commit_dir(write, data_p: str) -> None:
    """Crash-safe in-place overwrite of a small persisted table dir:
    ``write(tmp_path)`` materializes the NEW contents into a temp
    sibling (the job may lazily read the still-intact ``data_p``), then
    two directory renames swap it in. A Spark failure mid-write leaves
    ``data_p`` untouched; a driver crash between the renames is repaired
    by heal_swapped_dir on the next open. Shared by the in-place fold
    stores (cluster forest, DSIR gram counts).

    Concurrency contract: SINGLE WRITER per store (folds are sequential
    maintenance jobs), ENFORCED by an O_EXCL lease marker — a second
    concurrent fold raises RuntimeError before touching anything
    instead of silently dropping the first fold's delta (last-committer
    -wins). A crashed writer's lease is broken when its pid is dead
    (same host) or the lease outlives FOLD_LEASE_TTL_SEC. Readers may
    run any time. A reader's heal_swapped_dir no-ops while the lease is
    live (the writer's tmp/bak siblings are working state, not crash
    debris), but the commit loop still tolerates a heal that raced in
    through a stale-lease window: it rebuilds tmp if the heal collected
    it (data_p holds the identical previous committed state again, so
    the lazy re-read inside ``write`` is consistent) and re-renames
    data -> bak before retrying the swap."""
    import os
    import shutil
    import threading

    tmp_p = data_p + ".__fold_tmp"
    bak_p = data_p + ".__fold_bak"
    lock_p = acquire_fold_lease(data_p)
    # renew the lease while the materialization runs: a fold whose Spark
    # job outlives FOLD_LEASE_TTL_SEC must not be declared stale mid-write
    # (a second writer breaking in, or a reader's heal, would reintroduce
    # the silent interleave the lease prevents). Daemon thread: dies with
    # the process, which is exactly when the lease SHOULD go stale.
    stop_renew = threading.Event()

    def _renew_loop() -> None:
        while not stop_renew.wait(FOLD_LEASE_TTL_SEC / 4):
            renew_fold_lease(lock_p)

    threading.Thread(target=_renew_loop, daemon=True).start()
    try:
        # a pre-existing tmp is a previous crash's garbage, never committed
        shutil.rmtree(tmp_p, ignore_errors=True)
        for attempt in range(3):
            try:
                if not os.path.exists(tmp_p):
                    write(tmp_p)
                # commit gate: prove the lease is still OURS before any
                # rename touches the committed dir — if it was broken as
                # stale and re-acquired while write() ran, fail loudly
                # instead of clobbering the new writer's commit
                renew_fold_lease(lock_p)
                assert_fold_lease_owned(lock_p)
                if os.path.exists(data_p):
                    shutil.rmtree(bak_p, ignore_errors=True)
                    os.rename(data_p, bak_p)
                os.rename(tmp_p, data_p)
                break
            except OSError:
                if attempt == 2:
                    raise
                # NEVER trust tmp after an error in this attempt: write()
                # may have failed mid-materialization (ENOSPC) with tmp_p
                # present but partial, and renaming that over data_p would
                # commit a corrupt store while the cleanup below deletes
                # the only good copy. Discard and rebuild from scratch
                # (also covers a racing reader-heal that collected tmp).
                shutil.rmtree(tmp_p, ignore_errors=True)
                if not os.path.exists(data_p) and os.path.exists(bak_p):
                    # the swap itself failed mid-flight: restore the good
                    # copy so the rebuild's lazy reads see a live store
                    os.rename(bak_p, data_p)
        shutil.rmtree(bak_p, ignore_errors=True)
    finally:
        stop_renew.set()
        release_fold_lease(lock_p)


def heal_swapped_dir(data_p: str) -> None:
    """Repair a swap_commit_dir target whose last fold crashed between
    the two renames: if ``data_p`` is gone but the bak sibling exists,
    the bak IS the previous committed state — restore it. If both exist
    the swap completed and only the cleanup was lost — discard bak. A
    dangling tmp sibling is always garbage (never committed). While a
    LIVE writer lease exists this is a no-op — the siblings are the
    writer's in-flight working state, not crash debris (a stale lease
    is cleaned up and healing proceeds)."""
    import os
    import shutil

    lock_p = _fold_lease_path(data_p)
    if os.path.exists(lock_p):
        if _fold_lease_is_live(lock_p):
            return
        try:
            os.unlink(lock_p)             # crashed writer's stale lease
        except OSError:
            pass
    bak_p = data_p + ".__fold_bak"
    if os.path.exists(bak_p):
        if os.path.exists(data_p):
            shutil.rmtree(bak_p, ignore_errors=True)
        else:
            os.rename(bak_p, data_p)
    shutil.rmtree(data_p + ".__fold_tmp", ignore_errors=True)
