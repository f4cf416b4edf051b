"""Local correctness harness mimicking the driver's DuckDB-oracle compare.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir; compares row count, column-name schema, and an
order-insensitive value multiset (columns sorted by name, rows sorted).

DRIVER PARITY: the driver canonicalizes BOTH sides through pandas — proven
by round-2 stamps: ``events_cube_dow_type`` (nullable-int grouping column,
float64 on both sides after pandas) is driver-GREEN while the four HUGEINT
oracles (DuckDB int128 -> float64 "99111.0" vs Spark bigint int64 "99111")
are driver-FAIL. A ``str()``-over-``fetchall()`` canonicalizer masks that
dtype class entirely (the round-2 miss). So: Spark via ``toPandas()``,
DuckDB via ``fetchdf()``, numpy scalars canonicalized as-is.

Usage: python tools/check.py [sf_dir] [query_name ...]
       python tools/check.py [sf_dir] --window
           check ONLY the first 50 queries() entries — exactly what the
           driver's per-round correctness harness will stamp.
"""

from __future__ import annotations

import datetime
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, np.integer):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        # np.float64 subclasses float; keep repr(float) so a DuckDB HUGEINT
        # that pandas coerced to float64 visibly diverges ("99111.0") from a
        # Spark bigint ("99111"), exactly as the driver's hash does.
        v = float(v)
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, datetime.datetime):
        # DuckDB DATE comes back from fetchdf as a midnight Timestamp while
        # Spark yields datetime.date; driver-green DATE entries prove the
        # driver treats them as equal, so render any zero-time datetime as
        # its date (applied identically to both sides, so TIMESTAMP columns
        # still compare consistently).
        if (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0):
            return v.date().isoformat()
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(canon(r[i]) for i in order) for r in rows)


def pandas_rows(pdf):
    """itertuples with object-column NaN -> None (an object-dtype NaN is a
    NULL string/bool, not a numeric value)."""
    obj_cols = {i for i, dt in enumerate(pdf.dtypes) if str(dt) == "object"}
    return [tuple(None if (i in obj_cols and isinstance(x, float)
                           and math.isnan(x)) else x
                  for i, x in enumerate(r))
            for r in pdf.itertuples(index=False, name=None)]


def connect(sf_dir: str):
    """DuckDB connection with one view per test-data table in sf_dir."""
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def compare(sdf, ddf) -> list[str]:
    """Problems found comparing a Spark result with its DuckDB twin, both
    as pandas frames: column names, row count, value multiset."""
    scols, srows = list(sdf.columns), pandas_rows(sdf)
    dcols, drows = list(ddf.columns), pandas_rows(ddf)
    problems = []
    if sorted(scols) != sorted(dcols):
        problems.append(f"schema {sorted(scols)} != {sorted(dcols)}")
    if len(srows) != len(drows):
        problems.append(f"rowcount {len(srows)} != {len(drows)}")
    if not problems:
        a, b = rowset(scols, srows), rowset(dcols, drows)
        if a != b:
            diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
            problems.append(f"values differ, e.g. {diffs}")
    return problems


def main():
    args = [a for a in sys.argv[1:] if a != "--window"]
    window = "--window" in sys.argv[1:]
    if args and os.path.isdir(args[0]):
        sf_dir, only = args[0], set(args[1:])
    else:
        sf_dir, only = "/root/testdata/sf0.01", set(args)

    import __spark_entry__ as entrymod
    from rassengine_spark.session import get_spark

    spark = get_spark("check")
    con = connect(sf_dir)

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    if window:
        qs = dict(list(qs.items())[:50])
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(sdf)} rows (no oracle)")
            continue
        try:
            ddf = con.sql(oracles[name]).fetchdf()  # via pandas, as Spark's
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failed.append(name)
            continue
        problems = compare(sdf, ddf)
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failed.append(name)
        else:
            print(f"OK   {name}: {len(sdf)} rows")
    print()
    if failed:
        print(f"{len(failed)} FAILED: {failed}")
        sys.exit(1)
    print("all checks passed")


if __name__ == "__main__":
    main()
