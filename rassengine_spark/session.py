"""SparkSession factory with scale-oriented defaults.

Tuned for correctness on local[32] while keeping every knob one a 1000-executor
cluster would also want: AQE (runtime re-plan, skew-join splitting, partition
coalescing), broadcast joins for small dimension tables, UTC session time so
timestamps round-trip identically through parquet and the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "rassengine-spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    # An existing session is returned AS IS: builder.getOrCreate() would
    # otherwise silently re-apply this factory's configs to it (Spark
    # copies builder options onto the active session), clobbering whatever
    # shuffle/broadcast tuning the host application chose.
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # dims like region/nation (and resolved-id semi-join sides) broadcast
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # Arrow for the few pandas_udf paths (embedding/text analysis)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    # WindowExec WARNs "No Partition Defined" on EVERY run of the repo's
    # two deliberately-unpartitioned bounded windows (<=256-row offset
    # cumsums, <=20-row rank frames) — noise that buries real warnings in
    # bench logs. A constant partition key can't help (Catalyst folds it
    # away), so silence this one logger; the guard moves to
    # tools/audit_plans.py's WINDOW_GLOBAL flag, which fails the audit
    # for any NEW unpartitioned window outside its bounded whitelist.
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR)
    except Exception:
        pass  # logging backend differs — cosmetic only, never fail startup
    return spark


def _read_parquet_ns_safe(spark: SparkSession, path: str):
    """Read parquet that may contain TIMESTAMP(NANOS) columns.

    Spark has no nanosecond timestamp type; with
    ``spark.sql.legacy.parquet.nanosAsLong`` those columns arrive as epoch-ns
    longs, which we floor-convert to microsecond timestamps (matching what
    DuckDB/pyarrow do when reading the same files). Integer division keeps
    full precision (a double intermediate would lose bits above 2^53)."""
    from pyspark.sql import functions as F

    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    ns_cols: list[str] = []
    try:
        import pyarrow.parquet as pq
        import pyarrow as pa
        sub = path
        if os.path.isdir(path):
            parts = [p for p in os.listdir(path) if p.endswith(".parquet")]
            if parts:
                sub = os.path.join(path, parts[0])
        schema = pq.read_schema(sub)
        ns_cols = [f.name for f in schema
                   if pa.types.is_timestamp(f.type) and f.type.unit == "ns"]
    except Exception:
        pass
    df = spark.read.parquet(path)
    for c in ns_cols:
        if dict(df.dtypes).get(c) == "bigint":
            df = df.withColumn(
                c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


# (app_id, sf_dir) -> {name: DataFrame}. DataFrames are immutable logical
# plans, so handing the same objects to every caller is safe; rebuilding
# them costs ~0.7 s per call (10x spark.read analysis + pyarrow footer
# reads for the ns-timestamp probe) — pure fixed overhead when a workload
# runs many queries against the same tables, as bench.py and the driver do.
_TABLE_CACHE: dict[tuple[str, str], dict] = {}


def load_tables(spark: SparkSession, sf_dir: str) -> dict:
    """Load the driver's parquet tables as DataFrames keyed by name
    (memoized per Spark application + directory)."""
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return dict(cached)
    names = ["region", "nation", "customer", "supplier", "part", "orders",
             "lineitem", "events", "documents", "embeddings"]
    out = {}
    for n in names:
        path = os.path.join(sf_dir, f"{n}.parquet")
        if os.path.exists(path):
            out[n] = _read_parquet_ns_safe(spark, path)
    _TABLE_CACHE[key] = out
    return dict(out)
