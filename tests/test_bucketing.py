"""Bucketed co-located join: the 100 TB strategy for repeated big-big joins
(e.g. documents x chunks on patientId) is bucketing both sides on the join
key at write time — the join then reads pre-shuffled buckets and needs NO
exchange at query time."""

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture()
def bucketed_pair(spark, tmp_path):
    a = spark.range(0, 1000).select(
        F.col("id").alias("patientId"),
        (F.col("id") % 97).alias("x"))
    b = spark.range(0, 1000).select(
        F.col("id").alias("patientId"),
        (F.col("id") % 31).alias("y"))
    for name, df in (("t_bucket_a", a), ("t_bucket_b", b)):
        (df.write.mode("overwrite")
           .bucketBy(8, "patientId").sortBy("patientId")
           .option("path", str(tmp_path / name))
           .saveAsTable(name))
    yield spark.table("t_bucket_a"), spark.table("t_bucket_b")
    for name in ("t_bucket_a", "t_bucket_b"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_bucketed_join_has_no_exchange(spark, bucketed_pair):
    ta, tb = bucketed_pair
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(ta.join(tb, "patientId").select("patientId", "x", "y"))
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan       # buckets ARE the shuffle
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_groupby_has_no_exchange(spark, bucketed_pair):
    ta, _ = bucketed_pair
    plan = _plan(ta.groupBy("patientId").agg(F.sum("x").alias("sx")))
    assert "Exchange" not in plan
