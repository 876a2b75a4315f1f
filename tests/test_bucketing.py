"""Bucketed co-located joins: the SCALE.md claim that bucketing both fact
tables on orderkey makes the lineitem⋈orders join shuffle-free, demonstrated
on real bucketed tables (the 100 TB strategy, verified at test scale)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_wordcount_spark.session import scoped_confs


@pytest.fixture()
def no_broadcast(spark):
    with scoped_confs(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        yield


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path, no_broadcast):
    """Both sides bucketed by the join key into the same bucket count ->
    SortMergeJoin reads buckets co-located, zero Exchange in the plan.
    (Unbucketed control: the same join plans two exchanges.)"""
    warehouse = str(tmp_path / "wh")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")

    (li.write.bucketBy(4, "l_orderkey").sortBy("l_orderkey")
        .option("path", f"{warehouse}/li_b").mode("overwrite").saveAsTable("li_b"))
    (o.write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
        .option("path", f"{warehouse}/o_b").mode("overwrite").saveAsTable("o_b"))
    try:
        joined = (
            spark.table("li_b")
            .join(spark.table("o_b"), F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        # the join itself is exchange-free: the only exchange allowed is the
        # one for the downstream groupBy on a different key
        join_part = plan.split("SortMergeJoin", 1)[1]
        assert "Exchange" not in join_part, "bucketed join still shuffled"

        control = (
            li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        control_join = _plan(control).split("SortMergeJoin", 1)[1]
        assert "Exchange" in control_join, "control should shuffle"

        # same answer both ways
        assert sorted(map(tuple, joined.collect())) == sorted(map(tuple, control.collect()))
    finally:
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS o_b")
