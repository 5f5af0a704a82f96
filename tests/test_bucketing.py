"""Scale evidence: bucketed tables give shuffle-free co-located
joins — the 100 TB strategy for repeated fact-fact joins (README
scale notes; SURVEY.md §4 partitioning)."""

from pyspark.sql import functions as F

from datanika_core_spark.operators.writers import drop_table
from datanika_core_spark.workloads import t
from tools.plan_audit import plan_text

SF = "/root/testdata/sf0.001"


def test_bucketed_join_is_shuffle_free(spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS wl_bkt")
    drop_table(spark, "wl_bkt.orders_b")
    drop_table(spark, "wl_bkt.lineitem_b")
    (t(spark, SF, "orders")
     .write.format("parquet").bucketBy(8, "o_orderkey")
     .sortBy("o_orderkey").mode("overwrite")
     .saveAsTable("wl_bkt.orders_b"))
    (t(spark, SF, "lineitem")
     .write.format("parquet").bucketBy(8, "l_orderkey")
     .sortBy("l_orderkey").mode("overwrite")
     .saveAsTable("wl_bkt.lineitem_b"))

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the sort-merge path so bucketing (not broadcast) is
        # what eliminates the shuffle
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = (
            spark.table("wl_bkt.orders_b").alias("o")
            .join(spark.table("wl_bkt.lineitem_b").alias("l"),
                  F.col("o.o_orderkey") == F.col("l.l_orderkey"))
            .groupBy("o.o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        # the operator tree, before the per-node detail blocks
        plan = plan_text(joined).split("\n\n")[0]
        # the join itself must read bucketed outputs directly: the
        # only Exchange allowed is the one for the final groupBy
        join_part = plan.split("HashAggregate")[-1]
        assert "SortMergeJoin" in plan
        assert "Exchange" not in join_part
        # sanity: result matches the unbucketed computation
        want = (
            t(spark, SF, "orders").alias("o")
            .join(t(spark, SF, "lineitem").alias("l"),
                  F.col("o.o_orderkey") == F.col("l.l_orderkey"))
            .groupBy("o.o_orderstatus").agg(F.count(F.lit(1)).alias("n"))
        )
        assert sorted(map(tuple, joined.collect())) == sorted(
            map(tuple, want.collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
