"""Catalog-table flows: the reference's DDL + TRUNCATE-then-bulk-load
serving pattern (S4/S5/S6) on Spark's own catalog, and bucketed tables for
shuffle-free co-located joins."""

from __future__ import annotations

from pyspark.sql import functions as F

from iot_data_pipeline_spark.operators._util import table
from iot_data_pipeline_spark.plans import executed_plan
from iot_data_pipeline_spark.session import scoped_conf


def test_ddl_insert_truncate_flow(spark, sf_dir):
    """CREATE TABLE → INSERT INTO … SELECT (bulk load) → TRUNCATE →
    reload: the reference's ClickHouse serving lifecycle, Spark-native."""
    spark.sql("DROP TABLE IF EXISTS serving_nation")
    spark.sql(
        "CREATE TABLE serving_nation"
        " (n_nationkey INT, n_name STRING, n_regionkey INT) USING parquet"
    )
    table(spark, sf_dir, "nation").createOrReplaceTempView("nation_src")
    spark.sql("INSERT INTO serving_nation SELECT * FROM nation_src")
    assert spark.table("serving_nation").count() == 25
    # idempotent full refresh: truncate-then-load (reference S6)
    spark.sql("TRUNCATE TABLE serving_nation")
    assert spark.table("serving_nation").count() == 0
    spark.sql("INSERT INTO serving_nation SELECT * FROM nation_src")
    assert spark.table("serving_nation").count() == 25
    spark.sql("DROP TABLE serving_nation")


def test_bucketed_join_avoids_shuffle(spark, sf_dir):
    """Tables bucketed on the join key join WITHOUT an exchange on either
    side — the co-located join strategy for repeated large-fact joins."""
    for name in ("b_orders", "b_customer"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    table(spark, sf_dir, "orders").write.bucketBy(4, "o_custkey").sortBy(
        "o_custkey"
    ).mode("overwrite").saveAsTable("b_orders")
    table(spark, sf_dir, "customer").write.bucketBy(4, "c_custkey").sortBy(
        "c_custkey"
    ).mode("overwrite").saveAsTable("b_customer")
    try:
        # forbid broadcast so the planner must pick a partitioned join;
        # bucketing then makes both sides pre-shuffled.
        with scoped_conf(spark, **{"spark.sql.autoBroadcastJoinThreshold": "-1"}):
            joined = spark.table("b_orders").join(
                spark.table("b_customer"),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            plan = executed_plan(joined)
            assert "Exchange hashpartitioning" not in plan
            assert joined.count() == 1500
    finally:
        for name in ("b_orders", "b_customer"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
