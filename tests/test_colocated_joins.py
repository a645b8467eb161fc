"""Co-located joins at scale: bucketed tables join without a shuffle
(the SURVEY §optimize directive 'co-locate joins via bucketing'), and
dynamic partition pruning reaches a partitioned fact through a
filtered dim join (the reference's runtime partition filters,
RuntimeFilterGenerator.java → Spark DPP)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL


@pytest.fixture()
def db(spark, tmp_path):
    name = "coloc_db"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {name} LOCATION '{tmp_path}/wh'")
    yield name
    spark.sql(f"DROP DATABASE IF EXISTS {name} CASCADE")


def test_bucketed_join_has_no_shuffle(spark, db):
    """Both sides bucketed 8-ways on the join key: the sort-merge join
    must read buckets directly — zero Exchange operators in the plan.
    At 100 TB this is the difference between joining in place and
    moving both tables across the cluster."""
    from incubator_impala_spark.sources.tables import load_table

    orders = load_table(spark, SF_SMALL, "orders")
    li = load_table(spark, SF_SMALL, "lineitem")
    (orders.write.mode("overwrite").bucketBy(8, "o_orderkey")
     .sortBy("o_orderkey").saveAsTable(f"{db}.orders_b"))
    (li.write.mode("overwrite").bucketBy(8, "l_orderkey")
     .sortBy("l_orderkey").saveAsTable(f"{db}.li_b"))

    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table(f"{db}.li_b").join(
            spark.table(f"{db}.orders_b"),
            spark.table(f"{db}.li_b").l_orderkey
            == spark.table(f"{db}.orders_b").o_orderkey,
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        # and it's still correct
        want = li.join(orders, li.l_orderkey == orders.o_orderkey).count()
        assert joined.count() == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)


def test_dynamic_partition_pruning_from_dim_filter(spark, tmp_path):
    """Partitioned fact + filtered dim join: the fact scan must carry a
    dynamic pruning subquery (only matching partitions read)."""
    from pyspark.sql import functions as F

    from incubator_impala_spark.sources.tables import load_table

    li = load_table(spark, SF_SMALL, "lineitem")
    # fact partitioned by returnflag; dim maps flags to names
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(
        f"{tmp_path}/fact"
    )
    fact = spark.read.parquet(f"{tmp_path}/fact")
    dim = spark.createDataFrame(
        [("R", "returned"), ("A", "accepted"), ("N", "none")],
        "flag string, label string",
    )
    spark.conf.set("spark.sql.dynamicPartitionPruning.enabled", "true")
    joined = fact.join(
        dim.where(F.col("label") == "returned"),
        fact.l_returnflag == dim.flag,
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower() or "PartitionFilters: [" in plan, plan
    want = li.where("l_returnflag = 'R'").count()
    assert joined.count() == want
