"""Bucketed layout: co-bucketed join must need no shuffle on either side."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from uk_housing_dashboard_etl_spark.sources.layout import write_bucketed
from uk_housing_dashboard_etl_spark.sources.readers import read_table


@pytest.fixture()
def warehouse(spark, tmp_path):
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    # force the sort-merge path: at real scale neither fact side
    # broadcasts, which is exactly the case bucketing exists for
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield spark
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    for t in ["b_orders", "b_lineitem"]:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_cobucketed_join_has_no_exchange(warehouse, sf_small):
    spark = warehouse
    orders = read_table(spark, sf_small, "orders").select("o_orderkey", "o_totalprice")
    lineitem = read_table(spark, sf_small, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    write_bucketed(orders, "b_orders", ["o_orderkey"], 4, sort_keys=["o_orderkey"])
    write_bucketed(lineitem, "b_lineitem", ["l_orderkey"], 4, sort_keys=["l_orderkey"])

    joined = (
        spark.table("b_lineitem")
        .join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    plan = joined._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    join_section = plan.split("\n\n")[0]
    # the join itself consumes the bucketing: no Exchange below the join
    join_line = next(
        i for i, ln in enumerate(join_section.splitlines()) if "Join" in ln
    )
    below_join = "\n".join(join_section.splitlines()[join_line:])
    assert "Exchange" not in below_join, plan
    # correctness unaffected
    unbucketed = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    got = {r.o_orderkey: r.qty for r in joined.collect()}
    exp = {r.o_orderkey: r.qty for r in unbucketed.collect()}
    assert got == exp


def test_zorder_value_bit_interleave(spark):
    from uk_housing_dashboard_etl_spark.sources.layout import zorder_value

    rows = [(0b11, 0b00), (0b00, 0b11), (0b101, 0b011), (0, 0)]
    df = spark.createDataFrame(rows, ["x", "y"])
    out = (
        df.select("x", "y", zorder_value(F.col("x"), F.col("y")).alias("z"))
        .toPandas()
        .set_index(["x", "y"])["z"]
    )
    assert out[(0b11, 0b00)] == 0b0101       # x fills even bit positions
    assert out[(0b00, 0b11)] == 0b1010       # y fills odd bit positions
    # x=101, y=011 -> bits (y2 x2)(y1 x1)(y0 x0) = 01 10 11 = 0b011011
    assert out[(0b101, 0b011)] == 0b011011
    assert out[(0, 0)] == 0


def test_partitioned_write_prunes_partitions_on_read(spark, tmp_path):
    """Hive-style partitioned layout must turn an equality filter into
    PARTITION pruning (directory skip), not a data filter: the scan's
    PartitionFilters carries the predicate and only the matching
    partition's files are opened."""
    from pyspark.sql import functions as F

    df = spark.range(1000).select(
        F.col("id"),
        (F.col("id") % 4).cast("int").alias("bucket"),
    )
    path = str(tmp_path / "part_events")
    df.write.mode("overwrite").partitionBy("bucket").parquet(path)

    rd = spark.read.parquet(path).where(F.col("bucket") == 2)
    plan = rd._jdf.queryExecution().executedPlan().toString()
    # the equality predicate lands in PartitionFilters (directory skip)
    # and never appears as a post-scan data Filter
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "bucket" in pf and "2" in pf
    assert "PushedFilters: []" in plan  # nothing left to push into data
    assert rd.count() == 250


def test_bucketed_pq_codes_scan_prunes_and_avoids_exchange(
    warehouse, sf_small
):
    """The SCALE.md IVF-PQ claim made physical: codes persisted
    bucketed by cell let the probe equi-join consume the bucketing —
    the codes side joins with NO Exchange below it."""
    from uk_housing_dashboard_etl_spark.operators.ivf import (
        ivf_index,
        kmeans_fit,
    )
    from uk_housing_dashboard_etl_spark.operators.pq import (
        pq_encode,
        pq_fit,
    )
    from uk_housing_dashboard_etl_spark.sources.layout import (
        read_table_bucketed,
    )

    spark = warehouse
    emb = read_table(spark, sf_small, "embeddings")
    corpus = emb.where(F.col("vec_id") >= 5)
    cents = kmeans_fit(corpus, k=4, iterations=2)
    codebooks = pq_fit(corpus, m=8, k=8, iterations=2)
    coded = pq_encode(corpus, codebooks).join(
        ivf_index(corpus, cents).select("vec_id", "cell"), "vec_id"
    )
    write_bucketed(coded, "b_pq_codes", ["cell"], 4, sort_keys=["cell"])
    try:
        codes = read_table_bucketed(spark, "b_pq_codes")
        # probe cell must match the bucketed column's INT type exactly:
        # a bigint probe forces a cast on the codes side, which makes
        # the bucketing unusable and silently re-shuffles the big side
        probes = spark.createDataFrame(
            [(0, 0), (1, 1)], ["query_id", "cell"]
        ).select("query_id", F.col("cell").cast("int")).hint(
            "shuffle_merge"
        )
        joined = codes.join(probes, "cell")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # the bucketed codes side feeds the join directly: the only
        # Exchange in the plan is on the (tiny) probe side
        segs = plan.split("SortMergeJoin")
        assert len(segs) > 1
        # count exchanges: exactly one (probe side), none for codes
        assert plan.count("Exchange hashpartitioning") == 1
        assert joined.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS b_pq_codes")
