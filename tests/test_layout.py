"""Physical layouts: the z-order key interleaves bits as documented, and
a Hive-partitioned write is read back with partition pruning."""

from __future__ import annotations

from pyspark.sql import functions as F


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
