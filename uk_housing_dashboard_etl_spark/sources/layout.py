"""Physical layout utilities: bucketed tables for shuffle-free joins.

At 100 TB the dominant recurring cost of fact-fact joins (lineitem ⋈
orders, events ⋈ events-history) is the shuffle. Writing both sides
bucketed by the join key into the warehouse removes it permanently:
Spark's scan reports the bucketing as the output partitioning, so the
sort-merge join needs no Exchange on either side — verified by
``tests/test_layout.py`` on the actual plans.

Bucket count guidance: ~(table size / 256 MB), rounded to a power of
two shared by all co-bucketed tables; both sides must bucket on the
SAME keys with the SAME count for exchange elision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_keys: list[str],
    num_buckets: int,
    sort_keys: list[str] | None = None,
) -> None:
    """Persist ``df`` as a bucketed (optionally sorted) managed table."""
    writer = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_keys)
    if sort_keys:
        writer = writer.sortBy(*sort_keys)
    writer.saveAsTable(table_name)


def read_table_bucketed(spark: SparkSession, table_name: str) -> DataFrame:
    """Read a bucketed table (bucketing metadata rides along)."""
    return spark.table(table_name)


def zorder_value(x, y, bits: int = 16):
    """Morton/z-order key: interleave the low ``bits`` bits of two
    non-negative integer columns (x in even positions, y in odd).

    Points close in (x, y) land close in z, so range-partitioning and
    sorting files by z clusters BOTH dimensions at once — a scan with a
    predicate on either column (or a rectangle on both) prunes most
    files by their parquet min/max z footer stats, where a single-column
    sort only helps that one column. This is the layout trick behind
    Delta/Iceberg Z-ORDER compaction, expressed here as a plain column
    so it works with ``repartitionByRange`` + ``sortWithinPartitions``.

    Pure bitwise column expression (2·bits shift/mask/or terms inside
    whole-stage codegen) — no UDF. Inputs must be non-negative and fit
    in ``bits`` bits; the caller quantizes wider domains first (e.g.
    days-since-epoch, value/width bucket ids).
    """
    from pyspark.sql import functions as F

    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z.bitwiseOR(
                F.shiftleft(F.shiftright(x.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i)
            ).bitwiseOR(
                F.shiftleft(
                    F.shiftright(y.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i + 1
                )
            )
        )
    return z


def zorder_sql(x: str, y: str, bits: int = 16) -> str:
    """The identical Morton interleave as DuckDB SQL (for oracles)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)
