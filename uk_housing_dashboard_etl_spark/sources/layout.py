"""Physical layout utilities: the z-order (Morton) key.

``zorder_value`` is the key as a Spark column expression and
``zorder_sql`` the same interleave as DuckDB SQL for oracles; the
registry's ``zorder_cells`` query and its oracle use them. Partitioned
writes need no helper here: ``DataFrameWriter.partitionBy`` already
gives directory pruning on read (``tests/test_layout.py`` checks it).
"""


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
