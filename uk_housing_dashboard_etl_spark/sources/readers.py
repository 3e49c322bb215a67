"""Sources: parquet table reader, CSV dialect-sniffing reader, lookup reader.

Reference parity (SURVEY.md §2.1):
- S4 CSV/TXT parser w/ dialect sniffing  (ref ``etl/etl_main.py:122-136``)
- S5 lookup CSV scan w/ schema check     (ref ``etl/etl_main.py:179-180``)

Scale notes: the sniff reads only the first few KB on the driver, then hands
the path to ``spark.read.csv`` — the file itself is scanned partitioned and
in parallel, never materialized driver-side (unlike the reference, which
buffers the whole multi-GB text as one Python string).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from uk_housing_dashboard_etl_spark.session import SEMANTIC_CONF

SNIFF_SEPARATORS = [",", "\t", "|"]
SNIFF_BYTES = 64 * 1024


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one of the star-schema parquet tables under ``sf_dir``.

    The synthetic tables store TIMESTAMP(NANOS), which Spark's vectorized
    reader rejects; with ``spark.sql.legacy.parquet.nanosAsLong`` those
    columns surface as long nanoseconds. Detect them from the parquet
    footer (driver-side, metadata only) and convert to micro-precision
    timestamps — the same truncation DuckDB applies.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:  # session-level SQLConfs — safe to set on externally-built sessions
        for k, v in SEMANTIC_CONF.items():
            spark.conf.set(k, v)
    except Exception:
        pass
    df = spark.read.parquet(path)
    for c in _nanos_timestamp_columns(path):
        if c in df.columns:
            df = df.withColumn(
                c, F.timestamp_micros(F.expr(f"`{c}` div 1000"))
            )
    # Belt-and-braces: if the session conf could not be set (or the session
    # was built before this call with NTZ inference on), cast any NTZ
    # column to TIMESTAMP so downstream unix_micros()/interval math works.
    for f_ in df.schema.fields:
        if f_.dataType.typeName() == "timestamp_ntz":
            df = df.withColumn(f_.name, F.col(f_.name).cast("timestamp"))
    return df


def _nanos_timestamp_columns(path: str) -> list[str]:
    import pyarrow.parquet as pq
    import pyarrow.types as pat

    schema = pq.read_schema(path)
    return [
        f.name
        for f in schema
        if pat.is_timestamp(f.type) and f.type.unit == "ns"
    ]


def _sniff_separator(path: str) -> str:
    """Pick the separator that splits the header into the most fields.

    Mirrors the reference's try-each-separator heuristic (S4) but inspects
    only the head of the file on the driver; parsing is left to Spark's
    distributed CSV scan.
    """
    with open(path, "r", encoding="utf-8", errors="replace") as f:
        head = f.read(SNIFF_BYTES)
    first_line = head.splitlines()[0] if head else ""
    best_sep, best_fields = ",", 1
    for sep in SNIFF_SEPARATORS:
        n = len(first_line.split(sep))
        if n > best_fields:
            best_sep, best_fields = sep, n
    return best_sep


def read_csv_sniffed(
    spark: SparkSession, path: str, require_price_and_date: bool = False
) -> DataFrame:
    """S4: distributed CSV read with driver-side dialect sniffing.

    Every column is read as a string. ``standardize_transactions`` does the
    lenient coercions (null on failure) itself, so a schema-inference pass
    would only add a second full scan of the file, and its guesses (an
    ``int`` price, a ``date`` transfer date) would make parsing depend on
    the data rather than on the contract.

    ``require_price_and_date`` applies the reference's sanity predicate
    (a price-like and a date-like column must exist, ref
    ``etl/etl_main.py:128``) and raises otherwise.
    """
    sep = _sniff_separator(path)
    df = spark.read.option("header", True).option("sep", sep).csv(path)
    if require_price_and_date:
        cols = [c.lower() for c in df.columns]
        if not any("price" in c for c in cols) or not any("date" in c for c in cols):
            raise RuntimeError(
                "Required columns (date or price) not found in input CSV"
            )
    return df


def read_lookup_csv(spark: SparkSession, path: str) -> DataFrame:
    """S5: all-string lookup CSV (postcode → local_authority).

    Column presence is validated driver-side; caller decides the fallback
    (the reference falls back to postcode-prefix mapping, P8).
    """
    df = (
        spark.read.option("header", True)
        .option("inferSchema", False)
        .csv(path)
    )
    required = {"postcode", "local_authority"}
    if not required.issubset(set(df.columns)):
        raise ValueError(
            f"lookup CSV missing required columns {sorted(required)}; has {df.columns}"
        )
    return df
