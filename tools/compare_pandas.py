"""Head-to-head: this engine vs the reference's execution model.

The reference executes the pipeline as eager single-threaded pandas
(ref ``etl/etl_main.py``: full-frame copies per stage, per-group Python
loops for z-scores). This harness runs BOTH implementations of the same
pipeline — an independent pandas re-implementation of the reference
semantics, and this engine — on identical fabricated data, and prints
the wall-clock per engine per size.

Usage: python tools/compare_pandas.py [rows ...]   (default: 2M 20M)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from uk_housing_dashboard_etl_spark.session import get_spark  # noqa: E402

OUT = "/tmp/spark_graft_compare"


def fabricate(spark, n_rows: int, n_users: int, path: str) -> None:
    """Deterministic synthetic events: 2 years of data, Zipf-ish user
    skew (user 0 gets ~100x the traffic via a squared transform)."""
    df = spark.range(n_rows).select(
        F.col("id").alias("event_id"),
        F.timestamp_micros(
            F.lit(1704067200_000000)  # 2024-01-01
            + (F.col("id") * 104729) % (730 * 86400 * 1_000_000)
        ).alias("ts"),
        (
            F.pow((F.col("id") * 2654435761 % 1000003) / 1000003.0, 2.0)
            * n_users
        ).cast("long").alias("user_id"),
        F.element_at(
            F.array(*[F.lit(x) for x in ["click", "view", "purchase", "signup", "error"]]),
            (F.col("id") % 5 + 1).cast("int"),
        ).alias("event_type"),
        ((F.col("id") * 48271 % 99991) / 99991.0 * 490.0 + 0.01).alias("value"),
        F.lit('{"k": 1}').alias("props"),
    )
    df.write.mode("overwrite").parquet(path)


def pandas_pipeline(pdf: pd.DataFrame, lookup: dict[int, str]) -> dict[str, float]:
    """Reference-shaped eager pandas run (weekly mart → grid → rolling →
    z-scores), written independently against the same semantics."""
    times: dict[str, float] = {}
    t0 = time.time()
    df = pdf.copy()
    df["local_authority"] = df["user_id"].map(lookup)
    df = df[df["local_authority"].notna()]
    df["week"] = df["ts"].dt.to_period("W").dt.start_time
    weekly = (
        df.groupby(["week", "local_authority"])
        .agg(
            transactions=("event_id", "nunique"),
            price_mean=("value", "mean"),
            price_median=("value", "median"),
            price_p10=("value", lambda s: np.nanpercentile(s.dropna(), 10)),
            price_p90=("value", lambda s: np.nanpercentile(s.dropna(), 90)),
        )
        .reset_index()
    )
    times["weekly_mart"] = round(time.time() - t0, 2)

    t0 = time.time()
    las = weekly["local_authority"].unique()
    all_weeks = pd.date_range(weekly["week"].min(), weekly["week"].max(), freq="W-MON")
    grid = pd.MultiIndex.from_product(
        [all_weeks, las], names=["week", "local_authority"]
    )
    dense = (
        pd.DataFrame(index=grid)
        .reset_index()
        .merge(weekly, on=["week", "local_authority"], how="left")
        .fillna({"transactions": 0})
        .sort_values(["local_authority", "week"])
    )
    pieces = []
    for w in [4, 12]:
        m = dense.copy()
        g = m.groupby("local_authority")
        m["rolling_trans"] = g["transactions"].transform(
            lambda s: s.rolling(w, min_periods=1).sum()
        )
        m["rolling_price_mean"] = g["price_mean"].transform(
            lambda s: s.rolling(w, min_periods=1).mean()
        )
        m["window_weeks"] = w
        pieces.append(m)
    windows_df = pd.concat(pieces, ignore_index=True)
    out = []
    for _, g in windows_df.groupby("local_authority"):
        t = g["transactions"].fillna(0)
        g = g.copy()
        g["z"] = 0.0 if (t.std() == 0 or np.isnan(t.std())) else (t - t.mean()) / t.std()
        out.append(g)
    pd.concat(out, ignore_index=True)
    times["densify_rolling_anomalies"] = round(time.time() - t0, 2)
    return times


def main() -> None:
    sizes = [int(s) for s in sys.argv[1:]] or [2_000_000, 20_000_000]
    spark = get_spark(app_name="compare")
    spark.sparkContext.setLogLevel("ERROR")
    for n in sizes:
        path = f"{OUT}/events_{n}"
        fabricate(spark, n, n_users=max(1000, n // 100), path=path)

        # ONE end-to-end pipeline pass (weekly mart cached, as the
        # pipeline caches it, so the fact aggregation runs exactly once —
        # same as pandas).
        # BEST OF TWO passes per engine: the first pass pays one-time
        # JVM/codegen warmup that a long-lived deployment amortizes, and
        # single-shot numbers were measured swinging 3x on ambient VM
        # noise (56s vs 18s for the SAME pipeline in one session).
        from pyspark.sql import functions as SF

        from uk_housing_dashboard_etl_spark.operators import (
            densify_weekly_grid,
            detect_anomalies,
            enrich_with_lookup,
            rolling_windows,
            standardize_transactions,
            weekly_mart,
        )

        ev = spark.read.parquet(path)
        raw = ev.select(
            SF.col("event_id").alias("transaction_unique_id"),
            SF.col("ts").alias("date_of_transfer"),
            SF.col("value").alias("price"),
            SF.col("user_id").alias("postcode"),
            SF.col("event_type").alias("property_type"),
        )
        lk = spark.range(0, 100000).select(
            SF.col("id").cast("string").alias("key"),
            SF.concat(SF.lit("LA_"), (SF.col("id") % 400).cast("string")).alias(
                "local_authority"
            ),
        )
        spark_times = {}
        for _ in range(2):
            t0 = time.time()
            weekly = weekly_mart(
                enrich_with_lookup(standardize_transactions(raw), lk)
            ).cache()
            detect_anomalies(
                rolling_windows(densify_weekly_grid(weekly))
            ).count()
            elapsed = round(time.time() - t0, 2)
            spark_times["pipeline"] = min(
                spark_times.get("pipeline", elapsed), elapsed
            )
            spark.catalog.clearCache()  # the weekly cache: no carryover
        spark_core = spark_times["pipeline"]

        t0 = time.time()
        pdf = pd.read_parquet(path)
        load_s = round(time.time() - t0, 2)
        lookup = {i: f"LA_{i % 400}" for i in range(100000)}
        pd_times = pandas_pipeline(pdf, lookup)
        pd2 = pandas_pipeline(pdf, lookup)
        if sum(pd2.values()) < sum(pd_times.values()):
            pd_times = pd2
        pd_core = round(sum(pd_times.values()), 2)

        print(
            json.dumps(
                {
                    "rows": n,
                    "spark_core_sec": spark_core,
                    "pandas_core_sec": pd_core,
                    "pandas_load_sec": load_s,
                    "speedup": round((pd_core + load_s) / max(spark_core, 1e-9), 2),
                    "spark_stages": spark_times,
                    "pandas_stages": pd_times,
                }
            )
        )
    shutil.rmtree(OUT, ignore_errors=True)


if __name__ == "__main__":
    main()
