"""Full-pipeline assembly — the reference's ``main()`` as one lazy DAG.

Reference parity: ``etl/etl_main.py:320-403``. Stages:
raw → standardize (P1-P9) → enrich (J1) → weekly mart (W1+A1-A4) +
type breakdown (A5) + coverage (A9) → densify (J2) → rolling (W2-W4) →
anomalies (W5) → latest snapshot (P10/A7) → QA (A8-A10) → CSV artifacts (S6).

Unlike the reference (eager, stage-by-stage full materialization via
``df.copy()``), everything here is ONE lazy logical plan with a single
explicit ``cache()`` on the cleaned+enriched transactions (consumed by
three marts) — Catalyst pipelines the rest. A failed artifact write
fails the run: a refresh never reports success with a partial artifact
set.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from uk_housing_dashboard_etl_spark.operators import (
    coverage_report,
    densify_weekly_grid,
    detect_anomalies,
    enrich_with_lookup,
    latest_snapshot,
    qa_metrics,
    rolling_windows,
    standardize_transactions,
    type_breakdown,
    weekly_mart,
)
from uk_housing_dashboard_etl_spark.sources.sinks import write_csv_artifact


@dataclass
class PipelineConfig:
    """CLI-equivalent knobs (ref ``etl/etl_main.py:321-326``)."""

    windows: list[int] = field(default_factory=lambda: [4, 12])
    z_thresh: float = 3.0
    approx_percentiles: bool = False  # 100 TB opt-in degradation
    artifacts_dir: str | None = None


class HousingPipeline:
    """Declarative assembly of every mart the reference produces."""

    def __init__(
        self,
        spark: SparkSession,
        raw: DataFrame,
        lookup: DataFrame | None = None,
        config: PipelineConfig | None = None,
    ):
        self.spark = spark
        self.config = config or PipelineConfig()
        self.raw = raw
        tx = standardize_transactions(raw)
        self.enriched = enrich_with_lookup(tx, lookup).cache()

    def run(self) -> dict[str, DataFrame]:
        cfg = self.config
        weekly = weekly_mart(self.enriched, approx=cfg.approx_percentiles)
        breakdown = type_breakdown(self.enriched)
        coverage = coverage_report(self.enriched)
        dense = densify_weekly_grid(weekly)
        windows_df = rolling_windows(dense, cfg.windows)
        anomalies = detect_anomalies(windows_df, cfg.z_thresh)
        latest = latest_snapshot(windows_df)
        qa = qa_metrics(self.raw, weekly, coverage)
        outputs = {
            "weekly_by_la": weekly,
            "type_breakdown": breakdown,
            "coverage": coverage,
            "windows": windows_df,
            "anomalies": anomalies,
            "latest": latest,
            "qa": qa,
        }
        if cfg.artifacts_dir:
            for name, df in outputs.items():
                write_csv_artifact(df, os.path.join(cfg.artifacts_dir, name))
        return outputs
