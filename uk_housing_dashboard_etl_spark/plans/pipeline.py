"""Full-pipeline assembly — the reference's ``main()`` as one lazy DAG.

Reference parity: ``etl/etl_main.py:320-403``. Stages:
raw → standardize (P1-P9) → enrich (J1) → weekly mart (W1+A1-A4) +
type breakdown (A5) + coverage (A9) → densify (J2) → rolling (W2-W4) →
anomalies (W5) → latest snapshot (P10/A7) → QA (A8-A10) → CSV artifacts (S6).

Like the reference, each mart is computed once; unlike it (eager,
stage-by-stage ``df.copy()``), the stages are one lazy plan with four
materialization points:

- ``enriched`` (cleaned + joined transactions), read by the weekly mart,
  the type breakdown and coverage;
- the weekly mart, cached in ``run``, read three times by the grid (week
  bounds, LAs, join) and by its artifact;
- the refresh facts (``snapshot.refresh_facts``), collected in ``run``
  before any artifact is written: ``rows_raw`` from a count-only scan of
  the raw input, coverage from ``coverage_report`` over ``enriched``
  (filling that cache) and the LA count and latest week from the weekly
  mart (filling that one). The ``coverage`` and ``qa`` artifacts are
  one-row frames of these values;
- the anomalies grid (densify → rolling → z-scores), of which ``windows``
  is a projection and ``latest`` that projection's rows of the collected
  latest week.

The ``weekly_by_la`` artifact keeps the reference's O1 row order
(``local_authority``, ``week``; ref ``etl/etl_main.py:228``). The mart
itself is unordered: the sort runs within the artifact's single
partition, with no range-partition sample job and no exchange.

A failed artifact write fails the run: a refresh never reports success
with a partial artifact set.

The dashboard registry (``contract._mart``) serves these outputs: it
holds one run per input version, and its panels read them by name.
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
    rolling_windows,
    standardize_transactions,
    type_breakdown,
    weekly_mart,
)
from uk_housing_dashboard_etl_spark.operators.rolling import OUTPUT_COLS as ROLLING_COLS
from uk_housing_dashboard_etl_spark.operators.snapshot import (
    COVERAGE_COLUMNS,
    QA_COLUMNS,
    fact_row,
    refresh_facts,
    week_rows,
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
        weekly = weekly_mart(self.enriched, approx=cfg.approx_percentiles).cache()
        facts = refresh_facts(self.raw, weekly, coverage_report(self.enriched))
        anomalies = detect_anomalies(
            rolling_windows(densify_weekly_grid(weekly), cfg.windows), cfg.z_thresh
        ).cache()
        windows_df = anomalies.select(*ROLLING_COLS)
        outputs = {
            "weekly_by_la": weekly,
            "type_breakdown": type_breakdown(self.enriched),
            "coverage": fact_row(self.spark, facts, COVERAGE_COLUMNS),
            "windows": windows_df,
            "anomalies": anomalies,
            "latest": week_rows(windows_df, facts["latest_week"]),
            "qa": fact_row(self.spark, facts, QA_COLUMNS),
        }
        if cfg.artifacts_dir:
            artifacts = dict(
                outputs,
                weekly_by_la=weekly.coalesce(1).sortWithinPartitions(
                    "local_authority", "week"
                ),
            )
            for name, df in artifacts.items():
                write_csv_artifact(df, os.path.join(cfg.artifacts_dir, name))
        return outputs
