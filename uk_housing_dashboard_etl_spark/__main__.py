"""CLI entry point — the reference's daily batch run, Spark-native.

Mirrors ``etl/etl_main.py:320-403``'s interface so a reference user can
switch with their existing flags:

    python -m uk_housing_dashboard_etl_spark \
        --input lookups/pp.csv --lookup lookups/uk_postcode_to_la.csv \
        --windows 4 12 --artifacts-dir artifacts --no-upload

``--url`` + ``--cache-file`` enable the reference's download-with-cache
path (``--force-download`` busts the 24 h TTL); ``--input`` skips the
network entirely. A failed artifact write fails the run (non-zero exit);
the optional Sheets/BigQuery uploads stay best-effort like the reference's
(ref ``etl_main.py:372-401``): their failures log and continue.
"""

from __future__ import annotations

import argparse
import json
import logging
import sys

logger = logging.getLogger("uk_housing_dashboard_etl_spark")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        description="PySpark ETL for HM Land Registry Price Paid Data"
    )
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="local CSV/TXT path (skips download)")
    src.add_argument("--url", help="HTTP(S) source to download with caching")
    p.add_argument("--cache-file", default="cache/pp-complete-latest.txt")
    p.add_argument("--backup-dir", default=None)
    p.add_argument("--force-download", action="store_true")
    p.add_argument("--lookup", help="postcode->local_authority CSV", default=None)
    p.add_argument("--windows", nargs="*", type=int, default=[4, 12])
    p.add_argument("--z-thresh", type=float, default=3.0)
    p.add_argument("--artifacts-dir", default="artifacts")
    p.add_argument("--no-upload", action="store_true")
    p.add_argument("--bq-table", default=None)
    p.add_argument("--sheet-id", default=None)
    p.add_argument("--approx-percentiles", action="store_true",
                   help="100TB degradation: percentile_approx instead of exact")
    args = p.parse_args(argv)
    logging.basicConfig(level=logging.INFO, format="%(asctime)s %(levelname)s %(message)s")

    from pyspark.sql import functions as F

    from uk_housing_dashboard_etl_spark.functions.cleaning import normalize_code
    from uk_housing_dashboard_etl_spark.plans import HousingPipeline, PipelineConfig
    from uk_housing_dashboard_etl_spark.session import get_spark
    from uk_housing_dashboard_etl_spark.sources.ingest import download_to_landing
    from uk_housing_dashboard_etl_spark.sources.readers import (
        read_csv_sniffed,
        read_lookup_csv,
    )

    spark = get_spark(app_name="uk-housing-etl-cli")
    path = args.input or download_to_landing(
        args.url, args.cache_file, force=args.force_download, backup_dir=args.backup_dir
    )
    raw = read_csv_sniffed(spark, path, require_price_and_date=True)

    lookup = None
    if args.lookup:
        try:
            lookup_raw = read_lookup_csv(spark, args.lookup)
            lookup = lookup_raw.select(
                normalize_code(F.col("postcode")).alias("key"),
                F.col("local_authority"),
            )
        except ValueError:
            logger.warning(
                "lookup CSV missing required columns; falling back to postcode prefix"
            )

    cfg = PipelineConfig(
        windows=args.windows,
        z_thresh=args.z_thresh,
        approx_percentiles=args.approx_percentiles,
        artifacts_dir=args.artifacts_dir,
    )
    outputs = HousingPipeline(spark, raw, lookup, cfg).run()

    qa = outputs["qa"].collect()[0].asDict()
    qa["latest_week"] = str(qa.get("latest_week"))
    logger.info("QA: %s", json.dumps(qa, default=str))

    if not args.no_upload:
        if args.sheet_id:
            try:
                from uk_housing_dashboard_etl_spark.sources.sinks import (
                    write_to_google_sheets,
                )

                write_to_google_sheets(outputs, args.sheet_id, creds=None)
            except Exception:
                logger.exception("Sheets upload failed (continuing)")
        if args.bq_table:
            try:
                from uk_housing_dashboard_etl_spark.sources.sinks import write_to_bigquery

                write_to_bigquery(outputs["windows"], args.bq_table)
            except Exception:
                logger.exception("BigQuery upload failed (continuing)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
