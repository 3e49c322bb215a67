from uk_housing_dashboard_etl_spark.streaming.weekly_stream import (
    weekly_stream,
    run_stream_once,
    run_stream_to_parquet,
)
from uk_housing_dashboard_etl_spark.streaming.funnel_stream import (
    funnel_stream,
)
from uk_housing_dashboard_etl_spark.streaming.attribution_stream import (
    attribution_stream,
)

__all__ = [
    "weekly_stream",
    "run_stream_once",
    "run_stream_to_parquet",
    "funnel_stream",
    "attribution_stream",
]
