"""Sinks: CSV artifacts (S6), export serialization (P12), optional
Sheets/BigQuery shims (S7/S8).

Reference parity (SURVEY.md §2.1): the reference writes 4-5 small mart
tables to ``artifacts/*.csv`` (ref ``etl/etl_main.py:388-401``), serializes
NaN→"" all-string for Sheets (ref ``etl/etl_main.py:292``), and loads one
frame to BigQuery (ref ``etl/etl_main.py:304-316``).

Scale notes: marts are small (weeks × LAs), so each artifact is written
as a single CSV file via ``coalesce(1)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_csv_artifact(df: DataFrame, path: str) -> None:
    """S6: header CSV artifact, coalesced to one partition (one file per
    mart, as the reference's ``artifacts/*.csv``)."""
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(path)


def serialize_for_sheet(df: DataFrame) -> DataFrame:
    """P12: NaN/null→"" and every column cast to string — the reference's
    Google Sheets serialization (ref ``etl/etl_main.py:292``)."""
    return df.select(
        [F.coalesce(F.col(c).cast("string"), F.lit("")).alias(c) for c in df.columns]
    )


def write_to_google_sheets(dfs_by_tab: dict[str, DataFrame], sheet_id: str, creds) -> None:
    """S7 shim: marts are tiny, so collect driver-side and push via the
    Sheets API. Import is gated — the client library is optional."""
    try:
        from googleapiclient.discovery import build  # type: ignore
    except Exception as exc:  # pragma: no cover - optional dep
        raise RuntimeError("google-api-python-client not available") from exc
    service = build("sheets", "v4", credentials=creds)
    sheet = service.spreadsheets()
    for tab, df in dfs_by_tab.items():
        sdf = serialize_for_sheet(df)
        values = [sdf.columns] + [list(r) for r in sdf.collect()]
        try:
            sheet.values().clear(spreadsheetId=sheet_id, range=tab).execute()
        except Exception:
            pass
        sheet.values().update(
            spreadsheetId=sheet_id,
            range=f"{tab}!A1",
            valueInputOption="RAW",
            body={"values": values},
        ).execute()


def write_to_bigquery(df: DataFrame, table_id: str) -> None:
    """S8 shim: prefer the spark-bigquery-connector when present (executor-
    parallel load); no driver-side pandas round-trip at scale."""
    df.write.format("bigquery").option("table", table_id).mode("overwrite").save()
