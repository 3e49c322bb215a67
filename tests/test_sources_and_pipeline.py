"""S4/S5/S6 sources+sinks and the full HousingPipeline assembly."""

from __future__ import annotations

import glob
import os

import pytest

from uk_housing_dashboard_etl_spark.plans import HousingPipeline, PipelineConfig
from uk_housing_dashboard_etl_spark.sources.readers import (
    read_csv_sniffed,
    read_lookup_csv,
)
from uk_housing_dashboard_etl_spark.sources.sinks import (
    serialize_for_sheet,
    write_csv_artifact,
)

PPD_ROWS = [
    "transaction_unique_id{d}price{d}date_of_transfer{d}postcode{d}property_type",
    "t1{d}100000{d}2024-01-01{d}AA1 1AA{d}D",
    "t2{d}not_a_price{d}2024-01-02{d}BB2 2BB{d}S",
    "t3{d}250000{d}bad-date{d}AA1 1AA{d}T",
]


@pytest.mark.parametrize("sep,name", [(",", "comma"), ("\t", "tab"), ("|", "pipe")])
def test_csv_dialect_sniffing(spark, tmp_path, sep, name):
    p = tmp_path / f"ppd_{name}.csv"
    p.write_text("\n".join(r.format(d=sep) for r in PPD_ROWS))
    df = read_csv_sniffed(spark, str(p), require_price_and_date=True)
    assert len(df.columns) == 5
    assert df.count() == 3


def test_csv_sniffing_sanity_predicate(spark, tmp_path):
    p = tmp_path / "bad.csv"
    p.write_text("a,b\n1,2\n")
    with pytest.raises(RuntimeError, match="date or price"):
        read_csv_sniffed(spark, str(p), require_price_and_date=True)


def test_lookup_schema_validation(spark, tmp_path):
    good = tmp_path / "lookup.csv"
    good.write_text("postcode,local_authority\nAA1 1AA,Alpha\n")
    assert read_lookup_csv(spark, str(good)).count() == 1
    bad = tmp_path / "bad_lookup.csv"
    bad.write_text("pc,la\nAA1 1AA,Alpha\n")
    with pytest.raises(ValueError, match="missing required columns"):
        read_lookup_csv(spark, str(bad))


def test_full_pipeline_end_to_end(spark, tmp_path):
    p = tmp_path / "ppd.csv"
    p.write_text("\n".join(r.format(d=",") for r in PPD_ROWS))
    raw = read_csv_sniffed(spark, str(p), require_price_and_date=True)
    lp = tmp_path / "lookup.csv"
    lp.write_text("postcode,local_authority\nAA1 1AA,Alpha\nBB2 2BB,Beta\n")
    lookup_raw = read_lookup_csv(spark, str(lp))
    from pyspark.sql import functions as F

    from uk_housing_dashboard_etl_spark.functions.cleaning import normalize_code

    lookup = lookup_raw.select(
        normalize_code(F.col("postcode")).alias("key"), "local_authority"
    )
    arts = str(tmp_path / "artifacts")
    pipe = HousingPipeline(
        spark, raw, lookup, PipelineConfig(windows=[2], artifacts_dir=arts)
    )
    outputs = pipe.run()
    weekly = outputs["weekly_by_la"].toPandas()
    assert set(weekly["local_authority"]) == {"Alpha", "Beta"}
    # bad date dropped, bad price nulled but row kept
    assert weekly["transactions"].sum() == 2
    qa = outputs["qa"].collect()[0]
    assert qa["rows_raw"] == 3 and qa["las"] == 2
    # S6 artifacts on disk, one folder per mart, with headers
    for name in ["weekly_by_la", "windows", "anomalies", "latest", "qa"]:
        files = glob.glob(os.path.join(arts, name, "*.csv"))
        assert files, f"missing artifact {name}"


def test_artifact_write_failure_fails_the_refresh(spark, tmp_path):
    """An artifact that cannot be written fails the run: ``run()`` raises
    and the CLI does not exit 0 with a partial artifact set."""
    p = tmp_path / "ppd.csv"
    p.write_text("\n".join(r.format(d=",") for r in PPD_ROWS))
    blocker = tmp_path / "not_a_dir"
    blocker.write_text("a regular file")
    arts = str(blocker / "artifacts")  # a directory under a regular file

    raw = read_csv_sniffed(spark, str(p), require_price_and_date=True)
    pipe = HousingPipeline(spark, raw, None, PipelineConfig(artifacts_dir=arts))
    with pytest.raises(Exception):
        pipe.run()

    from uk_housing_dashboard_etl_spark.__main__ import main

    # the CLI's get_spark reuses this session and resets its shuffle
    # partitions to the CLI default; later tests read that setting
    shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        rc = main(["--input", str(p), "--artifacts-dir", arts, "--no-upload"])
    except Exception:
        rc = None
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", shuffle)
    assert rc != 0


def test_serialize_for_sheet_nulls_and_strings(spark):
    df = spark.createDataFrame([(1, None, 2.5)], "a long, b string, c double")
    out = serialize_for_sheet(df).collect()[0]
    assert out["a"] == "1" and out["b"] == "" and out["c"] == "2.5"


def test_write_csv_artifact_roundtrip(spark, tmp_path):
    df = spark.range(5).withColumnRenamed("id", "x")
    path = str(tmp_path / "out")
    write_csv_artifact(df, path)
    back = spark.read.option("header", True).csv(path)
    assert back.count() == 5 and back.columns == ["x"]


def test_orc_and_jsonl_roundtrip(spark, sf_small, tmp_path):
    from uk_housing_dashboard_etl_spark.sources.readers import read_table
    from uk_housing_dashboard_etl_spark.sources.sinks import (
        read_orc,
        write_jsonl,
        write_orc,
    )

    ev = read_table(spark, sf_small, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    orc_path = str(tmp_path / "ev_orc")
    write_orc(ev, orc_path, partition_by=["event_type"])
    back = read_orc(spark, orc_path)
    assert back.count() == ev.count()
    # partitioned layout: per-type filter answered from one directory
    assert back.where("event_type = 'click'").count() == ev.where(
        "event_type = 'click'"
    ).count()

    jl_path = str(tmp_path / "ev_jsonl")
    write_jsonl(ev, jl_path, compression=None)
    back_j = spark.read.json(jl_path)
    assert back_j.count() == ev.count()
    assert {r["event_id"] for r in back_j.select("event_id").collect()} == {
        r["event_id"] for r in ev.select("event_id").collect()
    }


def test_write_to_bigquery_plumbing(spark, monkeypatch):
    """S8 shim (ref etl_main.py:304-316): fake the DataFrameWriter chain
    and assert the connector format, table id, mode, and save() call —
    the whole surface the one-line shim owns."""
    from uk_housing_dashboard_etl_spark.sources.sinks import write_to_bigquery

    rec: dict = {}

    class FakeWriter:
        def format(self, f):
            rec["format"] = f
            return self

        def option(self, k, v):
            rec.setdefault("options", {})[k] = v
            return self

        def mode(self, m):
            rec["mode"] = m
            return self

        def save(self):
            rec["saved"] = True

    df = spark.createDataFrame([(1, "a")], "id long, name string")
    # patch the CONCRETE class (pyspark.sql.classic.DataFrame overrides
    # the base class's `write` property)
    monkeypatch.setattr(
        type(df), "write", property(lambda self: FakeWriter())
    )
    write_to_bigquery(df, "proj.dataset.windows")
    assert rec == {
        "format": "bigquery",
        "options": {"table": "proj.dataset.windows"},
        "mode": "overwrite",
        "saved": True,
    }


def test_write_to_google_sheets_fake_client(spark, monkeypatch):
    """S7 shim: fake googleapiclient service records the clear+update
    calls; serialization (nulls→"", all strings) rides through end-to-end."""
    import sys
    import types

    from uk_housing_dashboard_etl_spark.sources import sinks

    calls: list = []

    class FakeValues:
        def clear(self, spreadsheetId, range):
            calls.append(("clear", spreadsheetId, range))
            return self

        def update(self, spreadsheetId, range, valueInputOption, body):
            calls.append(("update", spreadsheetId, range, valueInputOption, body))
            return self

        def execute(self):
            return {}

    class FakeSheet:
        def values(self):
            return FakeValues()

    class FakeService:
        def spreadsheets(self):
            return FakeSheet()

    fake_discovery = types.ModuleType("googleapiclient.discovery")
    fake_discovery.build = lambda api, ver, credentials: FakeService()
    fake_pkg = types.ModuleType("googleapiclient")
    fake_pkg.discovery = fake_discovery
    monkeypatch.setitem(sys.modules, "googleapiclient", fake_pkg)
    monkeypatch.setitem(sys.modules, "googleapiclient.discovery", fake_discovery)

    df = spark.createDataFrame([(1, None), (2, 3.5)], "id long, price double")
    sinks.write_to_google_sheets({"weekly": df}, "sheet-1", creds=None)

    assert ("clear", "sheet-1", "weekly") in calls
    update = [c for c in calls if c[0] == "update"][0]
    assert update[1:4] == ("sheet-1", "weekly!A1", "RAW")
    values = update[4]["values"]
    assert values[0] == ["id", "price"]
    assert ["1", ""] in values and ["2", "3.5"] in values
