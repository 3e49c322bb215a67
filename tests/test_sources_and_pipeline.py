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


def _clean_ppd(tmp_path) -> str:
    """60 well-formed rows: 3 postcodes (2 mapped LAs + 1 unmapped) over
    10 weeks, integer prices and plain ``YYYY-MM-DD`` dates — the shapes
    schema inference would type as ``int`` and ``date``."""
    rows = ["transaction_unique_id,price,date_of_transfer,postcode,property_type"]
    for i in range(60):
        day = 1 + (i * 5) % 70  # spread over Jan-Mar 2024
        date = f"2024-{1 + (day - 1) // 28:02d}-{1 + (day - 1) % 28:02d}"
        pc = ("AA1 1AA", "BB2 2BB", "CC3 3CC")[i % 3]
        rows.append(f"t{i},{100000 + 1000 * i},{date},{pc},{'DST'[i % 3]}")
    p = tmp_path / "ppd_clean.csv"
    p.write_text("\n".join(rows) + "\n")
    return str(p)


def _normalized_lookup(spark, tmp_path):
    from pyspark.sql import functions as F

    from uk_housing_dashboard_etl_spark.functions.cleaning import normalize_code

    lp = tmp_path / "lookup.csv"
    lp.write_text("postcode,local_authority\nAA1 1AA,Alpha\nBB2 2BB,Beta\n")
    return read_lookup_csv(spark, str(lp)).select(
        normalize_code(F.col("postcode")).alias("key"), "local_authority"
    )


def test_csv_read_is_all_strings(spark, tmp_path):
    """The CSV is read as strings (no inference pass): the cleaning layer
    owns every coercion, and the weekly mart equals the one built from an
    inferred-schema read of the same file."""
    from pyspark.sql.types import StringType

    from uk_housing_dashboard_etl_spark.operators import (
        enrich_with_lookup,
        standardize_transactions,
        weekly_mart,
    )

    path = _clean_ppd(tmp_path)
    raw = read_csv_sniffed(spark, path, require_price_and_date=True)
    assert all(isinstance(f.dataType, StringType) for f in raw.schema.fields)

    lookup = _normalized_lookup(spark, tmp_path)
    weekly = HousingPipeline(spark, raw, lookup).run()["weekly_by_la"]
    inferred = spark.read.option("header", True).option("inferSchema", True).csv(path)
    assert dict(inferred.dtypes)["price"] == "int"
    want = weekly_mart(enrich_with_lookup(standardize_transactions(inferred), lookup))
    got_rows, want_rows = sorted(weekly.collect()), sorted(want.collect())
    assert len(got_rows) == 20  # 10 weeks x 2 mapped LAs
    assert got_rows == want_rows


def test_refresh_computes_each_mart_once(spark, tmp_path):
    """A refresh collects its QA facts once and computes each mart once:
    the whole run costs a fixed number of Spark jobs, and after it
    re-reading a mart costs one job. ``qa`` and ``coverage`` are one-row
    frames of the collected facts, ``windows``, ``anomalies`` and
    ``latest`` read the materialized grid, not the CSV or a second
    densify → rolling."""
    import uuid

    sc = spark.sparkContext
    raw = read_csv_sniffed(spark, _clean_ppd(tmp_path), require_price_and_date=True)
    arts = str(tmp_path / "artifacts")

    def jobs(action) -> int:
        group = f"mart-once-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    outputs = {}
    pipe = HousingPipeline(
        spark, raw, _normalized_lookup(spark, tmp_path), PipelineConfig(artifacts_dir=arts)
    )
    # 31 while qa, coverage and latest re-derived their facts in their plans
    assert jobs(lambda: outputs.update(pipe.run())) == 27

    def noop(name):
        return lambda: outputs[name].write.format("noop").mode("overwrite").save()

    assert jobs(outputs["qa"].collect) == 1
    assert jobs(noop("windows")) == 1
    assert jobs(noop("anomalies")) == 1
    assert jobs(noop("latest")) == 1
    assert jobs(noop("coverage")) == 1


def _qa_row(outputs) -> dict:
    (row,) = outputs["qa"].collect()
    return row.asDict()


def test_refresh_without_parseable_dates_writes_every_artifact(spark, tmp_path):
    """A CSV with no parseable ``date_of_transfer`` leaves no row to
    divide coverage by: the refresh still writes all seven artifacts, and
    ``coverage_pct`` is NULL, as in the oracle, not an ANSI
    division-by-zero error raised after half the artifacts are written."""
    p = tmp_path / "ppd_bad_dates.csv"
    rows = ["transaction_unique_id,price,date_of_transfer,postcode,property_type"]
    rows += [f"t{i},{1000 * (i + 1)},not-a-date-{i},AA1 1AA,D" for i in range(7)]
    p.write_text("\n".join(rows) + "\n")
    raw = read_csv_sniffed(spark, str(p), require_price_and_date=True)
    arts = str(tmp_path / "artifacts")
    outputs = HousingPipeline(
        spark, raw, _normalized_lookup(spark, tmp_path), PipelineConfig(artifacts_dir=arts)
    ).run()

    for name in outputs:
        assert glob.glob(os.path.join(arts, name, "part-*.csv")), f"missing artifact {name}"
    assert _qa_row(outputs) == {
        "rows_raw": 7,
        "las": 0,
        "latest_week": None,
        "coverage_pct": None,
    }
    assert outputs["coverage"].collect()[0].asDict() == {
        "total_tx": 0,
        "mapped_tx": 0,
        "coverage_pct": None,
    }


def test_rows_raw_counts_csv_records_not_joined_rows(spark, tmp_path):
    """A lookup mapping one normalized key to two LAs duplicates that
    key's rows in the left join. ``coverage.total_tx`` counts the joined
    rows; ``rows_raw`` stays the CSV's record count."""
    from pyspark.sql import functions as F

    from uk_housing_dashboard_etl_spark.functions.cleaning import normalize_code

    lp = tmp_path / "lookup_dup.csv"
    # "AA1 1AA" and "aa11aa" normalize to the same key
    lp.write_text("postcode,local_authority\nAA1 1AA,Alpha\naa11aa,Gamma\nBB2 2BB,Beta\n")
    lookup = read_lookup_csv(spark, str(lp)).select(
        normalize_code(F.col("postcode")).alias("key"), "local_authority"
    )
    raw = read_csv_sniffed(spark, _clean_ppd(tmp_path), require_price_and_date=True)
    outputs = HousingPipeline(spark, raw, lookup).run()

    # 60 records: 20 each of AA1 1AA (now joined twice), BB2 2BB, CC3 3CC
    coverage = outputs["coverage"].collect()[0]
    assert (coverage["total_tx"], coverage["mapped_tx"]) == (80, 60)
    qa = _qa_row(outputs)
    assert qa["rows_raw"] == 60
    assert qa["las"] == 3
    assert qa["coverage_pct"] == coverage["coverage_pct"] == 75.0


def test_weekly_artifact_keeps_reference_order(spark, tmp_path):
    """The mart is unordered, but its ``weekly_by_la`` artifact is written
    in the reference's O1 order: by local authority, then week."""
    raw = read_csv_sniffed(spark, _clean_ppd(tmp_path), require_price_and_date=True)
    arts = str(tmp_path / "artifacts")
    HousingPipeline(
        spark, raw, _normalized_lookup(spark, tmp_path), PipelineConfig(artifacts_dir=arts)
    ).run()
    (part,) = glob.glob(os.path.join(arts, "weekly_by_la", "part-*.csv"))
    lines = open(part).read().splitlines()
    assert lines[0].startswith("week,local_authority,")
    keys = [tuple(line.split(",")[1::-1]) for line in lines[1:]]
    assert len(keys) == 20
    assert keys == sorted(keys)


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
