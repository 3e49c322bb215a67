"""Workload ``full_refresh``: the reference's daily job, one client, closed loop.

Each operation reads the Price-Paid CSV and the lookup CSV, runs
``HousingPipeline(...).run()`` writing all seven CSV artifacts, and
collects the QA row. Spark's cache is cleared before each operation
because every real daily run is a fresh process. It is the only
workload that runs the CSV readers, the mart chain over the whole
LA × week grid and the single-file CSV sinks; the incremental, streaming
and registry layers do none. At this input size the Spark tasks are
about a fifth of a refresh's CPU: JIT compilation in the fresh JVM and
the driver-side cost of ~50 Spark jobs take most of the rest (README.md).

Every artifact of every operation is compared, outside the timed region,
with an independent DuckDB computation of the same marts from the same
input files.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import duckdb
import numpy as np
import pandas as pd

import gen
from tracing import (
    counters_for,
    cpu_seconds,
    duration,
    failed_tasks_by_layer,
    jit_cpu_between,
    jit_threads,
    median,
    min_ops,
    peak_rss_mb,
    reset_peak_rss,
    traced_op,
    tracing_overhead,
    tree_bytes,
)

ROWS = 20_000
N_LAS = 330
YEARS = 4
N_POSTCODES = 200_000
WINDOWS = [4, 12]
Z_THRESH = 3.0
MIN_OPS = 3  # untraced runs time at least this many refreshes

MART_OPERATORS = (
    "enrich_with_lookup",
    "weekly_mart",
    "type_breakdown",
    "coverage_report",
    "densify_weekly_grid",
    "rolling_windows",
    "detect_anomalies",
    "latest_snapshot",
    "qa_metrics",
)

# the seven artifacts, with the sort keys that make their row order canonical
KEYS = {
    "weekly_by_la": ["local_authority", "week"],
    "type_breakdown": ["local_authority", "week", "prop_type"],
    "coverage": [],
    "windows": ["local_authority", "week", "window_weeks"],
    "anomalies": ["local_authority", "week", "window_weeks"],
    "latest": ["local_authority", "window_weeks"],
    "qa": [],
}
OUTPUTS = tuple(KEYS)


def _refresh(ctx, ppd: str, lookup_csv: str, artifacts: str):
    """One daily run through the package's public functions."""
    from pyspark.sql import functions as F

    from uk_housing_dashboard_etl_spark.functions.cleaning import normalize_code
    from uk_housing_dashboard_etl_spark.plans import HousingPipeline, PipelineConfig
    from uk_housing_dashboard_etl_spark.sources.readers import (
        read_csv_sniffed,
        read_lookup_csv,
    )

    spark, tr = ctx.spark, ctx.tracer
    with tr.span("full_refresh.refresh"):
        with tr.span("readers.read_csv_sniffed"):
            raw = read_csv_sniffed(spark, ppd, require_price_and_date=True)
        with tr.span("readers.read_lookup_csv"):
            lookup = read_lookup_csv(spark, lookup_csv).select(
                normalize_code(F.col("postcode")).alias("key"),
                F.col("local_authority"),
            )
        with tr.span("pipeline.run"):
            config = PipelineConfig(windows=WINDOWS, z_thresh=Z_THRESH, artifacts_dir=artifacts)
            outputs = HousingPipeline(spark, raw, lookup, config).run()
            qa = outputs["qa"].collect()
    return qa


# ------------------------------------------------------------ reference


def reference(ppd: str, lookup_csv: str) -> dict[str, pd.DataFrame]:
    """The seven marts computed by DuckDB straight from the input files.

    Semantics follow the package's documented contract: unparseable dates
    drop the row, unparseable prices become NULL, keys are upper-cased
    with whitespace removed, the weekly mean is the exact 1e-4-unit mean,
    percentiles are exact with linear interpolation, the grid spans the
    global min→max week, z-scores use the sample deviation pooled per LA.
    """
    con = duckdb.connect()
    con.execute(
        f"""
        CREATE TABLE enriched AS
        WITH raw AS (
            SELECT * FROM read_csv('{ppd}', header = true, all_varchar = true)
        ), lk AS (
            SELECT upper(regexp_replace(postcode, '\\s+', '', 'g')) AS key,
                   local_authority
            FROM read_csv('{lookup_csv}', header = true, all_varchar = true)
        )
        SELECT try_strptime(date_of_transfer, '%Y-%m-%d %H:%M') AS date,
               transaction_unique_identifier AS transaction_id,
               TRY_CAST(price AS DOUBLE) AS price,
               lower(trim(property_type)) AS prop_type,
               lk.local_authority
        FROM raw
        LEFT JOIN lk ON upper(regexp_replace(coalesce(raw.postcode, ''), '\\s+', '', 'g')) = lk.key
        WHERE try_strptime(date_of_transfer, '%Y-%m-%d %H:%M') IS NOT NULL
        """
    )
    rows_raw = con.sql(f"SELECT count(*) FROM read_csv('{ppd}', header = true, all_varchar = true)").fetchone()[0]
    con.execute(
        """
        CREATE TABLE weekly AS
        SELECT date_trunc('week', date) AS week, local_authority,
               count(DISTINCT transaction_id) AS transactions,
               (CAST(sum(CAST(round(price * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0)
                   / count(price) AS price_mean,
               quantile_cont(price, 0.5) AS price_median,
               quantile_cont(price, 0.1) AS price_p10,
               quantile_cont(price, 0.9) AS price_p90
        FROM enriched WHERE local_authority IS NOT NULL
        GROUP BY 1, 2
        """
    )
    rolled = " UNION ALL ".join(
        f"""
        SELECT week, local_authority, transactions,
               sum(transactions) OVER f{w} AS rolling_trans, price_mean,
               (CAST(sum(CAST(round(price_mean * 10000.0) AS BIGINT)) OVER f{w} AS DOUBLE)
                   / 10000.0) / count(price_mean) OVER f{w} AS rolling_price_mean,
               {w} AS window_weeks
        FROM dense
        WINDOW f{w} AS (PARTITION BY local_authority ORDER BY week
                     ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW)
        """
        for w in WINDOWS
    )
    con.execute(
        f"""
        CREATE TABLE windows AS
        WITH grid AS (
            SELECT unnest(generate_series(min(week), max(week), INTERVAL 7 DAY)) AS week
            FROM weekly
        ), dense AS (
            SELECT g.week, l.local_authority,
                   coalesce(w.transactions, 0) AS transactions, w.price_mean
            FROM grid g
            CROSS JOIN (SELECT DISTINCT local_authority FROM weekly) l
            LEFT JOIN weekly w USING (week, local_authority)
        )
        {rolled}
        """
    )
    z = """CASE WHEN coalesce(stddev_samp({c}) OVER la, 0) = 0 THEN 0.0
                ELSE ({c} - avg({c}) OVER la) / stddev_samp({c}) OVER la END"""
    out = {
        "weekly_by_la": con.sql("SELECT * FROM weekly").df(),
        "type_breakdown": con.sql(
            """SELECT date_trunc('week', date) AS week, local_authority, prop_type,
                      count(*) AS count
               FROM enriched
               WHERE local_authority IS NOT NULL AND prop_type IS NOT NULL
               GROUP BY 1, 2, 3"""
        ).df(),
        "coverage": con.sql(
            """SELECT count(*) AS total_tx, count(local_authority) AS mapped_tx,
                      100.0 * count(local_authority) / count(*) AS coverage_pct
               FROM enriched"""
        ).df(),
        "windows": con.sql("SELECT * FROM windows").df(),
        "anomalies": con.sql(
            f"""SELECT *, {z.format(c='transactions')} AS z_transactions,
                          {z.format(c='rolling_trans')} AS z_rolling_trans
                FROM windows WINDOW la AS (PARTITION BY local_authority)"""
        ).df(),
        "latest": con.sql(
            "SELECT * FROM windows WHERE week = (SELECT max(week) FROM windows)"
        ).df(),
        "qa": con.sql(
            f"""SELECT {rows_raw} AS rows_raw,
                       (SELECT count(DISTINCT local_authority) FROM weekly) AS las,
                       (SELECT max(week) FROM weekly) AS latest_week,
                       (SELECT 100.0 * count(local_authority) / count(*) FROM enriched)
                           AS coverage_pct"""
        ).df(),
    }
    a = out["anomalies"]
    a["anomaly_transactions"] = a["z_transactions"].abs() > Z_THRESH
    a["anomaly_rolling_trans"] = a["z_rolling_trans"].abs() > Z_THRESH
    con.close()
    return out


def _read_artifact(path: str) -> pd.DataFrame:
    parts = sorted(glob.glob(os.path.join(path, "part-*.csv")))
    if not parts:
        raise FileNotFoundError(f"no CSV part files under {path}")
    return pd.concat([pd.read_csv(p) for p in parts], ignore_index=True)


def compare_frames(got: pd.DataFrame, want: pd.DataFrame, keys: list[str]) -> list[str]:
    """Order-insensitive comparison of an artifact (as read from CSV) with
    a reference frame: same columns and rows; numbers equal at 4 decimal
    places; timestamps, flags and strings exactly."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"row count {len(got)} != {len(want)}"]
    got = got[list(want.columns)].copy()
    for c in want.columns:
        if pd.api.types.is_datetime64_any_dtype(want[c]):
            got[c] = pd.to_datetime(got[c], utc=True, format="ISO8601").dt.tz_localize(None)
    if keys:
        got = got.sort_values(keys, kind="mergesort").reset_index(drop=True)
        want = want.sort_values(keys, kind="mergesort").reset_index(drop=True)
    problems = []
    for c in want.columns:
        a, b = got[c], want[c]
        if pd.api.types.is_numeric_dtype(b) and not pd.api.types.is_bool_dtype(b):
            x, y = a.to_numpy(float), b.to_numpy(float)
            ok = np.isclose(x, y, rtol=1e-9, atol=1e-4) | (np.isnan(x) & np.isnan(y))
        else:
            ok = (a.to_numpy() == b.to_numpy()) | (a.isna() & b.isna()).to_numpy()
        if not ok.all():
            i = int(np.flatnonzero(~ok)[0])
            problems.append(f"{c} row {i}: got {a.iloc[i]!r} want {b.iloc[i]!r}")
    return problems


def _check_refresh(ctx, artifacts: str, qa_rows, expected) -> None:
    for name in OUTPUTS:
        try:
            got = _read_artifact(os.path.join(artifacts, name))
        except FileNotFoundError as exc:
            ctx.check(f"artifact {name}", [str(exc)])
            continue
        ctx.check(f"artifact {name}", compare_frames(got, expected[name], KEYS[name]))
    if len(qa_rows) != 1:
        ctx.check("QA row", [f"collected {len(qa_rows)} rows"])
        return
    got, want = qa_rows[0], expected["qa"].iloc[0]
    ctx.check(
        "QA row",
        [
            f"{k}: got {got[k]!r} want {want[k]!r}"
            for k in ("rows_raw", "las", "coverage_pct")
            if not np.isclose(got[k], want[k], rtol=1e-12, atol=0)
        ],
    )


# ------------------------------------------------------------ tracing


def _install_wrappers(tr) -> None:
    from uk_housing_dashboard_etl_spark.plans import pipeline as pipeline_mod

    tr.wrap(
        pipeline_mod,
        "write_csv_artifact",
        lambda df, path, *a, **k: f"sinks.write_csv_artifact.{os.path.basename(path)}",
    )


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _layer_breakdown(ctx, ppd: str, lookup_csv: str) -> dict:
    """Time each mart operator and each sink on its own: every operator's
    output is forced once through the ``noop`` format with its inputs
    cached, and every artifact frame is written both to ``noop`` and to
    CSV, so the CSV write minus the noop write is the sink's own cost."""
    from pyspark.sql import functions as F

    from uk_housing_dashboard_etl_spark.functions.cleaning import normalize_code
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
    from uk_housing_dashboard_etl_spark.sources.readers import (
        read_csv_sniffed,
        read_lookup_csv,
    )
    from uk_housing_dashboard_etl_spark.sources.sinks import write_csv_artifact

    spark, tr = ctx.spark, ctx.tracer
    spark.catalog.clearCache()
    raw = read_csv_sniffed(spark, ppd, require_price_and_date=True).cache()
    lookup = read_lookup_csv(spark, lookup_csv).select(
        normalize_code(F.col("postcode")).alias("key"), F.col("local_authority")
    ).cache()
    tx = standardize_transactions(raw).cache()
    for df in (raw, lookup, tx):
        _noop(df)

    def timed(fn: str, df, keep: bool):
        with tr.span(f"operators.{fn}"):
            _noop(df)
        if keep:
            df = df.cache()
            _noop(df)
        return df

    enriched = timed("enrich_with_lookup", enrich_with_lookup(tx, lookup), True)
    weekly = timed("weekly_mart", weekly_mart(enriched), True)
    breakdown = timed("type_breakdown", type_breakdown(enriched), False)
    coverage = timed("coverage_report", coverage_report(enriched), True)
    dense = timed("densify_weekly_grid", densify_weekly_grid(weekly), True)
    windows = timed("rolling_windows", rolling_windows(dense, WINDOWS), True)
    anomalies = timed("detect_anomalies", detect_anomalies(windows, Z_THRESH), False)
    latest = timed("latest_snapshot", latest_snapshot(windows), False)
    qa = timed("qa_metrics", qa_metrics(raw, weekly, coverage), False)

    frames = dict(
        zip(OUTPUTS, (weekly, breakdown, coverage, windows, anomalies, latest, qa))
    )
    overhead = 0.0
    for name, df in frames.items():
        t = time.perf_counter()
        _noop(df)
        t_noop = time.perf_counter() - t
        t = time.perf_counter()
        write_csv_artifact(df, ctx.path("sink_probe", name))
        overhead += time.perf_counter() - t - t_noop
    spark.catalog.clearCache()
    return {"sinks.write_overhead_s": (overhead, "s")}


# ------------------------------------------------------------ workload


def run(ctx) -> dict:
    spark, tr = ctx.spark, ctx.tracer
    t = time.perf_counter()
    ppd, lookup_csv = gen.write_ppd_inputs(
        ctx.path("input"), ctx.seed, ROWS, N_LAS, N_POSTCODES, YEARS
    )
    # warm-up: the JVM's first refresh compiles every plan and loads
    # every class; it is set-up, as in every fresh daily process
    artifacts = ctx.path("artifacts")
    qa = _refresh(ctx, ppd, lookup_csv, artifacts)
    setup_s = ctx.get_spark_s + time.perf_counter() - t

    input_bytes = os.path.getsize(ppd) + os.path.getsize(lookup_csv)
    expected = reference(ppd, lookup_csv)
    _check_refresh(ctx, artifacts, qa, expected)

    if ctx.trace:
        _install_wrappers(tr)
    walls, cpu, jit, peak, traced = [], [], [], [], []
    deadline = time.perf_counter() + ctx.seconds
    i = 0
    while True:
        tr.enabled = traced_op(ctx, i)
        spark.catalog.clearCache()
        shutil.rmtree(artifacts, ignore_errors=True)
        reset_peak_rss(os.getpid())
        j, c, t = jit_threads(os.getpid()), cpu_seconds(os.getpid()), time.perf_counter()
        qa = _refresh(ctx, ppd, lookup_csv, artifacts)
        walls.append(time.perf_counter() - t)
        cpu.append(cpu_seconds(os.getpid()) - c)
        jit.append(jit_cpu_between(j, jit_threads(os.getpid())))
        peak.append(peak_rss_mb(os.getpid()))
        traced.append(tr.enabled)
        ctx.count_op()
        _check_refresh(ctx, artifacts, qa, expected)
        i += 1
        if i >= min_ops(ctx, MIN_OPS) and time.perf_counter() >= deadline:
            break
    result = {
        "end_to_end": {
            "setup_s": (setup_s, "s"),
            "op_cpu_s": (median(cpu), "s"),
            "disk_bytes_per_input_byte": (tree_bytes(artifacts)[1] / input_bytes, "ratio"),
        },
        "notes": [
            f"refresh_s (wall, median) = {median(walls):.6g} s",
            f"refresh_s samples = {[round(x, 3) for x in walls]}",
            f"refresh cpu samples = {[round(x, 3) for x in cpu]}",
            f"refresh jit cpu samples = {[round(x, 3) for x in jit]}",
        ],
    }
    if not ctx.trace:
        return result

    tr.enabled = True
    breakdown = _layer_breakdown(ctx, ppd, lookup_csv)
    tr.enabled = False
    tr.unwrap_all()
    tr.dump(ctx.spans_path)

    def spans(name):
        return tr.by_name(name)

    runs = spans("pipeline.run")
    per_layer = {
        "session.get_spark_s": (ctx.get_spark_s, "s"),
        "op.wall_p50_s": (median(walls), "s"),
        "op.cpu_p50_s": (median(cpu), "s"),
        "process.jit_cpu_s": (median(jit), "s"),
        "process.peak_rss_mb": (max(peak), "MB"),
        "readers.read_csv_sniffed_s": (median(map(duration, spans("readers.read_csv_sniffed"))), "s"),
        "readers.read_lookup_csv_s": (median(map(duration, spans("readers.read_lookup_csv"))), "s"),
        "pipeline.run_s": (median(map(duration, runs)), "s"),
        "pipeline.uncovered_share": (
            median(tr.self_time(s["id"]) / duration(s) for s in runs),
            "ratio",
        ),
        "trace.overhead_s": (tracing_overhead(walls, traced), "s"),
        **breakdown,
    }
    for out in OUTPUTS:
        per_layer[f"sinks.write_csv_artifact_s.{out}"] = (
            median(map(duration, spans(f"sinks.write_csv_artifact.{out}"))),
            "s",
        )
    for fn in MART_OPERATORS:
        per_layer[f"operators.{fn}.execute_s"] = (
            median(map(duration, spans(f"operators.{fn}"))),
            "s",
        )

    def from_event_log(totals) -> dict:
        def groups(span):
            return [f"span-{i}" for i in tr.descendants(span["id"])]

        per_run = [counters_for(totals, groups(s)) for s in runs]
        refreshes = [counters_for(totals, groups(s)) for s in spans("full_refresh.refresh")]
        m = {
            "pipeline.spark_jobs": (median(c["jobs"] for c in per_run), "count"),
            "pipeline.spark_tasks": (median(c["tasks"] for c in per_run), "count"),
            "pipeline.shuffle_write_bytes": (median(c["shuffle_write_bytes"] for c in per_run), "bytes"),
            "pipeline.spill_bytes": (median(c["spill_bytes"] for c in per_run), "bytes"),
            "pipeline.executor_cpu_s": (median(c["executor_cpu_s"] for c in per_run), "s"),
            "pipeline.gc_s": (median(c["gc_s"] for c in per_run), "s"),
            "readers.csv_scan_amplification": (
                median(c["input_bytes"] for c in refreshes) / input_bytes,
                "ratio",
            ),
        }
        m.update(failed_tasks_by_layer(tr, totals, ("readers", "pipeline", "sinks", "operators")))
        return m

    result["per_layer"] = per_layer
    result["from_event_log"] = from_event_log
    return result
