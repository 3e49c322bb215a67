"""Workload ``daily_tick``: incremental maintenance beside dashboard reads.

Set-up generates ``events``/``customer``/``nation`` star tables, builds the
week-partitioned history zone and its mart with
``operators.incremental.daily_increment``, and drains the history through
the ``weekly_stream`` streaming mart once. Then each tick (one client,
closed loop) lands one day of events as one parquet file and, timed as
one operation:

(a) maintains the batch mart — ``daily_increment`` on the cleaned,
    enriched increment — and reads the affected week back;
(b) drains the new file through ``run_stream_to_parquet`` with the
    persistent checkpoint;
(c) re-runs the analyst's dashboard panel, the warm registry query
    ``contract.QUERIES["latest_snapshot"]`` over the star tables.

Partitioned appends, mart overwrite, zone growth, streaming state and the
registry's plan construction are the program's work here; the CSV reader
and sinks do none. Checks: every read-back shows the tick's rows, the final
spliced mart equals a from-scratch ``weekly_mart`` over the zone, every
window the stream emitted matches pandas over all landed files, the
dashboard panel's cold run matches its DuckDB oracle in
``contract.ORACLES``, and every timed collect matches the cold run.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import shutil
import sys
import time

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
    make_stream_listener,
    median,
    min_ops,
    peak_rss_mb,
    reset_peak_rss,
    traced_op,
    tracing_overhead,
    tree_bytes,
)

HISTORY_EVENTS = 20_000
CUSTOMERS = 3_000
HISTORY_DAYS = 180
TICK_ROWS = 150
PANEL = "latest_snapshot"
MIN_OPS = 3  # untraced runs time at least this many ticks


def _monday(day: int) -> dt.datetime:
    return gen.EVENTS_START + dt.timedelta(days=day - day % 7)


class _Expected:
    """Independent pandas tallies of everything landed so far."""

    def __init__(self, sf: str):
        cust = pd.read_parquet(os.path.join(sf, "customer.parquet"))
        nat = pd.read_parquet(os.path.join(sf, "nation.parquet"))
        cust = cust[cust.c_custkey % 7 != 3].merge(
            nat, left_on="c_nationkey", right_on="n_nationkey"
        )
        self.la = dict(zip(cust.c_custkey, cust.n_name))
        self.events = [pd.read_parquet(os.path.join(sf, "events.parquet"))]

    def land(self, path: str) -> None:
        self.events.append(pd.read_parquet(path))

    def _all(self) -> pd.DataFrame:
        ev = pd.concat(self.events, ignore_index=True)
        ev["week"] = ev.ts.dt.normalize() - pd.to_timedelta(ev.ts.dt.weekday, unit="D")
        return ev

    def week_counts(self, week: dt.datetime) -> dict[str, int]:
        ev = self._all()
        ev = ev[ev.week == week]
        la = ev.user_id.map(self.la).dropna()
        return {k: int(v) for k, v in la.value_counts().items()}

    def stream_windows(self) -> pd.DataFrame:
        return (
            self._all()
            .groupby(["week", "event_type"])
            .agg(transactions=("event_id", "size"), value_mean=("value", "mean"))
            .reset_index()
        )


def _increment_raw(df):
    """events columns → the Price-Paid roles ``standardize_transactions``
    discovers (the same renaming as ``contract.load_transactions_raw``)."""
    from pyspark.sql import functions as F

    return df.select(
        F.col("event_id").alias("transaction_unique_id"),
        F.col("ts").alias("date_of_transfer"),
        F.col("value").alias("price"),
        F.col("user_id").alias("postcode"),
        F.col("event_type").alias("property_type"),
    )


class _Tick:
    def __init__(self, ctx, sf: str):
        from uk_housing_dashboard_etl_spark import contract

        self.ctx, self.sf = ctx, sf
        self.landing = ctx.path("landing")
        self.zone, self.mart = ctx.path("zone"), ctx.path("mart")
        self.stream_out, self.checkpoint = ctx.path("stream_out"), ctx.path("checkpoint")
        self.lookup = contract.load_lookup(ctx.spark, sf)
        self.landed_bytes = 0
        self.drains = 0
        self.path_s = {"mart": [], "stream": [], "dashboard": []}
        self.panel_results: list[list] = []
        self.panel_want = None  # the cold run's rows, checked against the oracle
        self.plans: list[str] = []

    def build_history(self) -> None:
        from uk_housing_dashboard_etl_spark import contract
        from uk_housing_dashboard_etl_spark.operators import (
            enrich_with_lookup,
            standardize_transactions,
        )
        from uk_housing_dashboard_etl_spark.operators.incremental import daily_increment

        spark = self.ctx.spark
        history = enrich_with_lookup(
            standardize_transactions(contract.load_transactions_raw(spark, self.sf)),
            self.lookup,
        )
        daily_increment(spark, history, self.zone, self.mart)
        os.makedirs(self.landing)
        shutil.copy(
            os.path.join(self.sf, "events.parquet"),
            os.path.join(self.landing, "history.parquet"),
        )
        self.landed_bytes += os.path.getsize(os.path.join(self.landing, "history.parquet"))
        self._drain()

    def _drain(self) -> None:
        from uk_housing_dashboard_etl_spark.streaming.weekly_stream import (
            run_stream_to_parquet,
            weekly_stream,
        )

        self.drains += 1
        with self.ctx.tracer.span("streaming.run_stream_to_parquet"):
            run_stream_to_parquet(
                weekly_stream(self.ctx.spark, self.landing), self.stream_out, self.checkpoint
            )

    def land(self, i: int) -> tuple[str, str]:
        day = HISTORY_DAYS + i
        name = f"tick_{day:05d}"
        path = os.path.join(self.landing, f"{name}.parquet")
        gen.write_increment(
            path, self.ctx.seed, day, TICK_ROWS, CUSTOMERS, HISTORY_EVENTS
        )
        self.landed_bytes += os.path.getsize(path)
        return name, path

    def run(self, i: int, name: str) -> list:
        """One timed tick; returns the read-back rows."""
        from pyspark.sql import functions as F

        from uk_housing_dashboard_etl_spark import contract
        from uk_housing_dashboard_etl_spark.operators import (
            enrich_with_lookup,
            standardize_transactions,
        )
        from uk_housing_dashboard_etl_spark.operators.incremental import daily_increment
        from uk_housing_dashboard_etl_spark.sources.readers import read_table

        spark, tr = self.ctx.spark, self.ctx.tracer
        week = _monday(HISTORY_DAYS + i).strftime("%Y-%m-%d %H:%M:%S")
        t0 = time.perf_counter()
        with tr.span("daily_tick.tick"):
            with tr.span("readers.read_table"):
                inc = read_table(spark, self.landing, name)
            inc = enrich_with_lookup(
                standardize_transactions(_increment_raw(inc)), self.lookup
            )
            with tr.span("incremental.daily_increment"):
                daily_increment(spark, inc, self.zone, self.mart)
            with tr.span("incremental.read_back"):
                rows = (
                    spark.read.parquet(self.mart)
                    .where(F.col("week") == F.to_timestamp(F.lit(week)))
                    .collect()
                )
            t1 = time.perf_counter()
            self._drain()
            t2 = time.perf_counter()
            with tr.span("contract.query"):
                with tr.span("contract.build"):
                    df = contract.QUERIES[PANEL](spark, self.sf)
                with tr.span("contract.plan"):
                    qe = df._jdf.queryExecution()
                    qe.executedPlan()
                with tr.span("contract.execute"):
                    result = df.collect()
            t3 = time.perf_counter()
        self.path_s["mart"].append(t1 - t0)
        self.path_s["stream"].append(t2 - t1)
        self.path_s["dashboard"].append(t3 - t2)
        self.panel_results.append(result)
        if tr.enabled:
            self.plans.append(qe.executedPlan().toString())
        return rows


def _check_readback(ctx, rows, expected: _Expected, i: int) -> None:
    got = {r["local_authority"]: r["transactions"] for r in rows}
    want = expected.week_counts(_monday(HISTORY_DAYS + i))
    ctx.check(
        f"tick {i} read-back",
        [f"{k}: got {got.get(k)} want {v}" for k, v in want.items() if got.get(k) != v]
        + [f"unexpected LA {k}" for k in got if k not in want],
    )


def _final_checks(ctx, tick: _Tick, expected: _Expected) -> None:
    from uk_housing_dashboard_etl_spark.operators import weekly_mart

    spark = ctx.spark
    cols = ["week", "local_authority", "transactions", "price_mean",
            "price_median", "price_p10", "price_p90"]
    spliced = spark.read.parquet(tick.mart).select(*cols).toPandas()
    scratch = weekly_mart(spark.read.parquet(tick.zone).drop("week_key")).select(*cols).toPandas()
    problems = []
    for df in (spliced, scratch):
        df.sort_values(["week", "local_authority"], inplace=True, kind="mergesort")
        df.reset_index(drop=True, inplace=True)
    if len(spliced) != len(scratch):
        problems.append(f"rows {len(spliced)} != {len(scratch)}")
    else:
        for c in cols:
            a, b = spliced[c], scratch[c]
            if a.dtype.kind == "f":
                ok = np.isclose(a, b, rtol=1e-9, atol=1e-4) | (a.isna() & b.isna())
            else:
                ok = a.astype(str) == b.astype(str)
            if not ok.all():
                problems.append(f"column {c} differs")
    ctx.check("spliced mart equals from-scratch weekly_mart", problems)

    emitted = pd.read_parquet(tick.stream_out)
    want = expected.stream_windows().set_index(["week", "event_type"])
    problems = [] if len(emitted) else ["stream emitted no windows"]
    if emitted.duplicated(["week", "event_type"]).any():
        problems.append("a window was emitted twice")
    for r in emitted.itertuples():
        w = want.loc[(pd.Timestamp(r.week), r.event_type)]
        if r.transactions != w.transactions or not np.isclose(r.value_mean, w.value_mean, rtol=1e-9):
            problems.append(f"window {r.week} {r.event_type}")
    ctx.check("stream windows match pandas", problems)

    _check_panel(ctx, tick)


def _warm_panel(ctx, tick: _Tick) -> None:
    """Set-up: the dashboard panel's cold first run, whose rows every
    timed collect is later compared with."""
    from uk_housing_dashboard_etl_spark import contract

    tick.panel_want = contract.QUERIES[PANEL](ctx.spark, tick.sf).toPandas()


def _check_panel(ctx, tick: _Tick) -> None:
    """The cold run's rows equal the panel's DuckDB oracle in
    ``contract.ORACLES``, and every timed collect equals the cold run,
    both through ``tools/selfcheck.compare``. A timed run's rows are put
    in the cold run's dtypes first, so only their values are compared."""
    from uk_housing_dashboard_etl_spark import contract
    from tools.selfcheck import compare, duck_connection

    want = tick.panel_want
    con = duck_connection(tick.sf)
    with contextlib.redirect_stdout(sys.stderr):
        oracle = con.sql(contract.ORACLES[PANEL]).df()
        ctx.check(f"dashboard panel {PANEL} vs oracle", compare(want, oracle))
        for k, rows in enumerate(tick.panel_results):
            got = pd.DataFrame.from_records(
                [tuple(r) for r in rows], columns=list(want.columns)
            ).astype(want.dtypes.to_dict())
            ctx.check(f"dashboard panel {PANEL}, tick {k}", compare(got, want))
    con.close()


def _install_wrappers(tr) -> None:
    from uk_housing_dashboard_etl_spark import contract
    from uk_housing_dashboard_etl_spark.operators import incremental

    tr.wrap(incremental, "append_increment", "incremental.append_increment")
    tr.wrap(contract, "read_table", "readers.read_table")


def run(ctx) -> dict:
    spark, tr = ctx.spark, ctx.tracer
    listener = None
    if ctx.trace:
        listener = make_stream_listener(tr)
        spark.streams.addListener(listener)
        _install_wrappers(tr)
    t = time.perf_counter()
    sf = ctx.path("star")
    gen.write_star_tables(sf, ctx.seed, HISTORY_EVENTS, CUSTOMERS, HISTORY_DAYS)
    tick = _Tick(ctx, sf)
    tick.build_history()
    _warm_panel(ctx, tick)
    setup_s = ctx.get_spark_s + time.perf_counter() - t
    expected = _Expected(sf)
    i = 0

    walls, cpu, jit, peak, traced = [], [], [], [], []
    zone_at_tick = []
    deadline = time.perf_counter() + ctx.seconds
    while True:
        name, path = tick.land(i)
        expected.land(path)
        tr.enabled = traced_op(ctx, i)
        reset_peak_rss(os.getpid())
        j, c, t = jit_threads(os.getpid()), cpu_seconds(os.getpid()), time.perf_counter()
        rows = tick.run(i, name)
        walls.append(time.perf_counter() - t)
        cpu.append(cpu_seconds(os.getpid()) - c)
        jit.append(jit_cpu_between(j, jit_threads(os.getpid())))
        peak.append(peak_rss_mb(os.getpid()))
        traced.append(tr.enabled)
        ctx.count_op()
        if tr.enabled:
            zone_at_tick.append(tree_bytes(tick.zone)[1])
        tr.enabled = False
        _check_readback(ctx, rows, expected, i)
        i += 1
        if i >= min_ops(ctx, MIN_OPS) and time.perf_counter() >= deadline:
            break
    _final_checks(ctx, tick, expected)

    zone_files, zone_bytes = tree_bytes(tick.zone)
    disk = sum(tree_bytes(p)[1] for p in (tick.zone, tick.mart, tick.checkpoint, tick.stream_out))
    result = {
        "end_to_end": {
            "setup_s": (setup_s, "s"),
            "op_cpu_s": (median(cpu), "s"),
            "disk_bytes_per_input_byte": (disk / tick.landed_bytes, "ratio"),
        },
        "notes": [
            f"tick_s (wall, median) = {median(walls):.6g} s",
            f"tick_s samples = {[round(x, 3) for x in walls]}",
            f"tick cpu samples = {[round(x, 3) for x in cpu]}",
            f"tick jit cpu samples = {[round(x, 3) for x in jit]}",
            f"tick_p50_s (batch mart path) = {median(tick.path_s['mart']):.6g} s",
            f"stream_tick_p50_s = {median(tick.path_s['stream']):.6g} s",
            f"query_p50_s (dashboard panel) = {median(tick.path_s['dashboard']):.6g} s",
            "path samples (mart, stream, dashboard) = "
            f"{[[round(x, 3) for x in v] for v in tick.path_s.values()]}",
        ],
    }
    if not ctx.trace:
        return result

    deadline = time.perf_counter() + 10
    while listener.terminated < tick.drains:
        if time.perf_counter() > deadline:
            raise RuntimeError("streaming listener missed query terminations")
        time.sleep(0.05)
    spark.streams.removeListener(listener)
    tr.unwrap_all()
    tr.dump(ctx.spans_path)

    def sum_under(span, name):
        return sum(
            duration(tr.spans[d]) for d in tr.descendants(span["id"]) if tr.spans[d]["name"] == name
        )

    queries = tr.by_name("contract.query")
    progress = listener.progress
    per_run: dict[str, list[dict]] = {}
    for p in progress:
        per_run.setdefault(p["runId"], []).append(p)
    drains = [r for run_id, r in per_run.items() if listener.run_span.get(run_id) is not None]
    last_state = next(
        (p["stateOperators"][0] for p in reversed(progress) if p.get("stateOperators")),
        {},
    )
    per_layer = {
        "session.get_spark_s": (ctx.get_spark_s, "s"),
        "op.wall_p50_s": (median(walls), "s"),
        "op.cpu_p50_s": (median(cpu), "s"),
        "process.jit_cpu_s": (median(jit), "s"),
        "process.peak_rss_mb": (max(peak), "MB"),
        "readers.read_table_s": (median(sum_under(q, "readers.read_table") for q in queries), "s"),
        "incremental.append_increment_s": (median(map(duration, tr.by_name("incremental.append_increment"))), "s"),
        "incremental.daily_increment_s": (median(map(duration, tr.by_name("incremental.daily_increment"))), "s"),
        "incremental.zone_files": (zone_files, "count"),
        "incremental.zone_bytes_per_input_byte": (
            (zone_bytes + tree_bytes(tick.mart)[1] + tree_bytes(tick.checkpoint)[1])
            / tick.landed_bytes,
            "ratio",
        ),
        "streaming.run_stream_to_parquet_s": (
            median(map(duration, tr.by_name("streaming.run_stream_to_parquet"))),
            "s",
        ),
        "streaming.batches": (median(len(r) for r in drains), "count"),
        "streaming.input_rows_per_s": (
            median(p["processedRowsPerSecond"] for r in drains for p in r if p["numInputRows"] > 0),
            "rows/s",
        ),
        "streaming.state_rows": (last_state.get("numRowsTotal", 0), "count"),
        "streaming.state_memory_bytes": (last_state.get("memoryUsedBytes", 0), "bytes"),
        "streaming.commit_s": (
            median(
                sum(v for k, v in p["durationMs"].items() if "ommit" in k) / 1e3
                for r in drains for p in r
            ),
            "s",
        ),
        "contract.build_s": (median(map(duration, tr.by_name("contract.build"))), "s"),
        "contract.plan_s": (median(map(duration, tr.by_name("contract.plan"))), "s"),
        "contract.execute_s": (median(map(duration, tr.by_name("contract.execute"))), "s"),
        "contract.cache_hit_ratio": (
            sum("InMemoryTableScan" in p for p in tick.plans) / max(len(tick.plans), 1),
            "ratio",
        ),
        "tick.mart_path_s": (median(tick.path_s["mart"]), "s"),
        "tick.stream_path_s": (median(tick.path_s["stream"]), "s"),
        "tick.dashboard_path_s": (median(tick.path_s["dashboard"]), "s"),
        "trace.overhead_s": (tracing_overhead(walls, traced), "s"),
    }

    def from_event_log(totals) -> dict:
        def groups(span_id):
            return [f"span-{d}" for d in tr.descendants(span_id)]

        increments = [
            counters_for(totals, groups(s["id"])) for s in tr.by_name("incremental.daily_increment")
        ]
        read_per_tick = [c["input_bytes"] for c in increments]
        stream_groups = [
            run_id for run_id, sid in listener.run_span.items() if sid is not None
        ]
        m = {
            "incremental.bytes_read_per_tick": (median(read_per_tick), "bytes"),
            "incremental.prune_ratio": (
                median(b / z for b, z in zip(read_per_tick, zone_at_tick)),
                "ratio",
            ),
            "contract.spark_jobs_per_query": (
                median(counters_for(totals, groups(q["id"]))["jobs"] for q in queries),
                "count",
            ),
            "streaming.failed_tasks": (counters_for(totals, stream_groups)["failed_tasks"], "count"),
        }
        m.update(failed_tasks_by_layer(tr, totals, ("readers", "incremental", "contract")))
        return m

    result["per_layer"] = per_layer
    result["from_event_log"] = from_event_log
    return result
