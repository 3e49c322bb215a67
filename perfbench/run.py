"""Benchmark entry point.

    python3 perfbench/run.py --workload full_refresh --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Generates the workload's inputs from the
seed, builds a pinned local SparkSession, runs the workload's closed loop
(one client) for ``--seconds``, checks every output against an
independent computation, and prints one metric per line followed by a
final JSON line ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (see README.md). Exits non-zero if any check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "uk_housing_dashboard_etl_spark"
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEMORY = "2g"  # the session default (16g) exceeds small hosts


class Context:
    """What a workload gets: the session, the tracer, its work directory,
    the run parameters, and a tally of operations and failed checks."""

    def __init__(self, args, work: str):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.tracer = None
        self.get_spark_s = 0.0

    def count_op(self) -> None:
        self.attempted += 1

    def check(self, what: str, problems: list[str] | bool) -> None:
        """Count one output check; ``problems`` is a list of mismatches
        (empty = pass) or a pass/fail bool."""
        self.attempted += 1
        if problems is True or problems == []:
            return
        self.failed += 1
        detail = "" if problems is False else "; ".join(map(str, problems[:5]))
        print(f"CHECK FAILED {what}: {detail}", file=sys.stderr, flush=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    @property
    def spans_path(self) -> str:
        """Where a traced run leaves its spans; outlives the work directory."""
        return os.path.join(WORK, f"{self.workload}-seed{self.seed}-spans.json")


PINNED = ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY", "SPARK_LOCAL_DIRS")


def pinned_env(work: str) -> dict[str, str]:
    """The three pinned variables every output line echoes, plus the ones
    that keep temporary files inside the work directory (spark-submit's
    launcher JVM would otherwise write its perf data to the system temp
    directory)."""
    tmp = os.path.join(work, "tmp")
    return {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }


def start_spark(ctx: Context, workload: str):
    """The package's session factory with the benchmark's pinned extras:
    every file Spark or the JVM writes stays under the work directory,
    and traced runs keep an uncompressed event log (Spark 4 compresses
    with zstd by default, which Python here cannot read)."""
    from uk_housing_dashboard_etl_spark.session import get_spark

    tmp = ctx.path("tmp")
    extra = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": ctx.path("warehouse"),
    }
    if ctx.trace:
        os.makedirs(ctx.path("eventlog"))
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + ctx.path("eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{workload}", extra_conf=extra)
    ctx.get_spark_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"error: no {PACKAGE} package beside perfbench/", file=sys.stderr)
        return 2
    # every metric BENCHMARK.json names for this kind of run; one the
    # workload does not measure (a layer it does not call) reads 0
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        wanted = json.load(f)["per_layer" if args.trace else "end_to_end"]
    sys.path.insert(0, ROOT)
    sys.path.insert(1, HERE)
    import daily_tick
    import full_refresh

    workloads = {"full_refresh": full_refresh, "daily_tick": daily_tick}
    if args.workload not in workloads:
        print(f"error: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = pinned_env(work)
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d))
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = env["TMPDIR"]

    ctx = Context(args, work)
    tag = " ".join(f"{k}={env[k]}" for k in PINNED)
    tag = tag.replace(ROOT + os.sep, "")
    spark = None
    try:
        spark = ctx.spark = start_spark(ctx, args.workload)
        from tracing import Tracer

        ctx.tracer = Tracer(spark.sparkContext)
        result = workloads[args.workload].run(ctx)
        stop_spark(spark)
        spark = None
        if ctx.trace:
            from tracing import find_event_log, parse_event_log

            totals = parse_event_log(find_event_log(ctx.path("eventlog")))
            result["per_layer"].update(result.pop("from_event_log")(totals))
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    got = result["per_layer"] if ctx.trace else result["end_to_end"]
    metrics = {m["name"]: (got.get(m["name"], (0.0,))[0], m["unit"]) for m in wanted}
    for name, (value, unit) in metrics.items():
        print(f"[{tag} seed={args.seed} trace={args.trace}] {args.workload} {name} = {value:.6g} {unit}")
    for line in result.get("notes", []):
        print(f"[{tag} seed={args.seed} trace={args.trace}] {args.workload} {line}")
    print(
        json.dumps(
            {
                "correct": ctx.failed == 0,
                "attempted": ctx.attempted,
                "failed": ctx.failed,
                "metrics": {
                    k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
                },
            }
        )
    )
    return 0 if ctx.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
