"""Tracing for the benchmark: spans, Spark event-log attribution, streaming
progress, and process CPU time and memory.

Everything here lives outside the package under test. Spans are recorded
around calls into the package's public functions (or, for calls the
package makes internally, by swapping the module attribute the caller
looks up — :meth:`Tracer.wrap`). While a span is open, the Spark jobs it
triggers carry the span's id as their job group; after the run the event
log maps every job, stage and task back to its span.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from collections import defaultdict

# per-task counters summed per job group (see parse_event_log)
COUNTERS = (
    "jobs",
    "tasks",
    "failed_tasks",
    "input_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "executor_cpu_s",
    "gc_s",
)


_WANTED = ('{"Event":"SparkListenerJobStart"', '{"Event":"SparkListenerTaskEnd"')


class Tracer:
    """In-memory span recorder. Spans are dicts with ``id``, ``name``,
    ``parent``, ``start`` and ``end`` (``perf_counter`` seconds) and are
    written out once, by :meth:`dump`, when the run ends.

    ``enabled`` is toggled per operation so one process can time traced
    and untraced operations side by side (their difference is the
    tracing overhead). With ``sc`` set, each open span tags the Spark
    jobs it triggers with job group ``span-<id>``.
    """

    def __init__(self, sc=None):
        self.sc = sc
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._set_group(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    def _set_group(self, span_id: int | None) -> None:
        if self.sc is None:
            return
        if span_id is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(f"span-{span_id}", self.spans[span_id]["name"])

    def wrap(self, module, attr: str, name) -> None:
        """Replace ``module.attr`` with a function that runs the original
        inside a span. ``name`` is the span name, or a callable that
        builds it from the call's arguments."""
        original = getattr(module, attr)

        def traced(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with self.span(label):
                return original(*args, **kwargs)

        setattr(module, attr, traced)
        self._patched.append((module, attr, original))

    def unwrap_all(self) -> None:
        for module, attr, original in reversed(self._patched):
            setattr(module, attr, original)
        self._patched.clear()

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def descendants(self, span_id: int) -> list[int]:
        """``span_id`` and every span opened inside it."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s["id"])
        out, todo = [], [span_id]
        while todo:
            sid = todo.pop()
            out.append(sid)
            todo.extend(children[sid])
        return out

    def self_time(self, span_id: int) -> float:
        """Duration minus the part of it covered by direct children."""
        s = self.spans[span_id]
        kids = sorted(
            (c["start"], c["end"]) for c in self.spans if c["parent"] == span_id
        )
        covered, cur_start, cur_end = 0.0, None, None
        for a, b in kids:
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        return (s["end"] - s["start"]) - covered

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(self.spans, f)


def parse_event_log(path: str) -> dict[str, dict[str, float]]:
    """Sum per-task counters of a Spark event log per job group.

    Jobs map to their group through the ``spark.jobGroup.id`` property of
    ``SparkListenerJobStart``; stages map to the first job that lists
    them (a stage reused by a later job runs its tasks once); tasks map
    through their stage. Jobs without a group land under ``""``.
    """
    stage_group: dict[int, str] = {}
    totals: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    with open(path, encoding="utf-8") as f:
        for line in f:
            # most of a log is SQL plan events; decode only what is summed
            if not line.startswith(_WANTED):
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                totals[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                t = totals[stage_group.get(ev["Stage ID"], "")]
                t["tasks"] += 1
                info = ev.get("Task Info") or {}
                if info.get("Failed") or info.get("Killed"):
                    t["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                t["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                t["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                t["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    return dict(totals)


def find_event_log(log_dir: str) -> str:
    """The single application log Spark wrote under ``log_dir``."""
    logs = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {logs}")
    return logs[0]


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def failed_tasks_by_layer(tracer: Tracer, totals, layers) -> dict:
    """``<layer>.failed_tasks``: failed tasks of the jobs each layer's own
    spans (named ``<layer>.…``) triggered."""
    out = {}
    for layer in layers:
        own = [f"span-{s['id']}" for s in tracer.spans if s["name"].startswith(layer + ".")]
        out[f"{layer}.failed_tasks"] = (counters_for(totals, own)["failed_tasks"], "count")
    return out


def tree_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of the data files under ``path``, leaving out
    checksums and other hidden files."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def counters_for(
    totals: dict[str, dict[str, float]], groups: list[str]
) -> dict[str, float]:
    out = dict.fromkeys(COUNTERS, 0)
    for g in groups:
        for k, v in totals.get(g, {}).items():
            out[k] += v
    return out


def make_stream_listener(tracer: Tracer):
    """A ``StreamingQueryListener`` that keeps every progress report and
    maps each query's run id (the job group Spark gives its micro-batch
    jobs) to the span open when the query started."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.run_span: dict[str, int | None] = {}
            self.progress: list[dict] = []
            self.terminated = 0

        def onQueryStarted(self, event):  # called synchronously by start()
            self.run_span[str(event.runId)] = tracer.current()

        def onQueryProgress(self, event):
            self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.terminated += 1

    return ProgressLog()


def _stat(pid: int) -> list[str]:
    """Fields of ``/proc/<pid>/stat`` after the command name (state first)."""
    with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
        return f.read().rsplit(")", 1)[1].split()


def process_tree(root: int) -> list[int]:
    """``root`` and every live process descending from it: the Python
    driver, the Spark JVM it launched and any Python workers the JVM
    forks."""
    children: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                children[int(_stat(int(d))[1])].append(int(d))
            except (OSError, IndexError):
                continue  # exited while we looked
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children[pid])
    return out


def cpu_seconds(root: int) -> float:
    """User + system CPU time consumed so far by the process tree under
    ``root``: every thread of every live process (Spark tasks, JIT, GC,
    Python) plus the children each has reaped, so a worker that exits
    between two readings still counts."""
    ticks = 0
    for pid in process_tree(root):
        try:
            fields = _stat(pid)
        except OSError:
            continue
        ticks += sum(int(fields[k]) for k in (11, 12, 13, 14))  # u/s + reaped children
    return ticks / os.sysconf("SC_CLK_TCK")


def jit_threads(root: int) -> dict[tuple[int, int], float]:
    """CPU seconds consumed so far by each JIT compiler thread (named
    ``C1 CompilerThread<n>``/``C2 CompilerThread<n>``) in the process
    tree under ``root``, keyed by (pid, tid). The JIT is background work
    a fresh JVM does while the code it runs warms up."""
    out = {}
    for pid in process_tree(root):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat", encoding="ascii", errors="replace") as f:
                    comm, rest = f.read().split("(", 1)[1].rsplit(")", 1)
            except OSError:
                continue
            if comm.startswith(("C1 Compiler", "C2 Compiler")):
                fields = rest.split()
                out[pid, int(tid)] = (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    return out


def jit_cpu_between(before: dict, after: dict) -> float:
    """JIT CPU spent between two :func:`jit_threads` readings. The JVM
    stops idle compiler threads, so a thread missing from ``after`` is
    skipped: its CPU since ``before`` is lost, making this a lower bound."""
    return sum(v - before.get(k, 0.0) for k, v in after.items())


def reset_peak_rss(root: int) -> None:
    """Reset each process's peak resident set (VmHWM) in the tree under
    ``root`` to its current resident set, so the next
    :func:`peak_rss_mb` covers only what ran in between."""
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/clear_refs", "w", encoding="ascii") as f:
                f.write("5")
        except OSError:
            continue


def peak_rss_mb(root: int) -> float:
    """Sum over the process tree under ``root`` of each process's peak
    resident set (VmHWM) since it started or since :func:`reset_peak_rss`."""
    total_kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status", encoding="ascii") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def min_ops(ctx, untraced: int) -> int:
    """The timed loop runs for ``--seconds`` and at least this many
    operations; traced runs need four for their T U U T pattern."""
    return 4 if ctx.trace else untraced


def traced_op(ctx, i: int) -> bool:
    """Whether operation ``i`` of the timed loop is traced. Traced runs
    trace operations 0 and 3 of every four and leave 1 and 2 untraced, so
    a JVM still warming up (a linear trend) cancels out of the tracing
    overhead, the difference of the two medians."""
    return ctx.trace and i % 4 in (0, 3)


def tracing_overhead(walls: list[float], traced: list[bool]) -> float:
    """Median traced operation minus median untraced operation."""
    return median(w for w, t in zip(walls, traced) if t) - median(
        w for w, t in zip(walls, traced) if not t
    )


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0
