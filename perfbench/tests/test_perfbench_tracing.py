"""Span bookkeeping and Spark event-log attribution."""

from __future__ import annotations

import os
import subprocess
import sys
import time
import types

import pytest

import tracing

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small.jsonl")


def _span(tr, id_, name, parent, start, end):
    tr.spans.append({"id": id_, "name": name, "parent": parent, "start": start, "end": end})


def test_self_time_subtracts_the_union_of_children():
    tr = tracing.Tracer()
    _span(tr, 0, "root", None, 0.0, 10.0)
    _span(tr, 1, "a", 0, 1.0, 3.0)
    _span(tr, 2, "b", 0, 2.0, 4.0)  # overlaps a: covered 1..4 once
    _span(tr, 3, "c", 0, 6.0, 7.0)
    _span(tr, 4, "grandchild", 3, 6.0, 7.0)  # not a direct child of root
    assert tr.self_time(0) == pytest.approx(10.0 - 3.0 - 1.0)
    assert tr.self_time(3) == pytest.approx(0.0)
    assert sorted(tr.descendants(0)) == [0, 1, 2, 3, 4]
    assert sorted(tr.descendants(3)) == [3, 4]


def test_disabled_tracer_records_nothing_and_wrap_restores():
    module = types.SimpleNamespace(f=lambda x: x + 1)
    tr = tracing.Tracer()
    tr.wrap(module, "f", "layer.f")
    assert module.f(1) == 2 and tr.spans == []
    tr.enabled = True
    assert module.f(2) == 3
    assert [s["name"] for s in tr.spans] == ["layer.f"]
    assert tr.spans[0]["end"] >= tr.spans[0]["start"]
    tr.unwrap_all()
    assert module.f(3) == 4 and len(tr.spans) == 1


def test_nested_spans_record_parents():
    tr = tracing.Tracer()
    tr.enabled = True
    with tr.span("outer"):
        with tr.span("inner"):
            assert tr.current() == 1
    assert [(s["name"], s["parent"]) for s in tr.spans] == [("outer", None), ("inner", 0)]
    assert tr.current() is None


def test_event_log_attributes_tasks_to_job_groups():
    """The fixture is a trimmed Spark 4.1 event log: a parquet write with no
    group, a filtered scan under ``span-0``, a shuffle aggregate under
    ``span-1`` and an ungrouped collect."""
    totals = tracing.parse_event_log(FIXTURE)
    assert set(totals) == {"", "span-0", "span-1"}
    assert {g: (t["jobs"], t["tasks"]) for g, t in totals.items()} == {
        "": (2, 4),
        "span-0": (2, 4),
        "span-1": (2, 5),
    }
    assert totals["span-0"]["input_bytes"] == 2858
    assert totals["span-1"]["input_bytes"] == 937
    assert totals["span-1"]["shuffle_write_bytes"] == 364
    assert all(t["failed_tasks"] == 0 for t in totals.values())
    both = tracing.counters_for(totals, ["span-0", "span-1", "missing"])
    assert both["tasks"] == 9 and both["jobs"] == 4


def test_event_log_counts_failed_tasks(tmp_path):
    with open(FIXTURE, encoding="utf-8") as f:
        lines = f.readlines()
    i = next(n for n, line in enumerate(lines) if '"Event":"SparkListenerTaskEnd"' in line)
    lines[i] = lines[i].replace('"Failed":false', '"Failed":true', 1)
    path = tmp_path / "log"
    path.write_text("".join(lines), encoding="utf-8")
    totals = tracing.parse_event_log(str(path))
    assert sum(t["failed_tasks"] for t in totals.values()) == 1


def test_process_tree_and_cpu_cover_child_processes():
    # the child burns 0.3 s of CPU, then sleeps until killed
    burn = (
        "import time\n"
        "t = time.process_time()\n"
        "while time.process_time() - t < 0.3: pass\n"
        "time.sleep(30)"
    )
    before = tracing.cpu_seconds(os.getpid())
    child = subprocess.Popen([sys.executable, "-c", burn])
    try:
        assert child.pid in tracing.process_tree(os.getpid())
        time.sleep(1.5)
        assert tracing.cpu_seconds(os.getpid()) - before >= 0.25
    finally:
        child.kill()
        child.wait()


def test_jit_cpu_skips_compiler_threads_the_jvm_stopped():
    before = {(1, 10): 5.0, (1, 11): 2.0}
    after = {(1, 10): 7.5, (1, 12): 0.5}  # thread 11 exited, 12 started
    assert tracing.jit_cpu_between(before, after) == pytest.approx(3.0)
