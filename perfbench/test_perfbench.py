"""Tests of the event-log fold, the span recorder and BENCHMARK.json,
without Spark.

    python3 -m pytest perfbench -q

``testdata/eventlog_v2_local-1`` is a Spark 4.1 rolling event log cut
down to the fields the fold reads: jobs 0-4 come from a real local[4]
run (spans ``a`` and ``b``; job 1 re-lists stage 1, which it skips);
job 5 was added by hand, without a span, with one task that spills
1 MiB and one that fails.  The log rolls after job 2.
"""

from __future__ import annotations

import json
import os
import re

import pytest

from perfbench import eventlog
from perfbench.run import COUNTS, END_TO_END, KINDS, LAYERS
from perfbench.tracing import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
LOG_DIR = os.path.join(HERE, "testdata")


def test_event_files_reads_rolling_parts_in_order():
    files = eventlog.event_files(LOG_DIR)
    assert [os.path.basename(f) for f in files] == ["events_1_local-1", "events_2_local-1"]


def test_fold_per_span_totals():
    spans = eventlog.fold(eventlog.event_files(LOG_DIR))
    assert set(spans) == {"a", "b", eventlog.UNATTRIBUTED}

    a = spans["a"].as_dict()
    assert a["jobs"] == 2 and a["tasks"] == 5
    assert a["task_s"] == pytest.approx((433 + 435 + 434 + 431 + 93) / 1e3)
    cpu_ns = 87184664 + 179167581 + 172794818 + 121404263 + 79817674
    assert a["cpu_s"] == pytest.approx(cpu_ns / 1e9)
    assert a["blocked_s"] == pytest.approx(a["task_s"] - a["cpu_s"])
    assert a["gc_s"] == pytest.approx((4 * 44 + 6) / 1e3)
    assert a["shuffle_write_mb"] == pytest.approx(4 * 437 / 2**20)
    # widest stage of span a is stage 0: tasks of 431, 433, 434, 435 ms
    assert a["skew"] == pytest.approx(435 / 433.5)

    b = spans["b"].as_dict()
    assert b["jobs"] == 3 and b["tasks"] == 8
    assert b["task_s"] == pytest.approx((94 + 92 + 94 + 101 + 30 + 36 + 43 + 38) / 1e3)
    assert b["shuffle_write_mb"] == pytest.approx((4 * 162 + 3 * 59) / 2**20)
    assert b["skew"] == pytest.approx(101 / 94)
    assert a["failed_tasks"] == b["failed_tasks"] == 0
    assert a["spill_mb"] == b["spill_mb"] == 0

    none = spans[eventlog.UNATTRIBUTED].as_dict()
    assert none["jobs"] == 1 and none["tasks"] == 2
    assert none["failed_tasks"] == 1
    assert none["spill_mb"] == pytest.approx(1.0)


class _FakeContext:
    def __init__(self):
        self.props: list[str | None] = []

    def setLocalProperty(self, key, value):
        assert key == eventlog.SPAN_PROPERTY
        self.props.append(value)


def test_tracer_self_time_and_property(monkeypatch):
    clock = iter([0.0, 1.0, 3.0, 4.0, 4.5, 10.0])
    monkeypatch.setattr("perfbench.tracing.time.perf_counter", lambda: next(clock))
    sc = _FakeContext()
    tr = Tracer(sc)
    with tr.span("outer"):  # 0.0
        with tr.span("inner"):  # 1.0
            with tr.span("inner"):  # same layer: stays in the open span
                pass
        # inner closes at 3.0
        with tr.span("tables"):  # 4.0
            pass  # 4.5
    # outer closes at 10.0
    assert tr.self_s == {"outer": pytest.approx(10.0 - 2.0 - 0.5), "inner": 2.0, "tables": 0.5}
    assert sum(tr.self_s.values()) == pytest.approx(10.0)
    assert sc.props == ["outer", "inner", "outer", "tables", "outer", None]
    assert tr.calls == {"outer": 1, "inner": 1, "tables": 1}


def test_disabled_tracer_is_a_no_op():
    sc = _FakeContext()
    tr = Tracer(sc, enabled=False)
    with tr.span("outer"):
        tr.record_write("t")
    assert sc.props == [] and not tr.self_s and not tr.writes


def test_benchmark_json_lists_what_run_reports():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        doc = json.load(f)
    e2e = {m["name"]: m for m in doc["end_to_end"]}
    assert {k: m["unit"] for k, m in e2e.items()} == END_TO_END
    expected = {f"{layer}.{kind}": unit for layer in LAYERS for kind, unit in KINDS.items()}
    expected.update(COUNTS)
    assert {m["name"]: m["unit"] for m in doc["per_layer"]} == expected
    assert len(doc["per_layer"]) <= 128
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in doc["workloads"]] == list(WORKLOADS)
    names = [m["name"] for m in doc["end_to_end"] + doc["per_layer"]]
    names += [w["name"] for w in doc["workloads"]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    assert all(0 < m["bound"] <= 0.25 for m in e2e.values())
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
