"""Tests of the benchmark's own helpers; no JVM needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from metrics import (  # noqa: E402
    Span,
    Tally,
    check_metric_name,
    children,
    covered_frac,
    percentile,
    self_time,
    tail_percentile,
    union_length,
)
from tracing import Tracer, read_event_log, task_skew  # noqa: E402


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail_percentile(19) is None
    assert tail_percentile(20) == 50
    assert tail_percentile(100) == 90
    assert tail_percentile(1000) == 99
    for n in range(20, 400):
        q = tail_percentile(n)
        assert n - n * q / 100 >= 10, (n, q)
        # the next whole percentile would leave fewer than ten beyond it
        assert q == 50 or n - n * (q + 1) / 100 < 10, (n, q)


def test_percentile():
    xs = [1.0, 2.0, 3.0, 4.0, 5.0]
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 0) == 1.0 and percentile(xs, 100) == 5.0
    assert percentile([10.0, 20.0], 25) == 12.5


def test_interval_union_counts_overlap_once():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3), (1.5, 2.5)]) == 3.0
    assert union_length([(0, 5), (1, 2)]) == 5.0
    assert union_length([(3, 3), (4, 2)]) == 0.0  # empty and reversed intervals


def test_self_time_with_concurrent_child_writes():
    epoch = Span(0, "driver.run_one_epoch", None, 0.0, 10.0)
    wiring = Span(1, "epoch.run_epoch", 0, 0.0, 4.0)
    # four writes running at once over [5, 8], one sticking out past the end
    writes = [
        Span(2, "catalog.write_table", 0, 5.0, 7.0),
        Span(3, "catalog.write_table", 0, 5.5, 8.0),
        Span(4, "catalog.write_table", 0, 6.0, 6.5),
        Span(5, "catalog.write_table", 0, 9.5, 11.0),
    ]
    kids = children([epoch, wiring, *writes])
    assert self_time(epoch, kids[0]) == pytest.approx(10.0 - 4.0 - 3.0 - 0.5)
    assert covered_frac(epoch, kids[0]) == pytest.approx(0.75)
    assert self_time(wiring, kids.get(1, [])) == pytest.approx(4.0)


def test_tracer_nests_spans_and_hangs_helper_threads_under_main():
    import threading

    tr = Tracer()
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            pass
        seen = {}

        def worker():
            with tr.span("write") as w:
                seen["w"] = w

        t = threading.Thread(target=worker)
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    assert inner.parent == outer.id
    assert seen["w"].parent == outer.id
    assert outer.end >= inner.end >= inner.start >= outer.start


def test_tracer_under_concurrent_spans():
    import threading

    tr = Tracer()
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with tr.span("epoch") as outer:

            def worker():
                for _ in range(200):
                    with tr.span("write"):
                        with tr.span("inner"):
                            pass

            threads = [threading.Thread(target=worker) for _ in range(16)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=30)
            assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    assert len(tr.spans) == 1 + 16 * 200 * 2
    assert [s.id for s in tr.spans] == list(range(len(tr.spans)))
    by_id = {s.id: s for s in tr.spans}
    for s in tr.spans[1:]:
        parent = by_id[s.parent]
        assert parent.name == ("epoch" if s.name == "write" else "write")
        assert parent.thread == s.thread or parent is outer
        assert s.end is not None


def _event_log(tmp_path, events):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    with open(d / "events_1_local-1", "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")
    return str(d)


def _task(stage, start, end, run_ms, gc=0, shuffle=0, spill=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Launch Time": start, "Finish Time": end},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "JVM GC Time": gc,
            "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 7},
        },
    }


def test_event_log_aggregates_by_job_group(tmp_path):
    grp = lambda g: {"spark.jobGroup.id": g} if g else {}  # noqa: E731
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Properties": grp("span-1")},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}, "Properties": grp("span-1")},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1}, "Properties": grp("span-1")},
        _task(0, 1000, 2000, 900, gc=100, shuffle=50),
        _task(0, 1000, 3000, 1900, shuffle=50),
        _task(1, 3000, 3500, 400, spill=9),
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Properties": grp("span-2")},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2}, "Properties": grp("span-2")},
        _task(2, 4000, 4100, 100),
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Properties": grp(None)},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 3}, "Properties": grp(None)},
        _task(3, 5000, 5100, 50),
    ]
    ev = read_event_log(_event_log(tmp_path, events))
    g1, g2, none = ev["groups"]["span-1"], ev["groups"]["span-2"], ev["groups"][""]
    assert (g1["jobs"], g1["stages"], g1["tasks"]) == (1, 2, 3)
    assert g1["task_s"] == pytest.approx(3.2)
    assert g1["gc_s"] == pytest.approx(0.1)
    assert g1["shuffle_write_bytes"] == 100 and g1["shuffle_read_bytes"] == 21
    assert g1["spill_bytes"] == 9
    assert (g2["jobs"], g2["tasks"]) == (1, 1)
    assert (none["jobs"], none["tasks"]) == (1, 1)
    assert ev["tasks"][0] == (1.0, 2.0, "span-1")
    assert task_skew(g1["stage_tasks"]) == pytest.approx(1.9 / 1.4)
    assert task_skew(g2["stage_tasks"]) == 0.0


@pytest.mark.parametrize("name", ["rate_per_s", "op_s.p50", "epoch.dedup_rank.task_skew", "9lives", "a-b_c.d"])
def test_metric_name_accepts(name):
    assert check_metric_name(name) == name


@pytest.mark.parametrize("name", ["", "_x", ".x", "a b", "a/b", "é", "x" * 65, None])
def test_metric_name_rejects(name):
    with pytest.raises(ValueError):
        check_metric_name(name)


def test_benchmark_json_names_are_valid_and_unique():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]] + [
        w["name"] for w in spec["workloads"]
    ]
    assert len(names) == len(set(names))
    for n in names:
        check_metric_name(n)
    assert any(m["name"] == "setup_s" for m in spec["end_to_end"])


def test_failure_accounting():
    t = Tally()
    assert not t.correct and t.failed_frac == 0.0
    t.record(True)
    t.record(True)
    assert t.correct and t.failed_frac == 0.0
    t.record(False, "phash differs")
    assert (t.attempted, t.failed) == (3, 1)
    assert t.failed_frac == pytest.approx(1 / 3)
    assert not t.correct
    assert t.reasons == ["phash differs"]
