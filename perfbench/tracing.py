"""Spans for the traced run, and Spark event-log aggregation by span.

A span is (id, name, parent, start, end), kept in memory and written out
when the run ends.  Opening a span sets the Spark job group of the calling
thread to the span's id, so every job the layer submits can be attributed
to it from the event log: task time, GC, shuffle bytes, spill and skew.

`instrument_engine` wraps the epoch layers' public functions from outside
the program.  Under tracing each layer's DataFrame outputs are forced with
an eager localCheckpoint before its span closes, so a lazy layer's span
measures that layer's own execution, not just its plan wiring.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict

from metrics import Span


class Tracer:
    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[Span] = []

    def _stack(self) -> list[Span]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"span-{span.id}", span.name)

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        # the lock orders this with the main thread's pushes and pops: a
        # span opened on a helper thread (the epoch's concurrent writes)
        # hangs under the innermost span open on the main thread
        with self._lock:
            outer = stack or self._main_stack
            s = Span(
                id=len(self.spans),
                name=name,
                parent=outer[-1].id if outer else None,
                start=time.time(),
                thread=threading.current_thread().name,
                attrs=dict(attrs) or None,
            )
            self.spans.append(s)
            stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            with self._lock:
                stack.pop()
                inner = stack[-1] if stack else None
            self._set_group(inner)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def _force(df):
    return df.localCheckpoint(eager=True)


def _dir_stats(path: str) -> tuple[int, int]:
    files = nbytes = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(root, n))
    return files, nbytes


@contextmanager
def instrument_engine(tracer: Tracer):
    """Wrap the crawl-epoch layers for the duration of the block.

    Every wrapper calls the original public function, forces its DataFrame
    outputs, records counts as span attributes, and restores the original
    on exit."""
    from linkkchecker_net_spark.engine import catalog, driver, epoch

    orig = {
        (epoch, "run_epoch"): epoch.run_epoch,
        (epoch, "split_politeness"): epoch.split_politeness,
        (epoch, "fetch_and_classify"): epoch.fetch_and_classify,
        (epoch, "generate_candidates"): epoch.generate_candidates,
        (epoch, "dedup_gate_rank"): epoch.dedup_gate_rank,
        (catalog, "write_table"): catalog.write_table,
        (driver, "build_bloom"): driver.build_bloom,
    }

    def run_epoch(*a, **k):
        with tracer.span("epoch.run_epoch"):
            return orig[(epoch, "run_epoch")](*a, **k)

    def split_politeness(*a, **k):
        with tracer.span("epoch.split_politeness"):
            batch, carry = orig[(epoch, "split_politeness")](*a, **k)
            return _force(batch), _force(carry)

    def fetch_and_classify(*a, **k):
        with tracer.span("epoch.fetch_and_classify") as s:
            fetched = _force(orig[(epoch, "fetch_and_classify")](*a, **k))
        s.attrs = {"fetched_df": fetched}
        return fetched

    def generate_candidates(*a, **k):
        with tracer.span("epoch.generate_candidates") as s:
            cands, meta, handle = orig[(epoch, "generate_candidates")](*a, **k)
            cands, meta = _force(cands), _force(meta)
        s.attrs = {"candidates_df": cands}
        return cands, meta, handle

    def dedup_gate_rank(*a, **k):
        with tracer.span("epoch.dedup_gate_rank") as s:
            res, front, handles = orig[(epoch, "dedup_gate_rank")](*a, **k)
            res, front = _force(res), _force(front)
        s.attrs = {"kept_dfs": (res, front)}
        return res, front, handles

    def write_table(df, path):
        with tracer.span("catalog.write_table", path=path) as s:
            orig[(catalog, "write_table")](df, path)
        s.attrs["files"], s.attrs["bytes"] = _dir_stats(path)

    def build_bloom(*a, **k):
        with tracer.span("filters.build_bloom"):
            return orig[(driver, "build_bloom")](*a, **k)

    wrappers = {
        "run_epoch": run_epoch,
        "split_politeness": split_politeness,
        "fetch_and_classify": fetch_and_classify,
        "generate_candidates": generate_candidates,
        "dedup_gate_rank": dedup_gate_rank,
        "write_table": write_table,
        "build_bloom": build_bloom,
    }
    for (mod, name) in orig:
        setattr(mod, name, wrappers[name])
    try:
        yield
    finally:
        for (mod, name), fn in orig.items():
            setattr(mod, name, fn)


def count_span_rows(tracer: Tracer, spans: list[Span]) -> None:
    """Replace the DataFrame handles the layer wrappers left on their
    spans with row counts.  Runs after the measured epochs, under a job
    group of its own, so the counting jobs land in no layer's span."""
    from pyspark.sql import functions as F

    with tracer.span("trace.count_rows"):
        for s in spans:
            a = s.attrs or {}
            if "fetched_df" in a:
                df = a.pop("fetched_df")
                a["pages"] = df.filter(
                    (F.col("classification") == "ok")
                    & F.col("content_type").startswith("text/html")
                ).count()
            if "candidates_df" in a:
                a["candidates"] = a.pop("candidates_df").count()
            if "kept_dfs" in a:
                a["kept"] = sum(df.count() for df in a.pop("kept_dfs"))
            s.attrs = a or None


def read_event_log(log_dir: str) -> dict:
    """Aggregate a Spark event log by job group.

    Returns {"groups": {group: {...}}, "tasks": [(start_s, end_s, group)]}
    where each group holds jobs, stages, tasks, task_s, gc_s,
    shuffle_write_bytes, shuffle_read_bytes, spill_bytes and stage_tasks
    (stage id -> list of task run seconds, for skew)."""
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}
    tasks: list[tuple[float, float, str]] = []

    def g(name: str) -> dict:
        return groups.setdefault(
            name,
            {
                "jobs": 0, "stages": set(), "tasks": 0, "task_s": 0.0, "gc_s": 0.0,
                "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "spill_bytes": 0,
                "stage_tasks": {},
            },
        )

    # a rolling log is a directory of events_* parts; a plain one is a file
    files = (
        [log_dir]
        if os.path.isfile(log_dir)
        else sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True))
    )
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    grp = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    g(grp)["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    grp = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    stage_group[ev["Stage Info"]["Stage ID"]] = grp
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    grp = stage_group.get(sid, "")
                    info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                    d = g(grp)
                    d["stages"].add(sid)
                    d["tasks"] += 1
                    run_s = tm.get("Executor Run Time", 0) / 1000.0
                    d["task_s"] += run_s
                    d["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                    d["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    rd = tm.get("Shuffle Read Metrics") or {}
                    d["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                        "Local Bytes Read", 0
                    )
                    d["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0
                    )
                    d["stage_tasks"].setdefault(sid, []).append(run_s)
                    tasks.append((info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0, grp))
    for d in groups.values():
        d["stages"] = len(d["stages"])
    return {"groups": groups, "tasks": tasks}


def task_skew(stage_tasks: dict[int, list[float]]) -> float:
    """max / median task run time in the stage with the most task time;
    0 when no stage has two or more tasks."""
    multi = {k: v for k, v in stage_tasks.items() if len(v) >= 2}
    if not multi:
        return 0.0
    xs = sorted(max(multi.values(), key=sum))
    med = xs[len(xs) // 2] if len(xs) % 2 else (xs[len(xs) // 2 - 1] + xs[len(xs) // 2]) / 2
    return xs[-1] / med if med > 0 else 0.0
