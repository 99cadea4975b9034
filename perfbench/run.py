"""crawlspark benchmark: one workload per invocation, run from the root of
a source checkout.

    python3 perfbench/run.py --workload crawl_ramp --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from --seed, sets up (session build and
input generation, several times, plus one warm-up), measures the
workload's operation for --seconds, checks the outputs, and prints every
metric by name with its unit.  The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}.  With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json; with
--trace 1 they are its per-layer metrics, taken from spans and the Spark
event log of a traced measurement window that follows an untraced one.

Everything the run writes goes under .perfbench_work/ in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPS = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def load_spec(root: str) -> dict:
    from metrics import check_metric_name, check_unit

    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for m in spec["end_to_end"] + spec["per_layer"]:
        check_metric_name(m["name"])
        check_unit(m["unit"])
    return spec


def import_program(root: str):
    """Import the program from this checkout, and only from it."""
    sys.path.insert(0, root)
    import linkkchecker_net_spark

    pkg = os.path.realpath(os.path.dirname(linkkchecker_net_spark.__file__))
    if not pkg.startswith(os.path.realpath(root) + os.sep):
        raise ImportError(f"linkkchecker_net_spark imported from {pkg}, outside {root}")


def session_conf(work: str, trace: bool) -> dict:
    conf = {
        "spark.driver.memory": "3g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # keep the JVM's temp files, and its perf-data file, out of /tmp
        "spark.driver.extraJavaOptions": "-Dio.netty.tryReflectionSetAccessible=true"
        f" -Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def setup(run, wl, conf: dict, cores: int) -> dict:
    """Set up SETUP_REPS times: build the session (the first build launches
    the JVM, later ones restart the context in it) and load the inputs.
    The inputs are generated once, after the first build; one warm-up
    follows.  setup_s is the median build-and-load plus generation plus
    warm-up."""
    from linkkchecker_net_spark.session import build_session

    builds, loads, gen = [], [], 0.0
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        if run.spark is not None:
            run.spark.stop()
        run.spark = build_session(app_name="perfbench", cores=cores, extra_conf=conf)
        run.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        builds.append(t1 - t0)
        if rep == 0:
            wl.make_inputs(run)
            gen = time.perf_counter() - t1
            t1 = time.perf_counter()
        wl.load_inputs(run)
        loads.append(time.perf_counter() - t1)
    t = time.perf_counter()
    wl.warmup(run)
    warm = time.perf_counter() - t
    return {
        "session.launch_s": builds[0],
        "session.build_s": statistics.median(builds),
        "setup.load_s": statistics.median(loads),
        "setup.input_s": gen,
        "setup.warmup_s": warm,
        "setup_s": statistics.median(b + x for b, x in zip(builds, loads)) + gen + warm,
    }


def e2e_lines(m: dict, setup_m: dict, peak_mb: float, tally) -> list[tuple]:
    """Every end-to-end metric of this workload, with the names the
    notes use, as (name, value, unit) rows for the human-readable output."""
    from metrics import percentile, tail_percentile

    samples = m["samples"]
    n = len(samples)
    q = tail_percentile(n)
    rows = [
        ("rate_per_s", m["rate_per_s"], "1/s"),
        (f"op_s.p50 (n={n})", m["op_s.p50"], "s"),
        (f"op_s.p{q} (n={n})", percentile(samples, q), "s")
        if q
        else (f"op_s.tail (n={n}: under 20 samples, none)", float("nan"), "s"),
    ]
    for key, unit in (
        ("crawl_urls_per_s", "1/s"),
        ("seed_ingest_s", "s"),
        ("validate_images_per_s", "1/s"),
        ("queries_s", "s"),
        ("report_s", "s"),
    ):
        if key in m:
            rows.append((key, m[key], unit))
    rows += [(k, v, "s") for k, v in sorted(m.items()) if k.startswith("query.")]
    rows += [
        ("setup_s", setup_m["setup_s"], "s"),
        ("peak_rss_mb", peak_mb, "MB"),
        ("failed_frac", tally.failed_frac, "ratio"),
    ]
    return rows


def layer_metrics(tracer, evlog: dict, window: tuple[float, float]) -> dict:
    """Per-layer metrics of the traced window from spans and the event log."""
    from metrics import children, clip, covered_frac, descendants, self_time, union_length
    from tracing import task_skew

    spans = [s for s in tracer.spans if s.end is not None and window[0] <= s.start <= window[1]]
    kids = children(tracer.spans)
    groups = evlog["groups"]

    def grp(s):
        return groups.get(f"span-{s.id}", {})

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    out: dict[str, float] = {}
    epochs = [s for s in spans if s.name == "driver.run_one_epoch"]
    per: dict[str, list[float]] = {}
    totals = {"pages": 0, "candidates": 0, "kept": 0}
    for e in epochs:
        sub = descendants(e.id, kids)
        by = {}
        for s in sub:
            by.setdefault(s.name, []).append(s)
        one = lambda n: by.get(n, [None])[0]  # noqa: E731
        rows = {
            "epoch.s": e.dur,
            "epoch.covered_frac": covered_frac(e, kids.get(e.id, [])),
            "driver.jobs": sum(grp(s).get("jobs", 0) for s in [e, *sub]),
            "driver.stages": sum(grp(s).get("stages", 0) for s in [e, *sub]),
            "driver.serial_frac": 1
            - union_length(clip([(a, b) for a, b, _ in evlog["tasks"]], e.start, e.end)) / e.dur,
        }
        r = one("epoch.run_epoch")
        if r:
            rows["driver.build_s"] = self_time(r, kids.get(r.id, []))
        for span_name, key in (
            ("epoch.split_politeness", "epoch.politeness"),
            ("epoch.fetch_and_classify", "epoch.fetch"),
            ("epoch.generate_candidates", "epoch.parse"),
            ("epoch.dedup_gate_rank", "epoch.dedup_rank"),
        ):
            s = one(span_name)
            if s is None:
                continue
            g = grp(s)
            rows[f"{key}_s"] = s.dur
            rows[f"{key}.task_s"] = g.get("task_s", 0.0)
            rows[f"{key}.shuffle_bytes"] = g.get("shuffle_write_bytes", 0)
            rows[f"{key}.spill_bytes"] = g.get("spill_bytes", 0)
            rows[f"{key}.task_skew"] = task_skew(g.get("stage_tasks", {}))
            for k, v in (s.attrs or {}).items():
                if k in totals:
                    totals[k] += v
        blooms = by.get("filters.build_bloom", [])
        rows["filters.build_s"] = sum(b.dur for b in blooms)
        writes = by.get("catalog.write_table", [])
        rows["catalog.write_s"] = union_length((w.start, w.end) for w in writes)
        rows["catalog.bytes_written"] = sum((w.attrs or {}).get("bytes", 0) for w in writes)
        rows["catalog.files_written"] = sum((w.attrs or {}).get("files", 0) for w in writes)
        for k, v in rows.items():
            per.setdefault(k, []).append(v)
    out.update({k: med(v) for k, v in per.items()})
    if totals["pages"]:
        out["epoch.parse.links_per_page"] = totals["candidates"] / totals["pages"]
    if totals["candidates"]:
        out["epoch.dedup.survivor_frac"] = totals["kept"] / totals["candidates"]

    for s in spans:
        if s.name.startswith("query."):
            q = s.name.rsplit(".", 1)[0]
            out[f"{q}.jobs"] = out.get(f"{q}.jobs", 0) + grp(s).get("jobs", 0)
            out[f"{q}.task_s"] = out.get(f"{q}.task_s", 0.0) + grp(s).get("task_s", 0.0)
        if s.name.startswith("reports."):
            out[s.name.replace("_report", "") + "_s"] = s.dur
    passes = [s for s in spans if s.name == "multimodal.image_metadata"]
    if passes:
        out["validate.pass_s"] = med([p.dur for p in passes])
        out["validate.task_s"] = med([grp(p).get("task_s", 0.0) for p in passes])
    ids = {f"span-{s.id}" for s in spans}
    out["spark.task_s"] = sum(g["task_s"] for k, g in groups.items() if k in ids)
    out["spark.gc_s"] = sum(g["gc_s"] for k, g in groups.items() if k in ids)
    return out


def shutdown(run) -> None:
    """Stop the session, then the JVM, and wait until the JVM and every
    Python worker it started have exited."""
    from pyspark import SparkContext

    from box import descendants, wait_gone

    pids = descendants(os.getpid())
    if run.spark is not None:
        run.spark.stop()
        run.spark = None
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its launcher pipe closes
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    wait_gone(pids)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    sys.path.insert(0, HERE)
    spec = load_spec(root)
    import_program(root)

    import workloads
    from box import RssSampler, box_record, cpu_times

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", "run")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "eventlog", "inputs"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # python workers and the package zip inherit the temp dir from here;
    # the launcher JVM that spark-submit starts would write /tmp/hsperfdata_*
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        os.environ.get("SPARK_LAUNCHER_OPTS", "") + " -XX:-UsePerfData"
    ).strip()
    import tempfile

    tempfile.tempdir = None

    cores = len(os.sched_getaffinity(0))
    box = box_record()
    cpu0 = cpu_times()
    run = workloads.Run(work, args.seed, args.seconds)
    wl = workloads.WORKLOADS[args.workload](run)
    trace = bool(args.trace)
    layers: dict[str, float] = {}
    try:
        with RssSampler() as rss:
            setup_m = setup(run, wl, session_conf(work, trace), cores)
            m = wl.measure(run)
            post = wl.post(run)
            if trace:
                from tracing import Tracer, count_span_rows, instrument_engine, read_event_log

                tracer = Tracer(run.spark.sparkContext)
                run.tracer = tracer
                t0 = time.time()
                with instrument_engine(tracer):
                    mt = wl.measure(run)
                post_t = wl.post(run)
                t1 = time.time()
                count_span_rows(tracer, tracer.spans)
                micro = wl.microbench(run) if hasattr(wl, "microbench") else {}
                app = run.spark.sparkContext.applicationId
                run.spark.stop()
                run.spark = None
                evlog = read_event_log(
                    next(
                        os.path.join(work, "eventlog", d)
                        for d in os.listdir(os.path.join(work, "eventlog"))
                        if app in d
                    )
                )
                layers = layer_metrics(tracer, evlog, (t0, t1))
                layers.update(micro)
                layers["catalog.files_read"] = post_t.get("catalog.files_read", 0)
                layers["trace.overhead_frac"] = mt["op_s.p50"] / m["op_s.p50"] - 1
                layers.update({k: v for k, v in setup_m.items() if k != "setup_s"})
                if "decode_fail_frac" in m:
                    layers["validate.decode_fail_frac"] = m["decode_fail_frac"]
                tracer.dump(os.path.join(work, "spans.json"))
    finally:
        shutdown(run)
    cpu1 = cpu_times()
    box["steal_frac"] = (cpu1[1] - cpu0[1]) / max(cpu1[0] - cpu0[0], 1)

    e2e = {"rate_per_s": m["rate_per_s"], "op_s.p50": m["op_s.p50"], "setup_s": setup_m["setup_s"]}
    m.update(post)
    rows = e2e_lines(m, setup_m, rss.peak_mb, run.tally)
    print(f"box: {json.dumps(box)}")
    for name, value, unit in rows:
        print(f"{args.workload} {name} = {value:.4f} {unit}")
    for name, value in setup_m.items():
        if name != "setup_s":
            print(f"{args.workload} {name} = {value:.4f} s")
    if trace:
        mt.update(post_t)
        for name, value, unit in e2e_lines(mt, setup_m, rss.peak_mb, run.tally):
            print(f"{args.workload} traced {name} = {value:.4f} {unit}")
        for name in sorted(layers):
            print(f"{args.workload} layer {name} = {layers[name]:.6g}")
    for why in run.tally.reasons:
        print(f"FAILED: {why}")

    units = {x["name"]: x["unit"] for x in spec["end_to_end"] + spec["per_layer"]}
    names = [x["name"] for x in spec["per_layer" if trace else "end_to_end"]]
    values = layers if trace else e2e
    result = {
        "correct": run.tally.correct,
        "attempted": run.tally.attempted,
        "failed": run.tally.failed,
        "metrics": {n: {"value": float(values.get(n, 0.0)), "unit": units[n]} for n in names},
    }
    with open(os.path.join(root, ".perfbench_work", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({**result, "box": box, "all": {**setup_m, **m, **layers}}, f, default=str)
    print(json.dumps(result))
    return 0 if run.tally.correct else 1


if __name__ == "__main__":
    sys.exit(main())
