"""Console entry — the `LinkChecker.exe <url>` analog.

Mirrors /root/reference/LinkChecker/Program.cs:15-42: build the config from
argv (validation errors print and exit), run the engine, stream the
severity-colored per-URL log (BasicLogger.cs:19-51 colors: Error red,
Warn yellow, Info default), and set the process exit code to the failure
count (Program.cs:42; intended semantics — see reports.failure_count).

The fetch stage is table-driven: `--web` names a parquet table of
(url, url_hash, status, content_type, body, image_id) rows — the
deterministic stand-in this sandbox uses for live HTTP (SURVEY.md §2 S2/S3;
in production the same epoch DAG points its fetch join at an async-HTTP
pandas UDF batch instead).  Run under spark-submit for a cluster:

    spark-submit --py-files linkkchecker_net_spark.zip \
        -m linkkchecker_net_spark http://site-0.test/page/0 --web s3://...

Usage (local):
    python -m linkkchecker_net_spark <seed_url> [<seed_url> ...]
        --web PATH [--robots PATH] [--ckpt DIR] [--budget N]
        [--max-epochs N] [--cores N] [--reports] [--no-log]
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

_COLORS = {"Error": "\033[31m", "Warn": "\033[33m", "Info": ""}
_RESET = "\033[0m"


def _parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(
        prog="linkkchecker_net_spark",
        description="PySpark-native broken-link crawler (linkkchecker.net re-imagined)",
    )
    p.add_argument("seeds", nargs="+", help="seed URL(s); scheme defaults to http://")
    p.add_argument("--web", required=True, help="parquet path of the web/fetch table")
    p.add_argument("--robots", default=None, help="parquet path of robots/politeness table")
    p.add_argument("--ckpt", default=None, help="checkpoint dir (default: temp)")
    p.add_argument(
        "--budget",
        type=int,
        default=None,
        help="per-host politeness budget/epoch (omit = unbounded; any given "
        "integer is enforced)",
    )
    p.add_argument("--max-epochs", type=int, default=1000)
    p.add_argument("--cores", type=int, default=None)
    p.add_argument("--reports", action="store_true", help="print report summaries when done")
    p.add_argument(
        "--extensions-dir",
        default=None,
        help="dir holding extensions.txt + per-extension JSON (S4 config source)",
    )
    p.add_argument("--no-log", action="store_true", help="suppress the per-URL crawl log")
    p.add_argument("--resume", action="store_true", help="resume from --ckpt instead of seeding")
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = _parse_args(sys.argv[1:] if argv is None else argv)

    # EngineConfig.EnsureCorrect analog (EngineConfig.cs:58-70): every seed
    # must canonicalize to a URL; errors print and exit without crawling
    import re

    from linkkchecker_net_spark.kernels.canonicalize import host_of, normalize_seed

    errors = []
    for s in args.seeds:
        url = normalize_seed(s)
        host = host_of(url) if url else None
        # .NET's `new Uri(...)` rejects hosts with spaces/empties outright
        # (EngineConfig.cs:58-70); urljoin is permissive, so check here
        if url is None or not host or not re.fullmatch(r"[a-z0-9._-]+", host):
            errors.append(f"Uri is incorrect : {s}")
    if errors:
        for e in errors:
            print(e)
        return 2
    if args.resume and not args.ckpt:
        print("--resume requires --ckpt")
        return 2

    from linkkchecker_net_spark.engine.driver import CrawlConfig, CrawlDriver
    from linkkchecker_net_spark.fixtures import docweb
    from linkkchecker_net_spark.reports import reports
    from linkkchecker_net_spark.session import build_session

    spark = build_session(app_name="linkkchecker_net_spark", cores=args.cores)
    try:
        web = spark.read.parquet(args.web)
        robots = (
            spark.read.parquet(args.robots)
            if args.robots
            else docweb.empty_robots(spark)
        )
        ck = args.ckpt or tempfile.mkdtemp(prefix="linkkchecker_ckpt_")
        driver = CrawlDriver(
            spark,
            web,
            robots,
            CrawlConfig(
                ckpt_dir=ck, default_budget=args.budget, max_epochs=args.max_epochs
            ),
        )
        if args.resume:
            driver.resume()
        else:
            driver.run([{"seed_url": s, "priority": 0} for s in args.seeds])

        results = driver.results()
        if not args.no_log:
            use_color = sys.stdout.isatty()
            log = reports.crawl_log(results).orderBy("discovery_rank")
            for r in log.toLocalIterator():
                c = _COLORS.get(r["severity"], "") if use_color else ""
                reset = _RESET if (use_color and c) else ""
                print(f"{c}{r['severity']}: {r['message']}{reset}")

        failures = reports.failure_count(results)
        if args.extensions_dir:
            from linkkchecker_net_spark.config import load_extensions

            excfg = load_extensions(args.extensions_dir)
            for err in excfg.errors:
                print(err)
            for ext in excfg.extensions:
                try:
                    df = ext.done(driver)
                    counts = {
                        row["verdict"]: row["count"]
                        for row in df.groupBy("verdict").count().collect()
                    } if "verdict" in df.columns else {"rows": df.count()}
                    print(f"extension[{ext.name}]: {counts}")
                except Exception as ex:
                    print(f"Error running extension {ext.name} : {ex}")
        if args.reports:
            meta = driver.page_meta()
            for name, df in (
                ("canonical", reports.canonical_report(meta)),
                ("description", reports.description_report(meta)),
            ):
                counts = {
                    row["verdict"]: row["count"]
                    for row in df.groupBy("verdict").count().collect()
                }
                print(f"report[{name}]: {counts}")
            print(f"metrics: {[tuple(r) for r in driver.metrics().collect()]}")
        print(f"failures: {failures}")
        return min(failures, 255)
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
