"""Time registered queries and show the Spark work each one runs.

Usage: python scripts/probe.py [NAME ...] [--sf DIR] [--n N] [--stages]
                               [--explain DIR] [--driver]

No names sweeps the whole registry. After one lineitem warm-up, each
query is built and written to the noop sink N times and one JSON line
is printed: the runs, their median, the first (cold) run's job count
and stage fingerprint (tabsketchfm_spark/plans/probe.py), and
``retained_mb``, the cached blocks the runs left behind, read before
``clearCache`` (a persist the query never released). A query that
raises gets a FAIL status and the sweep goes on. The slow tail follows;
the exit code is 1 if a query failed, 2 (before any JVM starts) for
unknown names.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import sys
import traceback
from datetime import datetime

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tabsketchfm_spark.plans import probe, registry


def driver_session():
    from pyspark.sql import SparkSession

    from tabsketchfm_spark.session import default_driver_memory

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stage_rows(stages: list[dict]) -> list[dict]:
    def ts(x: str) -> float:
        return datetime.strptime(x[:23], "%Y-%m-%dT%H:%M:%S.%f").timestamp()

    rows, prev_end = [], None
    for s in sorted(stages, key=lambda s: s.get("firstTaskLaunchedTime", "")):
        start, end = s.get("firstTaskLaunchedTime"), s.get("completionTime")
        rows.append({
            "stage": s["stageId"],
            "tasks": s.get("numCompleteTasks", 0),
            "window_s": round(ts(end) - ts(start), 3) if start and end else 0.0,
            "gap_s": round(ts(start) - prev_end, 3) if start and prev_end else 0.0,
            "exec_s": s.get("executorRunTime", 0) / 1000,
            "input_mb": round(s.get("inputBytes", 0) / 1e6, 2),
            "shuffle_read_mb": round(s.get("shuffleReadBytes", 0) / 1e6, 2),
            "shuffle_write_mb": round(s.get("shuffleWriteBytes", 0) / 1e6, 2),
            "name": s.get("name", "")[:60],
        })
        prev_end = ts(end) if end else prev_end
    return rows


def probe_query(spark, name: str, fn, args, oracles: dict) -> dict:
    rec: dict = {"query": name}
    try:
        if args.explain:
            path = os.path.join(args.explain, f"{name}.txt")
            with open(path, "w") as f, contextlib.redirect_stdout(f):
                fn(spark, args.sf).explain("formatted")
            spark.catalog.clearCache()
        cached0 = probe.cached_mb(spark)
        results = [probe.run(spark, name, fn, args.sf) for _ in range(args.n)]
        runs = [round(wall, 3) for wall, _ in results]
        first_jobs = results[0][1]
        rec["runs"] = runs
        rec["median_s"] = round(statistics.median(runs), 3)
        rec["jobs"] = len(first_jobs)
        rec["retained_mb"] = round(probe.cached_mb(spark) - cached0, 3)
        rec["fingerprint"] = probe.fingerprint(spark, first_jobs)
        if args.stages:
            rec["stages"] = stage_rows(probe.stages(spark, first_jobs))
        if args.driver and name in oracles:
            from tests.oracle_util import assert_match, run_oracle

            assert_match(fn(spark, args.sf), run_oracle(oracles[name], args.sf), name)
        rec["status"] = "ok"
    except Exception as e:  # record, keep sweeping
        traceback.print_exc()
        rec["status"] = f"FAIL: {type(e).__name__}: {str(e)[:200]}"
    spark.catalog.clearCache()
    return rec


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        description="Time registered queries and show their Spark work."
    )
    ap.add_argument("names", nargs="*", help="registered query names (default: all)")
    ap.add_argument(
        "--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    ap.add_argument("--n", type=int, default=1, help="timed runs per query")
    ap.add_argument("--stages", action="store_true", help="add the first run's "
                    "per-stage rows: tasks, window, gap, executor time, MB")
    ap.add_argument("--explain", metavar="DIR", help="write DIR/<name>.txt, the "
                    "formatted plan of a separate build (eager builders run jobs)")
    ap.add_argument("--driver", action="store_true", help="vanilla SparkSession on "
                    "local[$SPARK_GRAFT_CPUS]; match each result to its DuckDB oracle")
    args = ap.parse_args(argv)
    if args.n < 1:
        ap.error("--n must be at least 1")
    qs = registry.queries()
    unknown = [n for n in args.names if n not in qs]
    if unknown:
        print(f"unknown query names: {' '.join(unknown)}", file=sys.stderr)
        return 2
    if args.explain:
        os.makedirs(args.explain, exist_ok=True)

    if args.driver:
        spark = driver_session()
    else:
        from tabsketchfm_spark.session import get_spark

        spark = get_spark("probe", ui=True)
    oracles = registry.oracle_sql()
    probe.warm_up(spark, args.sf)
    recs = []
    for name in args.names or list(qs):
        recs.append(probe_query(spark, name, qs[name], args, oracles))
        print(json.dumps(recs[-1]), flush=True)
    spark.stop()

    ok = [r for r in recs if r["status"] == "ok"]
    total = sum(r["median_s"] for r in ok)
    print(f"TOTAL {total:.2f}s over {len(recs)} queries: {len(ok)} ok, "
          f"{len(recs) - len(ok)} failed")
    for r in sorted(ok, key=lambda r: -r["median_s"])[:15]:
        print(f"  slow: {r['median_s']:8.2f}s  {r['query']}")
    return 0 if len(ok) == len(recs) else 1


if __name__ == "__main__":
    sys.exit(main())
