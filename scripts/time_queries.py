"""Driver-mimic harness: run every registered query + oracle at sf0.01
under a vanilla SparkSession, time each, and report the slow tail.

Usage: python scripts/time_queries.py [sf_dir] [name_filter...]
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from tabsketchfm_spark.session import default_driver_memory


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from tabsketchfm_spark.plans import registry
    from tests.oracle_util import run_oracle, assert_match

    qs = registry.queries()
    oracles = registry.oracle_sql()
    if only:
        unknown = set(only) - set(qs)
        if unknown:
            print(f"WARNING: unknown query names skipped: {sorted(unknown)}")
    t_all = time.time()
    times = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        status = "ok"
        try:
            sdf = fn(spark, sf_dir)
            if name in oracles:
                odf = run_oracle(oracles[name], sf_dir)
                assert_match(sdf, odf, name)
            else:
                sdf.count()  # forces materialization (rows-only query)
        except Exception as e:  # noqa: BLE001
            status = f"FAIL: {type(e).__name__}: {str(e)[:200]}"
        dt = time.time() - t0
        times[name] = round(dt, 2)
        print(f"{dt:7.2f}s  {name}  {status}", flush=True)
    total = time.time() - t_all
    print(f"\nTOTAL {total:.1f}s over {len(times)} queries")
    for name, dt in sorted(times.items(), key=lambda kv: -kv[1])[:15]:
        print(f"  slow: {dt:7.2f}s {name}")
    with open("/tmp/query_times.json", "w") as f:
        json.dump(times, f, indent=1)


if __name__ == "__main__":
    main()
