"""Scale-sweep evidence: run the headline queries at two scale factors
and report the wall-time ratio against the data ratio.

A query whose time grows faster than the data is hiding a
super-linear stage (an unbounded pair join, a driver-side loop, a
skew island) — exactly the class of bug that is invisible in a
single-SF bench and fatal at 100 TB. The local[32] expectation for a
10× data step is ≤ ~10× time once fixed per-query overhead (planning,
JIT, job launch — measured here via the small-SF floor) is excluded.

Usage: python scripts/scale_check.py [sf_small] [sf_big] [names...]
  defaults: /root/testdata/sf0.01 /root/testdata/sf0.1, bench HEADLINE
Prints one JSON line per query plus a summary line; exit code 1 if any
query scales worse than FLAG_FACTOR × the data ratio.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# a query is flagged when (t_big - OVERHEAD) > FLAG_FACTOR * ratio * max(t_small - OVERHEAD, FLOOR)
FLAG_FACTOR = 1.5
OVERHEAD_SEC = 0.35  # per-query fixed cost: planning + job launch at local[32]
FLOOR_SEC = 0.05  # below this the small-SF time is all overhead — ratio meaningless


def _sf_of(path: str) -> float:
    m = re.search(r"sf([0-9.]+)", path)
    return float(m.group(1)) if m else -1.0


def _time(qs, name, spark, sf_dir, runs: int = 2) -> float:
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
        best = min(best, time.perf_counter() - t0)
        spark.catalog.clearCache()
    return best


def main() -> None:
    small = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    big = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    from bench import HEADLINE, SCALE_EXTRA

    names = sys.argv[3:] or HEADLINE + SCALE_EXTRA
    ratio = _sf_of(big) / _sf_of(small)

    from tabsketchfm_spark.plans import probe, registry
    from tabsketchfm_spark.session import get_spark

    spark = get_spark("scale_check")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    probe.warm_up(spark, small, big)

    flagged = []
    rows = []
    for name in names:
        ts = _time(qs, name, spark, small)
        tb = _time(qs, name, spark, big)
        adj_s = max(ts - OVERHEAD_SEC, FLOOR_SEC)
        adj_b = max(tb - OVERHEAD_SEC, 0.0)
        scaling = adj_b / adj_s
        bad = scaling > FLAG_FACTOR * ratio
        if bad:
            flagged.append(name)
        rows.append(
            {
                "query": name,
                "t_small": round(ts, 3),
                "t_big": round(tb, 3),
                "scaling": round(scaling, 2),
                "data_ratio": ratio,
                "flag": bad,
            }
        )
        print(json.dumps(rows[-1]), flush=True)
    print(
        json.dumps(
            {
                "metric": "scale_check",
                "sf_small": _sf_of(small),
                "sf_big": _sf_of(big),
                "n_queries": len(names),
                "flagged": flagged,
            }
        )
    )
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
