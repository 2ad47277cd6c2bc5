"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

The FINAL stdout line is the compact timing JSON (~1.2 KB):
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}
The driver keeps only the last 2000 chars of stdout, so the final line
MUST stay well under that window (round 9 shipped parsed:null because
the in-band fingerprints grew the single line to ~3.2 KB). Stage
fingerprints are printed as a SEPARATE earlier line and also written to
BENCH_FP.json next to this script for durable round-over-round
comparison.

Each query is materialized with the no-op sink (full execution, no
driver collect). Timings exclude session startup, include planning.

``fingerprints`` carries each query's executed-stage fingerprint from
the FIRST (cold-cache) timed run — stage count + shuffle read/write +
input bytes of the run's Spark job group, off the Spark UI REST API
(tabsketchfm_spark/plans/probe.py). These are PLAN properties,
byte-identical across runs of the same code and data, so the bench
artifact itself proves plan-identity round-over-round: a wall-time
swing with matching fingerprints is environment drift, not a code
regression (VERDICT r8 item 3 — the adjudication lives in-band now).
Fingerprint capture happens OUTSIDE the timed sections; timing
semantics (median of 3, clearCache after each query) are unchanged
from prior rounds.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tabsketchfm_spark.plans import probe, registry
from tabsketchfm_spark.session import get_spark

HEADLINE = [
    "q1_pricing_summary",
    "a1a8_profile_lineitem",
    "a1a8_profile_events",
    "k3_joinability_oph_o_custkey",
    "k3_all_pairs_joinability",
    "sk1_minhash_orders_keys",
    "sk3_snapshot_lineitem",
    "sk7_setsim_o_custkey_c_custkey",
    "dedup_exact_documents",
    "dedup_minhash_lsh_documents",
    "t2_cosine_topk_embeddings",
    "k4_column_vote_embeddings",
    "text_quality_score",
    "w4_first_event_per_user",
    "t4_top_users_by_value",
    "ann_ivf_topk_embeddings",
    "asof_event_hourly_snapshot",
    "range_join_error_followers",
    "scale_salted_join_revenue",
    "dedup_clusters_documents",
    "text_pack_sequences",
]

# scale_check runs HEADLINE + these: ops with a known blowup CLASS that
# the headline set does not cover. dedup_embedding_cosine is the
# closed-form random-hyperplane LSH bucket join: on clustered vectors
# its bucket-colliding candidate set can approach O(n^2) — a 10x data
# step catches it
SCALE_EXTRA = [
    "dedup_embedding_cosine",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = get_spark("bench", ui=True)
    qs = registry.queries()
    probe.warm_up(spark, sf_dir)

    # median of 3: one run can be poisoned by a container hiccup and
    # best-of-N hides sustained slowdowns; the median is robust to a
    # single outlier in either direction (local timings swing ±20%)
    timings: dict[str, float] = {}
    fingerprints: dict[str, dict] = {}
    for name in HEADLINE:
        runs = []
        for i in range(3):
            group = probe.tag(spark, name) if i == 0 else None
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
            runs.append(time.perf_counter() - t0)
            if i == 0:
                # fingerprint the FIRST (cold-cache) run only: runs 2-3
                # may hit blocks run 1 persisted, which legitimately
                # changes their stage shape; run 1's stage set is the
                # deterministic plan property. Tagging and capture are
                # outside the timed section.
                fingerprints[name] = probe.fingerprint(spark, probe.untag(spark, group))
        # drop cached blocks the query persisted: leaked caches from
        # earlier queries add eviction pressure and timing variance
        spark.catalog.clearCache()
        timings[name] = round(sorted(runs)[1], 3)

    total = round(sum(timings.values()), 3)
    # fingerprints: separate earlier line + durable side file — NEVER in
    # the final line (the driver tails 2000 chars; see module docstring)
    fp_payload = json.dumps({"fingerprints": fingerprints, "sf": sf})
    print(fp_payload)
    fp_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_FP.json"
    )
    try:
        with open(fp_path, "w") as f:
            f.write(fp_payload + "\n")
    except OSError as e:
        # a read-only/full checkout must NOT take the compact line down
        # with it — that would re-create the parsed:null failure this
        # split exists to fix
        print(f"BENCH_FP.json not written: {e}", file=sys.stderr)
    sys.stdout.flush()
    compact = json.dumps(
        {
            "metric": "headline_queries_total_sec",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": sf,
        }
    )
    # the compact line is the artifact contract: fail loud if it
    # outgrows the driver's tail window (a real exception — an assert
    # would vanish under python -O)
    if len(compact) >= 1800:
        raise RuntimeError(f"final bench line too long: {len(compact)}")
    print(compact)
    spark.stop()


if __name__ == "__main__":
    main()
