"""The query probe: job-group attribution (plans/probe.py) and the
scripts/probe.py command line."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_probe_cli_rejects_unknown_names_before_starting_spark():
    """Unknown names fail fast: non-zero exit and the names on stderr,
    before any Spark session starts (which would log its log4j profile)."""
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "probe.py"),
         "q1_pricing_summary", "no_such_query"],
        capture_output=True, text=True, timeout=60,
    )
    assert out.returncode != 0
    assert "no_such_query" in out.stderr
    assert "q1_pricing_summary" not in out.stderr
    assert out.stdout == "" and "log4j" not in out.stderr


def test_probe_attributes_jobs_by_group(spark, sf001, monkeypatch):
    from tabsketchfm_spark.plans import probe, registry

    qs = registry.queries()
    groups: list[str] = []
    real_tag = probe.tag
    monkeypatch.setattr(
        probe, "tag", lambda s, name: groups.append(real_tag(s, name)) or groups[-1]
    )

    # (a) run clears its group: a job started after it returns stays out
    _, q1_jobs = probe.run(spark, "q1", qs["q1_pricing_summary"], sf001)
    assert q1_jobs
    spark.range(10).count()
    assert probe.untag(spark, groups[-1]) == q1_jobs  # re-read after the count

    # (b) an eager builder's build-time jobs are counted: this query
    # builds dedup_clusters_documents, then writes an empty range, which
    # is a single job
    def build_only(s, sf_dir):
        qs["dedup_clusters_documents"](s, sf_dir)
        return s.range(0)

    _, build_jobs = probe.run(spark, "dedup_build", build_only, sf001)
    assert len(build_jobs) > 1, "no build-time jobs attributed"

    # (c) the fingerprint is a plan property
    fps = [
        probe.fingerprint(spark, probe.run(spark, "q1", qs["q1_pricing_summary"], sf001)[1])
        for _ in range(2)
    ]
    spark.catalog.clearCache()
    assert fps[0] == fps[1]
    assert fps[0]["n_stages"] > 0 and fps[0]["input_mb"] > 0
