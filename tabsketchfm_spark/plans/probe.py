"""Per-query probe: the Spark jobs a query runs, found by job group.

``run`` puts every job a query starts, an eager builder's jobs and the
noop write alike, in one Spark job group; ``fingerprint`` sums the
stages of exactly those jobs off the Spark UI REST API. The fingerprint
(stage count, complete + skipped; shuffle read/write and input MB) is a
plan property: identical across runs of the same code and data while
wall time swings with the host. Compare the byte volumes exactly:
``n_stages`` can move by a few stages on multi-job iterative queries,
because which exchanges the scheduler reuses across jobs is not fixed
by the plan.
"""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.request
import uuid

FINGERPRINT_KEYS = {
    "shuffle_read_mb": "shuffleReadBytes",
    "shuffle_write_mb": "shuffleWriteBytes",
    "input_mb": "inputBytes",
}


def warm_up(spark, *sf_dirs: str) -> None:
    """Run the real execution paths once, untimed: parquet vectorized
    reader, whole-stage-codegen compile, shuffle + hash-agg machinery
    and the JIT; otherwise the first timed query absorbs them all (a
    trivial spark.range warms none of these)."""
    from pyspark.sql import functions as F

    from tabsketchfm_spark.sources.tables import load_table

    for sf_dir in sf_dirs:
        (
            load_table(spark, sf_dir, "lineitem")
            .groupBy("l_returnflag")
            .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")))
            .write.mode("overwrite").format("noop").save()
        )
    spark.catalog.clearCache()


def tag(spark, name: str) -> str:
    """Put the jobs this thread starts from now on in a new job group."""
    group = f"probe-{name}-{uuid.uuid4().hex[:8]}"
    spark.sparkContext.setJobGroup(group, name)
    return group


def untag(spark, group: str) -> list[int]:
    """End ``group`` and return the ids of its jobs. The status store is
    fed by a listener that runs behind the jobs it reports; draining the
    listener bus first makes both the job list and every job's stages
    final, so no reader has to poll."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


def run(spark, name: str, fn, sf_dir: str) -> tuple[float, list[int]]:
    """Build query ``fn`` and write it to the noop sink; returns the wall
    time of build + write and the ids of every job they ran."""
    group = tag(spark, name)
    try:
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        wall = time.perf_counter() - t0
    finally:
        job_ids = untag(spark, group)
    return wall, job_ids


def stages(spark, job_ids: list[int]) -> list[dict]:
    """The REST records of every complete or skipped stage attempt of
    the given jobs, each stage once even when several jobs share it."""
    sc = spark.sparkContext
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"

    def get(path: str):
        with urllib.request.urlopen(base + path, timeout=10) as r:
            return json.loads(r.read())

    def attempts(stage_id: int) -> list[dict]:
        try:
            return get(f"/stages/{stage_id}?details=false")
        except urllib.error.HTTPError as e:
            # past spark.ui.retainedStages (default 1000) the store
            # evicts skipped stages first, their completion time being
            # -1, then the oldest: a stage of a query that ran fewer
            # stages than that is missing only if it was skipped
            if e.code != 404:
                raise
            return [{"stageId": stage_id, "status": "SKIPPED"}]

    ids = sorted({s for j in job_ids for s in get(f"/jobs/{j}")["stageIds"]})
    return [
        a for s in ids for a in attempts(s) if a["status"] in ("COMPLETE", "SKIPPED")
    ]


def fingerprint(spark, job_ids: list[int]) -> dict:
    """{"n_stages": N, "shuffle_read_mb": X, "shuffle_write_mb": X,
    "input_mb": X} over the stages of ``job_ids``."""
    ss = stages(spark, job_ids)
    fp = {"n_stages": len(ss)}
    for out_key, api_key in FINGERPRINT_KEYS.items():
        fp[out_key] = round(sum(s.get(api_key, 0) for s in ss) / 1e6, 2)
    return fp


def cached_mb(spark) -> float:
    """Memory and disk held by cached blocks right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6
