"""SparkSession factory tuned for the engine.

Local mode is the test bed; the config is written for a real cluster:
AQE on (runtime coalesce + skew-join), Arrow enabled for the few
pandas-interop paths, UTC session time zone so timestamp arithmetic is
deterministic across engines (the DuckDB oracle is TZ-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Largest driver heap the factory asks for by default; hosts with 64 GB
# or more get this, smaller hosts get a quarter of their memory (the
# JVM's own default heap fraction, -XX:MaxRAMPercentage=25).
MAX_DRIVER_MEM_MB = 16 * 1024
CGROUP_MEMORY_MAX = "/sys/fs/cgroup/memory.max"


def _cgroup_memory_max() -> int | None:
    """The cgroup-v2 memory limit in bytes, or None when the file is
    absent or holds ``max`` (no limit)."""
    try:
        with open(CGROUP_MEMORY_MAX) as f:
            raw = f.read().strip()
    except OSError:
        return None
    return int(raw) if raw.isdigit() else None


def _host_memory_bytes() -> int | None:
    """The smaller of physical memory and the cgroup-v2 limit."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, OSError, ValueError):
        phys = None
    limits = [b for b in (phys, _cgroup_memory_max()) if b and b > 0]
    return min(limits) if limits else None


def default_driver_memory() -> str:
    """``spark.driver.memory`` for a new session: $SPARK_GRAFT_DRIVER_MEM
    when set, else the smaller of 16g and a quarter of the host's
    memory, so the driver heap cannot outgrow the machine."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    mb = MAX_DRIVER_MEM_MB
    host = _host_memory_bytes()
    if host is not None:
        mb = min(mb, host // 4 // (1024 * 1024))
    return f"{mb}m"


def get_spark(
    app_name: str = "tabsketchfm_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    ui: bool = False,
) -> SparkSession:
    """Build (or fetch) the SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS, then all cores.
    ``spark.sql.shuffle.partitions`` defaults to the core count: at
    local scale a 200-partition shuffle is pure overhead; on a real
    cluster this knob is expected to be raised to ~2-3× total cores.
    ``spark.driver.memory`` is $SPARK_GRAFT_DRIVER_MEM when set, else
    the smaller of 16g and a quarter of the host's memory (physical
    memory, capped by a cgroup-v2 ``memory.max``); see
    ``default_driver_memory``. It only takes effect when this call
    starts the JVM.
    """
    # Python workers (pandas UDF / mapInPandas) must be able to import
    # this package regardless of the driver's cwd: put the repo root on
    # PYTHONPATH before the JVM (and its worker factories) starts. On a
    # real cluster this becomes --py-files / a shipped wheel.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + pp if pp else "")
        )
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus), 4)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # testdata events.parquet carries TIMESTAMP(NANOS); read as long
        # and convert to micros in the loader (sources/tables.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # PySpark 4's DataFrame-debugging wrapper captures a python
        # call-site (inspect stack walk) AND pays 3 extra py4j round
        # trips (origin set/clear + conf.get) on EVERY DataFrame API
        # call. Expression-heavy query builds here make tens of
        # thousands of such calls — measured ~60% of the bench total
        # was driver-side build time (OPTIMIZATION_r12.md). Purely a
        # python-side error-context feature; plans are unchanged.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", str(ui).lower())
        .config("spark.driver.memory", default_driver_memory())
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_package_on_workers(spark: SparkSession) -> None:
    """Ship this package to Python workers via addPyFile — required
    when the SparkSession was created by an external harness whose
    environment doesn't have the repo on PYTHONPATH. Idempotent per
    session. Operators using mapInPandas / pandas UDFs call this."""
    sc = spark.sparkContext
    if sc.environment.get("_tabsketchfm_pkg_shipped"):
        return
    import tempfile
    import zipfile

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zpath = os.path.join(
        tempfile.gettempdir(), f"tabsketchfm_spark_pkg_{os.getpid()}.zip"
    )
    with zipfile.ZipFile(zpath, "w") as z:
        pkg = os.path.join(root, "tabsketchfm_spark")
        for dirpath, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, root))
    sc.addPyFile(zpath)
    sc.environment["_tabsketchfm_pkg_shipped"] = "1"
