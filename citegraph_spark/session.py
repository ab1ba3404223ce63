"""SparkSession factory with scale-aware defaults.

Local testing runs on local[N]; the same config keys are the ones that
matter on a 1000-executor cluster (AQE, adaptive skew join, broadcast
threshold). Shuffle partition count is sized from parallelism rather than
Spark's legacy default of 200, and the driver's heap from the machine's
memory.

On `local[...]` masters whose workers can import this package, Python
workers fork from the daemon `citegraph_spark.pyworker` instead of
`pyspark.daemon`: the same daemon, except that a task's
`importlib.invalidate_caches()` no longer re-reads `pyspark.zip` (about
0.2 s per Python task below CPython 3.13). Other masters keep
`pyspark.daemon`: their executors get the package only through
`addPyFile`, after the daemon has started.
"""

from __future__ import annotations

import atexit
import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def default_driver_memory() -> str:
    """`SPARK_GRAFT_DRIVER_MEM`, else half the machine's physical memory.
    A fixed large heap lets one session's driver grow until the kernel
    kills it, or another session beside it."""
    if "SPARK_GRAFT_DRIVER_MEM" in os.environ:
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as fh:
            total = next(int(ln.split()[1]) << 10 for ln in fh if ln.startswith("MemTotal:"))
    except (OSError, StopIteration):
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(total >> 21, 1024)}m"


def _workers_import_package() -> bool:
    """True when a local Python worker can import `citegraph_spark`: the
    JVM starts the daemon in the driver's working directory, first on its
    `sys.path`, followed by the driver's `PYTHONPATH`."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    return os.path.realpath(root) in {os.path.realpath(p) for p in paths if p}


def get_spark(
    app_name: str = "citegraph_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for analytic workloads.

    AQE is on: at cluster scale it coalesces small post-shuffle partitions,
    converts sort-merge joins to broadcast when runtime stats allow, and
    splits skewed partitions — all decisions we want made per-query from
    real statistics, not hardcoded like the reference's `numPartitions=16`
    (reference Analytics.scala:376,400).
    """
    cpus = default_parallelism()
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
        # the events table stores TIMESTAMP(NANOS) which the vectorized
        # parquet reader rejects; read as long and convert (sources/tables.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    if master.startswith("local[") and _workers_import_package():
        builder = builder.config("spark.python.daemon.module", "citegraph_spark.pyworker")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if not spark.sparkContext.master.startswith("local["):
        _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Make `citegraph_spark` importable on executor Python workers.

    In pure local[N] mode, Python workers fork from a daemon that the
    driver's JVM starts in the JVM's working directory (the driver's at
    launch). The daemon's `sys.path` is that directory, then the
    `PYTHONPATH` the JVM hands it: `pyspark.zip` and py4j first, then the
    driver's `PYTHONPATH`. Run from the repo root, or with the root on
    `PYTHONPATH`, imports just work, which silently HIDES a real
    deployment requirement: on any multi-JVM master
    (local-cluster, standalone, YARN, k8s) executor Python workers
    start in the worker's scratch dir, and every mapInPandas /
    applyInPandas(WithState) stage whose function is pickled BY
    REFERENCE to this module dies with ModuleNotFoundError (found by
    the round-11 full-registry local-cluster parity board: 7 entries —
    the sketch, multimodal, and stateful-streaming families). The
    spark-submit path ships the package with --py-files
    (deploy/submit.sh); this is the same fix for programmatically
    built sessions: zip the package once per APPLICATION and addPyFile
    it, which distributes the zip and prepends it to every worker's
    sys.path.

    Shipped once per applicationId (r12 ADVICE): get_spark() is called
    per-entry in sweeps, and getOrCreate() returns the same live
    session, so an unguarded addPyFile would leak one temp zip and one
    duplicate worker sys.path entry per call. The zip must OUTLIVE the
    app — executors fetch it lazily from the driver's file server, and
    replacement executors re-fetch it after a failure (the
    tests/test_pyworker_kill.py scenario) — so cleanup happens at
    interpreter exit, not after addPyFile returns.
    """
    import tempfile
    import zipfile

    app_id = spark.sparkContext.applicationId
    if app_id in _SHIPPED_APP_IDS:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    fd, zpath = tempfile.mkstemp(suffix=".zip", prefix="citegraph_spark_py_")
    os.close(fd)
    with zipfile.ZipFile(zpath, "w") as z:
        for dirpath, _dirs, files in os.walk(pkg_dir):
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, root))
    spark.sparkContext.addPyFile(zpath)
    _SHIPPED_APP_IDS.add(app_id)
    _SHIPPED_ZIPS.append(zpath)


_SHIPPED_APP_IDS: set[str] = set()
_SHIPPED_ZIPS: list[str] = []


@atexit.register
def _cleanup_shipped_zips() -> None:
    for p in _SHIPPED_ZIPS:
        try:
            os.unlink(p)
        except OSError:
            pass
