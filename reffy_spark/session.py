"""SparkSession factory tuned for the crawl/extract workload.

Local-mode testing runs on ``local[N]``; the same config block is what we
would ship to a multi-executor cluster via ``spark-submit --py-files``
(AQE on, Arrow on, shuffle partitions sized to cores, UTC).
"""

from __future__ import annotations

import os
import zipfile

from pyspark.sql import SparkSession

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build_pyfiles_zip() -> str:
    """Package ``reffy_spark`` as a zip for ``spark-submit --py-files``.

    On a real cluster this is how executors receive the package; locally
    ``get_spark`` also exports PYTHONPATH so forked Python workers can
    unpickle UDFs regardless of driver cwd.
    """
    out_path = os.path.join("/tmp", "reffy_spark_pyfiles.zip")
    pkg_dir = os.path.join(_REPO_ROOT, "reffy_spark")
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, _REPO_ROOT))
    return out_path


def get_spark(
    app_name: str = "reffy_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` or ``*``. Shuffle
    partitions default to the core count — on a real cluster this would be
    ~2-3x total executor cores; AQE coalesces the rest at runtime.
    ``master`` overrides entirely (e.g. ``local-cluster[4,8,12288]`` to
    emulate a 4-executor cluster with separate JVMs).
    """
    if master is not None:
        ncores = cores or (os.cpu_count() or 8)
    elif cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        ncores = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        ncores = cores
    if shuffle_partitions is None:
        shuffle_partitions = max(ncores, 8)

    # Make the package importable by forked Python workers (local mode)
    # and by executors (cluster mode uses --py-files; see build_pyfiles_zip).
    pp = os.environ.get("PYTHONPATH", "")
    if _REPO_ROOT not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (_REPO_ROOT, pp) if p)

    builder = (
        SparkSession.builder.master(master)
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # The CPU-saturated Arrow extraction stage (plus occasional host
        # throttling in this sandbox) can starve the executor heartbeat
        # thread; with the defaults (10s interval, maxFailures=60) the
        # executor logs "Exit as unable to send heartbeats to driver more
        # than 60 times" and SELF-TERMINATES its task pool — even in
        # local mode — failing everything after it. There are no real
        # node failures to detect here, so relax liveness deadlines.
        .config("spark.executor.heartbeatInterval", "60s")
        .config("spark.executor.heartbeat.maxFailures", "10000")
        .config("spark.network.timeout", "1200s")
        # Long-lived sessions (test suites, notebooks, the BSP crawl
        # loop) accumulate dead broadcast/cache blocks until storage
        # fills and every new broadcast EVICTS under the memory-manager
        # lock — observed as multi-minute stalls with executor threads
        # blocked in releaseUnrollMemoryForThisTask. The ContextCleaner
        # only reclaims blocks after a driver GC notices dead
        # references; the default periodic GC (30 min) never fires
        # within a suite. 2 min keeps the storage pool bounded.
        .config("spark.cleaner.periodicGC.interval", "2min")
        # Python workers fork from this daemon instead of the stock one:
        # it keeps every task from re-reading pyspark.zip's directory
        # (0.1-0.2 s per task, see reffy_spark/pyworker.py). The module
        # is found through the PYTHONPATH exported above.
        .config("spark.python.daemon.module", "reffy_spark.pyworker")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
