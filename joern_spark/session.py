"""SparkSession factory tuned for the local[N] sandbox while keeping settings that
generalize to a multi-executor cluster (AQE, skew-join handling, Arrow batches).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def host_cpus() -> int:
    """``SPARK_GRAFT_CPUS``, else the CPUs this process may run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def driver_memory(share: float = 0.3, max_mb: int = 8192) -> str:
    """``SPARK_DRIVER_MEMORY``, else ``share`` of the host's MemTotal,
    clamped to [1 GiB, ``max_mb``] — a heap that fits the host it runs on."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f
                        if line.startswith("MemTotal:"))
    return f"{max(1024, min(max_mb, int(total_kb / 1024 * share)))}m"


def get_spark(
    app_name: str = "joern_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession.

    ``cpus`` controls local parallelism (``local[cpus]``); on a real cluster the
    master URL comes from spark-submit and this becomes a no-op. Shuffle
    partitions default to the core count — at 100 TB you would size this to
    ~2-3x total executor cores instead (and rely on AQE coalescing).
    """
    cpus = cpus or host_cpus()
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # pipeline stages reuse the parse output on several join sides; the
        # lineage-based ambiguity check misfires on those legitimate reuses
        .config("spark.sql.analyzer.failAmbiguousSelfJoin", "false")
    )
    # profiling hook: SPARK_GRAFT_EVENTLOG=<dir> records the event log for
    # per-stage attribution (tools/analyze_eventlog.py)
    ev_dir = os.environ.get("SPARK_GRAFT_EVENTLOG")
    if ev_dir:
        os.makedirs(ev_dir, exist_ok=True)
        builder = (builder.config("spark.eventLog.enabled", "true")
                   .config("spark.eventLog.dir", f"file://{ev_dir}"))
    # A/B hook: SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2" injects ad-hoc conf into
    # any entry point (scaling_run, bench, tests) without code edits —
    # used for codec/serialization experiments on the bandwidth-walled host
    for pair in filter(None, os.environ.get("SPARK_GRAFT_EXTRA_CONF",
                                            "").split(";")):
        k, _, v = pair.partition("=")
        if k and v:
            builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
