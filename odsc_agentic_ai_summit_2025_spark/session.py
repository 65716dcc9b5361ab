"""SparkSession factory.

Local testing runs on ``local[N]`` but every config default is chosen
for the scale-out case (AQE on, shuffle partitions sized, Arrow on for
the pandas-UDF slow path, UTC session tz for timestamp parity with the
reference's tz normalization at build_graph.py:181-187).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: driver heap ceiling, whatever the host has
_MAX_HEAP_MB = 48 * 1024


def host_defaults(affinity: set[int], mem_bytes: int) -> tuple[int, str]:
    """Local cores and driver heap sized from the host: every core this
    process may run on, and a quarter of physical memory (at least 1g,
    at most 48g). A fixed ``local[32]`` with a 48g heap ran 36 tasks at
    once on a 4-core, 15 GB host until the kernel killed the JVM."""
    heap_mb = min(_MAX_HEAP_MB, max(1024, mem_bytes // 4 // 2**20))
    return len(affinity), f"{heap_mb}m"


def get_spark(
    app_name: str = "odsc_spark_engine",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    Runs on ``local[N]`` with the :func:`host_defaults` cores and heap;
    ``$SPARK_GRAFT_CPUS`` and ``$SPARK_GRAFT_DRIVER_MEM`` override them
    for a deployment.
    """
    cores, heap = host_defaults(
        os.sched_getaffinity(0),
        os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE"),
    )
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", cores))
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing at the guide §2.2 / stock-Spark baseline:
        # parallelismFirst=true with a 64 MB advisory. History of this
        # pair, because it flip-flopped: r13 shipped parallelismFirst=
        # false + a 1 MB advisory after a probe showed false+64m
        # collapsing byte-small but CPU-DENSE post-shuffle stages onto
        # one core (q63 4.9 s → 19.4 s) — the dangerous combination is
        # the FLAG=false with a large advisory, because only then does
        # the advisory alone decide the post-shuffle task count. The
        # r13 1 MB default was never driver-verified ("inconclusive
        # under host noise"), was the prime suspect for the r13
        # q101/tiny-query regressions, and at 100 TB a 1 MB advisory
        # effectively disables crumb coalescing. The r14 A/B (4 runs
        # per query, both configs, same protocol) measured the stock
        # default AT OR BETTER on every cell the 1 MB setting was
        # meant to help (q63 5.04 vs 5.40, q82 2.78 vs 3.55, q38/q78/
        # q97/q100 flat) and equal on the q101/tiny-query set — so the
        # scale-safe stock default ships. A/B other values through
        # ``extra_conf`` (scripts/profile_query.py --conf).
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst", "true"
        )
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Fresh python worker per task: with reuse on, Spark 4.1's
        # idle-worker pool intermittently hands later Arrow stages a
        # stale worker whose handshake stalls the whole stage 10-30 s
        # (measured: a kNN query after an IVF query went 5 s → 15-36 s;
        # reuse=false removes the stall for a ~100 ms/task fork cost,
        # noise for the seconds-long kernel tasks this engine runs).
        # It stays false until a soak of reuse=true + the idle timeout
        # below (Spark 4 retires stale pool workers — the stall's
        # suspected cause) clears the kNN-after-IVF repro; soak it
        # through ``extra_conf`` (see OPTIMIZATION_r14.md).
        .config("spark.python.worker.reuse", "false")
        .config("spark.python.worker.idleTimeoutSeconds", "30")
        .config("spark.python.worker.killOnIdleTimeout", "true")
    )
    # With reuse=false every task forks a fresh worker; the dominant
    # fork cost is importing numpy/pandas/pyarrow (~300 ms). Forking
    # from a daemon that PRELOADED them (copy-on-write) keeps the
    # fresh-worker semantics at ~10 ms/task. Guarded: only set when
    # this interpreter can import the module (workers share the
    # interpreter/path in local mode; on a cluster ship the package).
    import importlib.util

    if importlib.util.find_spec(
        "odsc_agentic_ai_summit_2025_spark.daemon_preload"
    ):
        builder = builder.config(
            "spark.python.daemon.module",
            "odsc_agentic_ai_summit_2025_spark.daemon_preload",
        )
    builder = (
        builder
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", heap))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
