"""SparkSession construction mirroring the reference's `buildSparkConf`.

Reference: dga-graphx DGARunner.scala:133-146 builds a SparkConf (app
name, master, kryo). Here the equivalent tuned-for-DataFrame session:
AQE on (runtime re-plan + skew-join handling), shuffle partitions sized
to the core count, Arrow enabled for the pandas-UDF kernels.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "dga-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cores}]"
    if shuffle_partitions is None:
        # local[N] → N-ish shuffle partitions; a real cluster would use
        # 2-3x total executor cores.
        n = cores if not master.startswith("local[") else _local_cores(master, cores)
        shuffle_partitions = max(8, n)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # iterative state lives in LogicalRDDs (localCheckpoint) with no
        # stats, so SMJ would be picked by default; hash joins win for
        # the per-superstep equi-joins
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # NOTE: spark.sql.objectHashAggregate.sortBased.fallbackThreshold
        # is deliberately NOT raised session-wide. The CSR adjacency
        # packs need it >128 (measured 3-4x of the whole build at 38M
        # edges / 4 cores, BENCH/BASELINE.md), but they raise it
        # through the SCOPED plans.iteration.hash_agg_pack() context at
        # each pack's own action — a global raise would let EVERY
        # TypedImperativeAggregate (streaming collect_set, future
        # percentile aggs) hold millions of group buffers before the
        # sort-spill fallback, an OOM class the pack-specific reasoning
        # ("memory bounded by the pack's own output") does not cover.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # iterative loops localCheckpoint per superstep; the blocks are
        # freed by the ContextCleaner only after a driver GC — force one
        # regularly or long runs accumulate every iteration's state.
        # (Benchmarks may relax this: per-superstep state blocks are
        # ~10s of MB, so minutes between GCs cost little memory, while
        # a forced 48g-heap full GC is a fixed serial cost per run.)
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("SPARK_GRAFT_PERIODIC_GC", "1min"),
        )
        .config("spark.ui.enabled", "false")
    )
    # optional GC override for benchmarking (e.g. "-XX:+UseParallelGC":
    # throughput collector; G1's concurrent threads share the worker
    # cores, a per-core tax that distorts small-core-count legs)
    gc_opts = os.environ.get("SPARK_GRAFT_JAVA_OPTS")
    if gc_opts:
        builder = builder.config("spark.driver.extraJavaOptions", gc_opts)
    # Low-latency worker daemon (fastdaemon.py): Spark 4.1 launches
    # fresh Python workers for most jobs, and each pays ~0.2 s in
    # setup_spark_files' eager zipimport rescan — the dominant fixed
    # cost of every sub-second Python stage (the gather tier's whole
    # superstep regime). Enabled only when THIS process launches the
    # JVM (plain `python job.py` in local mode): the daemon inherits
    # the JVM's environment, so the PYTHONPATH prepend below reaches
    # it only if the JVM starts after us. Under spark-submit the
    # gateway JVM already exists (PYSPARK_GATEWAY_PORT is set) and the
    # daemon would fail to import the module — there, opt in manually:
    #   --conf spark.python.daemon.module=distributed_graph_analytics_spark.fastdaemon
    # with the package on the worker PYTHONPATH (e.g. --py-files plus
    # spark.executorEnv.PYTHONPATH).
    if _fastdaemon_enabled(master):
        pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        pypath = os.environ.get("PYTHONPATH", "")
        if pkg_root not in pypath.split(os.pathsep):
            os.environ["PYTHONPATH"] = (
                pkg_root + os.pathsep + pypath if pypath else pkg_root
            )
        builder = builder.config(
            "spark.python.daemon.module",
            "distributed_graph_analytics_spark.fastdaemon",
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _fastdaemon_enabled(master: str) -> bool:
    """See the call site: local master, not opted out, and no
    pre-existing gateway JVM (spark-submit) whose daemon would miss
    the PYTHONPATH prepend and fail to import the module."""
    return (
        master.startswith("local")
        and os.environ.get("SPARK_GRAFT_FAST_DAEMON", "1") == "1"
        and "PYSPARK_GATEWAY_PORT" not in os.environ
    )


def _local_cores(master: str, default: int) -> int:
    inner = master[len("local[") : -1]
    if inner == "*":
        return os.cpu_count() or default
    try:
        return int(inner)
    except ValueError:
        return default
