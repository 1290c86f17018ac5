"""SparkSession factory.

Defaults are tuned so the same code is correct on local[N] (tests/bench)
and sane on a large cluster: AQE on (runtime re-planning, skew-join
splitting, partition coalescing), shuffle partitions sized to the
parallelism at hand, UTC session time zone (determinism for the DuckDB
oracle), Arrow enabled for the pandas-UDF slow path.
"""

from __future__ import annotations

import os
from collections.abc import Mapping

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.sql import SparkSession

# Read by tables.load_table for events.parquet (TIMESTAMP(NANOS) column);
# safe to set dynamically on any session.
NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"

# Hadoop's LocalFileSystem with an in-process chmod(2); built from
# jvm/ForkFreeLocalFileSystem.java by tools/build_jvm.py.
FORK_FREE_FS = "kafka_stream_aggregator_spark.jvm.ForkFreeLocalFileSystem"
FORK_FREE_FS_JAR = os.path.join(os.path.dirname(__file__), "jvm", "fork-free-local-fs.jar")
LOCAL_FS = "org.apache.hadoop.fs.LocalFileSystem"
CHECKPOINT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"


def env_flag(name: str) -> bool:
    """Parse an on/off environment variable by value: "1", "true",
    "yes" and "on" (any case) are on; "0", "false", empty and unset are
    off."""
    return os.environ.get(name, "").strip().lower() in ("1", "true", "yes", "on")


def local_resources(
    cpus: int | None = None,
    environ: Mapping[str, str] | None = None,
    host_cpus: int | None = None,
    host_mem_bytes: int | None = None,
) -> tuple[int, str]:
    """``(n, driver_memory)`` for a ``local[n]`` session.

    ``n`` is ``cpus``, else $SPARK_GRAFT_CPUS, else ``host_cpus``; the
    driver memory is $SPARK_DRIVER_MEM, else half of ``host_mem_bytes``
    (at least 1g). In local mode the driver JVM is also the executor, so
    its heap holds every task's memory; the other half is left to the
    Python workers and the OS. ``environ`` defaults to ``os.environ``,
    ``host_cpus`` to the CPUs this process may run on
    (``os.sched_getaffinity``) and ``host_mem_bytes`` to physical RAM.
    """
    if environ is None:
        environ = os.environ
    if host_cpus is None:
        host_cpus = len(os.sched_getaffinity(0))
    if host_mem_bytes is None:
        host_mem_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    n = int(cpus or environ.get("SPARK_GRAFT_CPUS") or host_cpus)
    mem = environ.get("SPARK_DRIVER_MEM") or f"{max(1024, (host_mem_bytes // 2) >> 20)}m"
    return n, mem


def file_fs_impl() -> str:
    """The class ``get_spark`` names for ``file:``: ``FORK_FREE_FS`` when
    the JVM is still to be launched (it gets the jar) or already loads the
    class, else Hadoop's plain ``LocalFileSystem``. A JVM that other code
    launched (a session built before, or ``spark-submit``) never had the
    jar put on its class path by ``get_spark``."""
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        return FORK_FREE_FS
    SparkContext._ensure_initialized()
    try:
        SparkContext._jvm.java.lang.Class.forName(FORK_FREE_FS)
    except Py4JError:
        return LOCAL_FS
    return FORK_FREE_FS


def get_spark(
    app_name: str = "kafka_stream_aggregator_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS (driver contract), else the
    CPUs this process may run on (``os.sched_getaffinity``); the driver
    memory to $SPARK_DRIVER_MEM, else half the host's physical RAM (see
    ``local_resources``). ``extra`` overrides any conf below, the driver
    memory included, except ``spark.driver.extraClassPath``: the engine's
    jar is appended to the caller's class path, not replaced by it.

    Local files are created and checkpoints committed with no child
    process per file (the last three confs; docs/SCALING.md, "Checkpoint
    I/O on a local filesystem"): checkpoints commit by a plain rename,
    and ``file:`` is ``ForkFreeLocalFileSystem``, Hadoop's
    ``LocalFileSystem`` setting file modes with an in-process chmod(2).
    When this call attaches to a JVM launched without the engine's jar,
    ``file:`` stays Hadoop's plain ``LocalFileSystem`` (``file_fs_impl``).
    When it attaches to a running context whose ``file:`` is neither,
    checkpoints keep Spark's default manager.

    On a real cluster you would drop ``.master`` and let the submitter
    decide, and drop the jar and those three confs: on HDFS or an object
    store Spark's default checkpoint manager is the one that fits, and
    no file is created through ``file:``. Every other conf below still
    applies.
    """
    n, driver_mem = local_resources(cpus)
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Round-12 (guide §3.1/§9): let the planner pick shuffled-hash
        # join when the per-partition build side fits (canBuildLocalHashMap
        # bounds it by autoBroadcastJoinThreshold x shuffle partitions) —
        # skips the sort on both sides. Interleaved A/B at sf5 (min-of-4,
        # one JVM): q3 1.93->1.30s, q10 2.10->1.81, join_inner 1.82->1.61,
        # q5 2.36->2.24; no regression at sf0.1. Broadcast still wins
        # first; AQE skew splitting stays on; SMJ remains the fallback
        # whenever the build side ESTIMATE is large. Failure mode to
        # know (ADVICE r12): SHJ's build-side hash map cannot spill, so
        # the guard is only as good as Catalyst's size estimates — a
        # misestimated build side after selective filters can OOM an
        # executor at scale. Set SPARK_GRAFT_PREFER_SMJ=1 to restore
        # the always-spillable sort-merge default; skew/oversized-build
        # plan evidence lives in plans/r13/shj_* + tests/test_plans.py.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            "true" if env_flag("SPARK_GRAFT_PREFER_SMJ") else "false",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config(NANOS_CONF, "true")
        # 128 MB parquet split target: big enough to amortize task overhead
        # at 100 TB (≈800k tasks), small enough to fit executor memory.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Checkpoint commits on the local filesystem, for this local-mode
        # session. Spark's default manager goes through FileContext,
        # which checks for a symlink before each temp-file rename; without
        # libhadoop every check is a forked `readlink` (94 per 4k-trade
        # JSON batch, 4 state partitions x delta + checksum files plus
        # the offset, commit and file-source logs). The FileSystem-based
        # manager renames with rename(2). It needs a LocalFileSystem for
        # file:, which the bundled hive-exec jar otherwise replaces
        # (ServiceLoader) with ProxyLocalFileSystem, whose rename refuses
        # an existing target: an overwriting commit would then keep the
        # stale file. Hadoop's own LocalFileSystem also forks `chmod` for
        # every file and directory it creates (38 per batch, checkpoint
        # files plus the parquet sink's); ForkFreeLocalFileSystem is the
        # same filesystem with an in-process chmod(2). All of it is
        # tested in tests/test_checkpoint_io.py.
        .config(
            CHECKPOINT_MANAGER_CONF,
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .config("spark.hadoop.fs.file.impl", file_fs_impl())
    )
    extra = dict(extra or {})
    class_path = extra.pop("spark.driver.extraClassPath", None)
    builder = builder.config(
        "spark.driver.extraClassPath",
        f"{class_path}{os.pathsep}{FORK_FREE_FS_JAR}" if class_path else FORK_FREE_FS_JAR,
    )
    for k, v in extra.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # A context that was already running keeps the file: filesystem it
    # resolved, hive-exec's ProxyLocalFileSystem in a plain session: there
    # checkpoints keep Spark's default manager, whose commits it gets right.
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), spark._jsparkSession.sessionState().newHadoopConf()
    )
    if fs.getClass().getName() not in (FORK_FREE_FS, LOCAL_FS):
        spark.conf.unset(CHECKPOINT_MANAGER_CONF)
    return spark
