"""SparkSession factory.

Defaults are tuned so the same code is correct on local[N] (tests/bench)
and sane on a large cluster: AQE on (runtime re-planning, skew-join
splitting, partition coalescing), shuffle partitions sized to the
parallelism at hand, UTC session time zone (determinism for the DuckDB
oracle), Arrow enabled for the pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Read by tables.load_table for events.parquet (TIMESTAMP(NANOS) column);
# safe to set dynamically on any session.
NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def env_flag(name: str) -> bool:
    """Parse an on/off environment variable by value: "1", "true",
    "yes" and "on" (any case) are on; "0", "false", empty and unset are
    off."""
    return os.environ.get(name, "").strip().lower() in ("1", "true", "yes", "on")


def get_spark(
    app_name: str = "kafka_stream_aggregator_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS (driver contract) or 32. On a
    real cluster you would drop ``.master`` and let the submitter decide;
    every other conf below still applies.
    """
    n = int(cpus or os.environ.get("SPARK_GRAFT_CPUS", "32"))
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
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config(NANOS_CONF, "true")
        # 128 MB parquet split target: big enough to amortize task overhead
        # at 100 TB (≈800k tasks), small enough to fit executor memory.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    if extra:
        for k, v in extra.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
