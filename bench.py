"""Benchmark harness (driver contract).

Runs the headline queries (bench=True in the registry) at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Noise protocol (VERDICT r5 item 3): the committed artifact must be
reproducible, and this shared VM shows both transient multi-second
slowdowns DURING a run (position-dependent — hits whatever queries run
~15-60s into sustained load) and whole-launch slowdowns (BENCH_r05's
single end-of-round launch read 11.7 s against the same round's
sustained 8.4-8.6 s). Two layers of defence:

- within a launch: two sequential power passes (second in reverse
  order), per-query time = min of the two;
- across launches: the top-level invocation re-executes itself
  $BENCH_LAUNCHES (default 3) times as FRESH processes (fresh JVM,
  fresh page-cache state) and reports the per-query minimum across
  launches — the launch floor, which is the number that reproduces.

(A concurrent throughput pass was measured and rejected: on a single
local[N] JVM, 8 concurrent jobs contend on the scheduler and run ~5x
slower than sequential.)

Materialization via the noop sink: full execution, no driver collect.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def shuffle_partitions_for(sf_dir: str, cpus: int) -> int:
    """Size reducer count to the data, not the core count: a 600k-row
    shuffle does not need 32 reducers, and every surplus task is pure
    scheduling latency at bench scale. ~16 MB of input parquet per
    reducer, floor 8, capped at the core count; AQE still coalesces or
    splits at runtime. On a real cluster the same policy scales with
    input bytes (100 TB / 16 MB ≈ 6M initial partitions would instead
    be capped by spark.sql.adaptive.coalescePartitions.initialPartitionNum)."""
    try:
        total = sum(
            os.path.getsize(os.path.join(sf_dir, f))
            for f in os.listdir(sf_dir)
            if f.endswith(".parquet")
        )
    except OSError:
        return cpus
    return max(8, min(cpus, total // (16 << 20)))


def run_one_launch(sf_dir: str, sf, cpus: int) -> dict:
    from kafka_stream_aggregator_spark.queries import REGISTRY
    from kafka_stream_aggregator_spark.session import get_spark

    spark = get_spark(
        "bench", shuffle_partitions=shuffle_partitions_for(sf_dir, cpus)
    )
    names = [n for n, s in REGISTRY.items() if s.bench]

    # warm-up: one tiny query absorbs JVM/codegen startup. NOTE: we do
    # NOT cache the input tables — InMemoryRelation defeats parquet
    # filter pushdown + column pruning and skews join-size estimates;
    # measured slower than warm-OS-cache parquet scans on every query.
    materialize(REGISTRY["q1_pricing_summary"].fn(spark, sf_dir).limit(1))

    timings: dict[str, float] = {}
    for ordering in (names, names[::-1]):
        for name in ordering:
            t0 = time.time()
            materialize(REGISTRY[name].fn(spark, sf_dir))
            dt = round(time.time() - t0, 3)
            timings[name] = min(timings.get(name, dt), dt)
    return {
        "metric": "bench_total_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "passes": 2,
        "n_queries": len(names),
        "sf": sf,
        # the parallelism the launch really had, read after its queries ran
        "master": spark.sparkContext.master,
        "defaultParallelism": spark.sparkContext.defaultParallelism,
        "spark.sql.shuffle.partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
    }


def main() -> None:
    from kafka_stream_aggregator_spark.session import local_resources

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf_s = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf = float(sf_s) if sf_s.replace(".", "").isdigit() else sf_s
    # the thread count get_spark gives local[n]
    cpus, _ = local_resources()

    if os.environ.get("KSA_BENCH_CHILD") == "1":
        print(json.dumps(run_one_launch(sf_dir, sf, cpus)))
        return

    n_launches = max(1, int(os.environ.get("BENCH_LAUNCHES", "3")))
    results = []
    for _ in range(n_launches):
        env = dict(os.environ, KSA_BENCH_CHILD="1")
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            env=env,
            capture_output=True,
            text=True,
            check=False,
        )
        line = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
        try:
            results.append(json.loads(line))
        except (json.JSONDecodeError, IndexError):
            sys.stderr.write(
                f"bench child failed (rc={out.returncode}):\n{out.stderr[-4000:]}\n"
            )
    if not results:
        raise SystemExit("all bench launches failed")

    queries = {
        name: min(r["queries"][name] for r in results)
        for name in results[0]["queries"]
    }
    print(
        json.dumps(
            {
                "metric": "bench_total_sec",
                "value": round(sum(queries.values()), 3),
                "unit": "sec",
                "queries": queries,
                "passes": 2,
                "launches": len(results),
                "launch_totals": [r["value"] for r in results],
                "n_queries": results[0]["n_queries"],
                "sf": sf,
                **{k: results[0][k] for k in
                   ("master", "defaultParallelism", "spark.sql.shuffle.partitions")},
            }
        )
    )


if __name__ == "__main__":
    main()
