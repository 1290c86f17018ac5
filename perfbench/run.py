"""Benchmark entry point: replay a seeded backlog of framed trades through
the program's streaming pipeline and report what a user of it sees.

    python3 perfbench/run.py --workload trade_replay_avro --seed 1 --seconds 10 --trace 0

The last stdout line is one JSON object: `correct`, `attempted`,
`failed` and `metrics` (end-to-end metrics with --trace 0, per-layer
metrics with --trace 1). The line before it is a detail report with
every figure under the names the benchmark doc uses. The exit code is 0
only when the sink's output matched the oracle. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, replace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE_DIR = os.path.join(HERE, ".cache")
WORK_DIR = os.path.join(HERE, ".work")
RESULTS_DIR = os.path.join(HERE, ".results")


@dataclass(frozen=True)
class Workload:
    fmt: str
    files_per_trigger: int
    # Batches run before the timed window, in the same query: the JIT is
    # still warming up after them, but less steeply (see README.md).
    warm_batches: int
    # The timed window holds `seconds * nominal_rate` trades in whole
    # batches: about `seconds` of work on a contended 4-vCPU host.
    nominal_rate: int


WORKLOADS = {
    # Python Avro decode (mapInPandas) is the largest layer; 10k batches.
    "trade_replay_avro": Workload("avro", 5, 6, 5_000),
    # JVM JSON decode is cheap; per-trigger cost dominates; 4k batches.
    "trade_replay_json": Workload("json", 2, 8, 4_000),
}
ISOLATE_BATCHES = 2
KERNEL_RECORDS = 5000


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="seconds-long smoke mode: small files, batches and backlog")
    ap.add_argument("--unknown-ids", action="store_true",
                    help="frame every Avro trade with an id the registry never "
                         "issued; the oracle still expects the trades, so the "
                         "run must report failure")
    args = ap.parse_args(argv)
    if args.unknown_ids and WORKLOADS[args.workload].fmt != "avro":
        ap.error("--unknown-ids needs an Avro workload (JSON decode reads no id)")
    return args


def session(cpus: int, mem_mb: int, scratch: str):
    """The program's session, sized to the host, with Spark's and the
    JVM's scratch files under `scratch` (inside the checkout)."""
    from kafka_stream_aggregator_spark.session import get_spark

    return get_spark("perfbench", cpus=cpus, shuffle_partitions=cpus, extra={
        "spark.driver.memory": f"{mem_mb}m",
        "spark.local.dir": scratch,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData",
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
        "spark.ui.showConsoleProgress": "false",
    })


def stop_jvm(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers exit.
    The workers outlive the JVM as orphans if anything goes wrong, so the
    wait is on every process of the tree as it was before the stop."""
    from pyspark import SparkContext

    from .measure import process_tree

    started = process_tree()[1:]
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # the JVM must not outlive the run
            proc.kill()
            proc.wait(timeout=10)
    def alive():
        out = []
        for pid in started:
            try:
                with open(f"/proc/{pid}/stat", "rb") as f:
                    raw = f.read()
            except OSError:
                continue
            if raw[raw.rindex(b")") + 2 :].split()[0] != b"Z":  # zombies have exited
                out.append(pid)
        return out

    deadline = time.time() + 15
    while alive() and time.time() < deadline:
        time.sleep(0.2)
    for pid in alive():
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def code_hash() -> str:
    """Hash of the program's and the benchmark's Python files, so results
    of different code are never compared."""
    h = hashlib.sha1()
    for pattern in ("kafka_stream_aggregator_spark/**/*.py", "perfbench/*.py"):
        for path in sorted(glob.glob(os.path.join(ROOT, pattern), recursive=True)):
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:12]


def previous_untraced(args, code: str) -> list[dict]:
    """Details of the correct untraced runs of the same workload, size and
    code recorded in this checkout (any seed)."""
    path = os.path.join(RESULTS_DIR, f"{args.workload}.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        rows = [json.loads(line)["detail"] for line in f]
    return [d for d in rows if d["correct"] and not d["trace"] and d.get("code") == code
            and (d["seconds"], d["tiny"]) == (args.seconds, args.tiny)]


def steal_adjusted(wall_s: float, cpu_s: float, steal_s: float, cpus: int) -> tuple[float, float]:
    """(wall, CPU) seconds with the host's steal taken out, `f` being the
    share of the host's vCPU time stolen over the interval. While other
    guests are busy, the vCPUs that do run are slower by about 1 + f, so
    CPU is divided by that; wall loses the stolen share and that slowdown
    of the rest, and a batch also waits for its tasks on stolen vCPUs:
    wall * (1 - f)**2 is the form whose residual does not follow `f`
    (README.md, "Reading wall time")."""
    f = steal_s / (cpus * wall_s)
    return wall_s * (1.0 - f) ** 2, cpu_s / (1.0 + f)


def run(args) -> tuple[dict, dict]:
    from . import gen, replay
    from .measure import (
        Tracer,
        host_steal_s,
        physical_mem_bytes,
        tail_percentile,
        tree_cpu_s,
        tree_peak_rss_mb,
    )
    from .sparkstats import job_group_stats

    wl = WORKLOADS[args.workload]
    p = gen.TradeParams(n_trades=0)
    if args.tiny:
        wl = replace(wl, files_per_trigger=max(1, wl.files_per_trigger // 2),
                     warm_batches=3, nominal_rate=600)
        p = replace(p, trades_per_file=200, mean_interval_ms=2000.0, late_after=800,
                    late_frac=0.02, unknown_id_frac=0.02)
    per_batch = wl.files_per_trigger * p.trades_per_file
    timed_batches = max(2, math.ceil(args.seconds * wl.nominal_rate / per_batch))
    n_files = (wl.warm_batches + timed_batches) * wl.files_per_trigger
    p = replace(p, n_trades=n_files * p.trades_per_file + p.trades_per_file)
    if args.unknown_ids:
        p = replace(p, frame_id=gen.UNKNOWN_ID)

    cpus = len(os.sched_getaffinity(0))
    code = code_hash()
    mem_mb = max(1024, int(physical_mem_bytes() * 0.25) >> 20)
    run_id = f"{args.workload}-seed{args.seed}-{int(time.time())}"
    tracer = Tracer(run_id)
    root = tracer.add("run", 0.0, 0.0, None, workload=args.workload, seed=args.seed)
    work = os.path.join(WORK_DIR, run_id)
    scratch = os.path.join(WORK_DIR, run_id + "-tmp")
    os.makedirs(scratch)
    # SPARK_LOCAL_DIRS overrides spark.local.dir; TMPDIR reaches Python's
    # tempfile in this process and in the workers the JVM starts; the
    # launcher JVM that spark-submit runs first takes SPARK_LAUNCHER_OPTS.
    os.environ.update(SPARK_LOCAL_DIRS=scratch, TMPDIR=scratch,
                      SPARK_LAUNCHER_OPTS="-XX:-UsePerfData")

    # Set-up: session start, then the warm-up batches of the one query.
    # Generating the backlog between the two is not set-up.
    # (wall, tree CPU, host steal) seconds at the edges of both parts
    snap = lambda: (time.perf_counter(), tree_cpu_s(), host_steal_s())
    s0 = snap()
    with tracer.span("session.start", root):
        spark = session(cpus, mem_mb, scratch)
    s1 = snap()
    session_start_s = s1[0] - s0[0]
    try:
        with tracer.span("generate", root) as g:
            backlog = gen.backlog(CACHE_DIR, args.seed, p, wl.fmt)
        generate_s = tracer.now() - g.start
        registry = gen.make_registry()
        master = spark.sparkContext.master
        parallelism = spark.sparkContext.defaultParallelism
        shuffle_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))

        q0 = snap()
        rp = replay.Replay(spark, backlog, work, wl.fmt, registry, n_files,
                           wl.files_per_trigger)
        warm_span = tracer.add("warmup", tracer.now(), 0.0, root)
        timed_span = tracer.add("replay", 0.0, 0.0, root)
        listener = None
        if args.trace:
            listener = replay.make_listener(tracer, warm_span, timed_span, wl.warm_batches,
                                            time.time() - tracer.now())
            spark.streams.addListener(listener)
        progress, query_run_id = rp.run(120)
        if listener is not None:
            spark.streams.removeListener(listener)
        peak_rss, n_workers, worker_peak = tree_peak_rss_mb(cpus)
        w = replay.window_stats(progress, rp.marks, wl.warm_batches)
        setup_wall, setup_cpu, setup_steal = (
            (s1[i] - s0[i]) + (w["setup_end"][i] - q0[i]) for i in range(3))
        setup_adj_wall, setup_adj_cpu = steal_adjusted(setup_wall, setup_cpu, setup_steal, cpus)
        adj_wall, adj_cpu = steal_adjusted(w["wall_s"], w["cpu_s"], w["steal_s"], cpus)
        to_tracer = tracer.t0
        t_setup_end = w["setup_end"][0]
        tracer.spans[warm_span]["end"] = t_setup_end - to_tracer
        tracer.spans[timed_span].update(start=t_setup_end - to_tracer,
                                        end=t_setup_end + w["wall_s"] - to_tracer)

        # --- output check (outside the timed interval) ---------------------
        totals = replay.run_totals(progress)
        trades = gen.make_trades(args.seed, p)
        expect, counts = replay.oracle(trades, wl.fmt, n_files, p.trades_per_file)
        window_errors, bad_trades = replay.check_output(rp.output(spark), expect)
        decode_dropped = totals["frames"] - totals["decoded"]
        errors = []  # counters first: the detail line keeps the first 20
        if totals["frames"] != counts["frames"]:
            errors.append(f"stream read {totals['frames']} frames, backlog holds {counts['frames']}")
        if decode_dropped != counts["unknown_id"]:
            errors.append(f"decode dropped {decode_dropped}, injected unknown ids {counts['unknown_id']}")
        if totals["dropped_late"] != counts["late"]:
            errors.append(f"state dropped {totals['dropped_late']} late rows, injected {counts['late']}")
        if not expect:
            errors.append("oracle expects no windows: the replay checks nothing")
        errors += window_errors
        attempted = counts["valid"]
        failed = min(attempted, bad_trades)
        if errors and not failed:
            failed = 1  # a counter mismatch with every window right still fails

        trig = w["trigger_ms"]
        timed_trades = max(1, w["trades"])  # 0 only when decode dropped everything
        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "seconds": args.seconds, "tiny": args.tiny, "code": code,
            "setup_s": setup_adj_cpu,
            "trades_per_s_steal_adj": timed_trades / adj_wall,
            "cpu_s_per_mtrade_steal_adj": adj_cpu / timed_trades * 1e6,
            "peak_rss_mb": peak_rss,
            "trades_per_s": timed_trades / w["wall_s"],
            "batch_p50_ms": statistics.median(trig),
            "batch_p50_ms_steal_adj": statistics.median(
                1000.0 * steal_adjusted(*c, cpus)[0] for c in w["cycles"]),
            "cpu_s_per_mtrade": w["cpu_s"] / timed_trades * 1e6,
            "failed_frac": failed / attempted,
            "setup_wall_s": setup_wall, "setup_cpu_s": setup_cpu, "setup_steal_s": setup_steal,
            "setup_wall_s_steal_adj": setup_adj_wall,
            "session_start_s": session_start_s, "generate_s": generate_s,
            "python_workers": n_workers, "python_worker_peak_mb": worker_peak,
            "warm_batches": wl.warm_batches, "timed_batches": w["batches"],
            "timed_trades": w["trades"], "timed_wall_s": w["wall_s"], "timed_cpu_s": w["cpu_s"],
            "batch_ms": trig, "batch_cpu_ms": [1000.0 * c[1] for c in w["cycles"]],
            "trades_valid": counts["valid"], "frames": counts["frames"],
            "injected_unknown_id": counts["unknown_id"], "injected_late": counts["late"],
            "windows_expected": len(expect), "errors": errors[:20],
            "host.steal_s": w["steal_s"], "host.cpus": cpus, "master": master,
            "spark.default_parallelism": parallelism,
            "spark.shuffle_partitions": shuffle_partitions,
            "driver_memory_mb": mem_mb,
        }
        if len(trig) > 10:
            pct, val = tail_percentile(trig)
            detail.update(batch_tail_ms=val, batch_tail_pct=pct)

        if not args.trace:
            metrics = {
                "setup_s": (detail["setup_s"], "s"),
                "trades_per_s_steal_adj": (detail["trades_per_s_steal_adj"], "trades/s"),
                "cpu_s_per_mtrade_steal_adj": (detail["cpu_s_per_mtrade_steal_adj"], "s"),
                "peak_rss_mb": (peak_rss, "MB"),
            }
        else:
            med = lambda xs: statistics.median(xs) if xs else 0.0
            layer = {
                "session.start_s": (session_start_s, "s"),
                "traced.trades_per_s": (detail["trades_per_s"], "trades/s"),
                "stream.latest_offset_ms": (med(w["phase_ms"]["latestOffset"]), "ms"),
                "stream.get_batch_ms": (med(w["phase_ms"]["getBatch"]), "ms"),
                "stream.query_planning_ms": (med(w["phase_ms"]["queryPlanning"]), "ms"),
                "stream.wal_commit_ms": (med(w["phase_ms"]["walCommit"]), "ms"),
                "stream.commit_offsets_ms": (med(w["phase_ms"]["commitOffsets"]), "ms"),
                "stream.add_batch_ms": (med(w["phase_ms"]["addBatch"]), "ms"),
                "state.rows_total": (w["state_rows_max"], "count"),
                "state.memory_mb": (w["state_memory_max"] / 2**20, "MB"),
                "state.commit_ms": (med(w["state_commit_ms"]), "ms"),
                "state.dropped_late": (totals["dropped_late"], "count"),
                "decode.dropped": (decode_dropped, "count"),
                "host.steal_s": (w["steal_s"], "s"),
                "host.cpus": (cpus, "count"),
                "spark.default_parallelism": (parallelism, "count"),
                "spark.shuffle_partitions": (shuffle_partitions, "count"),
            }
            units = {"spark.task_cpu_s": "s", "spark.shuffle_write_mb": "MB",
                     "spark.spill_mb": "MB"}
            for k, v in job_group_stats(spark, query_run_id).items():
                layer[k] = (v, units.get(k, "count"))
            with tracer.span("isolate", root) as iso:
                kernels = replay.isolate_layers(
                    spark, tracer, iso.id, backlog, wl.fmt, registry, trades,
                    wl.files_per_trigger, min(ISOLATE_BATCHES, n_files // wl.files_per_trigger),
                    work, KERNEL_RECORDS)
            units = {"avro_codec.encode_rec_per_s": "rec/s",
                     "avro_codec.decode_rec_per_s": "rec/s"}
            for k, v in kernels.items():
                layer[k] = (v, units.get(k, "ms"))
            metrics = layer
            untraced = previous_untraced(args, code)
            if untraced:
                overhead = {"untraced_runs": len(untraced), "code": code}
                for k in ("trades_per_s", "trades_per_s_steal_adj", "cpu_s_per_mtrade_steal_adj"):
                    base = statistics.median(d[k] for d in untraced)
                    overhead[k] = {"traced": detail[k], "untraced_median": base}
                overhead["wall_slowdown"] = (overhead["trades_per_s_steal_adj"]["untraced_median"]
                                             / detail["trades_per_s_steal_adj"] - 1.0)
                overhead["cpu_increase"] = (
                    detail["cpu_s_per_mtrade_steal_adj"]
                    / overhead["cpu_s_per_mtrade_steal_adj"]["untraced_median"] - 1.0)
                detail["tracing_overhead"] = overhead
    finally:
        stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(scratch, ignore_errors=True)

    tracer.spans[root]["end"] = tracer.now()
    detail["correct"] = not errors
    if args.trace:
        os.makedirs(RESULTS_DIR, exist_ok=True)
        tracer.write(os.path.join(RESULTS_DIR, f"{args.workload}.spans.json"),
                     tracing_overhead=detail.get("tracing_overhead"))
        detail["span_file"] = os.path.relpath(
            os.path.join(RESULTS_DIR, f"{args.workload}.spans.json"), ROOT)
        detail["self_s"] = tracer.self_times()
    result = {
        "correct": not errors, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, detail


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import kafka_stream_aggregator_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not here ({e})", file=sys.stderr)
        return 2
    # Python workers start from a fresh interpreter: give them the program.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        x for x in (ROOT, os.environ.get("PYTHONPATH")) if x)
    try:
        result, detail = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    os.makedirs(RESULTS_DIR, exist_ok=True)
    with open(os.path.join(RESULTS_DIR, f"{args.workload}.jsonl"), "a") as f:
        f.write(json.dumps({"trace": args.trace, "correct": result["correct"],
                            "detail": detail}) + "\n")
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    from perfbench.run import main as _main

    sys.exit(_main())
