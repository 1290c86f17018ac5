"""Trade replays: a backlog of framed trades through the reference's
consumer chain, file stream -> decode -> 5-minute event-time EWMA per
instrument (10-minute watermark) -> foreachBatch parquet sink; the
oracle that checks what the sink wrote; and the layer-isolation pass
that times each public function alone.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from collections import defaultdict

from . import gen
from .measure import host_steal_s, tree_cpu_s

WINDOW_S = 300
WATERMARK_S = 600
EWMA_REL_TOL = 1e-9
# durationMs phases in the order a micro-batch runs them
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
          "commitOffsets")


def frame_schema():
    from pyspark.sql import types as T

    return T.StructType([T.StructField("key", T.StringType()),
                         T.StructField("value", T.BinaryType())])


def decode(framed, fmt: str, registry):
    """The program's decode for `fmt`: framed DataFrame in, trades out."""
    from kafka_stream_aggregator_spark.schemas import TRADE_SCHEMA
    from kafka_stream_aggregator_spark.streaming.avro_codec import TRADES_AVRO_SCHEMA
    from kafka_stream_aggregator_spark.streaming.trade_pipeline import (
        decode_trades,
        decode_trades_avro_dispatch,
    )

    if fmt == "avro":
        return decode_trades_avro_dispatch(
            framed, registry.snapshot(), TRADES_AVRO_SCHEMA, TRADE_SCHEMA)
    return decode_trades(framed)


def windows(trades):
    """The program's streaming EWMA, configured as the reference runs it."""
    from kafka_stream_aggregator_spark.streaming.pipeline import streaming_windowed_ewma

    return streaming_windowed_ewma(
        trades, ts_col="event_time", value_col="price",
        order_cols=("timestamp", "trade_seq"), group_cols=("instrument_name",),
        period_minutes=WINDOW_S // 60, watermark=f"{WATERMARK_S // 60} minutes")


def backlog_files(backlog_dir: str, n_files: int) -> list[str]:
    files = sorted(glob.glob(os.path.join(backlog_dir, "part-*.parquet")))
    if len(files) < n_files:
        raise ValueError(f"backlog has {len(files)} files, {n_files} requested")
    return files[:n_files]


class Replay:
    """One streaming query, trigger availableNow, over the first `n_files`
    files of a backlog. The files are hard-linked into a fresh input
    directory; links keep their mtimes, so the stream takes them in
    backlog order."""

    def __init__(self, spark, backlog_dir: str, work_dir: str, fmt: str,
                 registry, n_files: int, files_per_trigger: int) -> None:
        from pyspark.sql import functions as F

        from kafka_stream_aggregator_spark.streaming.sinks import foreach_batch_parquet_writer
        from kafka_stream_aggregator_spark.streaming.sources import file_stream

        in_dir = os.path.join(work_dir, "in")
        self.out_dir = os.path.join(work_dir, "out")
        shutil.rmtree(work_dir, ignore_errors=True)
        os.makedirs(in_dir)
        for f in backlog_files(backlog_dir, n_files):
            os.link(f, os.path.join(in_dir, os.path.basename(f)))
        framed = file_stream(spark, in_dir, frame_schema(),
                             max_files_per_trigger=files_per_trigger)
        # Row counts before and after decode ride the progress events, so
        # decode drops are counted where they happen.
        framed = framed.observe("frames", F.count(F.lit(1)).alias("n"))
        trades = decode(framed, fmt, registry).observe(
            "decoded", F.count(F.lit(1)).alias("n"))
        write = foreach_batch_parquet_writer(self.out_dir)
        # (batch id, wall s, tree CPU s, host steal s) as each batch reaches
        # the sink: two marks bound whole batch cycles, query start excluded
        self.marks: list[tuple[int, float, float, float]] = []

        def sink(df, batch_id):
            self.marks.append((batch_id, time.perf_counter(), tree_cpu_s(), host_steal_s()))
            write(df, batch_id)

        self.writer = (
            windows(trades).writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", os.path.join(work_dir, "ckpt"))
            .trigger(availableNow=True)
        )

    def run(self, timeout_s: float) -> tuple[list[dict], str]:
        """Run to completion; returns (progress events, run id)."""
        q = self.writer.start()
        try:
            if not q.awaitTermination(timeout_s):
                raise TimeoutError(f"replay did not finish in {timeout_s:.0f} s")
        finally:
            if q.isActive:
                q.stop()
        if q.exception() is not None:
            raise RuntimeError(f"replay failed: {q.exception()}")
        return q.recentProgress, str(q.runId)

    def output(self, spark) -> list[tuple]:
        if not glob.glob(os.path.join(self.out_dir, "*.parquet")):
            return []
        return [tuple(r) for r in spark.read.parquet(self.out_dir).select(
            "instrument_name", "window_end", "n_rows", "ewma").collect()]


def window_stats(progress: list[dict], marks: list[tuple], first: int) -> dict:
    """Figures for the timed batches, ids `first` onwards, from progress
    events and sink marks. The window runs from the mark of batch
    `first - 1` to the mark of the last batch with input, so it holds
    whole batch cycles of the timed batches only. `setup_end` is that
    first mark's (wall, CPU, steal); `cycles` holds the same three as
    deltas, one per timed batch."""
    timed = [p for p in progress if p["numInputRows"] > 0 and p["batchId"] >= first]
    last = timed[-1]["batchId"]
    at = {m[0]: m for m in marks}
    (_, t0, c0, s0), (_, t1, c1, s1) = at[first - 1], at[last]
    cycle = {m1[0]: tuple(b - a for a, b in zip(m0[1:], m1[1:]))
             for m0, m1 in zip(marks, marks[1:])}
    trades = 0
    for p in timed:
        dropped = sum(op.get("numRowsDroppedByWatermark", 0) for op in p.get("stateOperators") or [])
        trades += int(p["observedMetrics"]["decoded"]["n"]) - dropped
    ops = [op for p in timed for op in p.get("stateOperators") or []]
    return {
        "batches": len(timed),
        "trades": trades,
        "wall_s": t1 - t0, "cpu_s": c1 - c0, "steal_s": s1 - s0,
        "setup_end": (t0, c0, s0),
        "trigger_ms": [p["durationMs"]["triggerExecution"] for p in timed],
        "cycles": [cycle[p["batchId"]] for p in timed],
        "phase_ms": {ph: [p["durationMs"].get(ph, 0) for p in timed] for ph in PHASES},
        "state_commit_ms": [op.get("commitTimeMs", 0) for op in ops],
        "state_rows_max": max((op.get("numRowsTotal", 0) for op in ops), default=0),
        "state_memory_max": max((op.get("memoryUsedBytes", 0) for op in ops), default=0),
    }


def run_totals(progress: list[dict]) -> dict:
    """Whole-query totals: observed row counts before and after decode
    and rows the state operator dropped as late."""
    obs = defaultdict(int)
    dropped_late = 0
    for p in progress:
        for name, row in (p.get("observedMetrics") or {}).items():
            obs[name] += int(row["n"])
        for op in p.get("stateOperators") or []:
            dropped_late += int(op.get("numRowsDroppedByWatermark", 0))
    return {"frames": obs["frames"], "decoded": obs["decoded"], "dropped_late": dropped_late}


def oracle(trades, fmt: str, n_files: int, trades_per_file: int):
    """Expected sink rows for a replay of the first `n_files` files,
    computed from the generator's rows: unknown-id and late trades
    excluded, only windows the final watermark closed, ewma > 0.

    Returns ({(instrument, window_end): (n_rows, ewma)}, counts)."""
    from kafka_stream_aggregator_spark.indicators import ewma_alpha

    rows = trades if fmt == "avro" else trades[trades.schema_id != gen.UNKNOWN_ID]
    rows = rows.iloc[: n_files * trades_per_file]
    unknown = int((rows.schema_id == gen.UNKNOWN_ID).sum())
    registered = rows[rows.schema_id != gen.UNKNOWN_ID]
    late = int(registered.late.sum())
    valid = registered[~registered.late]
    final_wm_ms = int(valid.timestamp.max()) - WATERMARK_S * 1000

    alpha = ewma_alpha(WINDOW_S // 60)
    v = valid.sort_values(["timestamp", "trade_seq"])
    acc: dict[tuple[str, int], list] = {}
    for inst, ts, price in zip(v.instrument_name, v.timestamp, v.price):
        k = (inst, (int(ts) // (WINDOW_S * 1000)) * WINDOW_S + WINDOW_S)
        a = acc.get(k)
        if a is None:
            acc[k] = [1, alpha * price]
        else:
            a[0] += 1
            a[1] = alpha * price + (1.0 - alpha) * a[1]
    expect = {k: (n, e) for k, (n, e) in acc.items()
              if k[1] * 1000 <= final_wm_ms and e > 0.0}
    counts = {"frames": len(rows), "unknown_id": unknown, "late": late,
              "valid": len(valid)}
    return expect, counts


def check_output(got: list[tuple], expect: dict) -> tuple[list[str], int]:
    """Compare the sink's rows with the oracle. Returns (messages, trades
    in windows that are missing, unexpected or wrong)."""
    errors, bad_trades = [], 0
    seen: dict[tuple[str, int], tuple[int, float]] = {}
    for inst, wend, n, e in got:
        k = (inst, int(wend))
        if k in seen:
            errors.append(f"window {k} written twice")
            bad_trades += int(n)
        seen[k] = (int(n), float(e))
    for k in expect.keys() - seen.keys():
        errors.append(f"window {k} missing")
        bad_trades += expect[k][0]
    for k in seen.keys() - expect.keys():
        errors.append(f"window {k} unexpected")
        bad_trades += seen[k][0]
    for k in expect.keys() & seen.keys():
        (n0, e0), (n1, e1) = expect[k], seen[k]
        if n0 != n1 or abs(e1 - e0) > EWMA_REL_TOL * abs(e0):
            errors.append(f"window {k}: got ({n1}, {e1!r}), want ({n0}, {e0!r})")
            bad_trades += max(n0, n1)
    return sorted(errors), bad_trades


def make_listener(tracer, warm_parent: int, timed_parent: int, first_timed: int,
                  t_offset: float):
    """StreamingQueryListener turning each progress event into a batch
    span, under the warm-up or the timed span by batch id, with one child
    span per durationMs phase. `t_offset` maps epoch seconds onto the
    tracer's clock."""
    from datetime import datetime

    from pyspark.sql.streaming import StreamingQueryListener

    class _Spans(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            if p.numInputRows == 0:
                return
            start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp() - t_offset
            d = dict(p.durationMs)
            ops = p.stateOperators
            parent = timed_parent if p.batchId >= first_timed else warm_parent
            bid = tracer.add(
                "batch", start, start + d["triggerExecution"] / 1000.0, parent,
                batch_id=p.batchId, input_rows=p.numInputRows,
                state_rows=sum(o.numRowsTotal for o in ops),
                state_updated=sum(o.numRowsUpdated for o in ops),
                dropped_late=sum(o.numRowsDroppedByWatermark for o in ops))
            t = start
            for ph in PHASES:
                ms = d.get(ph, 0)
                tracer.add(f"stream.{ph}", t, t + ms / 1000.0, bid)
                t += ms / 1000.0

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Spans()


def isolate_layers(spark, tracer, parent: int, backlog_dir: str, fmt: str, registry,
                   trades, files_per_trigger: int, n_batches: int, work_dir: str,
                   n_kernel: int) -> dict:
    """Time each public function alone on the first `n_batches` batches of
    the backlog, as batch DataFrames: decode materialised to noop,
    `aggregate_trades(per_instrument=True)` on the cached decode, the
    sink writer on the cached aggregate; then the Avro codec kernels
    in-process on one thread over `n_kernel` of the generator's trades.
    Returns median milliseconds per batch and kernel records/s."""
    from kafka_stream_aggregator_spark.streaming.avro_codec import TRADES_AVRO_SCHEMA
    from kafka_stream_aggregator_spark.streaming.registry import decode_framed_records
    from kafka_stream_aggregator_spark.streaming.sinks import foreach_batch_parquet_writer
    from kafka_stream_aggregator_spark.streaming.trade_pipeline import aggregate_trades

    files = backlog_files(backlog_dir, n_batches * files_per_trigger)
    times = defaultdict(list)
    sink_dir = os.path.join(work_dir, "isolate-sink")
    shutil.rmtree(sink_dir, ignore_errors=True)
    writer = foreach_batch_parquet_writer(sink_dir)

    def timed(name, fn):
        with tracer.span(name, parent) as s:
            fn()
        times[name].append(1000.0 * (tracer.spans[s.id]["end"] - s.start))

    for b in range(n_batches):
        batch_files = files[b * files_per_trigger : (b + 1) * files_per_trigger]
        framed = spark.read.schema(frame_schema()).parquet(*batch_files)
        decoded = decode(framed, fmt, registry)
        timed("decode", lambda: decoded.write.format("noop").mode("overwrite").save())
        cached = decoded.cache()
        cached.count()
        agg = aggregate_trades(cached, per_instrument=True)
        timed("aggregate", lambda: agg.write.format("noop").mode("overwrite").save())
        agg_cached = agg.cache()
        agg_cached.count()
        timed("sink", lambda: writer(agg_cached, b))
        agg_cached.unpersist()
        cached.unpersist()

    records = gen.trade_records(trades[trades.schema_id != gen.UNKNOWN_ID].head(n_kernel))
    with tracer.span("avro_codec.encode", parent):
        t = time.perf_counter()
        frames = gen.frame_avro(records, [gen.V2_ID] * len(records),
                                {gen.V2_ID: TRADES_AVRO_SCHEMA})
        enc_s = time.perf_counter() - t
    snapshot = registry.snapshot()
    with tracer.span("avro_codec.decode", parent):
        t = time.perf_counter()
        out = decode_framed_records(frames, snapshot, TRADES_AVRO_SCHEMA)
        dec_s = time.perf_counter() - t
    if sum(r is None for r in out):
        raise RuntimeError("codec kernel dropped records it encoded itself")
    shutil.rmtree(sink_dir, ignore_errors=True)
    med = lambda xs: sorted(xs)[len(xs) // 2]
    return {
        "decode.batch_ms": med(times["decode"]),
        "aggregate.batch_ms": med(times["aggregate"]),
        "sinks.write_ms": med(times["sink"]),
        "avro_codec.encode_rec_per_s": len(records) / enc_s,
        "avro_codec.decode_rec_per_s": len(records) / dec_s,
    }
