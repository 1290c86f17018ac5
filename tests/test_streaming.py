"""Streaming ≡ batch equivalence (SURVEY.md §5.2-3) via file stream +
availableNow over the same parquet the batch queries read."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from kafka_stream_aggregator_spark.indicators import ewma_alpha, windowed_ewma
from kafka_stream_aggregator_spark.schemas import EVENTS_SCHEMA
from kafka_stream_aggregator_spark.streaming.pipeline import (
    session_window_stats,
    sliding_window_stats,
    streaming_dedup,
    streaming_windowed_ewma,
)
from kafka_stream_aggregator_spark.streaming.sinks import (
    foreach_batch_parquet_writer,
    start_to_memory,
)
from kafka_stream_aggregator_spark.streaming.sources import (
    confluent_avro_payload,
    confluent_schema_id,
    file_stream,
)
from kafka_stream_aggregator_spark.tables import load_table


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir):
    """events re-written with us-timestamps so the file stream can read
    them with a declared schema (original files are ns)."""
    d = tempfile.mkdtemp(prefix="events_us_")
    load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _run(spark, sdf, name, mode="append"):
    q = start_to_memory(sdf, name, mode)
    q.awaitTermination()
    return spark.table(name)


def test_streaming_ewma_equals_batch(spark, sf_dir, events_dir):
    stream = file_stream(spark, events_dir, EVENTS_SCHEMA)
    sdf = streaming_windowed_ewma(
        stream, group_cols=("event_type",), period_minutes=5
    )
    got = {
        (r["event_type"], r["window_start"]): (r["n_rows"], round(r["ewma"], 9))
        for r in _run(spark, sdf, "s_ewma").collect()
    }
    ev = load_table(spark, sf_dir, "events")
    batch = windowed_ewma(ev, group_cols=("event_type",), period_minutes=5)
    # append mode only finalizes windows whose end <= final watermark
    # (max event time - 10 min); later windows stay open — by design.
    max_ts = ev.agg(F.max(F.unix_timestamp("ts"))).first()[0]
    horizon = max_ts - 600
    want = {
        (r["event_type"], r["window_start"]): (r["n_rows"], round(r["ewma"], 9))
        for r in batch.collect()
        if r["window_start"] + 300 <= horizon
    }
    got = {k: v for k, v in got.items() if k[1] + 300 <= horizon}
    assert got == want and len(want) > 900


def test_streaming_late_data_dropped(spark, tmp_path):
    """A row arriving after the watermark passed its window is dropped,
    and the watermark survives a query restart (checkpoint). Two
    availableNow runs over one checkpoint: run 1 advances the watermark
    past the first window; run 2 delivers a late row into that window —
    it must not contribute. (Within a single run, the watermark lags one
    micro-batch by design, so restart is the deterministic way to test
    this.)"""
    import glob
    import os
    import time
    from datetime import datetime

    src, outp, ck = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")

    def put(r, mt):
        spark.createDataFrame([r], EVENTS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        for f in glob.glob(src + "/*.parquet"):
            os.utime(f, (mt, mt))

    def run():
        stream = file_stream(spark, src, EVENTS_SCHEMA, max_files_per_trigger=1)
        sdf = streaming_windowed_ewma(
            stream, period_minutes=5, watermark="10 minutes"
        )
        q = (
            sdf.writeStream.format("parquet")
            .option("path", outp)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    base = time.time() - 1000
    put((0, datetime(2024, 1, 1, 0, 1, 0), 1, "a", 10.0, None), base)
    put((1, datetime(2024, 1, 1, 1, 0, 0), 1, "a", 20.0, None), base + 60)
    run()  # watermark ends at 00:50
    put((2, datetime(2024, 1, 1, 0, 2, 0), 1, "a", 99.0, None), base + 120)  # late
    put((3, datetime(2024, 1, 1, 2, 0, 0), 1, "a", 30.0, None), base + 180)
    run()
    a = ewma_alpha(5)
    got = {
        r["window_start"]: (r["n_rows"], round(r["ewma"], 9))
        for r in spark.read.parquet(outp).collect()
    }
    # first window: value 10.0 ONLY — the late 99.0 was dropped
    assert got[1704067200] == (1, round(a * 10.0, 9))
    # second window: the watermark-advancing 20.0
    assert got[1704070800] == (1, round(a * 20.0, 9))


def test_streaming_dedup(spark, events_dir):
    stream = file_stream(spark, events_dir, EVENTS_SCHEMA)
    # duplicate the stream by unioning with itself: dedup must collapse
    sdf = streaming_dedup(stream.union(stream), keys=["event_id"])
    n = _run(spark, sdf, "s_dedup").count()
    batch_n = spark.read.parquet(events_dir).count()
    assert n == batch_n


def test_sliding_and_session_windows_run(spark, events_dir, sf_dir):
    stream = file_stream(spark, events_dir, EVENTS_SCHEMA)
    slid = _run(spark, sliding_window_stats(stream), "s_slide")
    assert slid.count() > 0
    stream2 = file_stream(spark, events_dir, EVENTS_SCHEMA)
    sess = _run(spark, session_window_stats(stream2), "s_sess")
    # session windows ≡ batch sessionize groups, for sessions that closed
    # before the final watermark (append mode never emits the tail ones)
    from kafka_stream_aggregator_spark.ops import sessionize

    ev = load_table(spark, sf_dir, "events")
    horizon = ev.agg(F.max(F.unix_timestamp("ts"))).first()[0] - 600
    batch_closed = (
        sessionize(ev, gap_seconds=1800)
        .groupBy("user_id", "session_id")
        .agg(F.max(F.unix_timestamp("ts")).alias("last_ts"))
        .filter(F.col("last_ts") + 1800 <= horizon)
    )
    sess_closed = sess.filter(F.col("session_end") <= horizon)
    assert sess_closed.count() == batch_closed.count()


def test_continuous_ewma_stateful(spark, events_dir):
    """applyInPandasWithState EWMA over the full stream == batch fold."""
    from kafka_stream_aggregator_spark.streaming.stateful import continuous_ewma

    a = ewma_alpha(5)
    stream = file_stream(spark, events_dir, EVENTS_SCHEMA)
    sdf = continuous_ewma(stream, a, key_cols=("user_id",))
    out = _run(spark, sdf, "s_cont", mode="update")
    # last update per key is the final state
    from pyspark.sql import Window as W

    final = (
        out.withColumn(
            "rn",
            F.row_number().over(W.partitionBy("user_id").orderBy(F.col("n_seen").desc())),
        )
        .filter("rn = 1")
        .select("user_id", "ewma", "n_seen")
    )
    got = {r["user_id"]: (r["n_seen"], round(r["ewma"], 9)) for r in final.collect()}

    import numpy as np

    pdf = (
        spark.read.parquet(events_dir)
        .select("user_id", "ts", "event_id", "value")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    want = {}
    for uid, grp in pdf.groupby("user_id"):
        cur = 0.0
        for x in grp["value"]:
            cur = a * float(x) + (1 - a) * cur
        want[uid] = (len(grp), round(cur, 9))
    assert got == want


def test_processing_time_compat_foreachbatch(spark, events_dir, tmp_path):
    """S3 compat path: the foreachBatch fold machinery (driven with
    availableNow so the test is deterministic; production uses the
    processingTime trigger)."""
    from kafka_stream_aggregator_spark.indicators import ewma_fold

    stream = file_stream(spark, events_dir, EVENTS_SCHEMA)
    sink = foreach_batch_parquet_writer(str(tmp_path / "out"))
    a = ewma_alpha(5)

    def fold_batch(batch_df, batch_id):
        agg = batch_df.agg(
            ewma_fold(F.collect_list("value"), a).alias("current"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        sink(agg.filter(F.col("current") > 0.0), batch_id)

    q = (
        stream.writeStream.foreachBatch(fold_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() >= 1
    assert set(out.columns) == {"current", "n_rows"}


def test_confluent_framing_slice(spark):
    """5-byte Confluent frame: id extracted, payload sliced past it."""
    import struct

    framed = b"\x00" + struct.pack(">I", 42) + b'{"price": 1.5}'
    df = spark.createDataFrame([(bytearray(framed),)], "value binary")
    row = df.select(
        confluent_schema_id(F.col("value")).alias("sid"),
        confluent_avro_payload(F.col("value")).cast("string").alias("body"),
    ).first()
    assert row["sid"] == 42
    assert row["body"] == '{"price": 1.5}'


def test_checkpoint_recovery(spark, events_dir, tmp_path):
    """Restarting a query on the same checkpoint does not re-emit
    already-processed data (upgrades reference's at-least-once, S6)."""
    stream = file_stream(spark, events_dir, EVENTS_SCHEMA)
    outp, ckpt = str(tmp_path / "o"), str(tmp_path / "c")
    q = (
        stream.select("event_id")
        .writeStream.format("parquet")
        .option("path", outp)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n1 = spark.read.parquet(outp).count()
    # restart on same checkpoint: no new input -> no duplicates
    q2 = (
        file_stream(spark, events_dir, EVENTS_SCHEMA)
        .select("event_id")
        .writeStream.format("parquet")
        .option("path", outp)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    n2 = spark.read.parquet(outp).count()
    assert n1 == n2


def test_stream_static_join(spark, events_dir, sf_dir):
    from kafka_stream_aggregator_spark.streaming.pipeline import stream_static_join

    # static dim: per-user total counts derived from the batch table
    dim = (
        spark.read.parquet(events_dir)
        .groupBy(F.col("user_id").alias("d_user"))
        .count()
        .withColumnRenamed("count", "user_total")
    )
    stream = file_stream(spark, events_dir, EVENTS_SCHEMA)
    joined = stream_static_join(
        stream, dim, F.col("user_id") == F.col("d_user")
    ).select("event_id", "user_total")
    out = _run(spark, joined, "s_static")
    assert out.count() == spark.read.parquet(events_dir).count()
    # spot-check one user's annotation
    row = out.join(
        spark.read.parquet(events_dir).select("event_id", "user_id"), "event_id"
    ).first()
    expect = dim.filter(F.col("d_user") == row["user_id"]).first()["user_total"]
    assert row["user_total"] == expect


def test_stream_stream_join(spark, events_dir):
    from kafka_stream_aggregator_spark.streaming.pipeline import stream_stream_join

    ev = spark.read.parquet(events_dir)
    purchases = file_stream(spark, events_dir, EVENTS_SCHEMA).filter(
        F.col("event_type") == "purchase"
    )
    clicks = (
        file_stream(spark, events_dir, EVENTS_SCHEMA)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("r_user"),
            F.col("ts").alias("r_ts"),
            F.col("event_id").alias("r_event_id"),
        )
    )
    joined = stream_stream_join(
        purchases, clicks, "user_id", "r_user", max_lag_seconds=3600
    ).select("event_id", "r_event_id")
    got = _run(spark, joined, "s_ss").count()
    # batch twin: same inner time-bound join
    p = ev.filter("event_type = 'purchase'")
    c = ev.filter("event_type = 'click'").select(
        F.col("user_id").alias("r_user"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_event_id"),
    )
    want = (
        p.join(
            c,
            (p.user_id == c.r_user)
            & (c.r_ts >= p.ts - F.expr("INTERVAL 3600 SECONDS"))
            & (c.r_ts <= p.ts),
        )
        .count()
    )
    assert got == want and got > 0


def test_progress_listener(spark, events_dir):
    from kafka_stream_aggregator_spark.streaming.sinks import ProgressListener

    lis = ProgressListener().attach(spark)
    try:
        stream = file_stream(spark, events_dir, EVENTS_SCHEMA)
        sdf = streaming_windowed_ewma(stream, group_cols=("event_type",))
        q = start_to_memory(sdf, "s_listener")
        q.awaitTermination()
        import time

        # listener events are async; availableNow ends with a no-data
        # batch that moves the watermark, so wait for the last batch
        last = q.lastProgress["batchId"]
        for _ in range(40):
            if any(p["batchId"] == last for p in lis.progress):
                break
            time.sleep(0.5)
        assert lis.started
        data = [p for p in lis.progress if p["numInputRows"] > 0]
        assert data
        assert all(p["processedRowsPerSecond"] > 0 for p in data)
        assert all(p["inputRowsPerSecond"] >= 0 for p in data)
        assert {"addBatch", "walCommit", "triggerExecution"} <= set(data[0]["durationMs"])
        # the final watermark is the max event time less the 10-minute delay
        want_wm = (
            spark.read.parquet(events_dir)
            .select(
                F.date_format(
                    F.max("ts") - F.expr("INTERVAL 10 MINUTES"),
                    "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'",
                )
            )
            .first()[0]
        )
        final = lis.progress[-1]
        assert final["batchId"] == last
        assert final["watermark"] == want_wm
        (op,) = final["stateOperators"]
        assert op["operatorName"] == "stateStoreSave"
        assert op["numRowsTotal"] > 0 and op["memoryUsedBytes"] > 0
        assert op["commitTimeMs"] >= 0
        # one data batch, read before any watermark existed: nothing late
        assert op["numRowsDroppedByWatermark"] == 0
    finally:
        lis.detach(spark)


def test_complete_output_mode(spark, events_dir):
    """Complete mode re-emits the full aggregate every batch."""
    stream = file_stream(spark, events_dir, EVENTS_SCHEMA)
    agg = stream.groupBy("event_type").count()
    out = _run(spark, agg, "s_complete", mode="complete")
    batch = spark.read.parquet(events_dir).groupBy("event_type").count()
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, batch.collect()))


def test_rocksdb_state_store(spark, events_dir):
    """The 100TB state-store path: RocksDB provider (bundled in Spark 4)
    instead of the default in-memory HDFS-backed store. Same EWMA
    pipeline, same results — proving the engine can switch providers
    with a conf, which is how unbounded state is held at scale."""
    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = file_stream(spark, events_dir, EVENTS_SCHEMA)
        sdf = streaming_windowed_ewma(
            stream, group_cols=("event_type",), period_minutes=5
        )
        out = _run(spark, sdf, "s_rocksdb")
        n = out.count()
        assert n > 900
        # spot-check one window against the in-memory-store run
        base = spark.table("s_ewma") if "s_ewma" in [
            t.name for t in spark.catalog.listTables()
        ] else None
        if base is not None:
            a = {tuple(r) for r in out.collect()}
            b = {tuple(r) for r in base.collect()}
            assert a == b
    finally:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_streaming_two_level_ewma_equals_batch(spark, sf_dir, events_dir):
    """Chained stateful aggregation (sub-window partials re-windowed)
    produces the same finalized windows as the batch closed form, and
    the same builder run on the batch table gives every window the
    closed form gives, bit for bit equal to the stream where finalized."""
    from kafka_stream_aggregator_spark.indicators import windowed_ewma_two_level
    from kafka_stream_aggregator_spark.streaming.pipeline import (
        streaming_windowed_ewma_two_level,
    )

    def by_window(df):
        return {
            (r["event_type"], r["window_start"]): (r["n_rows"], r["ewma"])
            for r in df.collect()
        }

    def rounded(d):
        return {k: (n, round(e, 9)) for k, (n, e) in d.items()}

    stream = file_stream(spark, events_dir, EVENTS_SCHEMA)
    sdf = streaming_windowed_ewma_two_level(
        stream, group_cols=("event_type",), period_minutes=5
    )
    got = by_window(_run(spark, sdf, "s_ewma2l"))
    ev = load_table(spark, sf_dir, "events")
    closed = rounded(
        by_window(windowed_ewma(ev, group_cols=("event_type",), period_minutes=5))
    )
    batch2l = by_window(
        windowed_ewma_two_level(ev, group_cols=("event_type",), period_minutes=5)
    )
    assert rounded(batch2l) == closed
    max_ts = ev.agg(F.max(F.unix_timestamp("ts"))).first()[0]
    # chained stateful ops: the second aggregation's watermark trails the
    # first by one extra delay, so the finalized horizon is earlier
    horizon = max_ts - 2 * 600 - 300
    got_h = {k: v for k, v in got.items() if k[1] + 300 <= horizon}
    want = {k: v for k, v in closed.items() if k[1] + 300 <= horizon}
    assert rounded(got_h) == want and len(want) > 800
    assert got_h == {k: batch2l[k] for k in got_h}


def test_rollup_maintenance(spark, sf_dir, tmp_path):
    """Incrementally-maintained rollup == batch aggregate, and stays
    correct when new data arrives in a second run on the same
    checkpoint (incremental update, not recompute)."""
    from kafka_stream_aggregator_spark.streaming.rollup import maintain_rollup

    src = str(tmp_path / "in")
    rollup = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")
    ev = load_table(spark, sf_dir, "events")
    first_half = ev.filter("event_id < 500")
    second_half = ev.filter("event_id >= 500")
    first_half.write.mode("append").parquet(src)

    def run():
        q = maintain_rollup(
            file_stream(spark, src, EVENTS_SCHEMA), rollup, ckpt
        )
        q.awaitTermination()

    def batch_expect(df):
        w = F.window("ts", "5 minutes").alias("win")
        return {
            (r["event_type"], r["window_start"]): (
                r["n_rows"], round(r["sum_value"], 6),
            )
            for r in df.groupBy(w, "event_type")
            .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("value").alias("sum_value"))
            .select(
                "event_type",
                F.unix_timestamp("win.start").alias("window_start"),
                "n_rows", "sum_value",
            )
            .collect()
        }

    run()
    got1 = {
        (r["event_type"], r["window_start"]): (r["n_rows"], round(r["sum_value"], 6))
        for r in spark.read.parquet(rollup).collect()
    }
    assert got1 == batch_expect(first_half)

    # second wave of data -> incremental maintenance on same checkpoint
    second_half.write.mode("append").parquet(src)
    run()
    got2 = {
        (r["event_type"], r["window_start"]): (r["n_rows"], round(r["sum_value"], 6))
        for r in spark.read.parquet(rollup).collect()
    }
    assert got2 == batch_expect(ev)


def test_jdbc_sink_streaming_r11(spark, events_dir, tmp_path):
    """R11 end-to-end with a REAL JDBC database (embedded Derby): the
    streaming foreachBatch JDBC writer lands every event in the table."""
    import uuid

    from kafka_stream_aggregator_spark.streaming.sinks import (
        foreach_batch_jdbc_writer,
    )

    url = f"jdbc:derby:memory:s{uuid.uuid4().hex[:10]};create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}
    stream = file_stream(spark, events_dir, EVENTS_SCHEMA).select(
        "event_id", "user_id", "value"
    )
    writer = foreach_batch_jdbc_writer(url, "raw_events", properties=props)
    q = (
        stream.writeStream.foreachBatch(writer)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back = spark.read.jdbc(url, "raw_events", properties=props)
    assert back.count() == spark.read.parquet(events_dir).count()
    assert back.agg(F.countDistinct("event_id")).first()[0] == back.count()


def test_jdbc_upsert_sink_idempotent_replay(spark, events_dir, tmp_path):
    """Effectively-once JDBC sink: stage + MERGE on the key. Running the
    SAME stream twice (fresh checkpoint = full replay, the worst case)
    leaves exactly one row per key — where the plain append writer would
    double-insert."""
    import uuid

    from kafka_stream_aggregator_spark.streaming.sinks import (
        foreach_batch_jdbc_upsert_writer,
    )

    url = f"jdbc:derby:memory:u{uuid.uuid4().hex[:10]};create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}
    writer = foreach_batch_jdbc_upsert_writer(
        url, "events_upsert", key_cols=["event_id"], properties=props
    )

    def run(ck: str) -> None:
        stream = file_stream(spark, events_dir, EVENTS_SCHEMA).select(
            "event_id", "user_id", "value"
        )
        q = (
            stream.writeStream.foreachBatch(writer)
            .option("checkpointLocation", str(tmp_path / ck))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run("ck1")
    run("ck2")  # full replay
    back = spark.read.jdbc(url, "events_upsert", properties=props)
    n_src = spark.read.parquet(events_dir).count()
    assert back.count() == n_src
    assert back.agg(F.countDistinct("event_id")).first()[0] == n_src


def test_continuous_ewma_inactivity_timeout(spark, tmp_path):
    """State expiry: a key idle past the timeout emits one finalized row
    and its state is REMOVED (restart-from-zero on reappearance) — the
    state-cardinality bound for unbounded key domains.

    NOTE: ProcessingTimeTimeout keeps a query alive past availableNow
    (empty batches run until timeouts fire), so this test drives ONE
    continuous query and polls the memory sink with deadlines."""
    import datetime as dt
    import time

    from pyspark.sql import types as T

    from kafka_stream_aggregator_spark.streaming.stateful import continuous_ewma

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    a = 0.5

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def poll(pred, deadline_s=60):
        end = time.time() + deadline_s
        while time.time() < end:
            rows = spark.table("ct_timeout").collect()
            if pred(rows):
                return rows
            time.sleep(0.3)
        raise AssertionError(
            f"condition not reached; sink: {spark.table('ct_timeout').collect()}"
        )

    write_batch([(1, t0, 1, 10.0), (2, t0, 2, 20.0)])
    stream = spark.readStream.schema(schema).parquet(src)
    sdf = continuous_ewma(
        stream, a, key_cols=("user_id",), inactivity_timeout_ms=500
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName("ct_timeout")
        .outputMode("update")
        .option("checkpointLocation", ck)
        .start()
    )
    try:
        # both keys emit a live update
        poll(lambda rs: {r["user_id"] for r in rs if not r["finalized"]} == {1, 2})
        # with no further data, both time out and finalize; state removed
        fins = poll(
            lambda rs: {r["user_id"] for r in rs if r["finalized"]} == {1, 2}
        )
        fin2 = [r for r in fins if r["user_id"] == 2 and r["finalized"]][0]
        assert fin2["n_seen"] == 1 and abs(fin2["ewma"] - a * 20.0) < 1e-12
        # key 2 reappears -> restarted from the zero seed (fresh n_seen)
        write_batch([(2, t0, 4, 40.0)])
        poll(
            lambda rs: any(
                r["user_id"] == 2
                and not r["finalized"]
                and r["n_seen"] == 1
                and abs(r["ewma"] - a * 40.0) < 1e-12
                for r in rs
            )
        )
    finally:
        q.stop()


def test_streaming_dedup_within_watermark(spark, events_dir):
    """dropDuplicatesWithinWatermark: duplicates re-delivered with a
    PERTURBED timestamp (producer-retry shape — same event_id, ts a few
    seconds later) still collapse to one row per key; plain
    dropDuplicates on (key, ts) would keep both."""
    from kafka_stream_aggregator_spark.streaming.pipeline import (
        streaming_dedup_within_watermark,
    )

    stream = file_stream(spark, events_dir, EVENTS_SCHEMA)
    retried = stream.withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 3 SECONDS")
    )
    sdf = streaming_dedup_within_watermark(
        stream.union(retried), keys=["event_id"], watermark="10 minutes"
    )
    n = _run(spark, sdf, "s_dedup_wm").count()
    batch_n = spark.read.parquet(events_dir).count()
    assert n == batch_n


def test_rowwise_signature_equals_batch(spark, sf_dir, tmp_path):
    """The streaming per-row signature (llm.dedup.minhash_doc_sql run on
    a file stream) must be bit-identical to the batch explode + groupBy
    reference minhash_signatures."""
    from kafka_stream_aggregator_spark.llm.dedup import (
        minhash_doc_sql,
        minhash_signatures,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 200)
    )
    want = minhash_signatures(docs, "doc_id", "text")
    d = str(tmp_path / "sig_stream")
    docs.write.parquet(d)
    stream = file_stream(spark, d, "doc_id long, text string")
    got = _run(
        spark,
        spark.sql(minhash_doc_sql("{s}", "doc_id", "text"), s=stream),
        "s_minhash_sig",
    ).selectExpr("__id AS doc_id", "__sig AS signature")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert want.count() == 200


def test_streaming_near_dup_matches_batch_reference(spark, sf_dir, tmp_path):
    """Incremental LSH over a 2-file stream (maxFilesPerTrigger=1, so
    state must carry across micro-batches) finds exactly the pairs a
    batch pass over the union finds: same-bucket pairs with
    signature-agreement >= threshold."""
    from kafka_stream_aggregator_spark.llm.dedup import (
        band_buckets_sql,
        minhash_signatures,
    )
    from kafka_stream_aggregator_spark.streaming.neardup import (
        streaming_near_dup,
    )

    docs = load_table(spark, sf_dir, "documents").limit(300).select(
        "doc_id", "text"
    )
    d = str(tmp_path / "neardup_stream")
    # two files -> two micro-batches; split so near-dup pairs straddle
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode(
        "overwrite"
    ).parquet(d)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(d)

    stream = file_stream(
        spark,
        d,
        "doc_id long, text string",
        max_files_per_trigger=1,
    )
    sdf = streaming_near_dup(stream, jaccard_threshold=0.4)
    out = _run(spark, sdf, "s_neardup", mode="update")
    got = {
        (r["id_a"], r["id_b"])
        for r in out.filter(F.col("est_jaccard") >= 0.4).collect()
    }

    # batch reference: the reference signatures, the shared band-bucket
    # expression, all same-bucket pairs, signature agreement >= threshold
    sig = minhash_signatures(docs, "doc_id", "text")
    banded = sig.select(
        "doc_id",
        "signature",
        F.explode(F.expr(band_buckets_sql("signature", 32, 8))).alias("bb"),
    ).select("doc_id", "signature", "bb.band", "bb.bucket")
    a = banded.select(
        F.col("band"), F.col("bucket"),
        F.col("doc_id").alias("id_a"), F.col("signature").alias("sig_a"),
    )
    b = banded.select(
        F.col("band").alias("band_b"), F.col("bucket").alias("bucket_b"),
        F.col("doc_id").alias("id_b"), F.col("signature").alias("sig_b"),
    )
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    )
    want = {
        (r["id_a"], r["id_b"])
        for r in a.join(
            b,
            (a.band == b.band_b) & (a.bucket == b.bucket_b)
            & (a.id_a < b.id_b),
        )
        .withColumn("est", agree / 32)
        .filter(F.col("est") >= 0.4)
        .select("id_a", "id_b")
        .distinct()
        .collect()
    }
    assert got == want
    assert want, "reference found no pairs — test corpus too small?"


def test_streaming_near_dup_state_ttl(spark, tmp_path):
    """Time-bounded dedup index: a bucket idle past state_ttl_ms is
    dropped, so a duplicate arriving AFTER expiry is not flagged against
    the expired member — but detection keeps working for fresh pairs
    (the (B,C) control below is what makes the negative meaningful)."""
    import time

    from pyspark.sql import types as T

    from kafka_stream_aggregator_spark.streaming.neardup import (
        streaming_near_dup,
    )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    txt = "the quick brown fox jumps over the lazy dog again and again"
    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def poll(pred, deadline_s=60):
        end = time.time() + deadline_s
        while time.time() < end:
            rows = spark.table("nd_ttl").collect()
            if pred(rows):
                return rows
            time.sleep(0.3)
        raise AssertionError(
            f"condition not reached; sink: {spark.table('nd_ttl').collect()}"
        )

    write([(1, txt)])
    stream = spark.readStream.schema(schema).parquet(src)
    sdf = streaming_near_dup(
        stream, jaccard_threshold=0.9, state_ttl_ms=500
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName("nd_ttl")
        .outputMode("update")
        .option("checkpointLocation", ck)
        .start()
    )
    try:
        # wait until doc 1's batch has actually been PROCESSED (first
        # micro-batch pays pandas-UDF spin-up and can take many
        # seconds) — only then does the 500 ms TTL clock start
        end = time.time() + 60
        while time.time() < end:
            if sum(p["numInputRows"] for p in q.recentProgress) >= 1:
                break
            time.sleep(0.3)
        else:
            raise AssertionError("doc 1 never processed")
        # wait for the TTL sweep to actually REMOVE doc 1's bucket state
        # (observable via state-operator metrics) instead of assuming a
        # fixed idle suffices — under full-suite CPU load the empty
        # trigger that fires the timeout can be delayed arbitrarily
        seen_state = False
        end = time.time() + 90
        while time.time() < end:
            progs = q.recentProgress
            removed = sum(
                op.get("numRowsRemoved", 0) or 0
                for p in progs
                for op in p.get("stateOperators", [])
            )
            totals = [
                op.get("numRowsTotal", -1)
                for p in progs
                for op in p.get("stateOperators", [])
            ]
            seen_state = seen_state or any(t > 0 for t in totals)
            if removed >= 1 or (seen_state and totals and totals[-1] == 0):
                break
            time.sleep(0.3)
        else:
            raise AssertionError(
                f"doc 1 state never expired; progress={q.lastProgress}"
            )
        # docs 2+3 in ONE append => same micro-batch: intra-batch pairing
        # flags (2, 3) with no dependence on scheduling gaps vs the TTL
        write([(2, txt), (3, txt)])
        rows = poll(
            lambda rs: any(r["id_a"] == 2 and r["id_b"] == 3 for r in rs)
        )
        assert not any(
            r["id_a"] == 1 for r in rows
        ), f"expired doc 1 still flagged: {rows}"
    finally:
        q.stop()


def test_streaming_near_dup_hot_bucket_bounded(spark, tmp_path):
    """VERDICT r10 item 2 (the sf5 wedge): a dense-duplicate bucket —
    the NORMAL input for a dedup stream — must complete in bounded
    time and degrade explicitly. 1000 identical docs land in the same
    8 band buckets; with max_pairs_per_batch=500 the operator emits at
    most 500 pairs per (band, bucket) plus ONE marker row carrying the
    suppressed-candidate count, instead of ~127k pairs per bucket."""
    import time

    from kafka_stream_aggregator_spark.streaming.neardup import (
        streaming_near_dup,
    )

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog " * 3)
         for i in range(1000)],
        "doc_id long, text string",
    )
    d = str(tmp_path / "nd_hot")
    docs.coalesce(1).write.mode("overwrite").parquet(d)
    stream = file_stream(spark, d, "doc_id long, text string")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    t0 = time.time()
    try:
        out = _run(
            spark,
            streaming_near_dup(
                stream, jaccard_threshold=0.5, max_pairs_per_batch=500
            ),
            "s_nd_hot",
            mode="update",
        ).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    elapsed = time.time() - t0
    assert elapsed < 120, f"hot bucket took {elapsed:.0f}s — not bounded"
    pairs = [r for r in out if r["id_a"] is not None]
    markers = [r for r in out if r["id_a"] is None]
    # 8 bands, one bucket each: <= 500 pairs per bucket, one marker each
    assert len(markers) == 8
    assert all(r["n_suppressed"] > 0 for r in markers)
    assert all(r["est_jaccard"] is None for r in markers)
    by_band = {}
    for r in pairs:
        by_band[r["band"]] = by_band.get(r["band"], 0) + 1
    assert all(v == 500 for v in by_band.values()), by_band
    # identical docs: every emitted pair is a certain match
    assert all(r["est_jaccard"] == 1.0 for r in pairs)
    # conservation: emitted + suppressed = total candidate volume.
    # cap 256 members: pairs per bucket = sum_{i<256}(i) for admitted
    # + 256 per non-admitted arrival = 256*255/2 + 744*256
    want_total = 256 * 255 // 2 + (1000 - 256) * 256
    got_total = sum(by_band.values()) + sum(
        r["n_suppressed"] for r in markers
    )
    assert got_total == 8 * want_total


def test_bucket_pairs_equals_bruteforce_reference():
    """Property pin for the numpy-vectorized per-bucket kernel
    (streaming/neardup.py _bucket_pairs): on random batches it emits
    exactly the pairs the original per-row reference loop emits (same
    visibility + admission semantics), and the budget cap preserves
    pair-count conservation via the marker row."""
    import random

    import pandas as pd

    from kafka_stream_aggregator_spark.streaming.neardup import (
        _bucket_pairs,
    )

    k = 8
    rng = random.Random(7)

    def reference(ids0, sigs0, rows, cap, thr):
        ids, sigs = list(ids0), list(sigs0)
        out = []
        # Sort by id with ARRIVAL-ORDER tiebreak among duplicate ids —
        # the same ordering as _bucket_pairs' pandas stable sort on
        # __id; sorting by (id, sig) could legitimately disagree with
        # the kernel when duplicate ids straddle the admission cap
        # (r11 ADVICE).
        for nid, nsig in (
            r for _, r in sorted(enumerate(rows), key=lambda t: (t[1][0], t[0]))
        ):
            m = len(ids)
            for j in range(m):
                if ids[j] == nid:
                    continue
                osig = sigs[j * k:(j + 1) * k]
                est = sum(1 for a, b in zip(nsig, osig) if a == b) / k
                if est >= thr:
                    a, b = sorted((ids[j], nid))
                    out.append((a, b, est))
            if m < cap:
                ids.append(nid)
                sigs.extend(nsig)
        return sorted(out), ids, sigs

    for trial in range(25):
        n_state = rng.randint(0, 6)
        n_batch = rng.randint(1, 12)
        cap = rng.randint(1, 8)
        thr = rng.choice([0.25, 0.5, 0.75])
        mk = lambda: [rng.randint(0, 3) for _ in range(k)]
        state_ids = rng.sample(range(100, 200), n_state)
        state_sigs = []
        for _ in state_ids:
            state_sigs.extend(mk())
        rows = [(rng.randint(0, 99), mk()) for _ in range(n_batch)]
        batch = pd.DataFrame(
            {"__id": [r[0] for r in rows], "__sig": [r[1] for r in rows]}
        )
        want, wids, wsigs = reference(
            state_ids, state_sigs, rows, cap, thr
        )
        ids, sigs = list(state_ids), list(state_sigs)
        out = _bucket_pairs(ids, sigs, batch, 0, k, thr, cap, 1 << 62)
        got = sorted((a, b, e) for a, b, _bd, e, _s in out)
        assert got == want, (trial, got, want)
        assert ids == wids and sigs == wsigs, trial

        # capped run: emitted + suppressed == uncapped total, marker
        # rows only when something was suppressed
        ids2, sigs2 = list(state_ids), list(state_sigs)
        budget = max(1, len(want) // 2)
        out2 = _bucket_pairs(ids2, sigs2, batch, 0, k, thr, cap, budget)
        pairs2 = [r for r in out2 if r[0] is not None]
        markers = [r for r in out2 if r[0] is None]
        assert len(pairs2) <= budget
        suppressed = sum(r[4] for r in markers)
        assert len(pairs2) + suppressed == len(want), trial
        assert pairs2 == [
            (a, b, bd, e, s)
            for a, b, bd, e, s in out
        ][: len(pairs2)], trial
        assert ids2 == wids and sigs2 == wsigs, trial


def test_events_stream_copy_written_once_per_session_and_tier(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The file stream's microsecond copy of `events` is written once
    per (session, tier), not once per call: two streaming queries, each
    run twice, leave at most one copy."""
    from kafka_stream_aggregator_spark.queries import REGISTRY

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    session = spark.newSession()
    for name in ("stream_dedup_count", "stream_bitmap_distinct") * 2:
        REGISTRY[name].fn(session, sf_dir).collect()
    copies = [p for p in tmp_path.iterdir() if p.name.startswith("stream_events_")]
    assert len(copies) <= 1, copies


@pytest.mark.parametrize("before", [None, "7s"])
def test_tradegen_drain_restores_progress_interval(spark, sf_dir, before):
    """The tradegen drain shortens the idle-progress interval for its
    own query only: the caller's session keeps its setting (or its
    default) afterwards. Runs on the suite's session, which registered
    the tradegen source: another session cannot register it again."""
    from kafka_stream_aggregator_spark.queries import REGISTRY

    key = "spark.sql.streaming.noDataProgressEventInterval"
    prev = spark.conf.get(key, None)
    try:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)
        assert REGISTRY["stream_tick_imbalance"].fn(spark, sf_dir).count() > 0
        assert spark.conf.get(key, None) == before
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
