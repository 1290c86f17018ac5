"""Checkpoint I/O of stateful streams on the local filesystem.

The session commits checkpoints through Spark's FileSystem-based
checkpoint file manager over Hadoop's LocalFileSystem (session.py). These
tests pin what that pair resolves to, its commit semantics, that a
stateful micro-batch forks no `readlink`, and that a stream stopped
mid-run and restarted on its checkpoint with new input equals the batch
oracle.
"""

from __future__ import annotations

import os
import time
from collections import Counter
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from py4j.protocol import Py4JError, Py4JJavaError

from kafka_stream_aggregator_spark.indicators import windowed_ewma
from kafka_stream_aggregator_spark.schemas import EVENTS_SCHEMA
from kafka_stream_aggregator_spark.streaming.pipeline import streaming_windowed_ewma
from kafka_stream_aggregator_spark.streaming.sinks import foreach_batch_parquet_writer
from kafka_stream_aggregator_spark.streaming.sources import file_stream

ROWS_PER_FILE = 60
FILE_SPAN = timedelta(minutes=12)
T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
MTIME0 = time.time() - 10_000


def put_file(src: str, i: int) -> None:
    """Add input file ``i``: ROWS_PER_FILE events spread over the i-th
    12-minute span, so event time rises from file to file and no row is
    behind the watermark. The file appears whole (written under a hidden
    name, then renamed), with an mtime that orders it after file i-1."""
    step = FILE_SPAN / ROWS_PER_FILE
    ids = [i * ROWS_PER_FILE + k for k in range(ROWS_PER_FILE)]
    table = pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(
                [T0 + i * FILE_SPAN + k * step for k in range(ROWS_PER_FILE)],
                pa.timestamp("us", tz="UTC"),
            ),
            "user_id": pa.array([e % 7 for e in ids], pa.int64()),
            "event_type": pa.array(["click" if e % 3 else "view" for e in ids]),
            "value": pa.array([1.0 + (e * 37) % 101 for e in ids], pa.float64()),
            "props": pa.array([None] * ROWS_PER_FILE, pa.string()),
        }
    )
    os.makedirs(src, exist_ok=True)
    path = os.path.join(src, f"part-{i:04d}.parquet")
    tmp = os.path.join(src, f".part-{i:04d}.parquet")
    pq.write_table(table, tmp)
    os.rename(tmp, path)
    os.utime(path, (MTIME0 + i, MTIME0 + i))


def ewma_stream(spark, src: str):
    stream = file_stream(spark, src, EVENTS_SCHEMA, max_files_per_trigger=1)
    return streaming_windowed_ewma(stream, group_cols=("event_type",))


def checkpoint_manager(spark, path: str):
    """The checkpoint file manager a query of this session gets for ``path``."""
    jvm = spark._jvm
    return jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(path), spark._jsparkSession.sessionState().newHadoopConf()
    )


def test_checkpoint_filesystem_resolution(spark, tmp_path):
    """file: is Hadoop's LocalFileSystem (not hive-exec's
    ProxyLocalFileSystem), and a checkpoint directory gets the
    FileSystem-based manager."""
    jvm = spark._jvm
    hconf = spark._jsparkSession.sessionState().newHadoopConf()
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), hconf)
    assert fs.getClass().getName() == "org.apache.hadoop.fs.LocalFileSystem"
    assert checkpoint_manager(spark, str(tmp_path)).getClass().getName() == (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )


def test_checkpoint_commit_semantics(spark, tmp_path):
    """An atomic commit onto an existing file: without overwrite it
    raises on close and keeps the old bytes; with overwrite it replaces
    them (state-store delta files commit this way when a batch re-runs).
    Each leaves the same temp files as Spark's default manager: the
    failed commit's one, nothing from the overwrite."""
    mgr = checkpoint_manager(spark, str(tmp_path))
    target = tmp_path / "1.delta"
    target.write_bytes(b"old")

    def commit(payload: bytes, overwrite: bool) -> None:
        out = mgr.createAtomic(spark._jvm.org.apache.hadoop.fs.Path(str(target)), overwrite)
        out.write(bytearray(payload))
        out.close()

    def temp_files() -> set[str]:
        return {f for f in os.listdir(tmp_path) if f.endswith(".tmp")}

    with pytest.raises(Py4JJavaError, match="already exists"):
        commit(b"new", False)
    assert target.read_bytes() == b"old"
    left = temp_files()
    assert len(left) == 1

    commit(b"newer", True)
    assert target.read_bytes() == b"newer"
    assert temp_files() == left


def test_stateful_batches_fork_no_readlink(spark, tmp_path):
    """A JFR recording of jdk.ProcessStart around five stateful
    micro-batches into a foreachBatch sink sees no `readlink`: Spark's
    default manager forks one per symlink check before each checkpoint
    rename when libhadoop is not loaded (docs/SCALING.md)."""
    jvm = spark._jvm
    try:
        recorder = jvm.jdk.jfr.FlightRecorder.getFlightRecorder()
        names = {t.getName() for t in recorder.getEventTypes()}
    except Py4JError:
        pytest.skip("this JVM has no Flight Recorder")
    if "jdk.ProcessStart" not in names:
        pytest.skip("this JVM records no jdk.ProcessStart events")

    src = str(tmp_path / "in")
    for i in range(5):
        put_file(src, i)
    rec = jvm.jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try:
        q = (
            ewma_stream(spark, src)
            .writeStream.foreachBatch(foreach_batch_parquet_writer(str(tmp_path / "out")))
            .option("checkpointLocation", str(tmp_path / "ck"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        # the recorder's own control: a process this test starts
        jvm.java.lang.Runtime.getRuntime().exec("true").waitFor()
    finally:
        rec.stop()
    dump = jvm.java.io.File(str(tmp_path / "spawns.jfr")).toPath()
    rec.dump(dump)
    rec.close()
    commands = [
        os.path.basename(e.getString("command").split()[0])
        for e in jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(dump)
    ]
    assert sum(1 for p in q.recentProgress if p["numInputRows"] > 0) == 5
    assert "true" in commands
    assert commands.count("readlink") == 0, Counter(commands)


def test_stream_stopped_and_restarted_with_new_input_equals_batch(spark, tmp_path):
    """Kill-and-restart: the stateful EWMA runs one file per batch and is
    stopped after three batches (possibly inside the fourth); more files
    arrive; a restart on the same checkpoint drains them. The file sink
    then holds each window the final watermark closed exactly once, with
    the batch oracle's row count; the EWMA agrees to 1e-12 relative (the
    stream folds in order, the batch oracle sums the closed form)."""
    src, out, ck = (str(tmp_path / d) for d in ("in", "out", "ck"))

    def start(**trigger):
        return (
            ewma_stream(spark, src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(**trigger)
            .start()
        )

    for i in range(6):
        put_file(src, i)
    q = start(processingTime="0 seconds")
    deadline = time.time() + 300
    while (q.lastProgress or {}).get("batchId", -1) < 2 and time.time() < deadline:
        time.sleep(0.05)
    q.stop()
    assert q.exception() is None
    committed = [f for f in os.listdir(os.path.join(ck, "commits")) if f.isdigit()]
    assert len(committed) >= 3

    for i in range(6, 10):
        put_file(src, i)
    q = start(availableNow=True)
    q.awaitTermination(300)
    assert q.exception() is None
    watermark = datetime.fromisoformat(q.lastProgress["eventTime"]["watermark"])
    assert watermark == T0 + 10 * FILE_SPAN - FILE_SPAN / ROWS_PER_FILE - timedelta(minutes=10)

    cols = ("event_type", "window_start", "n_rows", "ewma")
    got = [tuple(r) for r in spark.read.parquet(out).select(*cols).collect()]
    batch = windowed_ewma(
        spark.read.schema(EVENTS_SCHEMA).parquet(src), group_cols=("event_type",)
    )
    want = [
        tuple(r)
        for r in batch.select(*cols, "window_end").collect()
        if r["window_end"] <= watermark.timestamp()
    ]
    key = lambda r: r[:3]
    assert sorted(map(key, got)) == sorted(map(key, want))
    assert len(got) > 40
    expect = {key(r): r[3] for r in want}
    for r in got:
        assert r[3] == pytest.approx(expect[key(r)], rel=1e-12)
