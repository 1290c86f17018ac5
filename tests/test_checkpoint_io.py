"""Checkpoint I/O of stateful streams on the local filesystem.

The session commits checkpoints through Spark's FileSystem-based
checkpoint file manager over ForkFreeLocalFileSystem, Hadoop's
LocalFileSystem with an in-process chmod(2) (session.py). These tests pin
what that pair resolves to, its commit semantics, that a stateful
micro-batch forks no `readlink` and no `chmod`, that files get the modes
and `.crc` companions Hadoop's stock filesystem gives them, and that a
stream stopped mid-run and restarted on its checkpoint with new input
equals the batch oracle, for events and for Avro-framed trades.
"""

from __future__ import annotations

import copy
import os
import stat
import time
from collections import Counter
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from py4j.protocol import Py4JError, Py4JJavaError

from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_stream_aggregator_spark.indicators import windowed_ewma
from kafka_stream_aggregator_spark.schemas import EVENTS_SCHEMA, TRADE_SCHEMA
from kafka_stream_aggregator_spark.session import FORK_FREE_FS
from kafka_stream_aggregator_spark.streaming.avro_codec import TRADES_AVRO_SCHEMA, encode
from kafka_stream_aggregator_spark.streaming.pipeline import streaming_windowed_ewma
from kafka_stream_aggregator_spark.streaming.registry import SchemaRegistry
from kafka_stream_aggregator_spark.streaming.sinks import foreach_batch_parquet_writer
from kafka_stream_aggregator_spark.streaming.sources import file_stream
from kafka_stream_aggregator_spark.streaming.trade_pipeline import decode_trades_avro_dispatch

ROWS_PER_FILE = 60
FILE_SPAN = timedelta(minutes=12)
T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
MTIME0 = time.time() - 10_000


def put_file(src: str, i: int) -> None:
    """Add input file ``i``: ROWS_PER_FILE events spread over the i-th
    12-minute span, so event time rises from file to file and no row is
    behind the watermark."""
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
    place(src, i, table)


def place(src: str, i: int, table: pa.Table) -> None:
    """Write ``table`` as input file ``i`` of ``src``, whole (under a
    hidden name, then renamed), with an mtime that orders it after file
    i-1."""
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
    """file: is ForkFreeLocalFileSystem, still a Hadoop LocalFileSystem
    (not hive-exec's ProxyLocalFileSystem), and a checkpoint directory
    gets the FileSystem-based manager."""
    jvm = spark._jvm
    hconf = spark._jsparkSession.sessionState().newHadoopConf()
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), hconf)
    assert fs.getClass().getName() == FORK_FREE_FS
    assert jvm.java.lang.Class.forName("org.apache.hadoop.fs.LocalFileSystem").isInstance(fs)
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


@pytest.mark.parametrize("umask", ["022", "077", "002"])
def test_file_modes_match_stock_local_filesystem(spark, tmp_path, umask):
    """ForkFreeLocalFileSystem gives every file, nested directory and
    `.crc` companion the mode Hadoop's stock LocalFileSystem gives it,
    which sets modes by forking `chmod`: under the umask, with an
    explicit permission, and with the sticky bit set afterwards."""
    jvm = spark._jvm
    hfs = jvm.org.apache.hadoop.fs
    conf = jvm.org.apache.hadoop.conf.Configuration(
        spark._jsparkSession.sessionState().newHadoopConf()
    )
    conf.set("fs.permissions.umask-mode", umask)

    def modes(impl: str, root: str) -> dict[str, int]:
        fs = jvm.org.apache.hadoop.util.ReflectionUtils.newInstance(
            jvm.java.lang.Class.forName(impl), conf
        )
        fs.initialize(jvm.java.net.URI("file:///"), conf)

        def path(*parts):
            return hfs.Path(os.path.join(root, *parts))

        fs.create(path("f")).close()
        fs.mkdirs(path("a", "b", "c"))
        fs.create(path("a", "b", "c", "g")).close()
        for mode in ("600", "751"):
            perm = hfs.permission.FsPermission(mode)
            fs.create(path(f"f{mode}"), perm, False, 4096, 1, 1 << 20, None).close()
            fs.mkdirs(path(f"d{mode}"), perm)
        fs.mkdirs(path("sticky"))
        fs.setPermission(path("sticky"), hfs.permission.FsPermission("1777"))
        return {
            os.path.relpath(os.path.join(d, n), root): os.stat(os.path.join(d, n)).st_mode
            for d, dirs, files in os.walk(root)
            for n in dirs + files
        }

    stock = modes("org.apache.hadoop.fs.LocalFileSystem", str(tmp_path / "stock"))
    ours = modes(FORK_FREE_FS, str(tmp_path / "ours"))
    assert ours == stock
    # the comparison covers what it claims to
    mask = ~int(umask, 8)
    assert stat.S_IMODE(stock["f"]) == stat.S_IMODE(stock[".f.crc"]) == 0o666 & mask
    assert stat.S_IMODE(stock["a/b/c/.g.crc"]) == 0o666 & mask
    assert stat.S_IMODE(stock["a/b/c"]) == 0o777 & mask
    assert stat.S_IMODE(stock["f600"]) == 0o600
    assert stat.S_IMODE(stock["d751"]) == 0o751 & mask
    assert stat.S_IMODE(stock["sticky"]) == 0o1777 and stat.S_ISDIR(stock["sticky"])


def test_stateful_batches_fork_no_readlink(spark, tmp_path):
    """A JFR recording of jdk.ProcessStart around five stateful
    micro-batches into a parquet foreachBatch sink sees no `readlink` and
    no `chmod`. When libhadoop is not loaded, Spark's default manager
    forks `readlink` per symlink check before each checkpoint rename, and
    Hadoop's stock LocalFileSystem forks `chmod` for every file and
    directory it creates (docs/SCALING.md)."""
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
    assert commands.count("chmod") == 0, Counter(commands)


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


def v1_trade_schema() -> dict:
    """Writer schema v1: `tick_direction` as int, which the reader (v2,
    TRADES_AVRO_SCHEMA) widened to long."""
    s = copy.deepcopy(TRADES_AVRO_SCHEMA)
    for f in s["fields"]:
        if f["name"] == "tick_direction":
            f["type"] = "int"
    return s


def trade_records(i: int) -> list[dict]:
    """ROWS_PER_FILE trades over the i-th 12-minute span, on three
    instruments, every fifth with a null `iv`."""
    step_ms = int(FILE_SPAN / ROWS_PER_FILE / timedelta(milliseconds=1))
    t0_ms = int(T0.timestamp() * 1000) + i * int(FILE_SPAN / timedelta(milliseconds=1))
    out = []
    for k in range(ROWS_PER_FILE):
        seq = i * ROWS_PER_FILE + k
        out.append(
            {
                "amount": 0.1 * (seq % 13),
                "direction": ("buy", "sell", "zero")[seq % 3],
                "index_price": 40_000.0 + seq,
                "instrument_name": f"BTC-{seq % 3}",
                "iv": None if seq % 5 == 0 else 0.01 * (seq % 97),
                "liquidation": "MT" if seq % 11 == 0 else None,
                "price": 1.0 + (seq * 37) % 101,
                "tick_direction": seq % 4,
                "timestamp": t0_ms + k * step_ms,
                "trade_id": f"t-{seq}",
                "trade_seq": seq,
            }
        )
    return out


def test_avro_trade_stream_stopped_and_restarted_equals_batch(spark, tmp_path):
    """Kill-and-restart on the Avro trade chain: Confluent frames whose
    records alternate between two registered writer schemas, decoded by
    `decode_trades_avro_dispatch`, into the per-instrument stateful EWMA
    and a parquet file sink, one file per batch. Stopped after three
    batches, restarted with availableNow on the same checkpoint after
    more files arrive: each window the final watermark closed is written
    once, equal to the batch `windowed_ewma` over the trades themselves."""
    reg = SchemaRegistry()
    subject = SchemaRegistry.subject_for_topic("trades")
    writers = {reg.register(subject, v1_trade_schema()): v1_trade_schema()}
    writers[reg.register(subject, TRADES_AVRO_SCHEMA)] = TRADES_AVRO_SCHEMA
    ids = sorted(writers)
    src, out, ck = (str(tmp_path / d) for d in ("in", "out", "ck"))

    def put_trades(i: int) -> None:
        recs = trade_records(i)
        sids = [ids[r["trade_seq"] % 2] for r in recs]
        frames = [
            b"\x00" + sid.to_bytes(4, "big") + encode(writers[sid], r)
            for r, sid in zip(recs, sids)
        ]
        keys = [str(r["timestamp"]) for r in recs]
        place(src, i, pa.table({"key": keys, "value": pa.array(frames, pa.binary())}))

    frame_schema = T.StructType(
        [T.StructField("key", T.StringType()), T.StructField("value", T.BinaryType())]
    )

    def start(**trigger):
        framed = file_stream(spark, src, frame_schema, max_files_per_trigger=1)
        trades = decode_trades_avro_dispatch(
            framed, reg.snapshot(), TRADES_AVRO_SCHEMA, TRADE_SCHEMA
        )
        return (
            streaming_windowed_ewma(
                trades,
                ts_col="event_time",
                value_col="price",
                order_cols=("timestamp", "trade_seq"),
                group_cols=("instrument_name",),
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(**trigger)
            .start()
        )

    for i in range(6):
        put_trades(i)
    q = start(processingTime="0 seconds")
    deadline = time.time() + 300
    while (q.lastProgress or {}).get("batchId", -1) < 2 and time.time() < deadline:
        time.sleep(0.05)
    q.stop()
    assert q.exception() is None
    committed = [f for f in os.listdir(os.path.join(ck, "commits")) if f.isdigit()]
    assert len(committed) >= 3

    for i in range(6, 10):
        put_trades(i)
    q = start(availableNow=True)
    q.awaitTermination(300)
    assert q.exception() is None
    watermark = datetime.fromisoformat(q.lastProgress["eventTime"]["watermark"])
    last_ms = trade_records(9)[-1]["timestamp"]
    assert watermark.timestamp() == last_ms / 1000 - 600

    cols = ("instrument_name", "window_start", "n_rows", "ewma")
    got = [tuple(r) for r in spark.read.parquet(out).select(*cols).collect()]
    rows = [r for i in range(10) for r in trade_records(i)]
    batch = windowed_ewma(
        spark.createDataFrame(rows, TRADE_SCHEMA).withColumn(
            "event_time", F.timestamp_millis("timestamp")
        ),
        ts_col="event_time",
        value_col="price",
        order_cols=("timestamp", "trade_seq"),
        group_cols=("instrument_name",),
    )
    want = [
        tuple(r)
        for r in batch.select(*cols, "window_end").collect()
        if r["window_end"] <= watermark.timestamp()
    ]
    assert len({r[:2] for r in got}) == len(got) > 40
    key = lambda r: r[:3]
    assert sorted(map(key, got)) == sorted(map(key, want))
    expect = {key(r): r[3] for r in want}
    for r in got:
        assert r[3] == pytest.approx(expect[key(r)], rel=1e-12)
