"""Stream sinks (R3/R4/R10/R11 parity).

The reference persists the raw topic to Postgres through Kafka Connect's
JdbcSinkConnector (config/raw-consumer-jdbc-sink/raw-pg.json: batches of
10, pk=timestamp, auto-create). Spark's shape for the same contract is
foreachBatch + batch.write.jdbc — upsert semantics live in the writer fn.
No JDBC server exists in this container, so the writer is pluggable and
tests exercise the machinery with a parquet writer; the jdbc writer is
the production path.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame


def foreach_batch_jdbc_writer(
    url: str,
    table: str,
    mode: str = "append",
    properties: dict[str, str] | None = None,
) -> Callable[[DataFrame, int], None]:
    """R11: per-micro-batch JDBC append.

    Delivery is AT-LEAST-ONCE: checkpoint replay of a batch re-inserts
    its rows (and with a PK on the target, the conflicting insert fails
    the batch rather than skipping duplicates). For effectively-once
    into a keyed table use foreach_batch_jdbc_upsert_writer below."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.jdbc(url, table, mode=mode, properties=properties or {})

    return write


def foreach_batch_jdbc_upsert_writer(
    url: str,
    table: str,
    key_cols: list[str],
    properties: dict[str, str] | None = None,
    staging_table: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """R11 with effectively-once semantics: stage + MERGE on the key.

    Each micro-batch overwrites a staging table, then a single MERGE
    (ANSI; Postgres 15+/Derby/most JDBC targets) upserts it into the
    live table keyed on ``key_cols`` — checkpoint replay re-merges the
    same rows onto the same keys, a no-op. The reference's Kafka Connect
    sink gets the same effect from pk.fields + insert.mode=upsert
    (raw-pg.json:11)."""
    stage = staging_table or f"{table}_stage"

    def write(batch_df: DataFrame, batch_id: int) -> None:
        props = properties or {}
        # auto-create the live table on first contact (raw-pg.json:2
        # "auto.create" parity): a zero-row append creates it if absent
        # and is a no-op otherwise.
        batch_df.limit(0).write.jdbc(url, table, mode="append", properties=props)
        batch_df.write.jdbc(url, stage, mode="overwrite", properties=props)
        # Spark's JDBC writer creates case-sensitive (quoted) column
        # names — quote them in the MERGE too.
        q = lambda c: f'"{c}"'
        on = " AND ".join(f"t.{q(k)} = s.{q(k)}" for k in key_cols)
        non_key = [c for c in batch_df.columns if c not in key_cols]
        set_clause = ", ".join(f"{q(c)} = s.{q(c)}" for c in non_key)
        cols = ", ".join(q(c) for c in batch_df.columns)
        vals = ", ".join(f"s.{q(c)}" for c in batch_df.columns)
        merge = (
            f"MERGE INTO {table} t USING {stage} s ON {on} "
            + (f"WHEN MATCHED THEN UPDATE SET {set_clause} " if non_key else "")
            + f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({vals})"
        )
        # run the MERGE over a plain JVM JDBC connection (driver-side,
        # one statement per batch — not a data-volume path)
        spark = batch_df.sparkSession
        jvm = spark.sparkContext._jvm
        # carry the connection properties (user/password/ssl) into the
        # MERGE connection too — the staged writes already honor them.
        jprops = jvm.java.util.Properties()
        for k, v in props.items():
            jprops.setProperty(str(k), str(v))
        conn = jvm.java.sql.DriverManager.getConnection(url, jprops)
        try:
            st = conn.createStatement()
            st.execute(merge)
            st.close()
        finally:
            conn.close()

    return write


def foreach_batch_parquet_writer(path: str) -> Callable[[DataFrame, int], None]:
    """Test/bench stand-in with the same foreachBatch contract."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(path)

    return write


def kafka_sink_writer(df: DataFrame, brokers: str, topic: str, checkpoint: str):
    """R4/R10: value as JSON (to_avro needs the spark-avro module; same
    wiring, different serializer expression)."""
    from pyspark.sql import functions as F

    return (
        df.select(F.to_json(F.struct(*df.columns)).alias("value"))
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
    )


def start_to_memory(df: DataFrame, name: str, output_mode: str = "append"):
    """Debug/test sink: run a streaming DF to completion (availableNow)
    into an in-memory table; returns the query (caller awaits)."""
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )


class ProgressListener:
    """R12 analogue: stream observability via StreamingQueryListener.

    The reference traces per-record spans through Kafka headers into
    Zipkin (registry_handler.rs:10-48); Spark's idiom is query-progress
    events — rows/sec, batch durations, watermark, state size — captured
    here into a list the caller can inspect or forward.
    """

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                outer.started.append(event.id)

            def onQueryProgress(self, event):
                p = event.progress
                outer.progress.append(
                    {
                        "batchId": p.batchId,
                        "numInputRows": p.numInputRows,
                        "inputRowsPerSecond": p.inputRowsPerSecond,
                        "processedRowsPerSecond": p.processedRowsPerSecond,
                        "durationMs": dict(p.durationMs),
                        # absent until a query with a watermark has one
                        "watermark": p.eventTime.get("watermark"),
                        "stateOperators": [
                            {
                                "operatorName": op.operatorName,
                                "numRowsTotal": op.numRowsTotal,
                                "memoryUsedBytes": op.memoryUsedBytes,
                                "commitTimeMs": op.commitTimeMs,
                                "numRowsDroppedByWatermark": op.numRowsDroppedByWatermark,
                            }
                            for op in p.stateOperators
                        ],
                    }
                )

            def onQueryTerminated(self, event):
                outer.terminated.append(event.id)

        self.started: list = []
        self.progress: list = []
        self.terminated: list = []
        self._listener = _L()

    def attach(self, spark) -> "ProgressListener":
        spark.streams.addListener(self._listener)
        return self

    def detach(self, spark) -> None:
        spark.streams.removeListener(self._listener)
