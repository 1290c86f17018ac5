"""End-to-end reference-parity pipeline on the TRADE data model.

The reference's full dataflow (SURVEY.md §3):
  raw-producer:  WS trades -> TradesDataAvro -> framed Kafka messages
                 keyed by epoch-ms strings (bin/raw-producer/main.rs:77-106)
  agg-producer:  Kafka -> decode -> project(price) -> 5-min window ->
                 zero-seeded EWMA -> filter>0 -> EWMA{period,alpha,current}
                 records (bin/agg-producer/main.rs:100-131, indicators.rs)

This module reproduces that chain on Spark against any source that
yields framed binary messages (Kafka's value column, or the synthetic
generator below for tests). Payloads sit behind the Confluent-style
5-byte frame, as JSON bodies (`frame_trades` / `decode_trades`, decoded
in the JVM) or Avro bodies (`frame_trades_avro`, encoded per record by
the pure-python codec; `decode_trades_avro_dispatch`, a mapInArrow that
decodes each Arrow batch column by column, each frame by its own
schema id). The EWMA is `aggregate_trades`, a projection of
`indicators.windowed_ewma`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..indicators import ewma_alpha, windowed_ewma
from ..schemas import TRADE_SCHEMA
from .sources import confluent_avro_payload


def synthetic_trades(
    spark: SparkSession,
    n: int = 10_000,
    n_instruments: int = 5,
    start_epoch_ms: int = 1_704_067_200_000,
    mean_interval_ms: int = 300,
) -> DataFrame:
    """Deterministic trade stream matching TRADE_SCHEMA (models.rs:31-44):
    prices lognormal-ish positive with a few exact 0.0 rows (the
    `current > 0` suppression needs them), ~timestamps mostly ordered
    with occasional jitter. Pure Spark expressions, seed-stable."""
    df = spark.range(n).select(
        F.col("id").alias("trade_seq"),
        F.concat(F.lit("t-"), F.col("id")).alias("trade_id"),
        F.concat(
            F.lit("BTC-INSTR-"), (F.col("id") % n_instruments)
        ).alias("instrument_name"),
        (
            F.lit(start_epoch_ms)
            + F.col("id") * mean_interval_ms
            + (F.xxhash64("id") % 2000)  # jitter: some out-of-order
        ).alias("timestamp"),
        F.when(F.col("id") % 997 == 0, 0.0)
        .otherwise(
            F.round(F.exp((F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1000)) / 250.0)) * 20, 4)
        )
        .alias("price"),
        F.round(F.pmod(F.xxhash64("id", F.lit(2)), F.lit(500)) / 10.0, 4).alias("amount"),
        F.element_at(
            F.array(F.lit("buy"), F.lit("sell"), F.lit("zero")),
            (F.pmod(F.xxhash64("id", F.lit(3)), F.lit(3)) + 1).cast("int"),
        ).alias("direction"),
        F.round(F.pmod(F.xxhash64("id", F.lit(4)), F.lit(10000)) / 100.0, 4).alias(
            "index_price"
        ),
        F.when(F.col("id") % 5 == 0, None)
        .otherwise(F.pmod(F.xxhash64("id", F.lit(5)), F.lit(100)) / 100.0)
        .alias("iv"),
        F.when(
            F.col("id") % 20 == 0,
            F.element_at(
                F.array(F.lit("M"), F.lit("T"), F.lit("MT")),
                (F.pmod(F.xxhash64("id", F.lit(6)), F.lit(3)) + 1).cast("int"),
            ),
        ).alias("liquidation"),
        F.pmod(F.xxhash64("id", F.lit(7)), F.lit(4)).alias("tick_direction"),
    )
    return df.select(*[f.name for f in TRADE_SCHEMA.fields])


def frame_trades(trades: DataFrame, schema_id: int = 7) -> DataFrame:
    """raw-producer analogue: serialize each trade and frame it like the
    Confluent wire format ([0x00][schema-id int32][body]); the message
    key is the reference's epoch-ms string (main.rs:91)."""
    body = F.to_json(F.struct(*trades.columns))
    magic_and_id = F.concat(
        F.lit(bytearray(b"\x00")),
        F.expr(f"unhex(lpad(hex({schema_id}), 8, '0'))"),
    )
    return trades.select(
        F.col("timestamp").cast("string").alias("key"),
        F.concat(magic_and_id, F.encode(body, "utf-8")).alias("value"),
    )


def decode_trades(framed: DataFrame) -> DataFrame:
    """agg-producer consumer analogue (consumer.rs:76-85): strip the
    5-byte frame, parse the body against the fixed trade schema, surface
    event_time from the epoch-ms timestamp."""
    body = confluent_avro_payload(F.col("value")).cast("string")
    return (
        framed.select(F.from_json(body, TRADE_SCHEMA).alias("t"))
        .select("t.*")
        .withColumn("event_time", F.timestamp_millis(F.col("timestamp")))
    )


def aggregate_trades(
    trades: DataFrame, period_minutes: int = 5, per_instrument: bool = False
) -> DataFrame:
    """The agg-producer fold (main.rs:100-131): `windowed_ewma` of price
    over event time `timestamp_millis(timestamp)`, in (timestamp,
    trade_seq) order (SURVEY S5 determinism choice), <=0 suppressed
    (S4), projected onto the reference's record shape EWMA{period,
    alpha, current} (indicators.rs:6-11) keyed by window_end (S7
    deterministic-key choice), plus n_trades."""
    group = ["instrument_name"] if per_instrument else []
    ewma = windowed_ewma(
        trades.withColumn("event_time", F.timestamp_millis(F.col("timestamp"))),
        ts_col="event_time",
        value_col="price",
        order_cols=("timestamp", "trade_seq"),
        group_cols=group,
        period_minutes=period_minutes,
    )
    return ewma.select(
        *group,
        F.col("window_end").alias("key"),
        F.lit(period_minutes).cast("long").alias("period"),
        F.lit(ewma_alpha(period_minutes)).alias("alpha"),
        F.col("ewma").alias("current"),
        F.col("n_rows").alias("n_trades"),
    )


def frame_trades_avro(trades: DataFrame, schema_id: int = 7) -> DataFrame:
    """raw-producer with the REAL wire format: each trade Avro-binary-
    encoded (pure-python codec, spec-conformant — cross-checked against
    the Java Avro library in tests) behind the Confluent 5-byte frame.
    Nulls of nullable fields are written as the union's null branch."""
    import pandas as pd

    from .avro_codec import TRADES_AVRO_SCHEMA, encode

    cols = [f.name for f in TRADE_SCHEMA.fields]
    nullable = [
        f["name"]
        for f in TRADES_AVRO_SCHEMA["fields"]
        if isinstance(f["type"], list) and "null" in f["type"]
    ]
    prefix = b"\x00" + schema_id.to_bytes(4, "big")

    def enc(batches):
        for pdf in batches:
            # Arrow hands a null double over as NaN, which the union's
            # double branch would accept: give the encoder None instead
            for c in nullable:
                pdf[c] = pdf[c].astype(object).where(pdf[c].notna(), None)
            values = [
                prefix + encode(TRADES_AVRO_SCHEMA, dict(zip(cols, row)))
                for row in pdf[cols].itertuples(index=False, name=None)
            ]
            yield pd.DataFrame(
                {"key": pdf["timestamp"].astype(str), "value": values}
            )

    return trades.mapInPandas(enc, "key string, value binary")


def decode_trades_avro_dispatch(
    framed: DataFrame,
    registry_snapshot: dict,
    reader_schema: dict,
    out_schema,
):
    """Registry-backed consumer (consumer.rs:76-85 parity): each message
    is decoded by the schema id EMBEDDED IN ITS OWN FRAME, resolving the
    writer schema from the registry snapshot and projecting onto the
    reader schema (spec schema resolution — added nullable fields take
    their defaults, removed fields are dropped). One topic may therefore
    interleave records from producers on different schema versions, the
    exact state during a rolling producer upgrade.

    The snapshot is a plain dict riding the closure (one copy per task,
    like a broadcast dim); malformed/unknown-id records are dropped but
    the stream advances — the reference's behavior for decode errors.
    Each Arrow batch is decoded whole by `registry.decode_framed_batch`
    (mapInArrow, no pandas)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from .registry import decode_framed_batch

    cols = [f.name for f in out_schema.fields]
    arrow_schema = to_arrow_schema(out_schema)

    def dec(batches):
        for batch in batches:
            out, _ = decode_framed_batch(
                batch.column("value"), registry_snapshot, reader_schema
            )
            yield out.select(cols).cast(arrow_schema)

    out = framed.mapInArrow(dec, out_schema)
    if "timestamp" in cols:
        out = out.withColumn("event_time", F.timestamp_millis(F.col("timestamp")))
    return out
