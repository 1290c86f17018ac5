"""Reference-parity test of the full trade chain: synthetic trades ->
frame (producer) -> decode (consumer) -> EWMA aggregate, checked
against a pure-python reimplementation of the reference fold
(indicators.rs:14-26 semantics)."""

from __future__ import annotations

from collections import defaultdict

from kafka_stream_aggregator_spark.indicators import ewma_alpha
from kafka_stream_aggregator_spark.schemas import TRADE_SCHEMA
from kafka_stream_aggregator_spark.streaming.trade_pipeline import (
    aggregate_trades,
    decode_trades,
    frame_trades,
    synthetic_trades,
)


def test_frame_decode_roundtrip(spark):
    trades = synthetic_trades(spark, n=500)
    framed = frame_trades(trades, schema_id=7)
    # key is the epoch-ms string (reference main.rs:91)
    row = framed.first()
    assert row["key"].isdigit()
    assert bytes(row["value"])[:1] == b"\x00"
    decoded = decode_trades(framed)
    assert [f.name for f in TRADE_SCHEMA.fields] == decoded.columns[:-1]
    a = sorted(map(tuple, trades.collect()))
    b = sorted(
        map(tuple, decoded.select(*[f.name for f in TRADE_SCHEMA.fields]).collect())
    )
    assert a == b  # lossless through the frame


def test_ewma_parity_full_chain(spark):
    n = 3000
    trades = synthetic_trades(spark, n=n)
    decoded = decode_trades(frame_trades(trades))
    out = {
        r["key"]: (r["n_trades"], r["current"], r["period"], r["alpha"])
        for r in aggregate_trades(decoded, period_minutes=5).collect()
    }

    # reference fold (indicators.rs:19-26) per 5-min window, ordered by
    # (timestamp, trade_seq) — SURVEY S1/S2/S4/S5
    alpha = ewma_alpha(5)
    rows = trades.select("timestamp", "trade_seq", "price").collect()
    buckets = defaultdict(list)
    for r in rows:
        w = (r["timestamp"] // 300000) * 300
        buckets[w].append((r["timestamp"], r["trade_seq"], r["price"]))
    expect = {}
    for w, items in buckets.items():
        cur = 0.0
        for _, _, price in sorted(items):
            cur = alpha * price + (1 - alpha) * cur
        if cur > 0:
            expect[w + 300] = (len(items), cur)

    assert set(out) == set(expect)
    for k, (n_ref, cur_ref) in expect.items():
        n_got, cur_got, period, a = out[k]
        assert n_got == n_ref
        assert abs(cur_got - cur_ref) < 1e-9 * max(1.0, abs(cur_ref))
        assert period == 5 and abs(a - alpha) < 1e-15


def test_zero_price_suppression(spark):
    """Windows whose fold ends <= 0 emit nothing (main.rs:118): a window
    containing only 0.0 prices is suppressed."""
    from pyspark.sql import functions as F

    trades = synthetic_trades(spark, n=1000).withColumn(
        "price", F.lit(0.0)
    )
    out = aggregate_trades(decode_trades(frame_trades(trades)))
    assert out.count() == 0


def test_avro_codec_roundtrip_and_java_crosscheck(spark):
    """Our pure-python Avro encoding is real Avro: the JAVA Avro library
    bundled with Spark decodes our bytes to the same record."""
    import json

    from kafka_stream_aggregator_spark.streaming.avro_codec import (
        TRADES_AVRO_SCHEMA,
        decode,
        encode,
    )

    rec = {
        "amount": 1.5,
        "direction": "sell",
        "index_price": 42000.25,
        "instrument_name": "BTC-X",
        "iv": None,
        "liquidation": "MT",
        "price": 41999.75,
        "tick_direction": 3,
        "timestamp": 1704067200123,
        "trade_id": "t-99",
        "trade_seq": -7,  # negative long exercises zigzag
    }
    raw = encode(TRADES_AVRO_SCHEMA, rec)
    back, n = decode(TRADES_AVRO_SCHEMA, raw)
    assert back == rec and n == len(raw)

    # cross-check with org.apache.avro (bundled jar) via py4j
    jvm = spark.sparkContext._jvm
    parser = jvm.org.apache.avro.Schema.Parser()
    jschema = parser.parse(json.dumps(TRADES_AVRO_SCHEMA))
    reader = jvm.org.apache.avro.generic.GenericDatumReader(jschema)
    dec_factory = jvm.org.apache.avro.io.DecoderFactory.get()
    jdecoder = dec_factory.binaryDecoder(bytearray(raw), None)
    jrec = reader.read(None, jdecoder)
    assert jrec.get("trade_id").toString() == "t-99"
    assert jrec.get("trade_seq") == -7
    assert jrec.get("direction").toString() == "sell"
    assert jrec.get("liquidation").toString() == "MT"
    assert jrec.get("iv") is None
    assert abs(jrec.get("price") - 41999.75) < 1e-12


def _decode_avro(framed):
    """The Avro consumer over a one-entry registry snapshot: id 7, the
    id frame_trades_avro writes by default."""
    from kafka_stream_aggregator_spark.streaming.avro_codec import TRADES_AVRO_SCHEMA
    from kafka_stream_aggregator_spark.streaming.trade_pipeline import (
        decode_trades_avro_dispatch,
    )

    return decode_trades_avro_dispatch(
        framed, {7: TRADES_AVRO_SCHEMA}, TRADES_AVRO_SCHEMA, TRADE_SCHEMA
    )


def test_avro_framed_chain_equals_json_chain(spark):
    """The full trade chain over REAL Avro frames produces identical
    EWMA output to the JSON-framed chain."""
    from kafka_stream_aggregator_spark.streaming.trade_pipeline import (
        frame_trades_avro,
    )

    trades = synthetic_trades(spark, n=2000)
    via_json = {
        tuple(r)
        for r in aggregate_trades(decode_trades(frame_trades(trades))).collect()
    }
    via_avro = {
        tuple(r)
        for r in aggregate_trades(_decode_avro(frame_trades_avro(trades))).collect()
    }
    assert via_avro == via_json and len(via_avro) > 0


def test_avro_frames_encode_null_as_null(spark):
    """A null `iv` is written as the union's null branch, not as NaN:
    the Avro chain decodes every TRADE_SCHEMA column to the JSON chain's
    values, with `iv` back as None."""
    import math

    from kafka_stream_aggregator_spark.streaming.avro_codec import (
        TRADES_AVRO_SCHEMA,
        decode,
    )
    from kafka_stream_aggregator_spark.streaming.trade_pipeline import (
        frame_trades_avro,
    )

    cols = [f.name for f in TRADE_SCHEMA.fields]
    trades = synthetic_trades(spark, n=200)  # every 5th trade has a null iv
    framed = frame_trades_avro(trades)
    raw = {
        rec["trade_seq"]: rec
        for rec in (
            decode(TRADES_AVRO_SCHEMA, bytes(r["value"])[5:])[0]
            for r in framed.collect()
        )
    }
    assert sum(rec["iv"] is None for rec in raw.values()) == 40
    assert not any(
        isinstance(rec["iv"], float) and math.isnan(rec["iv"]) for rec in raw.values()
    )
    via_avro = sorted(map(tuple, _decode_avro(framed).select(*cols).collect()))
    via_json = sorted(
        map(tuple, decode_trades(frame_trades(trades)).select(*cols).collect())
    )
    assert via_avro == via_json
    assert sum(r[cols.index("iv")] is None for r in via_avro) == 40
