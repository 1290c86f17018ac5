"""Schema Registry dispatch + Avro schema evolution (reference parity).

The reference decodes by the schema id embedded in each message
(consumer.rs:76-85) with registry-resolved writer schemas
(registry_handler.rs:50-58) and claims backward-compatible evolution
(readme.md:27-28). These tests prove the engine's equivalents:
id-dispatch over a mixed-version topic, backward/forward resolution
with an added nullable field, malformed-record drop semantics, the
union encoder's branch matching, and the columnar batch decode pinned
to the per-record codec over a table of well-formed, malformed and
schema-evolved frames.
"""

from __future__ import annotations

import copy

import pyarrow as pa
import pytest

from kafka_stream_aggregator_spark.streaming.avro_codec import (
    TRADES_AVRO_SCHEMA,
    decode,
    encode,
)
from kafka_stream_aggregator_spark.streaming.registry import (
    SchemaRegistry,
    decode_framed_batch,
    decode_framed_records,
    parse_frame,
    project_record,
)

TRADE_V1 = TRADES_AVRO_SCHEMA

# v2 = v1 + nullable 'venue' with default — the canonical
# backward-compatible evolution (readme.md:27-28).
TRADE_V2 = copy.deepcopy(TRADES_AVRO_SCHEMA)
TRADE_V2["fields"] = TRADE_V2["fields"] + [
    {"name": "venue", "type": ["null", "string"], "default": None}
]


def _trade(seq: int, **over):
    base = {
        "amount": 1.5,
        "direction": "buy",
        "index_price": 100.0,
        "instrument_name": "BTC-INSTR-0",
        "iv": None,
        "liquidation": None,
        "price": 42.5 + seq,
        "tick_direction": 1,
        "timestamp": 1_704_067_200_000 + seq,
        "trade_id": f"t-{seq}",
        "trade_seq": seq,
    }
    base.update(over)
    return base


def _frame(sid: int, schema, record) -> bytes:
    return b"\x00" + sid.to_bytes(4, "big") + encode(schema, record)


def test_registry_register_dedup_and_versions():
    reg = SchemaRegistry()
    subject = SchemaRegistry.subject_for_topic("trades-option-btc")
    assert subject == "trades-option-btc-value"
    id1 = reg.register(subject, TRADE_V1)
    id2 = reg.register(subject, TRADE_V2)
    assert id2 > id1
    # re-registering an identical schema returns the existing id
    assert reg.register(subject, TRADE_V1) == id1
    assert reg.versions(subject) == [id1, id2]
    assert reg.latest(subject)[0] == id2
    assert reg.by_id(id1) == TRADE_V1


def test_mixed_schema_id_topic_decodes_per_record():
    """A topic interleaving v1 and v2 frames (rolling producer upgrade):
    every record decodes against ITS writer schema, projected to the v2
    reader — v1 records surface venue=None via the default."""
    reg = SchemaRegistry()
    subject = SchemaRegistry.subject_for_topic("trades-option-btc")
    id1 = reg.register(subject, TRADE_V1)
    id2 = reg.register(subject, TRADE_V2)
    frames = []
    for seq in range(10):
        if seq % 2:
            rec = _trade(seq)
            rec["venue"] = "deribit"
            frames.append(_frame(id2, TRADE_V2, rec))
        else:
            frames.append(_frame(id1, TRADE_V1, _trade(seq)))
    out = decode_framed_records(frames, reg.snapshot(), TRADE_V2)
    assert all(r is not None for r in out)
    for seq, rec in enumerate(out):
        assert rec["trade_seq"] == seq
        assert rec["price"] == 42.5 + seq
        assert rec["venue"] == ("deribit" if seq % 2 else None)


def test_forward_resolution_drops_unknown_writer_field():
    """Old reader (v1) consuming v2 frames: the extra field is skipped."""
    reg = SchemaRegistry()
    id2 = reg.register("s-value", TRADE_V2)
    rec = _trade(3)
    rec["venue"] = "deribit"
    out = decode_framed_records([_frame(id2, TRADE_V2, rec)], reg.snapshot(), TRADE_V1)
    assert out[0] is not None
    assert "venue" not in out[0]
    assert out[0]["trade_id"] == "t-3"


def test_reader_field_without_default_rejected():
    v3 = copy.deepcopy(TRADE_V1)
    v3["fields"] = v3["fields"] + [{"name": "mandatory", "type": "string"}]
    with pytest.raises(ValueError, match="not backward compatible"):
        project_record(_trade(0), TRADE_V1, v3)


def test_numeric_promotion_int_writer_double_reader():
    w = {"type": "record", "name": "R", "fields": [{"name": "x", "type": "int"}]}
    r = {"type": "record", "name": "R", "fields": [{"name": "x", "type": "double"}]}
    rec, _ = decode(w, encode(w, {"x": 7}))
    out = project_record(rec, w, r)
    assert out["x"] == 7.0 and isinstance(out["x"], float)


def test_malformed_and_unknown_id_records_drop_not_raise():
    """Reference behavior: decode failures drop the record and move on
    (consumer.rs:106-108 commits even on decode error)."""
    reg = SchemaRegistry()
    id1 = reg.register("s-value", TRADE_V1)
    good = _frame(id1, TRADE_V1, _trade(0))
    unknown_id = _frame(999, TRADE_V1, _trade(1))
    not_framed = b"\x17garbage"
    out = decode_framed_records(
        [good, unknown_id, not_framed], reg.snapshot(), TRADE_V1
    )
    assert out[0] is not None and out[1] is None and out[2] is None
    with pytest.raises(Exception):
        decode_framed_records([not_framed], reg.snapshot(), TRADE_V1, on_error="raise")


def test_parse_frame_roundtrip():
    sid, body = parse_frame(b"\x00" + (7).to_bytes(4, "big") + b"abc")
    assert sid == 7 and body == b"abc"


def test_union_encode_picks_matching_branch():
    """ADVICE fix: multi-branch unions must dispatch on the VALUE's
    type, not blindly take the first non-null branch."""
    u = ["null", "string", "long"]
    assert decode(u, encode(u, None))[0] is None
    assert decode(u, encode(u, "abc"))[0] == "abc"
    assert decode(u, encode(u, 42))[0] == 42
    u2 = ["null", "long", "string"]
    assert decode(u2, encode(u2, "abc"))[0] == "abc"
    assert decode(u2, encode(u2, 42))[0] == 42


def test_spark_dispatch_chain_mixed_versions(spark):
    """End-to-end on Spark: frame synthetic trades under BOTH schema
    versions (even seq -> v1, odd -> v2), decode via the dispatching
    mapInPandas consumer, aggregate — equals the plain single-schema
    chain on the same trades."""
    import pandas as pd
    from pyspark.sql import functions as F

    from kafka_stream_aggregator_spark.schemas import TRADE_SCHEMA
    from kafka_stream_aggregator_spark.streaming.trade_pipeline import (
        aggregate_trades,
        decode_trades_avro_dispatch,
        synthetic_trades,
    )

    reg = SchemaRegistry()
    subject = SchemaRegistry.subject_for_topic("trades-option-btc")
    id1 = reg.register(subject, TRADE_V1)
    id2 = reg.register(subject, TRADE_V2)

    trades = synthetic_trades(spark, n=2000)
    cols = [f.name for f in TRADE_SCHEMA.fields]

    v1, v2 = TRADE_V1, TRADE_V2  # locals -> serialized by value into the closure

    def enc(batches):
        # self-contained: executors can't import the test module
        from kafka_stream_aggregator_spark.streaming.avro_codec import (
            encode as _enc,
        )

        for pdf in batches:
            values = []
            for row in pdf[cols].itertuples(index=False, name=None):
                rec = dict(zip(cols, row))
                if rec["trade_seq"] % 2:
                    rec["venue"] = "deribit"
                    values.append(
                        b"\x00" + id2.to_bytes(4, "big") + _enc(v2, rec)
                    )
                else:
                    values.append(
                        b"\x00" + id1.to_bytes(4, "big") + _enc(v1, rec)
                    )
            yield pd.DataFrame(
                {"key": pdf["timestamp"].astype(str), "value": values}
            )

    framed = trades.mapInPandas(enc, "key string, value binary")
    decoded = decode_trades_avro_dispatch(
        framed, reg.snapshot(), TRADE_V1, TRADE_SCHEMA
    )
    via_dispatch = {
        tuple(r) for r in aggregate_trades(decoded).collect()
    }
    via_plain = {tuple(r) for r in aggregate_trades(trades).collect()}
    assert via_dispatch == via_plain and len(via_dispatch) > 0


def test_forbidden_demotion_raises():
    """Avro 1.11 resolution forbids long->int and double->float: the
    incompatibility must surface, not silently pass the value through."""
    for wt, rt in (("long", "int"), ("double", "float"), ("string", "int")):
        w = {"type": "record", "name": "R", "fields": [{"name": "x", "type": wt}]}
        r = {"type": "record", "name": "R", "fields": [{"name": "x", "type": rt}]}
        val = "7" if wt == "string" else 7
        with pytest.raises(ValueError, match="not promotable"):
            project_record({"x": val}, w, r)


def test_writer_null_into_non_nullable_reader_raises():
    w = {
        "type": "record", "name": "R",
        "fields": [{"name": "x", "type": ["null", "double"], "default": None}],
    }
    r = {"type": "record", "name": "R", "fields": [{"name": "x", "type": "double"}]}
    with pytest.raises(ValueError, match="does not admit null"):
        project_record({"x": None}, w, r)


# ---------------------------------------------------------------------------
# Columnar batch decode vs the per-record reference (avro_codec.decode +
# project_record), over one table of frames and three reader schemas.

def _reference(raw, snapshot, reader):
    try:
        sid, body = parse_frame(bytes(raw))
        writer = snapshot[sid]
        rec, _ = decode(writer, body)
        return project_record(rec, writer, reader)
    except Exception:
        return None


def _zz(n: int) -> bytes:
    return encode("long", n)


def _body(schema, rec, **raw) -> bytes:
    """Avro body of `rec`, with the fields named in `raw` replaced by
    the given bytes."""
    return b"".join(
        raw[f["name"]] if f["name"] in raw else encode(f["type"], rec[f["name"]])
        for f in schema["fields"]
    )


def _framed(sid: int, body: bytes) -> bytes:
    return b"\x00" + sid.to_bytes(4, "big") + body


_DIRECTION = {"type": "enum", "name": "Side", "symbols": ["buy", "sell"]}

# Writer of every resolution case against READER_R below.
W_RES = {
    "type": "record", "name": "R",
    "fields": [
        {"name": "i2l", "type": "int"},
        {"name": "i2d", "type": "int"},
        {"name": "f2d", "type": "float"},
        {"name": "s2b", "type": "string"},
        {"name": "b2s", "type": "bytes"},
        {"name": "gone", "type": "string"},  # not in the reader: dropped
        {"name": "opt", "type": ["long", "null"]},
        {"name": "flag", "type": "boolean"},
        {"name": "side", "type": _DIRECTION},
    ],
}
READER_R = {
    "type": "record", "name": "R",
    "fields": [
        {"name": "i2l", "type": "long"},
        {"name": "i2d", "type": "double"},
        {"name": "f2d", "type": "double"},
        {"name": "s2b", "type": "bytes"},
        {"name": "b2s", "type": "string"},
        {"name": "opt", "type": ["null", "long"]},
        {"name": "flag", "type": "boolean"},
        {"name": "side", "type": _DIRECTION},
        {"name": "added", "type": ["null", "string"], "default": None},
        {"name": "added_num", "type": "double", "default": 1.5},
        {"name": "tags", "type": {"type": "array", "items": "string"}, "default": []},
    ],
}


def _with_field(schema, name, typ):
    s = copy.deepcopy(schema)
    for f in s["fields"]:
        if f["name"] == name:
            f["type"] = typ
    return s


# double -> long is a demotion: every frame of this id is dropped
W_DEMOTE = _with_field(W_RES, "i2l", "double")
# a nullable writer field into a non-nullable reader field: rows that
# carry null are dropped, the others take float -> double
W_NULLABLE = _with_field(W_RES, "f2d", ["null", "float"])
# arrays and nested records: decoded per record
W_NESTED = copy.deepcopy(W_RES)
W_NESTED["fields"] += [
    {"name": "tags", "type": {"type": "array", "items": "string"}},
    {"name": "inner", "type": {"type": "record", "name": "In",
                               "fields": [{"name": "x", "type": "long"}]}},
]

IDS = {"v1": 1, "v2": 2, "res": 3, "demote": 4, "nullable": 5, "nested": 6}
SNAPSHOT = {1: TRADE_V1, 2: TRADE_V2, 3: W_RES, 4: W_DEMOTE, 5: W_NULLABLE, 6: W_NESTED}


def _res(i: int, **over):
    rec = {"i2l": -i, "i2d": 2**20 + i, "f2d": 1.1 * i, "s2b": f"s{i}",
           "b2s": f"b{i}".encode(), "gone": "x" * i, "opt": None if i % 2 else i,
           "flag": bool(i % 3), "side": "sell" if i % 2 else "buy",
           "tags": ["a"] * (i % 3), "inner": {"x": i}}
    rec.update(over)
    return rec


def _mixed_table() -> list:
    v2 = dict(_trade(100), venue="deribit")
    v2_body = encode(TRADE_V2, v2)
    frames = [
        _framed(1, encode(TRADE_V1, _trade(1))),
        _framed(2, v2_body),
        _framed(2, encode(TRADE_V2, dict(_trade(2, iv=0.25, liquidation="MT"), venue=None))),
        _framed(1, encode(TRADE_V1, _trade(3, direction="zero", liquidation="T"))),
        _framed(99, encode(TRADE_V1, _trade(4))),  # unregistered id
        b"\x00\x00\x00",  # shorter than 5 bytes
        b"\x01" + (1).to_bytes(4, "big") + encode(TRADE_V1, _trade(5)),  # bad magic
        None,
        _framed(2, v2_body + b"junk"),  # trailing bytes are ignored
        # union branch and enum symbol out of range, both ways
        _framed(1, _body(TRADE_V1, _trade(6), iv=_zz(2) + encode("double", 0.5))),
        _framed(1, _body(TRADE_V1, _trade(7), iv=_zz(-1) + encode("double", 0.5))),
        _framed(1, _body(TRADE_V1, _trade(8), direction=_zz(3))),
        _framed(1, _body(TRADE_V1, _trade(9), direction=_zz(-1))),
        # an 11-byte varint; a 10-byte one whose bits above 64 are dropped
        _framed(1, _body(TRADE_V1, _trade(10), trade_seq=b"\xff" * 10 + b"\x01")),
        _framed(1, _body(TRADE_V1, _trade(11), trade_seq=b"\xfe" * 9 + b"\x7f")),
        # negative and oversized string lengths, invalid UTF-8
        _framed(1, _body(TRADE_V1, _trade(12), instrument_name=_zz(-3) + b"abc")),
        _framed(1, _body(TRADE_V1, _trade(13), instrument_name=_zz(1000) + b"abc")),
        _framed(1, _body(TRADE_V1, _trade(14), trade_id=_zz(2) + b"\xff\xfe")),
    ]
    # the v2 body cut at every byte, so at every field boundary too
    frames += [_framed(2, v2_body[:k]) for k in range(len(v2_body))]
    # resolution cases
    for name in ("res", "demote", "nullable", "nested"):
        w = SNAPSHOT[IDS[name]]
        frames += [_framed(IDS[name], encode(w, _res(i))) for i in range(4)]
    frames += [
        _framed(3, _body(W_RES, _res(5), b2s=_zz(2) + b"\xc3\x28")),  # bytes -> string, not UTF-8
        _framed(3, _body(W_RES, _res(9), gone=_zz(1) + b"\x80")),  # a dropped field, not UTF-8
        _framed(3, _body(W_RES, _res(6), i2l=_zz(2**40))),  # int outside 32 bits
        _framed(5, encode(W_NULLABLE, _res(7, f2d=None))),  # null into non-null double
        _framed(6, _body(W_NESTED, _res(8), tags=_zz(5) + b"\x02a")),  # short array
    ]
    return frames


@pytest.mark.parametrize("reader", [TRADE_V1, TRADE_V2, READER_R], ids=["v1", "v2", "R"])
def test_columnar_decode_equals_per_record_reference(reader):
    frames = _mixed_table()
    want = [_reference(f, SNAPSHOT, reader) for f in frames]
    got = decode_framed_records(frames, SNAPSHOT, reader)
    assert [g is None for g in got] == [w is None for w in want]
    for i, (g, w) in enumerate(zip(got, want)):
        assert g == w, f"frame {i}"

    kept = sum(w is not None for w in want)
    batch, positions = decode_framed_batch(pa.array(frames, pa.binary()), SNAPSHOT, reader)
    assert batch.num_rows == kept
    assert positions.tolist() == [i for i, w in enumerate(want) if w is not None]
    assert batch.schema.names == [f["name"] for f in reader["fields"]]

    if reader is READER_R:
        by_id = {}
        for f, w in zip(frames, want):
            if f is not None and len(f) >= 5 and f[0] == 0 and w is not None:
                by_id.setdefault(int.from_bytes(f[1:5], "big"), []).append(w)
        assert len(by_id[3]) == 4 and len(by_id[6]) == 4
        assert 4 not in by_id  # demotion
        assert len(by_id[5]) == 4  # the null row dropped
        assert by_id[6][1]["tags"] == ["a"] and by_id[3][1]["tags"] == []
        assert by_id[3][0]["s2b"] == b"s0" and by_id[3][0]["added_num"] == 1.5
    else:
        assert kept >= 5


def test_columnar_decode_raise_mode():
    frames = _mixed_table()
    good = [f for f in frames if _reference(f, SNAPSHOT, TRADE_V2) is not None]
    assert len(decode_framed_records(good, SNAPSHOT, TRADE_V2, on_error="raise")) == len(good)
    for f in frames:
        if _reference(f, SNAPSHOT, TRADE_V2) is None:
            with pytest.raises(Exception):
                decode_framed_records([good[0], f], SNAPSHOT, TRADE_V2, on_error="raise")
