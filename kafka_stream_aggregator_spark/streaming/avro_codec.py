"""Minimal pure-python Avro binary codec (spec-conformant subset).

The container lacks both the spark-avro module and python avro
libraries, but the reference's wire format IS Avro
(producer.rs:42-56 encodes TradesDataAvro against a registered schema).
This codec implements the Avro binary encoding per the public Apache
Avro 1.11 specification for the types the trade schema needs — null,
boolean, int/long (zigzag varint), float, double, string, bytes, enum,
union, record, array, map — so the engine can speak the real wire
format end-to-end. Correctness is cross-checked in tests against the
JAVA Avro library bundled with Spark (decoding our bytes via py4j).

`decode` raises on bodies the binary encoding cannot hold instead of
passing them on: a varint longer than 10 bytes (bits above 64 are
dropped, as in Java Avro), an int outside 32 bits, a union or enum
index out of range (negative ones included), and a string or bytes
length that is negative or runs past the buffer.

It is the per-record reference. The consumer's hot path,
`registry.decode_framed_batch`, reads a whole Arrow batch column by
column and is tested against it; records whose writer schema holds
arrays, maps or nested records still decode here, one at a time.
Spark's own `from_avro` cannot stand in without the separate
spark-avro module (docs/COVERAGE.md).
"""

from __future__ import annotations

import struct
from typing import Any


def _zigzag_encode(n: int) -> bytes:
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag_decode(buf: bytes, pos: int) -> tuple[int, int]:
    """At most 10 bytes; bits above 64 are dropped, as in Java Avro."""
    shift = 0
    acc = 0
    while True:
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
        if shift > 63:
            raise ValueError("varint longer than 10 bytes")
    acc &= 0xFFFF_FFFF_FFFF_FFFF
    return (acc >> 1) ^ -(acc & 1), pos


def _index(buf: bytes, pos: int, n: int) -> tuple[int, int]:
    """A union branch or enum symbol index, checked against `n`."""
    idx, pos = _zigzag_decode(buf, pos)
    if not 0 <= idx < n:
        raise ValueError(f"index {idx} out of range 0..{n - 1}")
    return idx, pos


def _length(buf: bytes, pos: int) -> tuple[int, int]:
    """A string or bytes length, checked against the buffer."""
    n, pos = _zigzag_decode(buf, pos)
    if not 0 <= n <= len(buf) - pos:
        raise ValueError(f"length {n} out of range at byte {pos}")
    return n, pos


def _branch_matches(branch: Any, value: Any) -> bool:
    """Does `value` belong to this union branch's type? (Needed for
    multi-branch unions like ["null","string","long"]; the first
    non-null branch is NOT always the right one.)"""
    t = branch if isinstance(branch, str) else branch.get("type")
    if t == "null":
        return value is None
    if value is None:
        return False
    if t == "boolean":
        return isinstance(value, bool)
    if t in ("int", "long"):
        return isinstance(value, int) and not isinstance(value, bool)
    if t in ("float", "double"):
        return isinstance(value, (int, float)) and not isinstance(value, bool)
    if t == "string":
        return isinstance(value, str)
    if t == "bytes":
        return isinstance(value, (bytes, bytearray))
    if t == "enum":
        return isinstance(value, str) and value in branch["symbols"]
    if t == "record":
        return isinstance(value, dict)
    if t == "array":
        return isinstance(value, list)
    if t == "map":
        return isinstance(value, dict)
    return False


def encode(schema: Any, value: Any) -> bytes:
    """Encode `value` against `schema` (Avro schema as python dict/str)."""
    if isinstance(schema, str):
        t = schema
    elif isinstance(schema, list):  # union: first branch the value fits
        for i, branch in enumerate(schema):
            if _branch_matches(branch, value):
                body = b"" if branch == "null" else encode(branch, value)
                return _zigzag_encode(i) + body
        raise ValueError(f"no union branch for {value!r} in {schema}")
    else:
        t = schema["type"]

    if t == "null":
        return b""
    if t == "boolean":
        return b"\x01" if value else b"\x00"
    if t in ("int", "long"):
        return _zigzag_encode(int(value))
    if t == "float":
        return struct.pack("<f", float(value))
    if t == "double":
        return struct.pack("<d", float(value))
    if t == "string":
        raw = str(value).encode("utf-8")
        return _zigzag_encode(len(raw)) + raw
    if t == "bytes":
        return _zigzag_encode(len(value)) + bytes(value)
    if t == "enum":
        return _zigzag_encode(schema["symbols"].index(value))
    if t == "record":
        out = bytearray()
        for field in schema["fields"]:
            out += encode(field["type"], value[field["name"]])
        return bytes(out)
    if t == "array":
        if not value:
            return _zigzag_encode(0)
        return (
            _zigzag_encode(len(value))
            + b"".join(encode(schema["items"], v) for v in value)
            + _zigzag_encode(0)
        )
    if t == "map":
        if not value:
            return _zigzag_encode(0)
        body = b"".join(
            encode("string", k) + encode(schema["values"], v)
            for k, v in value.items()
        )
        return _zigzag_encode(len(value)) + body + _zigzag_encode(0)
    raise ValueError(f"unsupported avro type {t!r}")


def decode(schema: Any, buf: bytes, pos: int = 0) -> tuple[Any, int]:
    """Decode one value; returns (value, next_pos)."""
    if isinstance(schema, str):
        t = schema
    elif isinstance(schema, list):
        idx, pos = _index(buf, pos, len(schema))
        return decode(schema[idx], buf, pos)
    else:
        t = schema["type"]

    if t == "null":
        return None, pos
    if t == "boolean":
        return buf[pos] == 1, pos + 1
    if t == "int":
        v, pos = _zigzag_decode(buf, pos)
        if not -(2**31) <= v < 2**31:
            raise ValueError(f"int {v} out of 32-bit range")
        return v, pos
    if t == "long":
        return _zigzag_decode(buf, pos)
    if t == "float":
        return struct.unpack_from("<f", buf, pos)[0], pos + 4
    if t == "double":
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if t == "string":
        n, pos = _length(buf, pos)
        return buf[pos : pos + n].decode("utf-8"), pos + n
    if t == "bytes":
        n, pos = _length(buf, pos)
        return bytes(buf[pos : pos + n]), pos + n
    if t == "enum":
        idx, pos = _index(buf, pos, len(schema["symbols"]))
        return schema["symbols"][idx], pos
    if t == "record":
        rec = {}
        for field in schema["fields"]:
            rec[field["name"]], pos = decode(field["type"], buf, pos)
        return rec, pos
    if t == "array":
        out = []
        while True:
            n, pos = _zigzag_decode(buf, pos)
            if n == 0:
                return out, pos
            if n < 0:  # block with byte size prefix
                _, pos = _zigzag_decode(buf, pos)
                n = -n
            for _ in range(n):
                v, pos = decode(schema["items"], buf, pos)
                out.append(v)
    if t == "map":
        out = {}
        while True:
            n, pos = _zigzag_decode(buf, pos)
            if n == 0:
                return out, pos
            if n < 0:
                _, pos = _zigzag_decode(buf, pos)
                n = -n
            for _ in range(n):
                k, pos = decode("string", buf, pos)
                out[k], pos = decode(schema["values"], buf, pos)
    raise ValueError(f"unsupported avro type {t!r}")


# Avro schema mirroring the reference's TradesDataAvro
# (models.rs:31-44 field order; enums models.rs:7-23).
TRADES_AVRO_SCHEMA = {
    "type": "record",
    "name": "TradesDataAvro",
    "fields": [
        {"name": "amount", "type": "double"},
        {
            "name": "direction",
            "type": {
                "type": "enum",
                "name": "Direction",
                "symbols": ["buy", "sell", "zero"],
            },
        },
        {"name": "index_price", "type": "double"},
        {"name": "instrument_name", "type": "string"},
        {"name": "iv", "type": ["null", "double"]},
        {
            "name": "liquidation",
            "type": [
                "null",
                {
                    "type": "enum",
                    "name": "LiquidationType",
                    "symbols": ["M", "T", "MT"],
                },
            ],
        },
        {"name": "price", "type": "double"},
        {"name": "tick_direction", "type": "long"},
        {"name": "timestamp", "type": "long"},
        {"name": "trade_id", "type": "string"},
        {"name": "trade_seq", "type": "long"},
    ],
}
