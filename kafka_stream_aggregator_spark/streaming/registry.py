"""Mock Confluent Schema Registry + schema-id-dispatch Avro decoding.

The reference decodes every Kafka message by the schema id EMBEDDED in
its Confluent frame, resolving the writer schema from the registry at
decode time (consumer.rs:76-85 via EasyAvroDecoder; registration under
the topic-name subject strategy in producer.rs:43-47 and
registry_handler.rs:50-58), and the readme claims backward-compatible
evolution (readme.md:27-28). This module reproduces that contract
without a network registry:

* ``SchemaRegistry`` — in-memory registry: subjects, versioned schemas,
  global ids, dedup of re-registered identical schemas. A snapshot
  (plain ``{id: schema}`` dict) is what ships to executors — immutable,
  picklable, no live service dependency in the hot path.
* ``project_record`` — Avro schema RESOLUTION per the public spec
  (Apache Avro 1.11 "Schema Resolution"): writer fields the reader
  doesn't know are dropped; reader fields the writer didn't write take
  the reader default; numeric promotions int->long->float->double.
* ``decode_framed_batch`` — decode of one Arrow batch of Confluent-framed
  payloads, dispatching each frame on its own embedded schema id, so one
  topic may interleave records written under different schema versions
  (exactly what a rolling producer upgrade produces). Frames are grouped
  by schema id. A writer schema of flat fields (primitives, enums,
  unions of null and one such type) is read column by column over the
  whole group, one numpy cursor per frame, and writer->reader resolution
  is applied once per column. A writer schema with arrays, maps or
  nested records decodes frame by frame through ``avro_codec.decode`` +
  ``project_record``, which stay the reference the columnar path is
  tested against. Either way the drop rules are the reference's. Each
  reader field becomes one Arrow column (enums as strings, records as
  structs); a reader union of more than one non-null type has no such
  column and is refused.
* ``decode_framed_records`` — the same decode as a list of dicts, None
  for a dropped frame.

Spark integration is mapInArrow (``trade_pipeline.
decode_trades_avro_dispatch``); the registry snapshot rides the
serialized closure once per task, like any broadcast dim.
"""

from __future__ import annotations

import functools
import json
from dataclasses import dataclass
from typing import Any, Iterable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .avro_codec import decode

MAGIC = 0x00

_NUMERIC_PROMOTIONS = {
    "int": {"int", "long", "float", "double"},
    "long": {"long", "float", "double"},
    "float": {"float", "double"},
    "double": {"double"},
}


def _canonical(schema: Any) -> str:
    """Stable fingerprint for dedup on re-registration."""
    return json.dumps(schema, sort_keys=True, separators=(",", ":"))


class SchemaRegistry:
    """In-memory Confluent-style registry (topic-name subject strategy).

    ids are global and monotonically increasing; registering a schema
    already present under the subject returns the existing id
    (Confluent semantics)."""

    def __init__(self) -> None:
        self._by_id: dict[int, Any] = {}
        self._subjects: dict[str, list[int]] = {}
        self._fingerprints: dict[tuple[str, str], int] = {}
        self._next_id = 1

    @staticmethod
    def subject_for_topic(topic: str) -> str:
        """TopicNameStrategy: value schemas live under '<topic>-value'
        (producer.rs:43-47)."""
        return f"{topic}-value"

    def register(self, subject: str, schema: Any) -> int:
        key = (subject, _canonical(schema))
        if key in self._fingerprints:
            return self._fingerprints[key]
        sid = self._next_id
        self._next_id += 1
        self._by_id[sid] = schema
        self._subjects.setdefault(subject, []).append(sid)
        self._fingerprints[key] = sid
        return sid

    def by_id(self, schema_id: int) -> Any:
        return self._by_id[schema_id]

    def latest(self, subject: str) -> tuple[int, Any]:
        sid = self._subjects[subject][-1]
        return sid, self._by_id[sid]

    def versions(self, subject: str) -> list[int]:
        return list(self._subjects.get(subject, []))

    def snapshot(self) -> dict[int, Any]:
        """Immutable {id: schema} map to ship to executors."""
        return dict(self._by_id)


def _type_name(schema: Any) -> str:
    if isinstance(schema, str):
        return schema
    if isinstance(schema, list):
        return "union"
    return schema["type"]


def _promote(value: Any, writer_t: str, reader_t: str) -> Any:
    if value is None or writer_t == reader_t:
        return value
    if reader_t in _NUMERIC_PROMOTIONS.get(writer_t, ()):  # int->long->float->double
        return float(value) if reader_t in ("float", "double") else int(value)
    if writer_t == "string" and reader_t == "bytes":
        return value.encode("utf-8")
    if writer_t == "bytes" and reader_t == "string":
        return value.decode("utf-8")
    # anything else (long->int, double->float, string->int, ...) is
    # outside the Avro 1.11 resolution table — surface it rather than
    # silently passing the value through unchanged.
    raise ValueError(
        f"writer type {writer_t!r} is not promotable to reader type "
        f"{reader_t!r} under Avro schema resolution"
    )


def _nullable(schema: Any) -> bool:
    return schema == "null" or (isinstance(schema, list) and "null" in schema)


def _non_null_branch(schema: Any) -> Any:
    if isinstance(schema, list):
        for b in schema:
            if b != "null":
                return b
        return "null"
    return schema


def project_record(
    record: dict[str, Any], writer_schema: Any, reader_schema: Any
) -> dict[str, Any]:
    """Schema resolution for records (Avro 1.11 spec): match fields by
    name; writer-only fields are skipped; reader-only fields MUST have a
    default; scalars follow the numeric/string-bytes promotion table."""
    writer_fields = {f["name"]: f for f in writer_schema["fields"]}
    out: dict[str, Any] = {}
    for rf in reader_schema["fields"]:
        name = rf["name"]
        if name in writer_fields:
            wt = _type_name(_non_null_branch(writer_fields[name]["type"]))
            rt = _type_name(_non_null_branch(rf["type"]))
            val = record[name]
            if val is None and not _nullable(rf["type"]):
                raise ValueError(
                    f"writer null for field {name!r} but reader type "
                    f"{rf['type']!r} does not admit null"
                )
            out[name] = _promote(val, wt, rt)
        elif "default" in rf:
            out[name] = rf["default"]
        else:
            raise ValueError(
                f"reader field {name!r} absent from writer schema and has "
                f"no default — schemas are not backward compatible"
            )
    return out


def parse_frame(raw: bytes) -> tuple[int, bytes]:
    """Split a Confluent frame [0x00][schema_id int32 BE][body]."""
    if len(raw) < 5 or raw[0] != MAGIC:
        raise ValueError("not a Confluent-framed payload")
    return int.from_bytes(raw[1:5], "big"), raw[5:]


def _decode_one(raw: Any, registry_snapshot: dict[int, Any], reader_schema: Any) -> dict[str, Any]:
    """The per-record reference: one frame, decoded by its writer schema
    and projected onto the reader schema; raises on any fault."""
    sid, body = parse_frame(bytes(raw))
    writer = registry_snapshot[sid]
    rec, _ = decode(writer, body)
    return project_record(rec, writer, reader_schema)


_ARROW_TYPES = {
    "null": pa.null(),
    "boolean": pa.bool_(),
    "int": pa.int32(),
    "long": pa.int64(),
    "float": pa.float32(),
    "double": pa.float64(),
    "bytes": pa.binary(),
    "string": pa.string(),
    "enum": pa.string(),
}
# Writer field types the columnar decoder reads (alone or as the one
# non-null branch of a union).
_FLAT_TYPES = set(_ARROW_TYPES)


def _arrow_type(schema: Any) -> pa.DataType:
    """The Arrow type a reader-schema type decodes into."""
    if isinstance(schema, list):
        branches = [b for b in schema if b != "null"]
        if len(branches) > 1:
            raise ValueError(f"reader union {schema} has more than one non-null branch")
        return _arrow_type(branches[0] if branches else "null")
    t = _type_name(schema)
    if t == "record":
        return pa.struct([(f["name"], _arrow_type(f["type"])) for f in schema["fields"]])
    if t == "array":
        return pa.list_(_arrow_type(schema["items"]))
    if t == "map":
        return pa.map_(pa.string(), _arrow_type(schema["values"]))
    if t not in _ARROW_TYPES:
        raise ValueError(f"unsupported reader type {schema!r}")
    return _ARROW_TYPES[t]


@dataclass(frozen=True)
class _WriterField:
    name: str
    kind: str  # type name of the value
    null_branch: int | None  # union index of null; None when not a union
    symbols: tuple[str, ...] = ()


@dataclass(frozen=True)
class _ReaderColumn:
    type: pa.DataType
    nullable: bool
    source: str | None  # writer field name; None: the reader default fills it
    convert: str  # "same", "promote", "forbidden" or "default"
    default: Any = None


def _flat_fields(writer: Any) -> list[_WriterField] | None:
    """The writer's fields for the columnar decoder, or None when the
    writer is not a record of flat fields."""
    if not isinstance(writer, dict) or writer.get("type") != "record":
        return None
    out = []
    for f in writer["fields"]:
        t, null_branch = f["type"], None
        if isinstance(t, list):
            if len(t) != 2 or "null" not in t:
                return None
            null_branch = t.index("null")
            t = t[1 - null_branch]
        kind = _type_name(t)
        if kind not in _FLAT_TYPES:
            return None
        out.append(_WriterField(f["name"], kind, null_branch,
                                tuple(t["symbols"]) if kind == "enum" else ()))
    return out


class _Plan:
    """How frames of one writer schema decode into one reader schema:
    the writer fields to read in order (None: decode per record) and,
    per reader field, its source and the resolution to apply."""

    def __init__(self, writer: Any, reader: Any, schema: pa.Schema) -> None:
        self.schema = schema
        self.fields = _flat_fields(writer)
        self.columns: list[_ReaderColumn] = []
        # a reader field the writer lacks and no default fills: every
        # frame of this writer fails resolution
        self.incompatible = False
        if self.fields is None:
            return
        by_name = {f.name: f for f in self.fields}
        for rf, af in zip(reader["fields"], self.schema):
            w = by_name.get(rf["name"])
            nullable = _nullable(rf["type"])
            if w is None:
                self.incompatible |= "default" not in rf
                self.columns.append(
                    _ReaderColumn(af.type, nullable, None, "default", rf.get("default")))
                continue
            rt = _type_name(_non_null_branch(rf["type"]))
            if w.kind == rt:
                convert = "same"
            elif rt in _NUMERIC_PROMOTIONS.get(w.kind, ()) or {w.kind, rt} == {"string", "bytes"}:
                convert = "promote"
            else:
                convert = "forbidden"
            self.columns.append(_ReaderColumn(af.type, nullable, w.name, convert))


@functools.lru_cache(maxsize=16)
def _reader_arrow_schema(reader_key: str) -> pa.Schema:
    return pa.schema(
        [pa.field(f["name"], _arrow_type(f["type"])) for f in json.loads(reader_key)["fields"]])


@functools.lru_cache(maxsize=64)
def _plan(writer_key: str, reader_key: str) -> _Plan:
    """Plans are cached by the canonical form of the (writer, reader) pair."""
    return _Plan(json.loads(writer_key), json.loads(reader_key), _reader_arrow_schema(reader_key))


def _varint(data: np.ndarray, p: np.ndarray, e: np.ndarray):
    """Zigzag varints starting at positions `p`, each bounded by `e`:
    (values, next positions, good). A varint is bad when it runs past
    its bound or past 10 bytes; bits above 64 are dropped, as in Java."""
    n = len(p)
    acc = np.zeros(n, np.uint64)
    nxt = p.copy()
    good = np.ones(n, bool)
    live = np.arange(n)
    for k in range(10):
        if not live.size:
            break
        q = p[live] + k
        inb = q < e[live]
        good[live[~inb]] = False
        live, q = live[inb], q[inb]
        b = data[q].astype(np.uint64)
        acc[live] |= (b & np.uint64(0x7F)) << np.uint64(7 * k)
        last = (b & np.uint64(0x80)) == 0
        nxt[live[last]] = q[last] + 1
        live = live[~last]
    good[live] = False
    vals = (acc >> np.uint64(1)).astype(np.int64) ^ -(acc & np.uint64(1)).astype(np.int64)
    return vals, nxt, good


def _fixed(data, p, e, width: int, dtype):
    good = e - p >= width
    vals = np.zeros(len(p), dtype)
    q = p[good]
    if q.size:
        vals[good] = data[q[:, None] + np.arange(width)].view(dtype).ravel()
    return vals, p + width, good


def _gather(data: np.ndarray, starts: np.ndarray, lens: np.ndarray, valid: np.ndarray) -> pa.Array:
    """Binary array of data[starts[i] : starts[i] + lens[i]], null where not `valid`."""
    lens = np.where(valid, lens, 0)
    offsets = np.zeros(len(lens) + 1, np.int64)
    np.cumsum(lens, out=offsets[1:])
    idx = np.repeat(starts - offsets[:-1], lens) + np.arange(offsets[-1])
    if offsets[-1] < 2**31:
        typ, offsets = pa.binary(), offsets.astype(np.int32)
    else:
        typ = pa.large_binary()
    bitmap = np.packbits(valid, bitorder="little")
    return pa.Array.from_buffers(
        typ, len(lens), [pa.py_buffer(bitmap), pa.py_buffer(offsets), pa.py_buffer(data[idx])])


def _is_utf8(b: bytes) -> bool:
    try:
        b.decode("utf-8")
    except UnicodeDecodeError:
        return False
    return True


def _as_string(arr: pa.Array) -> tuple[pa.Array, np.ndarray | None]:
    """Cast binary to string. Values that are not UTF-8 come back null
    and flagged in the returned mask (None when all are)."""
    try:
        return arr.cast(pa.string()), None
    except pa.ArrowInvalid:
        bad = np.array([v is not None and not _is_utf8(v) for v in arr.to_pylist()])
        return pc.if_else(pa.array(bad), pa.scalar(None, arr.type), arr).cast(pa.string()), bad


def _read_field(f: _WriterField, data, p, e, g: int, rows: np.ndarray):
    """Read field `f` at positions `p` (bounds `e`) of group rows `rows`:
    (column over all `g` group rows, null outside `rows`; next positions;
    good, per row of `rows`)."""
    valid = np.zeros(g, bool)
    if f.kind == "null":
        return pa.nulls(g), p, np.ones(len(p), bool)
    if f.kind in ("string", "bytes"):
        n, nxt, good = _varint(data, p, e)
        good &= (n >= 0) & (n <= e - nxt)
        valid[rows[good]] = True
        starts, lens = np.zeros(g, np.int64), np.zeros(g, np.int64)
        starts[rows], lens[rows] = nxt, n
        col = _gather(data, starts, lens, valid)
        if f.kind == "string":
            col, bad = _as_string(col)
            if bad is not None:
                good &= ~bad[rows]
        return col, nxt + np.where(good, n, 0), good
    if f.kind == "double":
        vals, nxt, good = _fixed(data, p, e, 8, "<f8")
    elif f.kind == "float":
        vals, nxt, good = _fixed(data, p, e, 4, "<f4")
    elif f.kind == "boolean":
        good = p < e
        vals = np.zeros(len(p), bool)
        vals[good] = data[p[good]] == 1
        nxt = p + 1
    else:  # int, long, enum
        vals, nxt, good = _varint(data, p, e)
        if f.kind == "int":
            good &= (vals >= -(2**31)) & (vals < 2**31)
        elif f.kind == "enum":
            good &= (vals >= 0) & (vals < len(f.symbols))
    valid[rows[good]] = True
    full = np.zeros(g, vals.dtype)
    full[rows[good]] = vals[good]
    if f.kind == "enum":
        col = pa.array(f.symbols, pa.string()).take(pa.array(full, mask=~valid))
    else:
        col = pa.array(full, mask=~valid).cast(_ARROW_TYPES[f.kind])
    return col, nxt, good


def _decode_columnar(plan: _Plan, data: np.ndarray, starts: np.ndarray, ends: np.ndarray):
    """One schema id's frames, field by field: (columns, ok per frame)."""
    g = len(starts)
    ok = np.full(g, not plan.incompatible)
    pos = starts + 5
    read: dict[str, pa.Array] = {}
    for f in plan.fields:
        rows = np.flatnonzero(ok)
        if f.null_branch is not None:
            branch, nxt, good = _varint(data, pos[rows], ends[rows])
            good &= (branch == 0) | (branch == 1)
            pos[rows] = nxt
            ok[rows[~good]] = False
            rows = rows[good & (branch != f.null_branch)]
        col, nxt, good = _read_field(f, data, pos[rows], ends[rows], g, rows)
        pos[rows] = nxt
        ok[rows[~good]] = False
        read[f.name] = col
    columns = []
    for c in plan.columns:
        if c.convert == "default":
            columns.append(pa.repeat(pa.scalar(c.default, c.type), g))
            continue
        col = read[c.source]
        valid = col.is_valid().to_numpy(zero_copy_only=False)
        if not c.nullable:
            ok &= valid
        if c.convert == "forbidden":
            ok &= ~valid
            col = pa.nulls(g, c.type)
        elif c.convert == "promote" and c.type == pa.string():
            col, bad = _as_string(col)
            if bad is not None:
                ok &= ~bad
        elif c.convert == "promote":
            # Python's float(int) first, as the per-record path does
            if pa.types.is_floating(c.type):
                col = col.cast(pa.float64(), safe=False)
            col = col.cast(c.type, safe=False)
        columns.append(col)
    return columns, ok


def _decode_per_record(plan: _Plan, data, starts, ends, registry_snapshot, reader_schema):
    recs: list[dict[str, Any] | None] = []
    for s, e in zip(starts.tolist(), ends.tolist()):
        try:
            recs.append(_decode_one(data[s:e].tobytes(), registry_snapshot, reader_schema))
        except Exception:  # a malformed frame is dropped, as in the reference
            recs.append(None)
    ok = np.array([r is not None for r in recs], bool)
    columns = [
        pa.array([None if r is None else r[f.name] for r in recs], f.type)
        for f in plan.schema
    ]
    return columns, ok


def decode_framed_batch(
    values: pa.Array,
    registry_snapshot: dict[int, Any],
    reader_schema: Any,
    on_error: str = "drop",
) -> tuple[pa.RecordBatch, np.ndarray]:
    """Decode a binary Arrow array of Confluent frames, each by ITS OWN
    embedded schema id, into a RecordBatch of the reader schema's fields.

    Returns the decoded rows in input order and their input positions.
    on_error='drop' mirrors the reference's malformed-record handling
    (decode errors drop the record but still advance offsets,
    consumer.rs:106-108): a null value, a bad frame header, an unknown
    id, a malformed body or a failed resolution leaves the frame out.
    'raise' raises the per-record reference's error for the first such
    frame instead."""
    if isinstance(values, pa.ChunkedArray):
        values = values.combine_chunks()
    n = len(values)
    reader_key = _canonical(reader_schema)
    _, offsets_buf, data_buf = values.buffers()
    offset_type = np.int64 if pa.types.is_large_binary(values.type) else np.int32
    offsets = np.frombuffer(offsets_buf, offset_type)[values.offset : values.offset + n + 1]
    offsets = offsets.astype(np.int64)
    data = np.frombuffer(data_buf, np.uint8) if data_buf is not None else np.zeros(0, np.uint8)
    starts, ends = offsets[:-1], offsets[1:]

    framed = (ends - starts >= 5) & values.is_valid().to_numpy(zero_copy_only=False)
    framed[framed] = data[starts[framed]] == MAGIC
    sids = np.zeros(n, np.uint32)
    for k in range(1, 5):
        sids[framed] = (sids[framed] << np.uint32(8)) | data[starts[framed] + k]

    parts = []
    for sid in np.unique(sids[framed]).tolist():
        writer = registry_snapshot.get(sid)
        if writer is None:
            continue
        rows = np.flatnonzero(framed & (sids == sid))
        plan = _plan(_canonical(writer), reader_key)
        if plan.fields is None:
            columns, ok = _decode_per_record(plan, data, starts[rows], ends[rows],
                                             registry_snapshot, reader_schema)
        else:
            columns, ok = _decode_columnar(plan, data, starts[rows], ends[rows])
        keep = pa.array(ok)
        parts.append((rows[ok], [c.filter(keep) for c in columns]))

    schema = _reader_arrow_schema(reader_key)
    kept = np.concatenate([p[0] for p in parts]) if parts else np.zeros(0, np.int64)
    if on_error == "raise" and len(kept) < n:
        first = int(np.setdiff1d(np.arange(n), kept)[0])
        _decode_one(values[first].as_py(), registry_snapshot, reader_schema)
        raise ValueError(f"frame {first} failed to decode")
    order = np.argsort(kept, kind="stable")
    columns = [
        pa.concat_arrays([p[1][i] for p in parts]).take(pa.array(order)) if parts
        else pa.array([], f.type)
        for i, f in enumerate(schema)
    ]
    return pa.RecordBatch.from_arrays(columns, schema=schema), kept[order]


def decode_framed_records(
    raws: Iterable[bytes],
    registry_snapshot: dict[int, Any],
    reader_schema: Any,
    on_error: str = "drop",
) -> list[dict[str, Any] | None]:
    """`decode_framed_batch` as one dict per frame, None for a dropped
    frame (callers count them). Arrow hands a map field back as a list
    of (key, value) pairs."""
    # anything that is not bytes-like goes in as null, so it is dropped
    values = pa.array(
        [bytes(r) if isinstance(r, (bytes, bytearray, memoryview)) else None for r in raws],
        pa.binary())
    batch, kept = decode_framed_batch(values, registry_snapshot, reader_schema, on_error)
    out: list[dict[str, Any] | None] = [None] * len(values)
    for i, rec in zip(kept.tolist(), batch.to_pylist()):
        out[i] = rec
    return out
