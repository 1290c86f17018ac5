"""Seeded trade backlog for the replay workloads.

Trades come from a numpy RNG keyed by the seed (never from
`synthetic_trades`, which takes no seed). Avro frames are encoded by the
program's codec under two registered writer-schema versions, plus a
small share under an id the registry never issued; JSON frames carry the
same trades. Frames are written in
event-time order, a fixed number per parquet file, with strictly
increasing mtimes, so the file stream takes them in one fixed order and
the watermark and the output are the same on every replay.

A backlog is cached on disk under a key made of the seed and every
parameter, so neither set-up nor a timed replay pays for generating it.
"""

from __future__ import annotations

import copy
import hashlib
import json
import os
import shutil
import subprocess
import sys
from dataclasses import asdict, dataclass

import numpy as np

T0_MS = 1_767_225_600_000  # 2026-01-01T00:00:00Z
MIN_MS = 60_000

# Ids as the registry issues them (SchemaRegistry starts at 1).
V1_ID, V2_ID = 1, 2
# An id the registry never issued: such frames must be dropped by decode.
UNKNOWN_ID = 7

# Trade mix: the same in every backlog (FIXTURES.md's ~50 instruments).
N_INSTRUMENTS = 50
ZIPF_S = 1.1
JITTER_FRAC = 0.3  # share of trades stamped up to JITTER_MS early
JITTER_MS = 2 * MIN_MS  # well inside the 10-minute watermark
ZERO_PRICE_FRAC = 0.001
IV_NULL_FRAC = 0.2
LIQUIDATION_FRAC = 0.05
LATE_MIN_MS = 65 * MIN_MS  # "more than an hour late"
LATE_MAX_MS = 120 * MIN_MS
# Part of every cache key, so a backlog made by other generator code is
# never replayed.
with open(__file__, "rb") as _f:
    GEN_HASH = hashlib.sha1(_f.read()).hexdigest()[:12]
CACHE_KEEP = 4  # backlogs kept on disk, least recently used go first


@dataclass(frozen=True)
class TradeParams:
    n_trades: int
    trades_per_file: int = 2000
    mean_interval_ms: float = 50.0  # 20 trades/s of event time
    unknown_id_frac: float = 0.005
    late_frac: float = 0.004
    # No late trade among the first `late_after` trades. Spark drops a row
    # as late against the watermark of the batch before its own, so a
    # late trade needs two whole batches of later event time ahead of it:
    # set this to at least twice the largest micro-batch.
    late_after: int = 20_000
    # UNKNOWN_ID here frames every Avro trade under that id instead of its
    # own: a producer misconfigured against the registry.
    frame_id: int | None = None

    def key(self, seed: int, kind: str) -> str:
        blob = json.dumps({"seed": seed, "kind": kind, "generator": GEN_HASH,
                           **asdict(self)}, sort_keys=True)
        return f"{kind}-s{seed}-n{self.n_trades}-" + hashlib.sha1(blob.encode()).hexdigest()[:10]


def instrument_names(n: int) -> list[str]:
    expiries = ["27JUN26", "26SEP26", "25DEC26", "26MAR27", "25JUN27"]
    names = []
    for i in range(n):
        strike = 40_000 + 5_000 * (i // 10)
        names.append(f"BTC-{expiries[i % 5]}-{strike}-{'CP'[(i // 5) % 2]}")
    return names


def v1_schema() -> dict:
    """Writer schema v1: `tick_direction` as int. v2 (the reader, the
    program's TRADES_AVRO_SCHEMA) widened it to long. Int and long share
    one zigzag encoding, so `frame_trades_avro` writes valid v1 bodies;
    decode resolves them through the int->long promotion."""
    from kafka_stream_aggregator_spark.streaming.avro_codec import TRADES_AVRO_SCHEMA

    s = copy.deepcopy(TRADES_AVRO_SCHEMA)
    for f in s["fields"]:
        if f["name"] == "tick_direction":
            f["type"] = "int"
    return s


def make_registry():
    """Registry with both schema versions, as after a producer upgrade."""
    from kafka_stream_aggregator_spark.streaming.avro_codec import TRADES_AVRO_SCHEMA
    from kafka_stream_aggregator_spark.streaming.registry import SchemaRegistry

    reg = SchemaRegistry()
    subject = SchemaRegistry.subject_for_topic("trades-option-btc")
    ids = (reg.register(subject, v1_schema()), reg.register(subject, TRADES_AVRO_SCHEMA))
    if ids != (V1_ID, V2_ID):
        raise RuntimeError(f"registry issued ids {ids}, expected {(V1_ID, V2_ID)}")
    return reg


def make_trades(seed: int, p: TradeParams):
    """The generator's own trade rows (pandas), in file order, with two
    bookkeeping columns: `schema_id` the frame will carry and `late`."""
    import pandas as pd

    rng = np.random.default_rng(seed)
    n = p.n_trades
    names = np.array(instrument_names(N_INSTRUMENTS), dtype=object)
    w = 1.0 / np.arange(1, N_INSTRUMENTS + 1) ** ZIPF_S
    inst = rng.choice(N_INSTRUMENTS, size=n, p=w / w.sum())

    base = T0_MS + np.cumsum(rng.exponential(p.mean_interval_ms, n)).astype(np.int64)
    jitter = np.where(rng.random(n) < JITTER_FRAC, rng.integers(0, JITTER_MS, n), 0)
    ts = base - jitter
    late = (rng.random(n) < p.late_frac) & (np.arange(n) >= p.late_after)
    ts = np.where(late, base - rng.integers(LATE_MIN_MS, LATE_MAX_MS, n), ts)
    # Partial aggregation merges rows of one (instrument, window) before
    # the state operator counts drops, so keep one late trade per group:
    # the drop counter then counts late trades.
    late_idx = np.flatnonzero(late)
    groups = inst[late_idx].astype(np.int64) * 10**9 + ts[late_idx] // (5 * MIN_MS)
    _, first = np.unique(groups, return_index=True)
    dup = np.setdiff1d(late_idx, late_idx[first])
    late[dup] = False
    ts[dup] = base[dup]

    # per-instrument price level, lognormal moves around it
    level = 500.0 * np.exp(rng.normal(0.0, 1.0, N_INSTRUMENTS))
    price = np.round(level[inst] * np.exp(rng.normal(0.0, 0.02, n)), 4)
    price = np.where(rng.random(n) < ZERO_PRICE_FRAC, 0.0, price)
    index_price = np.round(60_000.0 * np.exp(rng.normal(0.0, 0.01, n)), 2)
    amount = np.round(rng.uniform(0.1, 25.0, n), 1)
    iv = np.round(rng.uniform(20.0, 120.0, n), 2)
    liq = np.array(["M", "T", "MT"], dtype=object)[rng.integers(0, 3, n)]

    u = rng.random(n)
    schema_id = np.where(u < p.unknown_id_frac, UNKNOWN_ID,
                         np.where(rng.random(n) < 0.5, V1_ID, V2_ID))
    seq = np.arange(n, dtype=np.int64)
    df = pd.DataFrame({
        "amount": amount,
        "direction": np.array(["buy", "sell", "zero"], dtype=object)[rng.integers(0, 3, n)],
        "index_price": index_price,
        "instrument_name": names[inst],
        "iv": pd.array(np.where(rng.random(n) < IV_NULL_FRAC, np.nan, iv), dtype="Float64"),
        "liquidation": np.where(rng.random(n) < LIQUIDATION_FRAC, liq, None),
        "price": price,
        "tick_direction": rng.integers(0, 4, n).astype(np.int64),
        "timestamp": ts.astype(np.int64),
        "trade_id": np.char.add("t-", seq.astype(str)).astype(object),
        "trade_seq": seq,
    })
    df["iv"] = df["iv"].astype(object).where(df["iv"].notna(), None)
    df["schema_id"] = schema_id
    df["late"] = late
    return df


def trade_records(trades) -> list[dict]:
    """The generator's rows as the program's producers see them: one dict
    per trade, keyed by TRADE_SCHEMA field."""
    from kafka_stream_aggregator_spark.schemas import TRADE_SCHEMA

    cols = [f.name for f in TRADE_SCHEMA.fields]
    return [dict(zip(cols, row)) for row in trades[cols].itertuples(index=False, name=None)]


def frame_avro(records, schema_ids, writers) -> list[bytes]:
    """Confluent frames, as `frame_trades_avro` writes them: each record
    Avro-encoded by the program's codec under its id's writer schema."""
    from kafka_stream_aggregator_spark.streaming.avro_codec import encode

    return [b"\x00" + int(sid).to_bytes(4, "big") + encode(writers[sid], rec)
            for rec, sid in zip(records, schema_ids)]


def frame_json(records, schema_id: int) -> list[bytes]:
    """Confluent-framed JSON bodies, the frame `frame_trades` writes."""
    prefix = b"\x00" + schema_id.to_bytes(4, "big")
    return [prefix + json.dumps(rec, separators=(",", ":")).encode() for rec in records]


def build_frames(trades, fmt: str, frame_id: int | None = None):
    """(key, value) frames in trade order. Avro: each trade under its own
    schema id (the unknown id carries a v2 body). JSON: only trades with
    a registered id (decode_trades reads no id).

    Frames are made in-process with the program's codec rather than by
    running `frame_trades_avro` / `frame_trades` as Spark jobs, which
    would cost several seconds of every run; test_smoke checks that the
    bytes are the ones `frame_trades_avro` writes."""
    import pandas as pd

    from kafka_stream_aggregator_spark.streaming.avro_codec import TRADES_AVRO_SCHEMA

    if fmt == "json":
        trades = trades[trades.schema_id != UNKNOWN_ID]
    records = trade_records(trades)
    if fmt == "json":
        values = frame_json(records, V2_ID)
    else:
        writers = {V1_ID: v1_schema(), V2_ID: TRADES_AVRO_SCHEMA, UNKNOWN_ID: TRADES_AVRO_SCHEMA}
        ids = [frame_id] * len(records) if frame_id else trades.schema_id.tolist()
        values = frame_avro(records, ids, writers)
    return pd.DataFrame({"key": trades.timestamp.astype(str).tolist(), "value": values})


def write_backlog(frames, out_dir: str, trades_per_file: int) -> int:
    """Parquet files of `trades_per_file` frames, mtimes strictly rising
    in file order. Returns the file count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir)
    mtime_ns = 1_767_225_600 * 10**9  # fixed: the same bytes on every build
    n_files = 0
    for i in range(0, len(frames), trades_per_file):
        chunk = frames.iloc[i : i + trades_per_file]
        path = os.path.join(out_dir, f"part-{n_files:05d}.parquet")
        pq.write_table(
            pa.table({"key": pa.array(chunk["key"], pa.string()),
                      "value": pa.array(chunk["value"], pa.binary())}),
            path,
        )
        t = mtime_ns + n_files * 10**9
        os.utime(path, ns=(t, t))
        n_files += 1
    return n_files


def _generate(args: str) -> None:
    path, seed, params, fmt = json.loads(args)
    p = TradeParams(**params)
    frames = build_frames(make_trades(seed, p), fmt, p.frame_id)
    write_backlog(frames, os.path.join(path, "frames"), p.trades_per_file)
    open(os.path.join(path, "_DONE"), "w").close()


def backlog(cache_dir: str, seed: int, p: TradeParams, fmt: str) -> str:
    """Directory of the cached backlog, generating it on a miss. At most
    CACHE_KEEP backlogs stay in the cache (least recently used go first)."""
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, p.key(seed, fmt))
    done = os.path.join(path, "_DONE")
    if os.path.exists(done):
        os.utime(done)
        return os.path.join(path, "frames")
    shutil.rmtree(path, ignore_errors=True)
    # In a child process, so that generating leaves nothing in the memory
    # peak of the process that replays the backlog.
    subprocess.run(
        [sys.executable, "-c", "import sys; from perfbench.gen import _generate; _generate(sys.argv[1])",
         json.dumps([path, seed, asdict(p), fmt])],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))), check=True)

    entries = [os.path.join(cache_dir, e) for e in os.listdir(cache_dir)]
    stamped = sorted(
        (os.path.getmtime(os.path.join(e, "_DONE")) if os.path.exists(os.path.join(e, "_DONE")) else 0.0, e)
        for e in entries if e != path
    )
    for _, old in stamped[: max(0, len(stamped) - (CACHE_KEEP - 1))]:
        shutil.rmtree(old, ignore_errors=True)
    return os.path.join(path, "frames")
