"""Streaming queries in the registry — executed for real through
Structured Streaming (file source -> availableNow -> memory sink), then
returned as a batch DataFrame so the driver can compare them.

A stream twin runs its batch query's definition: the batch query is
``finisher(state(table))`` and the stream query is
``finisher(drain(state(stream)))``, where ``state`` is the streamable
aggregate and ``drain`` (``_run_to_df``) runs it to a memory table.
The shared scaffolding lives here: one copy of ``events`` per session
and tier for the file stream (``_events_stream``), the memory-sink
runner, the finalized-horizon cut (``_finalized``) and the two
one-file micro-batch stream (``_two_batch_update``).

stream_ewma_5min carries a full DuckDB oracle: the batch closed form
restricted to windows the stream actually finalizes (append mode emits a
window only once the watermark — max event time minus 10 min — passes
its end; the unfinalized tail is excluded on both sides). Every query
that cuts at a horizon uses the lag of its oracle's ``h`` CTE.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
import uuid

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..indicators import ewma_alpha
from ..schemas import EVENTS_SCHEMA
from ..streaming.pipeline import (
    session_window_stats,
    sliding_window_stats,
    streaming_dedup,
    streaming_windowed_ewma,
)
from ..sketches import U64_SQL_TEMPLATE as _U64
from ..streaming.sinks import start_to_memory
from ..streaming.sources import file_stream
from ..tables import table_path
from .base import query, t

_A5 = ewma_alpha(5)


def _events_stream(spark, sf_dir):
    """File-stream over events. The streaming reader needs a declared
    schema and cannot read the original TIMESTAMP(NANOS) files, so
    ``events`` is rewritten with microsecond timestamps — once per
    session and tier, memoized on the session like ``tables.load_table``,
    and removed when the process exits."""
    copies = getattr(spark, "_ksa_events_copies", None)
    if copies is None:
        copies = spark._ksa_events_copies = {}
    if sf_dir not in copies:
        d = tempfile.mkdtemp(prefix="stream_events_")
        atexit.register(shutil.rmtree, d, True)
        t(spark, sf_dir, "events").write.mode("overwrite").parquet(d)
        copies[sf_dir] = d
    return file_stream(spark, copies[sf_dir], EVENTS_SCHEMA)


def _run_to_df(spark, sdf, mode="append"):
    name = "q_" + uuid.uuid4().hex[:12]
    start_to_memory(sdf, name, mode).awaitTermination()
    return spark.table(name)


def _finalized(spark, sf_dir, out, lag, end, last_ts=None):
    """Rows of the drained ``out`` whose ``end`` (epoch seconds) is at
    or before the finalized horizon: the last event time (``max(ts)``
    of events unless ``last_ts`` is given), floored to a second, minus
    ``lag`` — the ``h`` CTE of the query's oracle."""
    last = (
        F.unix_timestamp(F.max("ts"))
        if last_ts is None
        else F.unix_timestamp(last_ts)
    )
    horizon = t(spark, sf_dir, "events").agg((F.floor(last) - lag).alias("__h"))
    return (
        out.crossJoin(F.broadcast(horizon))
        .filter(end <= F.col("__h"))
        .drop("__h")
    )


def _two_batch_update(spark, df, key, build, partitions="4"):
    """Drain ``build(stream)`` in update mode, where the stream delivers
    ``df`` as two one-file micro-batches (even ``key`` rows, then odd)
    and the query runs with ``partitions`` shuffle partitions. The
    partition count binds at (fresh) checkpoint creation, so it is set
    for this run only."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    with tempfile.TemporaryDirectory(prefix="stream_two_batch_") as d:
        for parity, mode in ((0, "overwrite"), (1, "append")):
            df.filter(F.col(key) % 2 == parity).coalesce(1).write.mode(
                mode
            ).parquet(d)
        stream = file_stream(spark, d, df.schema, max_files_per_trigger=1)
        spark.conf.set("spark.sql.shuffle.partitions", partitions)
        try:
            return _run_to_df(spark, build(stream), mode="update")
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


@query(
    "stream_ewma_5min",
    oracle=f"""
    WITH h AS (
      SELECT CAST(floor(epoch(max(ts))) AS BIGINT) - 600 AS horizon FROM events
    ), r AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS window_start,
             value,
             row_number() OVER (
               PARTITION BY event_type,
                            CAST(floor(epoch(ts) / 300) * 300 AS BIGINT)
               ORDER BY ts, event_id) AS rn,
             count(*) OVER (
               PARTITION BY event_type,
                            CAST(floor(epoch(ts) / 300) * 300 AS BIGINT)) AS n
      FROM events
    ), g AS (
      SELECT event_type, window_start,
             window_start + 300 AS window_end,
             count(*) AS n_rows,
             round(sum({_A5} * pow(1.0 - {_A5}, n - rn) * value), 6) AS ewma,
             sum({_A5} * pow(1.0 - {_A5}, n - rn) * value) AS raw
      FROM r GROUP BY event_type, window_start
    )
    SELECT event_type, window_start, window_end, n_rows, ewma
    FROM g, h WHERE raw > 0 AND window_end <= horizon
    """,
)
def stream_ewma_5min(spark, sf_dir):
    """The reference pipeline run as an actual stream (R5->R6->R7->R8->R9)."""
    sdf = streaming_windowed_ewma(
        _events_stream(spark, sf_dir),
        group_cols=("event_type",),
        period_minutes=5,
        watermark="10 minutes",
    )
    return _run_to_df(spark, sdf).select(
        "event_type",
        "window_start",
        "window_end",
        "n_rows",
        F.round("ewma", 6).alias("ewma"),
    )


@query(
    "stream_dedup_count",
    oracle="""
    SELECT event_type, count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def stream_dedup_count(spark, sf_dir):
    """Streaming dropDuplicates over a deliberately doubled stream must
    reproduce exact per-type counts."""
    s = _events_stream(spark, sf_dir)
    deduped = streaming_dedup(s.union(s), keys=["event_id"])
    out = _run_to_df(spark, deduped)
    return out.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


@query(
    "stream_dedup_within_wm_count",
    oracle="""
    SELECT event_type, count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def stream_dedup_within_wm_count(spark, sf_dir):
    """dropDuplicatesWithinWatermark over a stream doubled with
    TIMESTAMP-PERTURBED re-deliveries (producer-retry shape, the
    reference's at-least-once failure mode S6): dedup on the business
    key alone still reproduces exact per-type counts, with state
    bounded by the watermark."""
    from ..streaming.pipeline import streaming_dedup_within_watermark

    s = _events_stream(spark, sf_dir)
    retried = _events_stream(spark, sf_dir).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 3 SECONDS")
    )
    deduped = streaming_dedup_within_watermark(
        s.union(retried), keys=["event_id"], watermark="10 minutes"
    )
    out = _run_to_df(spark, deduped)
    return out.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


@query(
    "rollup_maintained",
    oracle="""
    SELECT event_type,
           CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS window_start,
           count(*) AS n_rows,
           round(sum(value), 6) AS sum_value
    FROM events GROUP BY event_type, 2
    """,
)
def rollup_maintained(spark, sf_dir):
    """The continuously-maintained rollup table (update mode +
    idempotent partition overwrite) must equal the batch aggregate
    over the same events."""
    import tempfile

    from ..streaming.rollup import maintain_rollup

    root = tempfile.mkdtemp(prefix="rollup_q_")
    t(spark, sf_dir, "events").write.parquet(root + "/in")
    q = maintain_rollup(
        file_stream(spark, root + "/in", EVENTS_SCHEMA),
        root + "/table",
        root + "/ckpt",
    )
    q.awaitTermination()
    import glob as _glob
    import os as _os

    if not _glob.glob(_os.path.join(root, "table", "**", "*.parquet"),
                      recursive=True):
        # empty source: the maintainer never wrote a partition — the
        # rollup of nothing is the empty table
        return spark.createDataFrame(
            [], "event_type string, window_start bigint,"
                " n_rows bigint, sum_value double"
        )
    out = spark.read.parquet(root + "/table")
    return out.select(
        "event_type",
        "window_start",
        "n_rows",
        F.round("sum_value", 6).alias("sum_value"),
    )


@query("stream_neardup_pairs", oracle=None)
def stream_neardup_pairs(spark, sf_dir):
    """Incremental MinHash-LSH near-dup detection run as a real stream:
    documents arrive across two micro-batches (maxFilesPerTrigger=1)
    and each is checked against the accumulated per-bucket LSH index in
    the state store (streaming.neardup). Probabilistic (signature-
    estimated Jaccard) -> rows-only driver check; the stream==batch
    pair-set equivalence is pinned in tests/test_streaming.py."""
    from ..streaming.neardup import streaming_near_dup

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    # State-partition count scales with the tier (VERDICT r11 item 5).
    # At gate scale (<=5k docs, 2 micro-batches) the wall time is
    # micro-batches x state partitions x Python-worker spin-up, not
    # data, so a narrow 4-partition stream wins (32 partitions = ~64
    # near-empty stateful Python tasks) and keeps the artifact
    # deterministic. Past ~20k docs the v1 state API's per-key-group
    # overhead dominates instead and DIVIDES with partitions, so big
    # tiers keep the session/cluster default.
    # The per-task share of that spin-up cost shrank once
    # `zipimport_cache` stopped Spark's per-task invalidate_caches()
    # from re-reading zip archives (docs/SCALING.md "Python
    # boundaries"); the 4-partition choice predates that and was not
    # re-measured.
    # Round-13 (VERDICT r12 minor #5): the tier probe reads the parquet
    # footer's row count driver-side (no Spark job) instead of running
    # a count() job per invocation; falls back to count() for
    # non-file-backed inputs. `docs` is the unfiltered `documents`
    # table, so the footer is read from the path its loader reads.
    try:
        import pyarrow.parquet as pq

        n_docs = pq.ParquetFile(table_path(sf_dir, "documents")).metadata.num_rows
    except Exception:
        n_docs = docs.count()
    out = _two_batch_update(
        spark,
        docs,
        "doc_id",
        lambda stream: streaming_near_dup(stream, jaccard_threshold=0.3),
        "4" if n_docs <= 20_000 else spark.conf.get("spark.sql.shuffle.partitions"),
    )
    return (
        # saturation marker rows (id_a NULL, n_suppressed set) are a
        # scale signal, not pairs — none occur at registry scale, but
        # the filter keeps the contract explicit
        out.filter(F.col("id_a").isNotNull())
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bands"),
            F.round(F.max("est_jaccard"), 6).alias("est_jaccard"),
        )
    )


@query(
    "stream_ohlc_5min",
    # Batch OHLC restricted to stream-finalized windows (append mode
    # emits a candle once the watermark — max event time minus 10 min —
    # passes its end). 60 s boundary slack on BOTH sides (as in
    # stream_session_stats): a window whose end lands exactly on the
    # watermark can be emitted-vs-excluded differently by append mode
    # than by the oracle's <= cut, so both cut 60 s earlier.
    oracle="""
    WITH h AS (
      SELECT CAST(floor(epoch(max(ts))) AS BIGINT) - 660 AS horizon FROM events
    ), r AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS window_start,
             value,
             row_number() OVER (
               PARTITION BY event_type,
                            CAST(floor(epoch(ts) / 300) * 300 AS BIGINT)
               ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (
               PARTITION BY event_type,
                            CAST(floor(epoch(ts) / 300) * 300 AS BIGINT)
               ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events
    )
    SELECT event_type, window_start,
           round(max(CASE WHEN rn_a = 1 THEN value END), 6) AS open,
           round(max(value), 6) AS high,
           round(min(value), 6) AS low,
           round(max(CASE WHEN rn_d = 1 THEN value END), 6) AS close,
           count(*) AS n_trades
    FROM r, h GROUP BY event_type, window_start, horizon
    HAVING window_start + 300 <= horizon
    """,
)
def stream_ohlc_5min(spark, sf_dir):
    """Streaming OHLC candles: ``ohlc_5min``, the batch twin's
    definition, on a watermarked stream — per-window state is one
    candidate struct per bound, never a buffer of trades."""
    from .indicators_q import ohlc_5min

    s = _events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    out = _run_to_df(spark, ohlc_5min(s))
    return _finalized(spark, sf_dir, out, 660, F.col("window_start") + 300)


def _purchase_click_join(spark, sf_dir, how):
    """Drained watermarked stream-stream join (``how`` = inner or
    left_outer) of purchases with the same user's clicks in the 5 min
    before them; the click side's columns carry an ``r_`` prefix."""
    from ..streaming.pipeline import stream_stream_join

    p = _events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    ).select("event_id", "user_id", "ts")
    c = _events_stream(spark, sf_dir).filter(
        F.col("event_type") == "click"
    ).select(
        F.col("event_id").alias("r_event_id"),
        F.col("user_id").alias("r_user_id"),
        F.col("ts").alias("r_ts"),
    )
    joined = stream_stream_join(
        p, c, key="user_id", right_key="r_user_id",
        left_ts="ts", right_ts="r_ts",
        watermark="10 minutes", max_lag_seconds=300, how=how,
    )
    return _run_to_df(spark, joined)


@query(
    "stream_join_purchase_click",
    # Watermarked stream-stream inner join, driver-verified against the
    # batch join restricted to the stream-finalized region: with a
    # 10-min watermark and a 5-min lag bound, every pair whose BOTH
    # events sit at or before max(ts) - 20 min is guaranteed emitted
    # under availableNow; the query post-filters to that horizon on the
    # stream side and the oracle applies the identical cutoff.
    oracle="""
    WITH h AS (
      SELECT CAST(floor(epoch(max(ts))) AS BIGINT) - 1200 AS horizon
      FROM events
    )
    SELECT p.event_id AS p_id, c.event_id AS c_id, p.user_id,
           CAST(floor(epoch(p.ts)) AS BIGINT) AS p_ts,
           CAST(floor(epoch(c.ts)) AS BIGINT) AS c_ts
    FROM events p
    JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL 300 SECOND AND c.ts <= p.ts
    CROSS JOIN h
    WHERE floor(epoch(p.ts)) <= horizon AND floor(epoch(c.ts)) <= horizon
    """,
)
def stream_join_purchase_click(spark, sf_dir):
    """Stream-stream join (purchases x prior clicks within 5 min, same
    user) run as a REAL watermarked streaming query — bounded state on
    both sides (watermark + lag bound), append mode, then restricted to
    the guaranteed-finalized horizon for exact batch comparison."""
    joined = _purchase_click_join(spark, sf_dir, "inner")
    out = _finalized(
        spark, sf_dir, joined, 1200,
        F.greatest(F.unix_timestamp("ts"), F.unix_timestamp("r_ts")),
    )
    return out.select(
        F.col("event_id").alias("p_id"),
        F.col("r_event_id").alias("c_id"),
        "user_id",
        F.floor(F.unix_timestamp("ts")).cast("long").alias("p_ts"),
        F.floor(F.unix_timestamp("r_ts")).cast("long").alias("c_ts"),
    )


@query(
    "stream_static_enrich",
    # Stream-static inner join needs no horizon: every stream row joins
    # against the (broadcast, per-micro-batch re-resolved) dimension and
    # is emitted exactly once — the oracle is the plain batch join.
    oracle="""
    WITH dim AS (
      -- exact-decimal mean (sf5 catch r8: avg() is an order-dependent
      -- double fold; at 1M users one landed a round-6 half-tie apart
      -- between engines — the deterministic decimal-sum/count chain
      -- cannot)
      SELECT user_id,
             round(CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6)))
                        AS DOUBLE) / count(*), 6) AS user_avg,
             count(*) AS n_events
      FROM events GROUP BY user_id
    )
    SELECT e.event_id, e.user_id,
           round(e.value, 6) AS value,
           d.user_avg, d.n_events,
           (e.value > d.user_avg) AS above_avg
    FROM events e JOIN dim d USING (user_id)
    WHERE e.event_type = 'purchase'
    """,
)
def stream_static_enrich(spark, sf_dir):
    """Streaming enrichment against a static per-user profile dim
    (broadcast each micro-batch — slowly-changing dims refresh without
    a query restart): purchases flagged against the user's all-time
    average."""
    from ..streaming.pipeline import stream_static_join

    dim = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.round(
                F.sum(F.round("value", 6).cast("decimal(18,6)"))
                .cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("user_avg"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    s = _events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    ).select("event_id", "user_id", "value")
    joined = stream_static_join(s, dim, "user_id")
    out = _run_to_df(spark, joined)
    return out.select(
        "event_id",
        "user_id",
        F.round("value", 6).alias("value"),
        "user_avg",
        "n_events",
        (F.col("value") > F.col("user_avg")).alias("above_avg"),
    )


@query(
    "stream_session_stats",
    # Streaming session windows, driver-oracled: a session is finalized
    # once the watermark (max ts - 10 min) passes its end. Both sides
    # keep only sessions with end <= max(ts) - 660 s — the extra 60 s
    # excludes boundary-ambiguous sessions identically, so the compare
    # is exact regardless of emit-boundary semantics.
    oracle="""
    WITH h AS (
      SELECT CAST(floor(epoch(max(ts))) AS BIGINT) - 660 AS horizon FROM events
    ), s AS (
      SELECT user_id, ts, value,
             -- >= 1800: session_window(gap) is a half-open interval, so
             -- an event at exactly last_ts + gap starts a NEW session.
             CASE WHEN lag(epoch(ts)) OVER w IS NULL
                       OR epoch(ts) - lag(epoch(ts)) OVER w >= 1800
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts, value,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM s
    ), g AS (
      SELECT user_id,
             CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
             CAST(floor(epoch(max(ts))) AS BIGINT) + 1800 AS session_end,
             count(*) AS n_events,
             round(sum(value), 6) AS sum_value
      FROM sess GROUP BY user_id, sid
    )
    SELECT user_id, session_start, session_end, n_events, sum_value
    FROM g, h WHERE session_end <= horizon
    """,
)
def stream_session_stats(spark, sf_dir):
    """Native session windows on a real watermarked stream (gap 30 min,
    state = one open session per user, closed by watermark passage):
    ``session_window_stats``, the batch twin's definition, restricted
    to finalized sessions for exact batch comparison."""
    out = _run_to_df(spark, session_window_stats(_events_stream(spark, sf_dir)))
    return _finalized(spark, sf_dir, out, 660, F.col("session_end"))


@query(
    "stream_sliding_counts",
    # Sliding windows (10 min length, 5 min slide): each event lands in
    # exactly 2 windows, enumerated in the oracle via unnest([0,1]).
    # Horizon rule as stream_session_stats (60 s boundary slack).
    oracle="""
    WITH h AS (
      SELECT CAST(floor(epoch(max(ts))) AS BIGINT) - 660 AS horizon FROM events
    ), w AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) - k * 300
               AS window_start,
             value
      FROM events, unnest([0, 1]) AS u(k)
    )
    SELECT event_type, window_start,
           window_start + 600 AS window_end,
           count(*) AS n_rows,
           round(sum(value), 6) AS sum_value
    FROM w, h
    GROUP BY event_type, window_start, horizon
    HAVING window_start + 600 <= horizon
    """,
)
def stream_sliding_counts(spark, sf_dir):
    """Overlapping (sliding) event-time windows on a real watermarked
    stream — ``sliding_window_stats``, the batch twin's definition:
    per-event fan-out to length/slide windows is handled by the
    window() expression, state is one aggregate row per open window."""
    out = _run_to_df(spark, sliding_window_stats(_events_stream(spark, sf_dir)))
    return _finalized(spark, sf_dir, out, 660, F.col("window_end"))


@query(
    "stream_ewma_5min_twolevel",
    # Chained stateful aggregations (sub-window partials -> window
    # recombination): the SECOND stateful operator's watermark trails
    # the first by one extra delay, so the finalized horizon is
    # max(ts) - 2*watermark - sub_window, minus the same 60 s boundary
    # slack as the session/sliding twins; both sides cut there.
    oracle=f"""
    WITH h AS (
      SELECT CAST(floor(epoch(max(ts))) AS BIGINT) - 1560 AS horizon FROM events
    ), r AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS window_start,
             value,
             row_number() OVER (
               PARTITION BY event_type,
                            CAST(floor(epoch(ts) / 300) * 300 AS BIGINT)
               ORDER BY ts, event_id) AS rn,
             count(*) OVER (
               PARTITION BY event_type,
                            CAST(floor(epoch(ts) / 300) * 300 AS BIGINT)) AS n
      FROM events
    ), g AS (
      SELECT event_type, window_start,
             window_start + 300 AS window_end,
             count(*) AS n_rows,
             round(sum({_A5} * pow(1.0 - {_A5}, n - rn) * value), 6) AS ewma,
             sum({_A5} * pow(1.0 - {_A5}, n - rn) * value) AS raw
      FROM r GROUP BY event_type, window_start
    )
    SELECT event_type, window_start, window_end, n_rows, ewma
    FROM g, h WHERE raw > 0 AND window_end <= horizon
    """,
)
def stream_ewma_5min_twolevel(spark, sf_dir):
    """The R8 EWMA as CHAINED streaming stateful operators (Spark >=3.5
    multiple-stateful-operator support): 30 s sub-window folds, then
    segment-composition recombination into 5-min windows — per-reducer
    state holds sub-window partials, never a whole window's rows. Must
    equal the single-level stream AND the batch closed form on every
    finalized window."""
    from ..streaming.pipeline import streaming_windowed_ewma_two_level

    sdf = streaming_windowed_ewma_two_level(
        _events_stream(spark, sf_dir),
        group_cols=("event_type",),
        period_minutes=5,
        watermark="10 minutes",
    )
    out = _finalized(spark, sf_dir, _run_to_df(spark, sdf), 1560, F.col("window_end"))
    return out.select(
        "event_type",
        "window_start",
        "window_end",
        "n_rows",
        F.round("ewma", 6).alias("ewma"),
    )


@query(
    "stream_complete_topk",
    # Complete output mode: the memory sink holds the FULL current
    # aggregate each trigger, so after availableNow drains the input the
    # table equals the batch aggregate exactly — no horizon needed.
    # The top-k rank runs batch-side over the maintained table (the
    # serving pattern: stream maintains, reads rank).
    oracle="""
    WITH agg AS (
      SELECT event_type, user_id,
             count(*) AS n, round(sum(value), 6) AS total
      FROM events GROUP BY event_type, user_id
    ), ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY event_type ORDER BY total DESC, user_id) AS rk
      FROM agg
    )
    SELECT event_type, user_id, n, total, rk
    FROM ranked WHERE rk <= 5
    """,
)
def stream_complete_topk(spark, sf_dir):
    """Top-5 users by total value per event type, maintained by a
    complete-mode streaming aggregation (state = one row per
    (type, user)), ranked at read time."""
    s = _events_stream(spark, sf_dir)
    agg = s.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 6).alias("total"),
    )
    out = _run_to_df(spark, agg, mode="complete")
    w = W.partitionBy("event_type").orderBy(
        F.col("total").desc(), F.col("user_id")
    )
    return (
        out.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("event_type", "user_id", "n", "total", "rk")
    )


@query("stream_heavy_hitters", oracle=None)
def stream_heavy_hitters_q(spark, sf_dir):
    """Per-shard Misra-Gries heavy-hitter summaries maintained in stream
    state across two micro-batches (streaming.heavyhitters) — the
    streaming twin of the batch mergeable MG summary
    (doc_token_heavy_hitters_sketch). State is O(k) per shard
    regardless of stream length or user cardinality. MG output is
    arrival-order-dependent (not SQL-expressible) -> rows-only driver
    check; the lower-bound / err-bound / guaranteed-presence invariants
    are pinned in tests/test_stream_heavyhitters.py."""
    from ..streaming.heavyhitters import latest_snapshot, stream_heavy_hitters

    ev = t(spark, sf_dir, "events").select(
        "event_id", F.col("user_id").cast("string").alias("uid")
    )
    out = _two_batch_update(
        spark,
        ev,
        "event_id",
        lambda s: stream_heavy_hitters(s, "uid", k=16, n_shards=4),
    )
    return latest_snapshot(out).orderBy("shard", "item")


@query(
    "stream_cms_counts",
    # A Count-Min sketch maintained BY a streaming aggregation: the
    # pair (row, cell) explode is stateless column work, the counts are
    # a complete-mode groupBy sum — order-independent, so the drained
    # sketch equals the batch sketch EXACTLY and the full construction
    # stays SQL-oracle-able even through the stream.
    oracle=f"""
    WITH cms AS (
      SELECT i AS rw,
             {_U64.format(expr="CAST(user_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)")}
               % 512 AS cell,
             count(*) AS cnt
      FROM events, unnest(range(0, 4)) AS u(i)
      GROUP BY 1, 2
    ), truth AS (
      SELECT user_id, count(*) AS true_cnt
      FROM events GROUP BY user_id
      ORDER BY true_cnt DESC, user_id LIMIT 10
    ), lookups AS (
      SELECT t.user_id, t.true_cnt, i AS rw,
             {_U64.format(expr="CAST(t.user_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)")}
               % 512 AS cell
      FROM truth t, unnest(range(0, 4)) AS u(i)
    )
    SELECT l.user_id, min(c.cnt) AS est_cnt, l.true_cnt
    FROM lookups l JOIN cms c USING (rw, cell)
    GROUP BY l.user_id, l.true_cnt
    """,
)
def stream_cms_counts(spark, sf_dir):
    """Streaming Count-Min sketch: ``sketches.cms_build`` on the stream
    — the d-row position explode runs stateless, the cell counters are
    a complete-mode streaming aggregation with state bounded at d*w
    rows — the bounded-state frequency answer for unbounded streams,
    and because sum is order- and batching-independent, the drained
    sketch is bit-identical to the batch build (so unlike the MG
    heavy-hitter stream, this streaming sketch keeps an EXACT SQL
    oracle). Estimates for the top-10 users are served batch-side off
    the maintained sketch with ``cms_estimate``, the same serving
    pattern as stream_complete_topk."""
    from ..sketches import cms_build, cms_estimate

    sk = cms_build(_events_stream(spark, sf_dir), "user_id", 4, 512)
    sketch = _run_to_df(spark, sk, mode="complete")
    truth = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), "user_id")
        .limit(10)
    )
    est = cms_estimate(truth, "user_id", sketch, 4, 512, out_col="est_cnt")
    return est.select("user_id", "est_cnt", "true_cnt")


@query(
    "stream_stratified_sample",
    # Deterministic hash sampling ON THE STREAM: the keep-predicate is
    # a stateless row-local filter (llm.pipeline.sample_keep), the
    # per-type kept counts a complete-mode agg — both order- and
    # batching-independent, so the drained result equals the batch
    # sampler EXACTLY and the streaming op keeps a full SQL oracle.
    oracle="""
    WITH rated AS (
      SELECT event_id, event_type,
             CASE WHEN event_type = 'click' THEN 0.1
                  WHEN event_type = 'view' THEN 0.25 ELSE 1.0 END AS rate
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN (((event_id % 4294967296) // 65536
                                * 2654435761) % 65536 * 65536
                               + (event_id % 65536) * 2654435761)
                              % 4294967296
                              < CAST(floor(rate * 4294967296) AS BIGINT)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM rated GROUP BY event_type
    """,
)
def stream_stratified_sample(spark, sf_dir):
    """Stratified sampling applied to a live stream — the ingest-time
    downsampler (keep 10% of clicks, 25% of views, all purchases)
    every high-volume event pipeline runs before persisting. The
    keep-predicate is the same engine-portable multiplicative hash as
    doc_stratified_sample (llm.pipeline.sample_keep): a pure row-local
    filter, so it needs NO state, survives any micro-batch boundary,
    and keeps exact cross-engine reproducibility — unlike
    stream.sample()/rand(), whose draw depends on partitioning and
    replay. Per-type admit counts ride a complete-mode agg (bounded at
    |event types|); because both stages are order-independent the
    drained stream result is bit-identical to the batch sampler, which
    is what the oracle checks."""
    from ..llm.pipeline import sample_keep

    s = _events_stream(spark, sf_dir)
    rate = (
        F.when(F.col("event_type") == "click", 0.1)
        .when(F.col("event_type") == "view", 0.25)
        .otherwise(1.0)
    )
    agg = (
        s.select(
            "event_type",
            sample_keep("event_id", rate).cast("int").alias("kept"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("kept").cast("bigint").alias("n_kept"),
        )
    )
    return _run_to_df(spark, agg, mode="complete")


from .sketches import _HLL_ESTIMATE_SQL, _hll_regs_sql  # noqa: E402


@query(
    "stream_hll_distinct",
    # HLL registers maintained BY a streaming aggregation: reg/rho are
    # stateless column work, the per-(type, reg) max is a complete-mode
    # agg with state bounded at |types| x 64 rows. max is order- and
    # batching-independent => the drained registers equal the batch
    # sketch EXACTLY, so this streaming sketch keeps a full SQL oracle
    # (same estimate arithmetic as sketch_hll_portable).
    oracle="WITH regs AS ("
    + _hll_regs_sql()
    + ")"
    + _HLL_ESTIMATE_SQL,
)
def stream_hll_distinct(spark, sf_dir):
    """Streaming distinct-user estimation per event type via
    HyperLogLog registers in a complete-mode aggregation — the
    bounded-state answer to "how many distinct users, forever" that an
    exact streaming countDistinct (state per distinct user, unbounded)
    cannot give: state is |types| x 64 register rows REGARDLESS of
    stream length or user cardinality. The registers and the estimate
    are sketch_hll_portable's (``sketches.hll_registers`` /
    ``hll_estimate``); because max() is order- and
    batching-independent, the drained registers are bit-identical to
    the batch build, so — like stream_cms_counts and
    stream_stratified_sample — this probabilistic STREAMING op is
    exactly SQL-oracled. The exact distinct count rides the batch side
    for the error readout."""
    from ..sketches import hll_estimate, hll_registers

    regs = hll_registers(_events_stream(spark, sf_dir))
    truth = (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").cast("bigint").alias("exact_distinct"))
    )
    return hll_estimate(_run_to_df(spark, regs, mode="complete")).join(
        truth, "event_type"
    )


@query(
    "stream_kmv_distinct",
    # A KMV distinct-count estimator maintained BY a streaming
    # aggregation: per-key min-hash state (one row per distinct key —
    # the streaming-distinct state class, same as stream_complete_topk)
    # drained in complete mode, then the k=64 smallest hashes estimate
    # the cardinality as (k-1)*2^60/h_(k). The hash-per-key relation is
    # order- and batching-independent, so the drained state equals the
    # batch build EXACTLY and the whole construction — minima included
    # — stays SQL-oracle-able through the stream.
    oracle=f"""
    WITH h AS (
      SELECT user_id,
             {_U64.format(expr="CAST(user_id AS VARCHAR)")} AS hv
      FROM events GROUP BY user_id
    ), mins AS (
      SELECT hv FROM h ORDER BY hv, user_id LIMIT 64
    ), ex AS (
      SELECT CAST(count(*) AS BIGINT) AS exact_distinct FROM h
    )
    SELECT CAST(count(*) AS BIGINT) AS n_kmv,
           round(CASE WHEN count(*) > 1
                 THEN (count(*) - 1) * 1152921504606846976.0 / max(hv)
                 ELSE CAST(count(*) AS DOUBLE) END, 6) AS est_distinct,
           max(ex.exact_distinct) AS exact_distinct
    FROM mins CROSS JOIN ex
    """,
)
def stream_kmv_distinct(spark, sf_dir):
    """Streaming KMV distinct-user estimator: the stream groups by
    user (complete-mode state = one row per distinct key) and the
    batch side takes the k=64 smallest portable hashes for the
    (k-1)*2^60/h_(k) cardinality estimate, beside the exact count from
    the same drained state. Because per-key grouping is order- and
    batching-independent, this streaming sketch keeps an EXACT SQL
    oracle (the stream_cms_counts property); estimates on a stream
    whose state must stay O(k) rather than O(distinct) would instead
    chain this construction through the MG/HLL state shapes."""
    from ..sketches import portable_u64

    s = _events_stream(spark, sf_dir)
    per_key = s.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    drained = _run_to_df(spark, per_key, mode="complete")
    h = drained.select(
        "user_id", portable_u64(F.col("user_id")).alias("hv")
    )
    mins = h.orderBy("hv", "user_id").limit(64)
    ex = h.agg(F.count(F.lit(1)).cast("bigint").alias("exact_distinct"))
    return mins.crossJoin(F.broadcast(ex)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kmv"),
        F.round(
            F.when(
                F.count(F.lit(1)) > 1,
                (F.count(F.lit(1)) - 1)
                * F.lit(1152921504606846976.0)
                / F.max("hv"),
            ).otherwise(F.count(F.lit(1)).cast("double")),
            6,
        ).alias("est_distinct"),
        F.max("exact_distinct").alias("exact_distinct"),
    )


@query(
    "stream_cdc_materialize",
    # CDC materialization as a stream: every event is a change record
    # for its user key — op = DELETE when event_type='error' (the
    # tombstone), else UPSERT of (value, type). The materialized table
    # is last-writer-wins by (ts, event_id); because "latest change
    # per key" is a per-key MAX over the total (ts, event_id) order it
    # is order- AND batching-independent, so the streamed state equals
    # the batch argmax EXACTLY and this third streaming operator keeps
    # a full SQL oracle (after stream_cms_counts / stream_kmv_distinct).
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type, value, epoch_us(ts) AS us,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id,
           event_type AS last_op_type,
           round(value, 6) AS last_value,
           CAST(us AS BIGINT) AS last_us
    FROM ranked
    WHERE rn = 1 AND event_type <> 'error'
    """,
)
def stream_cdc_materialize(spark, sf_dir):
    """Streaming CDC apply: complete-mode per-key MAX of the change
    struct (ts, event_id, type, value) — state is one row per live
    key, the streaming-upsert state class — then tombstones (last op =
    'error') drop out of the materialized table. The struct-max is
    declarative (no max_by object-hash fallback past 128 groups) and
    commutative, which is the whole reason a stream can maintain it
    with an exact batch equivalence at any batching."""
    s = _events_stream(spark, sf_dir)
    agg = s.groupBy("user_id").agg(
        F.max(
            F.struct(
                F.col("ts"),
                F.col("event_id"),
                F.col("event_type"),
                F.col("value"),
            )
        ).alias("last")
    )
    drained = _run_to_df(spark, agg, mode="complete")
    return drained.where(
        F.col("last.event_type") != "error"
    ).select(
        "user_id",
        F.col("last.event_type").alias("last_op_type"),
        F.round(F.col("last.value"), 6).alias("last_value"),
        F.unix_micros(F.col("last.ts")).cast("bigint").alias("last_us"),
    )


@query(
    "stream_window_percentile",
    # TENTH exactly-oracled streaming op: exact windowed percentiles
    # through Structured Streaming. The stream maintains the COUNTS
    # TIER — groupBy(window, type, round(value, 2)) counts under a
    # 10-min watermark (bounded state: ~|grid| cells per open window,
    # value-distribution-invariant) — and the batch finisher closes
    # the exact interpolated median per finalized window from those
    # counts. Exactness survives streaming because counts are
    # order/batching-independent: the same reason the DAU/MAU and
    # tick-imbalance ops oracle exactly.
    oracle="""
    WITH h AS (
      SELECT CAST(floor(epoch(max(ts))) AS BIGINT) - 600 AS horizon
      FROM events
    ), cells AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS ws,
             CAST(round(value, 2) AS DECIMAL(18,2)) AS x,
             count(*) AS c
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type, ws, x
    ), cum AS (
      SELECT event_type, ws, CAST(x AS DOUBLE) AS x, c,
             sum(c) OVER (PARTITION BY event_type, ws ORDER BY x
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) - c AS below,
             sum(c) OVER (PARTITION BY event_type, ws) AS n
      FROM cells
    ), sel AS (
      SELECT event_type, ws, max(n) AS n,
             max(CASE WHEN below <= floor(0.5 * (n - 1))
                      AND floor(0.5 * (n - 1)) < below + c
                 THEN x END) AS lo,
             max(CASE WHEN below <= ceil(0.5 * (n - 1))
                      AND ceil(0.5 * (n - 1)) < below + c
                 THEN x END) AS hi
      FROM cum GROUP BY event_type, ws
    )
    SELECT event_type, ws AS window_start,
           CAST(n AS BIGINT) AS n_rows,
           round(lo + (0.5 * (n - 1) - floor(0.5 * (n - 1)))
                 * (hi - lo), 6) AS p50
    FROM sel, h WHERE ws + 300 <= horizon
    """,
)
def stream_window_percentile(spark, sf_dir):
    """Streaming exact median per 5-min window: the stream reduces to
    watermarked (window, type, 2-dp value) counts (append mode emits
    a window's cells once finalized); the finisher is the counts
    tier's own, ``ops.percentiles_from_counts`` — bounded cumulative
    windows over cells, never over rows."""
    from ..ops import percentiles_from_counts

    s = _events_stream(spark, sf_dir)
    cells = (
        s.filter(F.col("value").isNotNull())
        .withWatermark("ts", "10 minutes")
        .groupBy(
            F.window("ts", "5 minutes").alias("w"),
            "event_type",
            F.round("value", 2).cast("decimal(18,2)").alias("x"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    drained = _run_to_df(spark, cells).select(
        "event_type",
        F.col("w.start").cast("long").alias("ws"),
        F.col("x").cast("double").alias("__v"),
        F.col("c").alias("__c"),
        F.sum("c").over(W.partitionBy("event_type", "w")).alias("n"),
    )
    # n is constant per window: grouping by it too carries it to the output
    p50 = percentiles_from_counts(drained, ["event_type", "ws", "n"], [(0.5, "p50")])
    return p50.select(
        "event_type",
        F.col("ws").alias("window_start"),
        F.col("n").cast("bigint").alias("n_rows"),
        F.round("p50", 6).alias("p50"),
    )


@query(
    "stream_outer_join_unmatched",
    # ELEVENTH oracled streaming op: watermarked stream-stream LEFT
    # OUTER join. Purchases with no qualifying click in the prior
    # 5 min emit exactly once WITH NULLs when the watermark expires
    # their state — the late-arrival audit shape. Restricted to the
    # finalized horizon, the result equals the batch left join
    # exactly; reduced to per-user matched/unmatched counts so the
    # output stays bounded.
    oracle="""
    WITH h AS (
      -- the GLOBAL watermark is the MIN of both streams' watermarks
      -- (multipleWatermarkPolicy=min), so the finalized horizon keys
      -- off the EARLIER of the two per-type max timestamps
      SELECT CAST(floor(epoch(least(
               max(CASE WHEN event_type = 'purchase' THEN ts END),
               max(CASE WHEN event_type = 'click' THEN ts END)
             ))) AS BIGINT) - 1200 AS horizon
      FROM events
    ), j AS (
      SELECT p.event_id, p.user_id, c.event_id AS c_id
      FROM events p
      LEFT JOIN events c
        ON p.user_id = c.user_id
       AND c.event_type = 'click'
       AND c.ts >= p.ts - INTERVAL 300 SECOND AND c.ts <= p.ts
      CROSS JOIN h
      WHERE p.event_type = 'purchase'
        AND floor(epoch(p.ts)) <= horizon
    )
    SELECT user_id,
           CAST(count(c_id) AS BIGINT) AS n_matched_pairs,
           CAST(count(*) FILTER (WHERE c_id IS NULL) AS BIGINT)
             AS n_unmatched_purchases
    FROM j GROUP BY user_id
    """,
)
def stream_outer_join_unmatched(spark, sf_dir):
    """Stream-stream LEFT OUTER join under availableNow: matched
    pairs emit on match, unmatched purchases emit with NULLs at
    state expiry; the finalized-horizon filter makes both exact."""
    purchase_ts = F.max(F.when(F.col("event_type") == "purchase", F.col("ts")))
    click_ts = F.max(F.when(F.col("event_type") == "click", F.col("ts")))
    out = _finalized(
        spark, sf_dir, _purchase_click_join(spark, sf_dir, "left_outer"), 1200,
        F.unix_timestamp("ts"), last_ts=F.least(purchase_ts, click_ts),
    )
    return out.groupBy("user_id").agg(
        F.count("r_event_id").cast("bigint").alias("n_matched_pairs"),
        F.count_if(F.col("r_event_id").isNull())
        .cast("bigint")
        .alias("n_unmatched_purchases"),
    )


@query(
    "stream_psi_drift",
    # TWELFTH oracled streaming op: the drift monitor every feature
    # pipeline keeps on its ingest — per-DAY population stability
    # index of the value distribution against the FIRST finalized
    # day. The stream reduces to watermarked (day-window, fixed
    # integer band) counts (bands are least(9, floor(value/50)) —
    # FIXED edges, the only kind a streaming monitor can know
    # upfront); append mode emits a day's cells exactly once when the
    # 1-hour watermark passes its end, so the drained relation holds
    # finalized days only, and the batch finisher is pure bounded
    # algebra: shared-band join against the reference day, libm ln
    # terms quantized DECIMAL(28,9) at birth before the <= 10-term
    # sum. The batch twin (events_psi_stability) uses data-derived
    # integer edges; the streaming tier's fixed edges are the
    # documented difference.
    oracle="""
    WITH h AS (
      SELECT CAST(floor(epoch(max(ts))) AS BIGINT) - 3600 AS horizon
      FROM events
    ), cells AS (
      SELECT CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS ws,
             CAST(least(9, floor(value / 50)) AS BIGINT) AS band,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events CROSS JOIN h
      WHERE value IS NOT NULL
      GROUP BY ws, band
      HAVING ws + 86400 <= CAST(max(horizon) AS BIGINT)
    ), tot AS (
      SELECT ws, CAST(sum(cnt) AS BIGINT) AS n FROM cells GROUP BY ws
    ), ref AS (
      SELECT CAST(min(ws) AS BIGINT) AS rws FROM cells
    ), terms AS (
      SELECT w.ws, wn.n,
             CAST(round(
               (CAST(w.cnt AS DOUBLE) / wn.n
                - CAST(r.cnt AS DOUBLE) / rn.n)
               * ln((CAST(w.cnt AS DOUBLE) / wn.n)
                    / (CAST(r.cnt AS DOUBLE) / rn.n)), 9)
             AS DECIMAL(28,9)) AS term
      FROM cells w
      JOIN ref ON true
      JOIN cells r ON r.ws = ref.rws AND r.band = w.band
      JOIN tot wn ON wn.ws = w.ws
      JOIN tot rn ON rn.ws = ref.rws
    )
    SELECT ws AS window_start,
           CAST(max(n) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_bands_shared,
           round(CAST(sum(term) AS DOUBLE), 6) AS psi
    FROM terms GROUP BY ws
    """,
)
def stream_psi_drift(spark, sf_dir):
    """Streaming PSI drift: watermarked daily (window, band) counts —
    state is O(days x 10 bands), order- and batching-independent —
    then a bounded finisher joining each finalized day's shared bands
    against the first finalized day. At 100 TB the stream state and
    the finisher relation are both band-grid-sized, never row-sized."""
    s = _events_stream(spark, sf_dir)
    cells = (
        s.filter(F.col("value").isNotNull())
        .withWatermark("ts", "1 hour")
        .groupBy(
            F.window("ts", "1 day").alias("w"),
            F.least(
                F.lit(9).cast("bigint"),
                F.floor(F.col("value") / 50).cast("bigint"),
            ).alias("band"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    # Re-aggregate the drained memory-table scan (a no-op fold: the
    # sink already emitted one row per (ws, band)) so the downstream
    # windows consume an Aggregate — both the window-audit bound and
    # a workaround for the analyzer's self-join resolution over
    # memory-sink lineage, which the join formulation tripped.
    cells2 = (
        _run_to_df(spark, cells)
        .select(F.col("w.start").cast("long").alias("ws"), "band", "cnt")
        .groupBy("ws", "band")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )
    d1 = cells2.select(
        "ws",
        "band",
        "cnt",
        F.sum("cnt")
        .over(W.partitionBy("ws"))
        .cast("bigint")
        .alias("n"),
        F.min("ws").over(W.partitionBy()).cast("bigint").alias("rws"),
    )
    d2 = d1.select(
        "ws",
        "band",
        "cnt",
        "n",
        F.max(F.when(F.col("ws") == F.col("rws"), F.col("cnt")))
        .over(W.partitionBy("band"))
        .cast("bigint")
        .alias("rcnt"),
        F.max(F.when(F.col("ws") == F.col("rws"), F.col("n")))
        .over(W.partitionBy())
        .cast("bigint")
        .alias("rn"),
    )
    p = F.col("cnt").cast("double") / F.col("n")
    q = F.col("rcnt").cast("double") / F.col("rn")
    terms = d2.filter(F.col("rcnt").isNotNull()).select(
        "ws",
        "n",
        F.round((p - q) * F.log(p / q), 9)
        .cast("decimal(28,9)")
        .alias("term"),
    )
    return (
        terms.groupBy("ws")
        .agg(
            F.max("n").cast("bigint").alias("n_rows"),
            F.count(F.lit(1)).cast("bigint").alias("n_bands_shared"),
            F.round(F.sum("term").cast("double"), 6).alias("psi"),
        )
        .select(
            F.col("ws").alias("window_start"),
            "n_rows",
            "n_bands_shared",
            "psi",
        )
    )
