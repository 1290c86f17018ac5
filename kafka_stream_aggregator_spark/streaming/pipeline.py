"""The reference aggregation pipeline as Structured Streaming (R7-R10).

Reference behavior (bin/agg-producer/main.rs:100-131): a wall-clock
timer fires every `period` minutes; the buffered prices are folded
through the zero-seeded EWMA; results with ewma<=0 are suppressed;
output keyed by emit time. Here that becomes event-time tumbling
windows + watermark (late data handled, deterministic fold order via
(ts, tiebreak) sort — SURVEY S3/S5/S7): `streaming_windowed_ewma` is
`indicators.windowed_ewma` under a watermark, the same function the
batch queries use; on a stream it runs the EWMA as an array fold inside
the stateful aggregation. `streaming_windowed_ewma_two_level` is
`indicators.windowed_ewma_two_level` under a watermark (chained
stateful aggregations). Also here: watermarked dedup, the sliding and
session window builders that a batch query and its stream twin both
run, and one stream-stream join for inner and left-outer.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..indicators import windowed_ewma, windowed_ewma_two_level


def streaming_windowed_ewma(
    stream: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    order_cols: Sequence[str] = ("ts", "event_id"),
    group_cols: Sequence[str] = (),
    period_minutes: int = 5,
    watermark: str = "10 minutes",
    emit_positive_only: bool = True,
) -> DataFrame:
    """Event-time tumbling EWMA on a streaming DataFrame:
    ``windowed_ewma`` under a ``watermark`` on ``ts_col``.

    The state store keeps one partial collect_list per open window; the
    watermark finalizes and evicts windows older than it, so state size
    is O(open windows x rows-in-window), not O(stream). Append output
    mode -> each window emits exactly once, on close.
    """
    return windowed_ewma(
        stream.withWatermark(ts_col, watermark),
        ts_col=ts_col,
        value_col=value_col,
        order_cols=order_cols,
        group_cols=group_cols,
        period_minutes=period_minutes,
        emit_positive_only=emit_positive_only,
    )


def streaming_dedup(
    stream: DataFrame,
    keys: Sequence[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup with bounded state (watermarked)."""
    return stream.withWatermark(ts_col, watermark).dropDuplicates(
        [*keys, ts_col]
    )


def streaming_dedup_within_watermark(
    stream: DataFrame,
    keys: Sequence[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Dedup on the BUSINESS key only, state bounded by the watermark
    (dropDuplicatesWithinWatermark, Spark 3.5+).

    Difference from streaming_dedup: the event timestamp is NOT part of
    the key, so re-deliveries with a *different* timestamp (producer
    retries after a reconnect — the reference's at-least-once failure
    mode, SURVEY S6) still collapse, as long as they arrive within the
    watermark delay of the first copy. State per key expires at the
    watermark — the variant to run against at-least-once sources at
    100 TB."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def sliding_window_stats(df: DataFrame) -> DataFrame:
    """Per event_type, rows and rounded value sum of each 10-minute
    window sliding by 5 minutes, batch or streaming: the definition of
    ``sliding_window_counts`` and of its stream twin
    ``stream_sliding_counts``. Output: event_type, window_start,
    window_end (epoch seconds), n_rows, sum_value. The 10-minute
    watermark on ts bounds a stream's open windows; on a batch
    DataFrame the optimizer drops it."""
    return (
        df.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            "event_type",
            F.unix_timestamp("win.start").alias("window_start"),
            F.unix_timestamp("win.end").alias("window_end"),
            "n_rows",
            "sum_value",
        )
    )


def session_window_stats(df: DataFrame) -> DataFrame:
    """Per user, native session windows (30-minute gap) with their
    event count and rounded value sum, batch or streaming: the
    definition of ``session_window_batch`` and of its stream twin
    ``stream_session_stats``. Output: user_id, session_start,
    session_end (epoch seconds), n_events, sum_value. The watermark is
    as in ``sliding_window_stats``."""
    return (
        df.withWatermark("ts", "10 minutes")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_timestamp("win.start").alias("session_start"),
            F.unix_timestamp("win.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def stream_static_join(
    stream: DataFrame, dim: DataFrame, on, how: str = "inner"
) -> DataFrame:
    """Stream ⋈ static dimension. The static side is broadcast per
    micro-batch (re-resolved each trigger, so slowly-changing dims pick
    up updates without restarting the query)."""
    return stream.join(F.broadcast(dim), on, how)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    right_key: str,
    left_ts: str = "ts",
    right_ts: str = "r_ts",
    watermark: str = "10 minutes",
    max_lag_seconds: int = 3600,
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join with a time-bound condition.

    Both sides carry watermarks and the join condition bounds the event-
    time distance, so each side's state store holds only `watermark +
    max_lag` worth of rows — bounded state, the requirement for an
    unbounded stream pair at scale. With ``how="left_outer"`` a left
    row whose time-bounded match window expires under the watermark is
    emitted once with NULLs on the right — the semantics a late-arrival
    audit needs (which purchases never saw a qualifying click?). Spark
    emits the null rows only when the watermark closes the state, so
    results are exact for the finalized region under availableNow."""
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (F.col(key) == F.col(right_key))
        & (F.col(right_ts) >= F.col(left_ts) - F.expr(f"INTERVAL {max_lag_seconds} SECONDS"))
        & (F.col(right_ts) <= F.col(left_ts))
    )
    return lw.join(rw, cond, how)


def streaming_windowed_ewma_two_level(
    stream: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    order_cols: Sequence[str] = ("ts", "event_id"),
    group_cols: Sequence[str] = (),
    period_minutes: int = 5,
    sub_window: str = "30 seconds",
    watermark: str = "10 minutes",
    emit_positive_only: bool = True,
) -> DataFrame:
    """``windowed_ewma_two_level`` under a ``watermark`` on ``ts_col``:
    chained stateful aggregations, sub-window partials then 5-minute
    recombination. The second operator's watermark trails the first by
    one more delay, so a window finalizes one ``watermark`` later than
    in ``streaming_windowed_ewma``."""
    return windowed_ewma_two_level(
        stream.withWatermark(ts_col, watermark),
        ts_col=ts_col,
        value_col=value_col,
        order_cols=order_cols,
        group_cols=group_cols,
        period_minutes=period_minutes,
        sub_window=sub_window,
        emit_positive_only=emit_positive_only,
    )
