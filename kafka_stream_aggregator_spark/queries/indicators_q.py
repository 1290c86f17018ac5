"""Extended indicator suite (generalizing the reference's indicator
config surface — config.rs:6-16 declares an open `kind` string but only
EWMA exists; here the engine supplies the standard family).

All pure window/aggregate expressions: one shuffle on the group key,
JVM-side arithmetic, no python.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..indicators import cumulative_ewma_col, ewma_alpha
from .base import query, t


@query(
    "ind_bollinger",
    oracle="""
    SELECT user_id, event_id,
           round(avg(value) OVER w, 6) AS sma20,
           round(avg(value) OVER w + 2 * stddev_samp(value) OVER w, 6) AS upper_band,
           round(avg(value) OVER w - 2 * stddev_samp(value) OVER w, 6) AS lower_band
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    """,
)
def ind_bollinger(spark, sf_dir):
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, W.currentRow)
    )
    e = t(spark, sf_dir, "events")
    sma = F.avg("value").over(w)
    sd = F.stddev_samp("value").over(w)
    return e.select(
        "user_id",
        "event_id",
        F.round(sma, 6).alias("sma20"),
        F.round(sma + 2 * sd, 6).alias("upper_band"),
        F.round(sma - 2 * sd, 6).alias("lower_band"),
    )


@query(
    "ind_macd",
    # MACD = EWMA_fast - EWMA_slow (both zero-seeded continuous folds);
    # oracle uses the closed form of each.
    oracle=f"""
    WITH r AS (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ), s AS (
      SELECT user_id, event_id, rn,
             {ewma_alpha(1)} * pow(1.0 - {ewma_alpha(1)}, rn)
               * sum(value * pow(1.0 - {ewma_alpha(1)}, -rn))
                 OVER (PARTITION BY user_id ORDER BY rn
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fast,
             {ewma_alpha(5)} * pow(1.0 - {ewma_alpha(5)}, rn)
               * sum(value * pow(1.0 - {ewma_alpha(5)}, -rn))
                 OVER (PARTITION BY user_id ORDER BY rn
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS slow
      FROM r
    )
    SELECT user_id, event_id, round(fast - slow, 6) AS macd
    FROM s
    """,
)
def ind_macd(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    fast = cumulative_ewma_col("value", ewma_alpha(1), ["user_id"], ["ts", "event_id"])
    slow = cumulative_ewma_col("value", ewma_alpha(5), ["user_id"], ["ts", "event_id"])
    return e.select(
        "user_id", "event_id", F.round(fast - slow, 6).alias("macd")
    )


@query(
    "ind_rsi",
    # RSI-14 on simple (Cutler) averages of gains/losses over a 14-row
    # frame — pure window arithmetic, identical formulation both sides.
    oracle="""
    WITH d AS (
      SELECT user_id, event_id, ts,
             value - lag(value) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS chg
      FROM events
    ), g AS (
      SELECT user_id, event_id,
             avg(CASE WHEN chg > 0 THEN chg ELSE 0.0 END)
               OVER w AS avg_gain,
             avg(CASE WHEN chg < 0 THEN -chg ELSE 0.0 END)
               OVER w AS avg_loss
      FROM d
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id,
           round(CASE WHEN avg_loss = 0 THEN 100.0
                 ELSE 100.0 - 100.0 / (1.0 + avg_gain / avg_loss) END, 6) AS rsi
    FROM g
    """,
)
def ind_rsi(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    w_ord = W.partitionBy("user_id").orderBy("ts", "event_id")
    w_frame = w_ord.rowsBetween(-13, W.currentRow)
    chg = F.col("value") - F.lag("value").over(w_ord)
    d = e.withColumn("chg", chg)
    gain = F.avg(F.when(F.col("chg") > 0, F.col("chg")).otherwise(0.0)).over(w_frame)
    loss = F.avg(F.when(F.col("chg") < 0, -F.col("chg")).otherwise(0.0)).over(w_frame)
    rsi = F.when(loss == 0, 100.0).otherwise(100.0 - 100.0 / (1.0 + gain / loss))
    return d.select("user_id", "event_id", F.round(rsi, 6).alias("rsi"))


@query("ind_approx_percentile", oracle=None)
def ind_approx_percentile(spark, sf_dir):
    """approx_percentile (t-digest style sketch) beside the exact value;
    the tolerance invariant is asserted in tests."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_extendedprice", 0.5, 10000).alias("p50_approx"),
            F.round(F.percentile("l_extendedprice", F.lit(0.5)), 6).alias("p50_exact"),
        )
    )


@query(
    "ind_ohlc_5min",
    # OHLC (open-high-low-close) candle downsampling — the canonical
    # financial rollup over the reference's trading domain (its EWMA agg
    # consumes the same per-window buffers; SURVEY.md §3.2). Open/close
    # are deterministic via the unique (ts, event_id) order key.
    oracle="""
    WITH r AS (
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
    FROM r GROUP BY event_type, window_start
    """,
)
def ind_ohlc_5min(spark, sf_dir):
    return ohlc_5min(t(spark, sf_dir, "events"))


def ohlc_5min(df):
    """Single-shuffle OHLC per (event_type, 5-min window), batch or
    streaming (``stream_ohlc_5min`` runs it under a watermark):
    open/close via min/max over the (ts, event_id, value) struct —
    (ts, event_id) is unique, so the struct's lexicographic extremes
    ARE the first/last trades, and struct min/max are DECLARATIVE
    aggregates (codegen HashAggregate with map-side partials, one
    candidate struct per bound in stream state). min_by/max_by compute
    the same thing but are object-hash aggregates that fall back to
    sort-based beyond 128 groups/partition — measured 12x slower at 10M
    rows (SCALING.md). Plan at 100 TB: shuffle only (event_type,
    window) keyed partials."""
    key = F.struct("ts", "event_id", "value")
    return (
        df.groupBy("event_type", F.window("ts", "5 minutes").alias("win"))
        .agg(
            F.round(F.min(key)["value"], 6).alias("open"),
            F.round(F.max("value"), 6).alias("high"),
            F.round(F.min("value"), 6).alias("low"),
            F.round(F.max(key)["value"], 6).alias("close"),
            F.count(F.lit(1)).alias("n_trades"),
        )
        .select(
            "event_type",
            F.unix_timestamp("win.start").alias("window_start"),
            "open",
            "high",
            "low",
            "close",
            "n_trades",
        )
    )


@query(
    "ind_rolling_corr",
    # Trailing time-value correlation (trend strength): corr of value
    # against the time axis over the last 50 observations per user.
    oracle="""
    SELECT user_id, event_id,
           round(corr(value, epoch(ts)) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 49 PRECEDING AND CURRENT ROW), 6) AS trend_corr
    FROM events WHERE user_id < 200
    """,
)
def ind_rolling_corr(spark, sf_dir):
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-49, W.currentRow)
    )
    e = t(spark, sf_dir, "events").filter(F.col("user_id") < 200)
    return e.select(
        "user_id",
        "event_id",
        F.round(
            F.corr("value", F.col("ts").cast("double")).over(w), 6
        ).alias("trend_corr"),
    )


@query(
    "ind_holt_trend",
    # A sequential stateful fold with an EXACT oracle: the recursive
    # CTE steps the same coupled recurrence in the same expression
    # order (1.0 - alpha spelled as a subtraction on both sides), so
    # IEEE doubles agree bit-for-bit after thousands of steps.
    oracle="""
    WITH RECURSIVE o AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE user_id % 5 = 0
    ), nn AS (
      SELECT event_type, max(rn) AS n_rows FROM o GROUP BY event_type
    ), rec AS (
      SELECT o.event_type, o.rn, o.value AS l, 0.0::DOUBLE AS b
      FROM o WHERE rn = 1
      UNION ALL
      SELECT o.event_type, o.rn,
             0.3 * o.value + (1.0 - 0.3) * (rec.l + rec.b) AS l,
             0.1 * ((0.3 * o.value + (1.0 - 0.3) * (rec.l + rec.b)) - rec.l)
               + (1.0 - 0.1) * rec.b AS b
      FROM rec JOIN o ON o.event_type = rec.event_type
                     AND o.rn = rec.rn + 1
    )
    SELECT r.event_type, CAST(nn.n_rows AS BIGINT) AS n_rows,
           round(r.l, 6) AS level, round(r.b, 6) AS trend,
           round(r.l + r.b, 6) AS forecast_1
    FROM rec r JOIN nn ON nn.event_type = r.event_type
                      AND r.rn = nn.n_rows
    """,
)
def ind_holt_trend(spark, sf_dir):
    """Holt level+trend smoothing per event type (indicators.
    holt_smoothing): the coupled recurrence folds sequentially per key
    in applyInPandas (one shuffle, whole series per task — the
    standard per-entity time-series shape at any scale), and the
    DuckDB oracle replays it with a recursive CTE in the identical
    expression order — an exact cross-engine check on a genuinely
    sequential stateful operator.

    Scale-tier note (r6): the ORACLE is gate-tier only — a recursive
    CTE is O(steps) self-joins, and at the sf1 tier (1M events) the
    DuckDB side ran >10 min before being killed, while the Spark fold
    finished the same input in 8.6 s (5 groups). The sf1 parity sweep
    therefore skips this one query; the engine side's scaling is the
    applyInPandas per-key fold, verified by the gate-tier hash match +
    the numpy-reference unit tests."""
    from ..indicators import holt_smoothing

    # user_id slice keeps the oracle's recursive CTE at a few hundred
    # steps per group (its cost is steps x join, ~25s unfiltered at
    # sf0.01) while still folding hundreds of values per key.
    ev = t(spark, sf_dir, "events").filter(F.col("user_id") % 5 == 0)
    out = holt_smoothing(
        ev, ["event_type"], "value", ["ts", "event_id"], alpha=0.3, beta=0.1
    )
    return out.select(
        "event_type",
        "n_rows",
        F.round("level", 6).alias("level"),
        F.round("trend", 6).alias("trend"),
        F.round("forecast_1", 6).alias("forecast_1"),
    )
