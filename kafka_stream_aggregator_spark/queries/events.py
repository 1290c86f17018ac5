"""Event-stream queries — the reference pipeline's semantics, batch form.

ewma_5min is the flagship: the reference's agg-producer (Kafka ->
project(price) -> 5-min tumbling window -> zero-seeded EWMA fold ->
filter > 0 -> sink; reference services/kstream-agg-rs/src/bin/
agg-producer/main.rs:100-131, indicators.rs:14-26) re-expressed as an
event-time groupBy over the synthetic events table. Oracle uses the
closed form of the fold: ewma = sum_i alpha*(1-alpha)^(n-i) * x_i over
rows ordered by (ts, event_id).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..indicators import ewma_alpha, windowed_ewma
from ..ops import dedup_keep_first, sessionize
from ..streaming.pipeline import session_window_stats, sliding_window_stats
from .base import query, t

_A5 = ewma_alpha(5)  # 2/301 — indicators.rs:17 with period=5 (main.rs:111)


@query(
    "ewma_5min",
    bench=True,
    oracle=f"""
    WITH r AS (
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
    )
    SELECT event_type, window_start,
           window_start + 300 AS window_end,
           count(*) AS n_rows,
           round(sum({_A5} * pow(1.0 - {_A5}, n - rn) * value), 6) AS ewma
    FROM r
    GROUP BY event_type, window_start
    HAVING sum({_A5} * pow(1.0 - {_A5}, n - rn) * value) > 0
    """,
)
def ewma_5min(spark, sf_dir):
    """The flagship: `windowed_ewma` per event type, in batch (closed
    form) — the same function the stream and trade pipeline run."""
    e = t(spark, sf_dir, "events")
    out = windowed_ewma(
        e,
        ts_col="ts",
        value_col="value",
        order_cols=("ts", "event_id"),
        group_cols=("event_type",),
        period_minutes=5,
    )
    return out.withColumn("ewma", F.round("ewma", 6))


@query(
    "ewma_1min_all",
    oracle=f"""
    WITH r AS (
      SELECT user_id,
             CAST(floor(epoch(ts) / 60) * 60 AS BIGINT) AS window_start,
             value,
             row_number() OVER (
               PARTITION BY user_id, CAST(floor(epoch(ts) / 60) * 60 AS BIGINT)
               ORDER BY ts, event_id) AS rn,
             count(*) OVER (
               PARTITION BY user_id,
                            CAST(floor(epoch(ts) / 60) * 60 AS BIGINT)) AS n
      FROM events
    )
    SELECT user_id, window_start,
           count(*) AS n_rows,
           round(sum({ewma_alpha(1)} * pow(1.0 - {ewma_alpha(1)}, n - rn) * value), 6)
             AS ewma
    FROM r GROUP BY user_id, window_start
    """,
)
def ewma_1min_all(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    out = windowed_ewma(
        e,
        ts_col="ts",
        value_col="value",
        order_cols=("ts", "event_id"),
        group_cols=("user_id",),
        period_minutes=1,
        emit_positive_only=False,
    )
    return out.select(
        "user_id", "window_start", "n_rows", F.round("ewma", 6).alias("ewma")
    )


@query(
    "sma_5min_window",
    oracle="""
    SELECT event_type,
           CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS window_start,
           count(*) AS n_rows,
           round(CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6)))
                      AS DOUBLE) / count(*), 6) AS sma,
           round(min(value), 6) AS min_v,
           round(max(value), 6) AS max_v
    FROM events GROUP BY event_type, 2
    """,
)
def sma_5min_window(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    wstart = (F.floor(F.unix_timestamp("ts") / 300) * 300).cast("long")
    return (
        e.groupBy("event_type", wstart.alias("window_start"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(
                F.sum(F.round("value", 6).cast("decimal(18,6)"))
                .cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("sma"),
            F.round(F.min("value"), 6).alias("min_v"),
            F.round(F.max("value"), 6).alias("max_v"),
        )
    )


@query(
    "sessionize_gap",
    bench=True,
    oracle="""
    WITH s AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(epoch(ts)) OVER w IS NULL
                       OR epoch(ts) - lag(epoch(ts)) OVER w > 1800
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id,
             CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS session_id
      FROM s
    )
    SELECT user_id, session_id, count(*) AS n_events
    FROM sess GROUP BY user_id, session_id
    """,
)
def sessionize_gap(spark, sf_dir):
    # Round-13 (guide §1): SQL-string twin of ops.sessionize for this
    # fixed shape (the helper stays the generic surface). One JVM
    # parse; and the CTE computes lag(sec) ONCE — the Column form's
    # `prev.isNull() | (sec - prev > gap)` referenced the lag window
    # expression twice and Spark evaluated BOTH copies in the Window
    # node (see plans/r13/sessionize_gap_{before,after}.txt;
    # value-identical, lag is deterministic on the unique
    # (ts, event_id) order).
    e = t(spark, sf_dir, "events")
    return spark.sql(
        """
        WITH p AS (
          SELECT user_id, ts, event_id,
                 lag(CAST(ts AS DOUBLE)) OVER w AS prev
          FROM {e}
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), s AS (
          SELECT user_id, ts, event_id,
                 sum(CASE WHEN prev IS NULL
                          OR (CAST(ts AS DOUBLE) - prev) > 1800
                          THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_id
          FROM p
        )
        SELECT user_id, session_id, count(1) AS n_events
        FROM s GROUP BY user_id, session_id
        """,
        e=e,
    )


@query(
    "event_dedup_keep_first",
    oracle="""
    SELECT user_id, event_type,
           event_id AS first_event_id,
           round(value, 6) AS first_value
    FROM (
      SELECT user_id, event_type, event_id, value,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def event_dedup_keep_first(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    d = dedup_keep_first(
        e, keys=["user_id", "event_type"], order_by=["ts", "event_id"]
    )
    return d.select(
        "user_id",
        "event_type",
        F.col("event_id").alias("first_event_id"),
        F.round("value", 6).alias("first_value"),
    )


@query(
    "event_type_rollup_daily",
    oracle="""
    SELECT event_type,
           strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           count(*) AS n_events,
           round(sum(value), 6) AS sum_value,
           count(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type, 2
    """,
)
def event_type_rollup_daily(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(
            "event_type",
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@query(
    "ewma_5min_twolevel",
    # same semantics (and same closed-form oracle) as ewma_5min, computed
    # with the two-level segment fold. 2x slower at small scale (second
    # shuffle) — its purpose is bounded reducer memory when one window
    # holds more rows than an executor can collect; not in the bench set.
    oracle=f"""
    WITH r AS (
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
    )
    SELECT event_type, window_start,
           window_start + 300 AS window_end,
           count(*) AS n_rows,
           round(sum({_A5} * pow(1.0 - {_A5}, n - rn) * value), 6) AS ewma
    FROM r
    GROUP BY event_type, window_start
    HAVING sum({_A5} * pow(1.0 - {_A5}, n - rn) * value) > 0
    """,
)
def ewma_5min_twolevel(spark, sf_dir):
    from ..indicators import windowed_ewma_two_level

    e = t(spark, sf_dir, "events")
    out = windowed_ewma_two_level(e, group_cols=("event_type",), period_minutes=5)
    return out.select(
        "event_type",
        "window_start",
        "window_end",
        "n_rows",
        F.round("ewma", 6).alias("ewma"),
    )


@query(
    "sliding_window_counts",
    # batch-mode sliding window: F.window(ts, 10min, 5min) maps each row
    # to exactly 2 windows; the oracle reproduces that with an unnest
    # over the two candidate window starts.
    oracle="""
    SELECT event_type,
           (CAST(floor(epoch(ts) / 300) AS BIGINT) - g) * 300 AS window_start,
           count(*) AS n_rows,
           round(sum(value), 6) AS sum_value
    FROM events, unnest([0, 1]) AS u(g)
    GROUP BY event_type, 2
    """,
)
def sliding_window_counts(spark, sf_dir):
    return sliding_window_stats(t(spark, sf_dir, "events")).drop("window_end")


@query(
    "session_window_batch",
    # native session_window (gap 30min) in batch mode; oracle = the
    # lag/cumsum sessionization with start=min(ts), end=max(ts)+gap.
    oracle="""
    WITH s AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(epoch(ts)) OVER w IS NULL
                       OR epoch(ts) - lag(epoch(ts)) OVER w > 1800
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts, value,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM s
    )
    SELECT user_id,
           CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
           CAST(floor(epoch(max(ts))) AS BIGINT) + 1800 AS session_end,
           count(*) AS n_events,
           round(sum(value), 6) AS sum_value
    FROM sess GROUP BY user_id, sid
    """,
)
def session_window_batch(spark, sf_dir):
    return session_window_stats(t(spark, sf_dir, "events"))


@query("trade_pipeline_ewma", oracle=None)
def trade_pipeline_ewma(spark, sf_dir):
    """The reference's full trade chain (synthetic trades -> Confluent-
    framed messages -> decode -> 5-min zero-seeded EWMA -> EWMA record
    shape). Self-checked: exact parity vs a python reimplementation of
    indicators.rs in tests/test_trade_pipeline.py."""
    from ..streaming.trade_pipeline import (
        aggregate_trades,
        decode_trades,
        frame_trades,
        synthetic_trades,
    )

    trades = synthetic_trades(spark, n=20_000)
    return aggregate_trades(decode_trades(frame_trades(trades)), per_instrument=True)


@query("trade_pipeline_ewma_avro", oracle=None)
def trade_pipeline_ewma_avro(spark, sf_dir):
    """The reference chain over the REAL Avro wire format: pure-python
    spec-conformant binary codec (cross-checked against the Java Avro
    library in tests) behind Confluent 5-byte frames, decoded by each
    frame's schema id against a one-entry registry snapshot. Output
    equals the JSON-framed chain (asserted in tests/test_trade_pipeline.py)."""
    from ..schemas import TRADE_SCHEMA
    from ..streaming.avro_codec import TRADES_AVRO_SCHEMA
    from ..streaming.trade_pipeline import (
        aggregate_trades,
        decode_trades_avro_dispatch,
        frame_trades_avro,
        synthetic_trades,
    )

    trades = synthetic_trades(spark, n=20_000)
    decoded = decode_trades_avro_dispatch(
        frame_trades_avro(trades, schema_id=7),
        {7: TRADES_AVRO_SCHEMA},
        TRADES_AVRO_SCHEMA,
        TRADE_SCHEMA,
    )
    return aggregate_trades(decoded, per_instrument=True)


@query("trade_pipeline_schema_evolution", oracle=None)
def trade_pipeline_schema_evolution(spark, sf_dir):
    """Registry-dispatch decode over a MIXED-schema-version topic
    (consumer.rs:76-85 + readme.md:27-28 evolution claim): half the
    trades are framed under schema v1, half under v2 (added nullable
    'venue'), each message decoded by its own embedded schema id with
    writer->reader resolution — then the standard EWMA chain. Equals the
    single-schema chain (asserted in tests/test_schema_registry.py)."""
    import copy

    import pandas as pd

    from ..schemas import TRADE_SCHEMA
    from ..streaming.avro_codec import TRADES_AVRO_SCHEMA, encode
    from ..streaming.registry import SchemaRegistry
    from ..streaming.trade_pipeline import (
        aggregate_trades,
        decode_trades_avro_dispatch,
        synthetic_trades,
    )

    v1 = TRADES_AVRO_SCHEMA
    v2 = copy.deepcopy(TRADES_AVRO_SCHEMA)
    v2["fields"] = v2["fields"] + [
        {"name": "venue", "type": ["null", "string"], "default": None}
    ]
    reg = SchemaRegistry()
    subject = SchemaRegistry.subject_for_topic("trades-option-btc")
    id1 = reg.register(subject, v1)
    id2 = reg.register(subject, v2)
    cols = [f.name for f in TRADE_SCHEMA.fields]

    def enc(batches):
        for pdf in batches:
            values = []
            for row in pdf[cols].itertuples(index=False, name=None):
                rec = dict(zip(cols, row))
                if rec["trade_seq"] % 2:
                    rec["venue"] = "deribit"
                    values.append(b"\x00" + id2.to_bytes(4, "big") + encode(v2, rec))
                else:
                    values.append(b"\x00" + id1.to_bytes(4, "big") + encode(v1, rec))
            yield pd.DataFrame(
                {"key": pdf["timestamp"].astype(str), "value": values}
            )

    trades = synthetic_trades(spark, n=20_000)
    framed = trades.mapInPandas(enc, "key string, value binary")
    decoded = decode_trades_avro_dispatch(framed, reg.snapshot(), v1, TRADE_SCHEMA)
    return aggregate_trades(decoded, per_instrument=True)
