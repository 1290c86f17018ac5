"""Trading-domain wave (round 7): VWAP and tick-imbalance over the
custom Python DataSource — the reference's own domain (crypto trade
ticks, models.rs:31-44) computed on the engine's own connector.

Both oracles REPLAY the tradegen generator (generate_series + md5,
as io_python_datasource_scan established), so source + indicator are
verified together end to end.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..sketches import U64_SQL_TEMPLATE as U64
from .base import query

_N = 4000


def _gen_sql(n: int) -> str:
    def u(field: str) -> str:
        return U64.format(
            expr=f"('7:' || CAST(i AS VARCHAR) || ':{field}')"
        )

    return f"""
      SELECT i AS trade_seq,
        ['BTC-OPT-A','BTC-OPT-B','ETH-OPT-A','ETH-OPT-B'][({u('i')} % 4) + 1]
          AS instrument,
        ['buy','sell','zero'][({u('d')} % 3) + 1] AS direction,
        round(100.0 + ({u('p')} % 1000000) / 100.0, 6) AS price,
        round(1.0 + ({u('a')} % 1000) / 10.0, 6) AS amount
      FROM generate_series(0, {n - 1}) t(i)
    """


def _trades(spark):
    from ..sources import register

    register(spark)
    return (
        spark.read.format("tradegen")
        .option("n_rows", _N)
        .option("n_parts", 8)
        .option("seed", 7)
        .load()
    )


@query(
    "trade_vwap",
    # Volume-weighted average price per instrument: VWAP =
    # sum(price*amount)/sum(amount) with both sums DECIMAL-exact at
    # the generator's 6-dp grain (the product is exact at 12 dp); the
    # division is the only double op. The reference's EWMA sibling
    # indicator (indicators.rs:6-11 computes EWMA; VWAP is the other
    # standard tick aggregate).
    oracle=f"""
    WITH g AS ({_gen_sql(_N)})
    SELECT instrument,
           CAST(count(*) AS BIGINT) AS n_trades,
           CAST(sum(CAST(amount AS DECIMAL(18,6))) * 1000000 AS BIGINT)
             AS volume_micro,
           round(CAST(sum(CAST(price AS DECIMAL(20,6))
                          * CAST(amount AS DECIMAL(18,6))) AS DOUBLE)
                 / CAST(sum(CAST(amount AS DECIMAL(18,6))) AS DOUBLE), 6)
             AS vwap
    FROM g GROUP BY instrument
    """,
)
def trade_vwap(spark, sf_dir):
    """VWAP: one codegen hash aggregate over the connector scan —
    map-side partial sums, 4-row reduce. sf_dir unused (the source is
    the generator), kept for the uniform query signature."""
    df = _trades(spark)
    am = F.col("amount").cast("decimal(18,6)")
    pr = F.col("price").cast("decimal(20,6)")
    return df.groupBy("instrument").agg(
        F.count("*").cast("bigint").alias("n_trades"),
        (F.sum(am) * 1_000_000).cast("bigint").alias("volume_micro"),
        F.round(
            F.sum(pr * am).cast("double") / F.sum(am).cast("double"), 6
        ).alias("vwap"),
    )


@query(
    "trade_tick_imbalance",
    # Buy/sell tick imbalance per instrument per 500-trade bucket:
    # (buys - sells) / (buys + sells), zeros excluded — the order-flow
    # signal microstructure models start from. Exact integer counts;
    # one division.
    oracle=f"""
    WITH g AS ({_gen_sql(_N)})
    SELECT instrument,
           CAST(trade_seq // 500 AS BIGINT) AS bucket,
           CAST(count_if(direction = 'buy') AS BIGINT) AS buys,
           CAST(count_if(direction = 'sell') AS BIGINT) AS sells,
           round((count_if(direction = 'buy')
                  - count_if(direction = 'sell'))
                 / CAST(count_if(direction <> 'zero') AS DOUBLE), 6)
             AS imbalance
    FROM g
    GROUP BY instrument, CAST(trade_seq // 500 AS BIGINT)
    HAVING count_if(direction <> 'zero') > 0
    """,
)
def trade_tick_imbalance(spark, sf_dir):
    """Tick imbalance: one aggregate keyed by (instrument, seq
    bucket); at any scale the bucket key keeps groups bounded. The
    stream twin (stream_tick_imbalance) runs the same two steps."""
    return tick_imbalance(tick_counts(_trades(spark)))


def tick_counts(trades):
    """Buy, sell and non-zero tick counts per (instrument, 500-trade
    bucket): order- and batching-independent, so a complete-mode
    stream drains to the batch counts exactly."""
    return trades.groupBy(
        "instrument",
        F.floor(F.col("trade_seq") / 500).cast("bigint").alias("bucket"),
    ).agg(
        F.count_if(F.col("direction") == "buy").cast("bigint").alias("buys"),
        F.count_if(F.col("direction") == "sell").cast("bigint").alias("sells"),
        F.count_if(F.col("direction") != "zero").cast("bigint").alias("nz"),
    )


def tick_imbalance(counts):
    """(buys - sells) / non-zero ticks per bucket of ``tick_counts``,
    buckets with no non-zero tick dropped."""
    return counts.filter(F.col("nz") > 0).select(
        "instrument",
        "bucket",
        "buys",
        "sells",
        F.round(
            (F.col("buys") - F.col("sells")) / F.col("nz").cast("double"), 6
        ).alias("imbalance"),
    )


# --------------------------------------------------------------------------
# Round-8 microstructure wave: Roll spread, Kyle lambda, VPIN buckets —
# classical market-microstructure estimators over the engine's own
# connector (reference domain: crypto trade ticks, models.rs:31-44).
# Prices/amounts are 6-dp generator decimals, so every moment below is a
# DECIMAL-exact sum; doubles appear only in the final closed-form chains.
# --------------------------------------------------------------------------


@query(
    "trade_roll_spread",
    # Roll (1984) effective-spread estimator per instrument:
    # s = 2*sqrt(-cov(dp_t, dp_{t-1})) when the serial covariance is
    # negative (bounce), else 0. dp over trade_seq order; population
    # covariance over the pairs with both lags present, from exact
    # DECIMAL sums.
    oracle=f"""
    WITH g AS ({_gen_sql(_N)}), d AS (
      SELECT instrument,
             CAST(price AS DECIMAL(18,6))
               - lag(CAST(price AS DECIMAL(18,6)), 1) OVER w AS d1,
             lag(CAST(price AS DECIMAL(18,6)), 1) OVER w
               - lag(CAST(price AS DECIMAL(18,6)), 2) OVER w AS d0
      FROM g WINDOW w AS (PARTITION BY instrument ORDER BY trade_seq)
    ), m AS (
      SELECT instrument,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(d1 AS DECIMAL(20,6)) * d0) AS DOUBLE) AS sxy,
             CAST(sum(d1) AS DOUBLE) AS sx,
             CAST(sum(d0) AS DOUBLE) AS sy
      FROM d WHERE d1 IS NOT NULL AND d0 IS NOT NULL
      GROUP BY instrument
    )
    SELECT instrument, n,
           round((sxy - sx * sy / n) / n, 6) AS serial_cov,
           round(CASE WHEN (sxy - sx * sy / n) / n < 0
                 THEN 2 * sqrt(-((sxy - sx * sy / n) / n))
                 ELSE 0.0 END, 6) AS roll_spread
    FROM m
    """,
)
def trade_roll_spread(spark, sf_dir):
    """Roll spread: two lags over the per-instrument tick sequence
    (bounded partitions — production would sub-key by session/day),
    DECIMAL-exact co-moments, one sqrt chain. sf_dir unused (the
    source is the connector's generator)."""
    from pyspark.sql import Window as W

    df = _trades(spark)
    p = F.col("price").cast("decimal(18,6)")
    w = W.partitionBy("instrument").orderBy("trade_seq")
    d = df.select(
        "instrument",
        (p - F.lag(p, 1).over(w)).alias("d1"),
        (F.lag(p, 1).over(w) - F.lag(p, 2).over(w)).alias("d0"),
    ).filter(F.col("d1").isNotNull() & F.col("d0").isNotNull())
    m = d.groupBy("instrument").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("d1") * F.col("d0")).cast("double").alias("sxy"),
        F.sum("d1").cast("double").alias("sx"),
        F.sum("d0").cast("double").alias("sy"),
    )
    cov = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / F.col("n")
    return m.select(
        "instrument",
        "n",
        F.round(cov, 6).alias("serial_cov"),
        F.round(
            F.when(cov < 0, 2 * F.sqrt(-cov)).otherwise(0.0), 6
        ).alias("roll_spread"),
    )


@query(
    "trade_kyle_lambda",
    # Kyle's lambda per instrument: OLS slope of price change on
    # signed volume (buy = +amount, sell = -amount, zero = 0) — the
    # price-impact coefficient. Exact DECIMAL moments, one slope chain.
    oracle=f"""
    WITH g AS ({_gen_sql(_N)}), d AS (
      SELECT instrument,
             CAST(price AS DECIMAL(18,6))
               - lag(CAST(price AS DECIMAL(18,6)), 1) OVER w AS dp,
             CASE direction WHEN 'buy' THEN CAST(amount AS DECIMAL(18,6))
                  WHEN 'sell' THEN -CAST(amount AS DECIMAL(18,6))
                  ELSE CAST(0 AS DECIMAL(18,6)) END AS sv
      FROM g WINDOW w AS (PARTITION BY instrument ORDER BY trade_seq)
    ), m AS (
      SELECT instrument,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(sv AS DECIMAL(20,6)) * dp) AS DOUBLE) AS sxy,
             CAST(sum(sv) AS DOUBLE) AS sx,
             CAST(sum(dp) AS DOUBLE) AS sy,
             CAST(sum(CAST(sv AS DECIMAL(20,6)) * sv) AS DOUBLE) AS sxx
      FROM d WHERE dp IS NOT NULL
      GROUP BY instrument
    )
    SELECT instrument, n,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
             AS kyle_lambda
    FROM m
    """,
)
def trade_kyle_lambda(spark, sf_dir):
    """Kyle lambda: one lag window + one DECIMAL-moments aggregate per
    instrument; the slope is a closed-form chain on exact sums."""
    from pyspark.sql import Window as W

    df = _trades(spark)
    p = F.col("price").cast("decimal(18,6)")
    am = F.col("amount").cast("decimal(18,6)")
    w = W.partitionBy("instrument").orderBy("trade_seq")
    d = df.select(
        "instrument",
        (p - F.lag(p, 1).over(w)).alias("dp"),
        F.when(F.col("direction") == "buy", am)
        .when(F.col("direction") == "sell", -am)
        .otherwise(F.lit(0).cast("decimal(18,6)"))
        .alias("sv"),
    ).filter(F.col("dp").isNotNull())
    m = d.groupBy("instrument").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("sv") * F.col("dp")).cast("double").alias("sxy"),
        F.sum("sv").cast("double").alias("sx"),
        F.sum("dp").cast("double").alias("sy"),
        F.sum(F.col("sv") * F.col("sv")).cast("double").alias("sxx"),
    )
    lam = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return m.select("instrument", "n", F.round(lam, 6).alias("kyle_lambda"))


@query(
    "trade_vpin_buckets",
    # VPIN-style volume buckets: cut each instrument's tape into
    # fixed-volume buckets (5000 units, by the exact DECIMAL running
    # volume BEFORE the trade), then per bucket the buy/sell volume
    # imbalance |B-S|/(B+S+Z). Micro-unit BIGINTs; one division.
    oracle=f"""
    WITH g AS ({_gen_sql(_N)}), c AS (
      SELECT instrument, direction,
             CAST(amount AS DECIMAL(18,6)) AS am,
             CAST(floor((sum(CAST(amount AS DECIMAL(18,6))) OVER w
                         - CAST(amount AS DECIMAL(18,6))) / 5000)
                  AS BIGINT) AS bucket
      FROM g WINDOW w AS (PARTITION BY instrument ORDER BY trade_seq)
    ), b AS (
      SELECT instrument, bucket,
             CAST(sum(CASE WHEN direction = 'buy' THEN am ELSE 0 END)
                  * 1000000 AS BIGINT) AS buy_micro,
             CAST(sum(CASE WHEN direction = 'sell' THEN am ELSE 0 END)
                  * 1000000 AS BIGINT) AS sell_micro,
             CAST(sum(am) * 1000000 AS BIGINT) AS vol_micro
      FROM c GROUP BY instrument, bucket
    )
    SELECT instrument, bucket, buy_micro, sell_micro,
           round(CAST(abs(buy_micro - sell_micro) AS DOUBLE)
                 / vol_micro, 6) AS vpin_bucket
    FROM b
    """,
)
def trade_vpin_buckets(spark, sf_dir):
    """VPIN buckets: the bucket id is an exact DECIMAL prefix-volume
    floor (window cumsum), then a plain keyed aggregate — bounded
    groups at any scale because the bucket size is fixed volume."""
    from pyspark.sql import Window as W

    df = _trades(spark)
    am = F.col("amount").cast("decimal(18,6)")
    w = (
        W.partitionBy("instrument")
        .orderBy("trade_seq")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    c = df.select(
        "instrument",
        "direction",
        am.alias("am"),
        F.floor((F.sum(am).over(w) - am) / 5000).cast("bigint").alias(
            "bucket"
        ),
    )
    b = c.groupBy("instrument", "bucket").agg(
        (
            F.sum(F.when(F.col("direction") == "buy", F.col("am")).otherwise(
                F.lit(0).cast("decimal(18,6)")
            ))
            * 1_000_000
        )
        .cast("bigint")
        .alias("buy_micro"),
        (
            F.sum(
                F.when(F.col("direction") == "sell", F.col("am")).otherwise(
                    F.lit(0).cast("decimal(18,6)")
                )
            )
            * 1_000_000
        )
        .cast("bigint")
        .alias("sell_micro"),
        (F.sum("am") * 1_000_000).cast("bigint").alias("vol_micro"),
    )
    return b.select(
        "instrument",
        "bucket",
        "buy_micro",
        "sell_micro",
        F.round(
            F.abs(F.col("buy_micro") - F.col("sell_micro")).cast("double")
            / F.col("vol_micro"),
            6,
        ).alias("vpin_bucket"),
    )
