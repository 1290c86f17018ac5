"""Window-function inventory (SURVEY.md §2.B "Window functions").

Window specs always carry a full deterministic ORDER BY (unique tiebreak
columns) so both engines rank identically. Rank/dense_rank order only by
the semantic key (ties collapse the same way in both engines).

Scale note: every window here partitions by a key (suppkey/custkey/
user_id) — one shuffle, then per-partition sort; no global-order windows
(those single-task at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..indicators import cumulative_ewma_col, ewma_alpha, ewma_fold
from .base import query, t


@query(
    "win_rank_suite",
    bench=True,
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           row_number() OVER (PARTITION BY l_suppkey
                              ORDER BY l_shipdate, l_orderkey, l_linenumber,
                                       l_quantity, l_extendedprice) AS rn,
           rank()       OVER (PARTITION BY l_suppkey ORDER BY l_quantity) AS rk,
           dense_rank() OVER (PARTITION BY l_suppkey ORDER BY l_quantity) AS drk
    FROM lineitem
    """,
)
def win_rank_suite(spark, sf_dir):
    # duplicate (orderkey, linenumber) rows exist in the synthetic data —
    # the value columns complete the total order so rn is deterministic.
    # Round-13 (guide §1): SQL-string twin of the Column builder — one
    # JVM parse instead of ~0.1 s of py4j round trips per call; plan
    # identical modulo expression IDs (plans/r13/, tools/plan_normalize).
    # The two Sorts are fundamental: rn orders by the full shipdate-led
    # key, rank/dense_rank by quantity — no shared total order exists
    # (see OPTIMIZATION_r13.md for the fusion attempt + measurement).
    l = t(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT l_suppkey, l_orderkey, l_linenumber,
               row_number() OVER (PARTITION BY l_suppkey
                                  ORDER BY l_shipdate, l_orderkey,
                                           l_linenumber, l_quantity,
                                           l_extendedprice) AS rn,
               rank()       OVER w_qty AS rk,
               dense_rank() OVER w_qty AS drk
        FROM {l}
        WINDOW w_qty AS (PARTITION BY l_suppkey ORDER BY l_quantity)
        """,
        l=l,
    )


@query(
    "win_ntile_pct",
    oracle="""
    SELECT o_orderkey,
           ntile(4)       OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist()    OVER w, 6) AS cdist
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
)
def win_ntile_pct(spark, sf_dir):
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
    )


@query(
    "win_lag_lead",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(lag(o_totalprice)     OVER w, 6) AS prev_total,
           round(lead(o_totalprice)    OVER w, 6) AS next_total,
           round(lag(o_totalprice, 2, -1.0) OVER w, 6) AS prev2_total
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def win_lag_lead(spark, sf_dir):
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.lag("o_totalprice").over(w), 6).alias("prev_total"),
        F.round(F.lead("o_totalprice").over(w), 6).alias("next_total"),
        F.round(F.lag("o_totalprice", 2, -1.0).over(w), 6).alias("prev2_total"),
    )


@query(
    "win_running_sum",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           round(sum(l_quantity) OVER (PARTITION BY l_suppkey
                 ORDER BY l_shipdate, l_orderkey, l_linenumber,
                          l_quantity, l_extendedprice
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_qty
    FROM lineitem
    """,
)
def win_running_sum(spark, sf_dir):
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic lineitem
    # (duplicate rows exist) — the value columns join the ORDER BY so any
    # residual ties carry identical quantities and the cumulative is
    # engine-order-independent.
    w = (
        W.partitionBy("l_suppkey")
        .orderBy(
            "l_shipdate", "l_orderkey", "l_linenumber",
            "l_quantity", "l_extendedprice",
        )
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return t(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.round(F.sum("l_quantity").over(w), 2).alias("run_qty"),
    )


@query(
    "win_moving_avg",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           round(avg(l_extendedprice) OVER (PARTITION BY l_suppkey
                 ORDER BY l_shipdate, l_orderkey, l_linenumber,
                          l_extendedprice, l_quantity
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS ma4_price
    FROM lineitem
    """,
)
def win_moving_avg(spark, sf_dir):
    w = (
        W.partitionBy("l_suppkey")
        .orderBy(
            "l_shipdate", "l_orderkey", "l_linenumber",
            "l_extendedprice", "l_quantity",
        )
        .rowsBetween(-3, W.currentRow)
    )
    return t(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.round(F.avg("l_extendedprice").over(w), 6).alias("ma4_price"),
    )


@query(
    "win_range_frame",
    bench=True,
    oracle="""
    SELECT event_id,
           round(sum(value) OVER (PARTITION BY user_id
                 ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                 RANGE BETWEEN 600 PRECEDING AND CURRENT ROW), 6) AS sum_10min,
           count(*) OVER (PARTITION BY user_id
                 ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                 RANGE BETWEEN 600 PRECEDING AND CURRENT ROW) AS n_10min
    FROM events
    """,
)
def win_range_frame(spark, sf_dir):
    # Round-13 (guide §1): SQL-string twin — one JVM parse; plan
    # identical modulo expression IDs (plans/r13/).
    e = t(spark, sf_dir, "events")
    return spark.sql(
        """
        SELECT event_id,
               round(sum(value) OVER w, 6) AS sum_10min,
               count(1) OVER w AS n_10min
        FROM (SELECT event_id, user_id, value,
                     unix_timestamp(ts) AS ts_sec FROM {e})
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec
                     RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)
        """,
        e=e,
    )


@query(
    "win_first_last_value",
    oracle="""
    SELECT o_orderkey,
           round(first_value(o_totalprice) OVER w, 6) AS first_total,
           round(last_value(o_totalprice)  OVER w, 6) AS last_total,
           round(nth_value(o_totalprice, 2) OVER w, 6) AS second_total
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def win_first_last_value(spark, sf_dir):
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.first("o_totalprice").over(w), 6).alias("first_total"),
        F.round(F.last("o_totalprice").over(w), 6).alias("last_total"),
        F.round(F.nth_value("o_totalprice", 2).over(w), 6).alias("second_total"),
    )


@query(
    "win_topk_per_group",
    oracle="""
    SELECT * FROM (
      SELECT o_custkey, o_orderkey,
             round(o_totalprice, 6) AS total,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def win_topk_per_group(spark, sf_dir):
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        t(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 6).alias("total"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@query(
    "win_cumulative_ewma",
    bench=True,
    # Continuous per-user EWMA (the cross-window variant the reference does
    # not compute — SURVEY.md §2.B "per-group cumulative EWMA"). Spark folds
    # the actual recurrence; the oracle uses the closed form
    # S_i = a * sum_j x_j (1-a)^(i-j), equal to ~1e-12.
    oracle=f"""
    WITH r AS (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    )
    SELECT user_id, event_id,
           round({ewma_alpha(5)} * pow(1.0 - {ewma_alpha(5)}, rn)
                 * sum(value * pow(1.0 - {ewma_alpha(5)}, -rn))
                   OVER (PARTITION BY user_id ORDER BY rn
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
             AS ewma
    FROM r
    """,
)
def win_cumulative_ewma(spark, sf_dir):
    """Continuous per-key EWMA via the JVM closed-form window expression
    (indicators.cumulative_ewma_col) — one shuffle, codegen'd, no python.
    Safe while no key holds more than 709.78 / ln(1/(1-alpha)) rows,
    the lam^-i overflow bound: 106,466 at this query's alpha(5);
    beyond that the engine's grouped-map fold / stateful streaming op are
    the unbounded-scale paths (see indicators.cumulative_ewma_col)."""
    # Round-13 (guide §1): SQL-string twin of cumulative_ewma_col for
    # this fixed shape (the Column helper stays the generic surface).
    # One JVM parse; and the CTE carries rn into the outer query, so
    # the plan computes row_number ONCE — the Column form's nested
    # window expression made Spark evaluate row_number in BOTH Window
    # nodes (see plans/r13/win_cumulative_ewma_{before,after}.txt;
    # value-identical, row_number is deterministic on the unique
    # (ts, event_id) order).
    a = ewma_alpha(5)
    lam = 1.0 - a
    e = t(spark, sf_dir, "events")
    return spark.sql(
        f"""
        WITH r AS (
          SELECT user_id, event_id, ts, value,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS rn
          FROM {{e}}
        )
        SELECT user_id, event_id,
               round({a!r} * pow({lam!r}, CAST(rn AS DOUBLE)) *
                     sum(value * pow({lam!r}, -CAST(rn AS DOUBLE)))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW), 6) AS ewma
        FROM r
        """,
        e=e,
    )


@query(
    "win_gap_islands",
    # Gaps-and-islands: consecutive runs ("streaks") of high-value
    # events per user via the rn - rn_flagged difference trick — the
    # canonical window-function composition for streak/run analysis.
    oracle="""
    WITH f AS (
      SELECT user_id, ts, event_id, value,
             (value > 50) AS hot,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             row_number() OVER (PARTITION BY user_id, (value > 50)
                                ORDER BY ts, event_id) AS rn_f
      FROM events WHERE user_id < 300
    ), isl AS (
      SELECT user_id, rn - rn_f AS island, count(*) AS len
      FROM f WHERE hot GROUP BY user_id, rn - rn_f
    )
    SELECT user_id,
           count(*) AS n_streaks,
           max(len) AS longest,
           CAST(sum(len) AS BIGINT) AS hot_rows
    FROM isl GROUP BY user_id
    """,
)
def win_gap_islands(spark, sf_dir):
    """Two window passes over the SAME (user_id) partitioning — the
    second adds the flag to the partition key, so no extra shuffle
    (both exchanges hash on user_id; Catalyst reuses the partitioning,
    asserted by the single-Exchange plan check in tests)."""
    e = t(spark, sf_dir, "events").filter(F.col("user_id") < 300)
    hot = (F.col("value") > 50).alias("hot")
    w_all = W.partitionBy("user_id").orderBy("ts", "event_id")
    w_flag = W.partitionBy("user_id", "hot").orderBy("ts", "event_id")
    f = e.select(
        "user_id", "ts", "event_id", "value", hot
    ).select(
        "user_id",
        "hot",
        F.row_number().over(w_all).alias("rn"),
        F.row_number().over(w_flag).alias("rn_f"),
    )
    isl = (
        f.filter("hot")
        .groupBy("user_id", (F.col("rn") - F.col("rn_f")).alias("island"))
        .agg(F.count(F.lit(1)).alias("len"))
    )
    return isl.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("len").alias("longest"),
        F.sum("len").cast("long").alias("hot_rows"),
    )


@query(
    "win_moving_median",
    # Rolling median (robust moving location estimate) + rolling IQR
    # over a 50-row trailing frame; both sides use the same continuous
    # (linear-interpolation) quantile definition.
    oracle="""
    SELECT user_id, event_id,
           round(median(value) OVER w, 6) AS med50,
           round(quantile_cont(value, 0.75) OVER w
                 - quantile_cont(value, 0.25) OVER w, 6) AS iqr50
    FROM events WHERE user_id < 150
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)
    """,
)
def win_moving_median(spark, sf_dir):
    """Rolling median/IQR — the robust twin of win_moving_avg. Spark
    forbids median()/percentile() over a framed window, so the frame is
    materialized with collect_list (bounded: <= 50 values/row) and the
    continuous quantile interpolated from the sorted array — identical
    semantics to DuckDB's quantile_cont, pure Catalyst expressions."""

    def q_cont(sorted_arr, p):
        n = F.size(sorted_arr)
        pos = (n - 1) * F.lit(p) + 1  # 1-based fractional rank
        lo = F.floor(pos).cast("int")
        frac = pos - lo
        lo_v = F.element_at(sorted_arr, lo)
        hi_v = F.element_at(sorted_arr, F.least(lo + 1, n))
        return lo_v + frac * (hi_v - lo_v)

    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-49, W.currentRow)
    )
    e = t(spark, sf_dir, "events").filter(F.col("user_id") < 150)
    frame = F.sort_array(F.collect_list("value").over(w))
    d = e.select("user_id", "event_id", frame.alias("fr"))
    return d.select(
        "user_id",
        "event_id",
        F.round(q_cont(F.col("fr"), 0.5), 6).alias("med50"),
        F.round(
            q_cont(F.col("fr"), 0.75) - q_cont(F.col("fr"), 0.25), 6
        ).alias("iqr50"),
    )
