"""Indicator expressions — the reference's one aggregate, generalized.

Reference parity (SURVEY.md S1-S5):
  * alpha = 2 / (period_minutes*60 + 1)    (indicators.rs:17, main.rs:111)
  * zero-seeded, per-window fold: current = alpha*x + (1-alpha)*current,
    starting from 0.0, state never crosses windows (indicators.rs:19-26,
    main.rs:113-116)
  * windows whose EWMA <= 0 emit nothing (main.rs:118)
  * fold order: reference uses Kafka arrival order (nondeterministic);
    we define it over ascending (order_cols) — documented divergence S5.

`windowed_ewma` is the one definition of "tumbling-window EWMA, filtered
to > 0" — the flagship batch query, the streaming pipeline and the trade
pipeline all build on it. On a stream it runs the fold
(`ewma_fold(ordered_values(...))`); on a batch DataFrame it runs the
fold's reverse-rank closed form. `windowed_ewma_two_level` is the one
two-level builder, batch or streaming: it folds `F.window` sub-windows
and recombines them into the period window with `combine_segments`.
`cumulative_ewma_col` is the cross-window variant.

Everything here except `holt_smoothing` is a pure Catalyst expression
(higher-order functions, window functions) — no UDFs, so the work stays
inside whole-stage codegen and each groupBy is a normal partial+final
shuffle aggregate.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def ewma_alpha(period_minutes: int) -> float:
    """alpha = 2/(n+1) with n = period_minutes*60 (indicators.rs:17)."""
    return 2.0 / (period_minutes * 60 + 1)


def ewma_fold(values: Column, alpha: float, seed: float = 0.0) -> Column:
    """Fold an array<double> in element order: a*x + (1-a)*acc, seed 0.0."""
    a = float(alpha)
    return F.aggregate(
        values,
        F.lit(float(seed)),
        lambda acc, x: F.lit(a) * x + F.lit(1.0 - a) * acc,
    )


def ordered_values(
    value: Column | str, order_cols: Sequence[Column | str]
) -> Column:
    """Aggregate expression: values of `value` sorted by `order_cols`.

    collect_list(struct(order..., value)) -> array_sort -> project value.
    array_sort on structs orders lexicographically by field position, which
    is exactly the (timestamp, seq) ordering S5 requires. Deterministic
    regardless of partitioning — safe under shuffles.
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    v = F.col(value) if isinstance(value, str) else value
    fields = [c.alias(f"o{i}") for i, c in enumerate(cols)] + [v.alias("v")]
    return F.transform(
        F.array_sort(F.collect_list(F.struct(*fields))), lambda s: s["v"]
    )


def sma_fold(values: Column) -> Column:
    """Simple moving average of an array<double> (companion indicator)."""
    n = F.size(values)
    return F.when(n > 0, F.aggregate(values, F.lit(0.0), lambda a, x: a + x) / n)


def windowed_ewma(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    order_cols: Sequence[str] = ("ts", "event_id"),
    group_cols: Sequence[str] = (),
    period_minutes: int = 5,
    emit_positive_only: bool = True,
) -> DataFrame:
    """The reference pipeline's aggregation (R7+R8+R9), batch or streaming.

    Tumbling `period_minutes` windows keyed by ``F.window(ts_col)`` —
    epoch-aligned, time-zone independent, valid under a watermark; per
    window (and optional extra group columns) the zero-seeded EWMA in
    (order_cols) order; windows with ewma<=0 suppressed (S4). Rows
    with a null ts_col fall in no window.

    Output: group_cols..., window_start, window_end (epoch seconds,
    BIGINT — cross-engine-stable), n_rows, ewma.

    The aggregate follows ``df.isStreaming``:

    * streaming — the ``ewma_fold(ordered_values(...))`` fold: the state
      store keeps one partial collect_list per open window, and the
      caller's watermark bounds the open windows. ``row_number`` cannot
      run inside a streaming aggregation.
    * batch — the fold's closed form
          ewma = sum_i alpha * (1-alpha)^(n-i) * x_i     (i = 1..n in order)
      as window-rank + one codegen'd sum: no per-window arrays, one
      Exchange shared by the rank window and the groupBy. The exponent
      n - i is the row's rank in the REVERSED order minus one, so one
      descending row_number gives it, and (1-alpha)^(n-i) stays in
      [0, 1] at any n. The rank is by (order_cols..., value) DESC, the
      exact mirror of the fold's array_sort key, so rows tied on
      order_cols take the positions the fold gives them and the result
      is deterministic. It equals the fold up to floating-point
      rounding (the terms associate differently), not bit for bit. A
      null value is skipped by the sum, where it nulls the fold.
    """
    from pyspark.sql import Window as W

    alpha = ewma_alpha(period_minutes)
    win = F.window(F.col(ts_col), f"{period_minutes} minutes").alias("win")
    if df.isStreaming:
        grouped = df.groupBy(win, *group_cols)
        ewma = ewma_fold(ordered_values(value_col, list(order_cols)), alpha)
    else:
        rank_desc = [F.desc(c) for c in (*order_cols, value_col)]
        rev_rn = F.row_number().over(
            W.partitionBy(*group_cols, "win").orderBy(*rank_desc)
        )
        term = (
            F.lit(alpha)
            * F.pow(F.lit(1.0 - alpha), (rev_rn - 1).cast("double"))
            * F.col(value_col)
        )
        grouped = (
            df.withColumn("win", win)
            .withColumn("__term", term)
            .groupBy("win", *group_cols)
        )
        ewma = F.sum("__term")
    out = grouped.agg(F.count(F.lit(1)).alias("n_rows"), ewma.alias("ewma")).select(
        *group_cols,
        F.unix_timestamp("win.start").alias("window_start"),
        F.unix_timestamp("win.end").alias("window_end"),
        "n_rows",
        "ewma",
    )
    if emit_positive_only:
        out = out.filter(F.col("ewma") > 0.0)  # R9, main.rs:118
    return out


def combine_segments(seg_key: Column, alpha: float) -> Column:
    """Aggregate expression: one window's EWMA from its segments' partials.

    Each input row is one ordered segment of the window: ``__n`` rows
    whose zero-seeded fold is ``__s``. The fold composes over segments,
        S(c1 ++ c2) = S(c2) + lam^n2 * S(c1),     lam = 1 - alpha,
    so folding the partials in ``seg_key`` order gives struct(s, n): the
    window's EWMA and row count.
    """
    lam = 1.0 - alpha
    segs = F.array_sort(
        F.collect_list(F.struct(seg_key, F.col("__n"), F.col("__s")))
    )
    return F.aggregate(
        segs,
        F.named_struct(F.lit("s"), F.lit(0.0), F.lit("n"), F.lit(0).cast("long")),
        lambda acc, x: F.named_struct(
            F.lit("s"),
            x["__s"] + F.pow(F.lit(lam), x["__n"]) * acc["s"],
            F.lit("n"),
            acc["n"] + x["__n"],
        ),
    )


def cumulative_ewma_col(
    value_col: str,
    alpha: float,
    partition_by: Sequence[str],
    order_by: Sequence[str],
) -> Column:
    """Continuous (cross-row) zero-seeded EWMA as a pure window expression.

    Closed form S_i = alpha * lam^i * sum_j(x_j * lam^-j) over a running
    window — one shuffle, JVM-side, no python. lam^-i overflows a double
    once i > 709.78 / ln(1/(1-alpha)) rows per key — 106,466 at
    ewma_alpha(5) = 2/301, but 21,291 at ewma_alpha(1) = 2/61 (ind_macd's
    fast line) — and the result turns Infinity, then NaN. So this is the
    fast path for bounded rows per key; for unbounded keys use the
    streaming stateful fold ``streaming.stateful.continuous_ewma``, O(1)
    state per key.
    """
    from pyspark.sql import Window as W

    a = float(alpha)
    lam = 1.0 - a
    w_rank = W.partitionBy(*partition_by).orderBy(*order_by)
    w_run = w_rank.rowsBetween(W.unboundedPreceding, W.currentRow)
    rn = F.row_number().over(w_rank).cast("double")
    scaled = F.col(value_col) * F.pow(F.lit(lam), -rn)
    return F.lit(a) * F.pow(F.lit(lam), rn) * F.sum(scaled).over(w_run)


def windowed_ewma_two_level(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    order_cols: Sequence[str] = ("ts", "event_id"),
    group_cols: Sequence[str] = (),
    period_minutes: int = 5,
    sub_window: str = "30 seconds",
    emit_positive_only: bool = True,
) -> DataFrame:
    """windowed_ewma for windows too large to collect on one reducer,
    batch or streaming.

    Folds per (``sub_window``, group) first — bounded arrays, map-side
    partials — then re-windows the partials by ``window_time`` into
    ``period_minutes`` windows and combines them (n, S) in sub-window
    order with ``combine_segments``. Both levels are ``F.window``, so on
    a watermarked stream this is two chained stateful aggregations
    (Spark >= 3.5) whose state holds sub-window partials, never a whole
    window's rows. Same output columns as windowed_ewma, and the same
    values up to rounding: the composition regroups the fold's
    arithmetic. ``sub_window`` must divide the period.
    """
    alpha = ewma_alpha(period_minutes)
    partials = df.groupBy(
        F.window(F.col(ts_col), sub_window).alias("subwin"), *group_cols
    ).agg(
        F.count(F.lit(1)).alias("__n"),
        ewma_fold(ordered_values(value_col, list(order_cols)), alpha).alias("__s"),
    )
    out = (
        partials.withColumn("substart", F.col("subwin.start"))
        .groupBy(
            F.window(F.window_time("subwin"), f"{period_minutes} minutes").alias(
                "win"
            ),
            *group_cols,
        )
        .agg(combine_segments(F.col("substart"), alpha).alias("__c"))
        .select(
            *group_cols,
            F.unix_timestamp("win.start").alias("window_start"),
            F.unix_timestamp("win.end").alias("window_end"),
            F.col("__c.n").alias("n_rows"),
            F.col("__c.s").alias("ewma"),
        )
    )
    if emit_positive_only:
        out = out.filter(F.col("ewma") > 0.0)
    return out


def holt_smoothing(
    df: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    order_cols: Sequence[str],
    alpha: float = 0.3,
    beta: float = 0.1,
) -> DataFrame:
    """Holt double-exponential smoothing (level + trend) per key —
    the next indicator tier above the reference's single EWMA (S1/S2):

        l_t = alpha*x_t + (1-alpha)*(l_{t-1} + b_{t-1})
        b_t = beta*(l_t - l_{t-1}) + (1-beta)*b_{t-1}

    seeded l_1 = x_1, b_1 = 0. The coupled recurrence has no
    rank-indexed closed form (unlike plain EWMA, see windowed_ewma),
    so each key's series folds sequentially in an Arrow-batched
    ``applyInPandas`` — the standard per-entity time-series shape: one
    shuffle on the key, each task owns whole series. Emits the final
    (level, trend, one-step forecast, n_rows) per key.

    The Python fold writes the arithmetic in EXACTLY the oracle's
    expression order (both are IEEE doubles, so same ops in same order
    = bit-identical results), which is what lets a sequential stateful
    fold be DuckDB-oracled via a recursive CTE (ind_holt_trend).
    """
    import pandas as pd
    from pyspark.sql import types as T

    keys = list(key_cols)
    # key columns keep their INPUT types (coercing keys to string breaks
    # join-back on bigint keys — same rule as streaming.stateful)
    in_types = {f.name: f.dataType for f in df.schema.fields}
    out_schema = T.StructType(
        [
            *[T.StructField(k, in_types[k]) for k in keys],
            T.StructField("n_rows", T.LongType()),
            T.StructField("level", T.DoubleType()),
            T.StructField("trend", T.DoubleType()),
            T.StructField("forecast_1", T.DoubleType()),
        ]
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(list(order_cols), kind="mergesort")
        xs = pdf[value_col].to_numpy()
        l = float(xs[0])
        b = 0.0
        for x in xs[1:]:
            l_new = alpha * float(x) + (1.0 - alpha) * (l + b)
            b = beta * (l_new - l) + (1.0 - beta) * b
            l = l_new
        head = pdf.iloc[0]
        return pd.DataFrame(
            [[*(head[k] for k in keys), len(xs), l, b, l + b]],
            columns=[*keys, "n_rows", "level", "trend", "forecast_1"],
        )

    return df.groupBy(*keys).applyInPandas(fold, schema=out_schema)
