"""Reference-parity unit tests for the EWMA fold (SURVEY.md S1-S5 quirks),
checked against a NumPy reimplementation of the reference semantics
(services/kstream-agg-rs/src/bin/agg-producer/indicators.rs:14-26)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from kafka_stream_aggregator_spark.indicators import (
    ewma_alpha,
    ewma_fold,
    ordered_values,
    sma_fold,
    windowed_ewma,
)


def ref_ewma(values, alpha):
    """indicators.rs:19-26: zero seed, arrival-order fold."""
    cur = 0.0
    for x in values:
        cur = alpha * x + (1.0 - alpha) * cur
    return cur


def test_alpha_formula_s1():
    # S1: alpha = 2/(period_minutes*60 + 1); period=5 -> 2/301
    assert ewma_alpha(5) == pytest.approx(2.0 / 301.0)
    assert ewma_alpha(1) == pytest.approx(2.0 / 61.0)


def test_fold_matches_reference_semantics(spark):
    rng = np.random.default_rng(42)
    vals = rng.uniform(1, 200, size=50).tolist()
    alpha = ewma_alpha(5)
    df = spark.createDataFrame([(vals,)], "v array<double>")
    got = df.select(ewma_fold(F.col("v"), alpha).alias("e")).first()["e"]
    assert got == pytest.approx(ref_ewma(vals, alpha), rel=1e-12)


def test_zero_seed_bias_s2(spark):
    # single-element window: ewma = alpha * x, NOT x (zero seed)
    alpha = ewma_alpha(5)
    df = spark.createDataFrame([([100.0],)], "v array<double>")
    got = df.select(ewma_fold(F.col("v"), alpha).alias("e")).first()["e"]
    assert got == pytest.approx(alpha * 100.0)


def test_fold_order_s5(spark):
    # ordered_values sorts by (ts, seq): shuffled input, same result
    alpha = ewma_alpha(5)
    rows = [(3, 1, 30.0), (1, 1, 10.0), (2, 1, 20.0)]
    df = spark.createDataFrame(rows, "ts long, seq long, price double")
    got = (
        df.groupBy()
        .agg(ewma_fold(ordered_values("price", ["ts", "seq"]), alpha).alias("e"))
        .first()["e"]
    )
    assert got == pytest.approx(ref_ewma([10.0, 20.0, 30.0], alpha), rel=1e-12)


def test_emit_positive_only_s4(spark):
    # windows whose ewma <= 0 are suppressed (main.rs:118)
    rows = [
        (0, "2024-01-01 00:00:10", -5.0),
        (1, "2024-01-01 00:07:00", 7.0),
    ]
    df = spark.createDataFrame(rows, "event_id long, ts string, value double").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = windowed_ewma(df, period_minutes=5).collect()
    assert len(out) == 1 and out[0]["ewma"] > 0


def test_sma_fold(spark):
    df = spark.createDataFrame([([2.0, 4.0, 6.0],)], "v array<double>")
    assert df.select(sma_fold(F.col("v")).alias("s")).first()["s"] == pytest.approx(4.0)


def test_windowed_ewma_window_boundaries(spark):
    # events 299s and 301s after epoch-minute 0 land in different 5-min windows
    rows = [(0, "2024-01-01 00:04:59", 10.0), (1, "2024-01-01 00:05:01", 20.0)]
    df = spark.createDataFrame(rows, "event_id long, ts string, value double").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = {r["window_start"]: r for r in windowed_ewma(df, period_minutes=5).collect()}
    assert len(out) == 2
    starts = sorted(out)
    assert starts[1] - starts[0] == 300
    a = ewma_alpha(5)
    assert out[starts[0]]["ewma"] == pytest.approx(a * 10.0)
    assert out[starts[1]]["ewma"] == pytest.approx(a * 20.0)


def _fold_per_window(df, group_cols, order_cols, period_minutes=5):
    """The streaming aggregate run on a batch DataFrame: the
    ordered_values fold per F.window window."""
    alpha = ewma_alpha(period_minutes)
    return df.groupBy(
        F.window("ts", f"{period_minutes} minutes").alias("win"), *group_cols
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        ewma_fold(ordered_values("value", list(order_cols)), alpha).alias("ewma"),
    ).select(
        *group_cols,
        F.unix_timestamp("win.start").alias("window_start"),
        "n_rows",
        "ewma",
    )


def test_closed_form_equals_fold(spark, sf_dir):
    """Batch windowed_ewma (the reverse-rank closed form) == the fold it
    runs on a stream, at 6 decimals on the full events table (every
    group/window, non-positive windows dropped on both sides)."""
    from kafka_stream_aggregator_spark.tables import load_table

    e = load_table(spark, sf_dir, "events")
    a = _fold_per_window(e, ["event_type"], ["ts", "event_id"]).filter("ewma > 0")
    b = windowed_ewma(e, group_cols=("event_type",), period_minutes=5).select(
        "event_type", "window_start", "n_rows", "ewma"
    )
    a, b = (
        x.withColumn("ewma", F.round("ewma", 6)) for x in (a, b)
    )
    assert a.count() == b.count() > 0
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_tied_order_keys_take_the_fold_value(spark):
    """Two rows sharing (ts, event_id): the batch rank breaks the tie on
    value exactly as the fold's array_sort does, so windowed_ewma gives
    the fold's value whichever row comes first (the other order would
    differ by alpha^2 x 99)."""
    tied = [(7, "2024-01-01 00:01:00", 100.0), (7, "2024-01-01 00:01:00", 1.0)]
    want = ref_ewma([5.0, 1.0, 100.0], ewma_alpha(5))
    for rows in (tied, tied[::-1]):
        df = spark.createDataFrame(
            [(3, "2024-01-01 00:00:30", 5.0), *rows],
            "event_id long, ts string, value double",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        got = windowed_ewma(df, period_minutes=5).first()["ewma"]
        fold = _fold_per_window(df, [], ["ts", "event_id"]).first()["ewma"]
        assert got == pytest.approx(want, rel=1e-12)
        assert got == pytest.approx(fold, rel=1e-12)


def test_holt_preserves_key_types(spark):
    """Regression (review finding): group-key columns must keep their
    input types, not be coerced to string."""
    from pyspark.sql import types as T

    from kafka_stream_aggregator_spark.indicators import holt_smoothing

    df = spark.createDataFrame(
        [(1, 0, 1.0), (1, 1, 2.0), (2, 0, 3.0)],
        "uid long, seq long, value double",
    )
    out = holt_smoothing(df, ["uid"], "value", ["seq"])
    assert isinstance(out.schema["uid"].dataType, T.LongType)
    got = {r["uid"]: r["n_rows"] for r in out.collect()}
    assert got == {1: 2, 2: 1}
