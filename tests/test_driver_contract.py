"""Driver-contract tests under a HOSTILE session timezone.

The external driver supplies its own vanilla SparkSession; nothing
guarantees UTC. These tests run the contract surface in a sibling
session pinned to America/New_York and require results identical to
the engine session's — proving the runtime normalization in
tables.load_table (nanos conf, epoch math) is tz-independent rather
than accidentally-UTC."""

from __future__ import annotations

import pytest

from kafka_stream_aggregator_spark.queries import REGISTRY
from kafka_stream_aggregator_spark.tables import load_table

# time-sensitive queries: event-time windows, sessionization, as-of;
# round-12 adds the SQL-string conversions carrying TIMESTAMP literals
# (parsed in session-local TZ — load_table's UTC pin must fire first)
TZ_SENSITIVE = [
    "ewma_5min", "sessionize_gap", "join_asof", "ind_ohlc_5min",
    "q1_pricing_summary", "q3_revenue_topk", "q5_regional_revenue",
    # ADVICE r12: join_inner_large groups by year(o_orderdate) —
    # session-TZ-dependent unless load_table's date handling is sound
    "join_inner_large",
]


@pytest.fixture(scope="module")
def hostile(spark):
    s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "America/New_York")
    return s


def test_entry_runs_under_hostile_tz(hostile):
    import __spark_entry__ as e

    df = e.entry(hostile)
    rows = df.collect()
    assert len(rows) >= 0
    assert [f.name for f in df.schema.fields] == [
        "event_type", "window_start", "window_end", "n_rows", "ewma",
    ]


@pytest.mark.parametrize("name", TZ_SENSITIVE)
def test_time_queries_tz_independent(spark, hostile, sf_dir, name):
    fn = REGISTRY[name].fn
    utc_rows = sorted(map(tuple, fn(spark, sf_dir).collect()))
    ny_rows = sorted(map(tuple, fn(hostile, sf_dir).collect()))
    assert utc_rows == ny_rows, f"{name} differs under America/New_York"


def test_events_epoch_math_tz_independent(spark, hostile, sf_dir):
    a = (
        load_table(spark, sf_dir, "events")
        .selectExpr("sum(cast(ts as double)) s", "count(*) n")
        .collect()[0]
    )
    b = (
        load_table(hostile, sf_dir, "events")
        .selectExpr("sum(cast(ts as double)) s", "count(*) n")
        .collect()[0]
    )
    assert a["n"] == b["n"] and abs(a["s"] - b["s"]) < 1e-6
