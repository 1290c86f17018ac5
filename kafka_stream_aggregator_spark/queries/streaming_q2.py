"""Streaming queries over the CUSTOM Python streaming source
(sources/pydatasource.py TradeGenStreamReader), plus stream_dau_mau.

``_drain_tradegen`` is the one drain for the tradegen stream: 2000
rows in 5 uneven micro-batches into a complete-mode memory table,
stopped on the committed offset. stream_pydatasource_counts counts per
instrument; stream_tick_imbalance and stream_dau_mau run their batch
twins' definitions (``trading.tick_counts`` / ``tick_imbalance``,
``analytics24.active_days`` / ``stickiness``) as
``finisher(drain(state(stream)))``.

Equivalence argument (the stream_cms/hll/kmv/burst/bitmap family):
counts per instrument are order- and batching-independent, and the
generator's row set is fixed, so the drained state equals the batch
generator aggregate EXACTLY — the oracle replays the generator with
generate_series + md5, which therefore verifies the STREAMING
connector end to end (offsets, prefetch, micro-batch planning).
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import functions as F

from ..sketches import U64_SQL_TEMPLATE as U64
from .analytics24 import STICKINESS_SQL, active_days, stickiness
from .base import query
from .streaming_q import _events_stream, _run_to_df

_N = 2000
_BATCH = 450  # deliberately not a divisor of _N: 5 uneven batches


def _u(field: str) -> str:
    return U64.format(expr=f"('7:' || CAST(i AS VARCHAR) || ':{field}')")


def _drain_tradegen(spark, state):
    """Run ``state`` over the custom Python source's stream (2000 rows
    in 5 uneven micro-batches of 450) into a complete-mode memory table.
    The loop polls the query's committed offset and stops WHEN STATE
    says all rows are served — bounded, deterministic, no
    sleep-and-hope. Idle-progress events gate the exit, so the 10 s
    default interval between them is cut to 500 ms for this query and
    the session's own value restored after it."""
    import ast

    from ..sources import register

    register(spark)
    s = (
        spark.readStream.format("tradegen")
        .option("n_rows", _N)
        .option("batch_rows", _BATCH)
        .option("seed", 7)
        .load()
    )
    key = "spark.sql.streaming.noDataProgressEventInterval"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "500")
    name = "q_" + uuid.uuid4().hex[:12]
    try:
        q = (
            state(s).writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            deadline = time.time() + 300
            while time.time() < deadline:
                p = q.lastProgress
                if p and p["sources"]:
                    end = p["sources"][0].get("endOffset")
                    if isinstance(end, str):
                        # the simple reader's dict offset round-trips as its
                        # Python repr (single quotes) — not JSON
                        end = ast.literal_eval(end)
                    if (
                        end
                        and int(end.get("i", 0)) >= _N
                        and p["numInputRows"] == 0
                    ):
                        # an empty batch after the final offset means the
                        # last data batch committed its sink write
                        break
                time.sleep(0.2)
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    return spark.table(name)


@query(
    "stream_pydatasource_counts",
    oracle=f"""
    WITH g AS (
      SELECT
        ['BTC-OPT-A','BTC-OPT-B','ETH-OPT-A','ETH-OPT-B'][({_u('i')} % 4) + 1]
          AS instrument,
        ['buy','sell','zero'][({_u('d')} % 3) + 1] AS direction
      FROM generate_series(0, {_N - 1}) t(i)
    )
    SELECT instrument,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count_if(direction = 'buy') AS BIGINT) AS buys
    FROM g GROUP BY instrument
    """,
)
def stream_pydatasource_counts(spark, sf_dir):
    """Streaming scan of the custom Python source in 5 uneven
    micro-batches, complete-mode count per instrument, drained by
    ``_drain_tradegen``. sf_dir unused (generator source)."""
    return _drain_tradegen(
        spark,
        lambda s: s.groupBy("instrument").agg(
            F.count("*").cast("bigint").alias("n"),
            F.count_if(F.col("direction") == "buy").cast("bigint").alias("buys"),
        ),
    )


@query(
    "stream_tick_imbalance",
    # SEVENTH exactly-oracled streaming op: the reference-domain tick
    # imbalance (trade_tick_imbalance's 500-seq buckets) computed over
    # the STREAMING connector. Counts per (instrument, bucket) are
    # order- and batching-independent and the generator's row set is
    # fixed, so the drained complete-mode state equals the batch
    # aggregate EXACTLY — the oracle replays the generator, verifying
    # offsets/micro-batch planning AND the indicator end to end.
    oracle=f"""
    WITH g AS (
      SELECT i AS trade_seq,
        ['BTC-OPT-A','BTC-OPT-B','ETH-OPT-A','ETH-OPT-B'][({_u('i')} % 4) + 1]
          AS instrument,
        ['buy','sell','zero'][({_u('d')} % 3) + 1] AS direction
      FROM generate_series(0, {_N - 1}) t(i)
    )
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
def stream_tick_imbalance(spark, sf_dir):
    """Streaming tick imbalance: trade_tick_imbalance's definition —
    complete-mode keyed counts (``tick_counts``) over the custom
    streaming source in uneven micro-batches, then the ratio
    (``tick_imbalance``) on the drained exact counts. sf_dir unused."""
    # imported here: a module-level import would register trading's
    # queries ahead of this module's, changing the registry order
    from .trading import tick_counts, tick_imbalance

    return tick_imbalance(_drain_tradegen(spark, tick_counts))


@query(
    "stream_dau_mau",
    # EIGHTH exactly-oracled streaming op: DAU/MAU stickiness computed
    # THROUGH the stream. The streamed state is the distinct
    # (month, day, user) relation (complete-mode group count — order-
    # and batching-independent, the stream_kmv/cdc state class), so
    # the drained table equals the batch distinct EXACTLY and the
    # whole stickiness pipeline stays SQL-oracle-able end to end
    # (same statement as the batch twin events_stickiness).
    oracle=STICKINESS_SQL,
)
def stream_dau_mau(spark, sf_dir):
    """Streaming stickiness: events_stickiness's definition — the
    stream maintains one row per distinct (month, day, user)
    (``active_days``, drained in append mode: each distinct row is
    emitted once, batching-independent), then DAU/MAU/stickiness
    (``stickiness``) close on that bounded relation."""
    return stickiness(_run_to_df(spark, active_days(_events_stream(spark, sf_dir))))
