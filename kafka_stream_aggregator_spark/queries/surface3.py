"""Third SQL-surface wave (round 7): XML round-trip, Spark bitmap
aggregates, phi-frequent items, Wilson confidence intervals, and the
FIFTH exactly-oracled streaming op (bitmap-exact streaming distinct).

The bitmap family (Spark 3.5+ bitmap_bucket_number /
bitmap_construct_agg / bitmap_or_agg / bitmap_count) is the
engine-native EXACT distinct-count datastructure — RBM-style fixed
4096-bit buckets. bitmap_or_agg is commutative and idempotent, which
makes the streaming twin batching-independent and thus exactly
oracled, the same argument as the count/min/max streaming ops.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .base import query, t
from .streaming_q import _events_stream, _run_to_df

# --------------------------------------------------------------------------
# XML round-trip
# --------------------------------------------------------------------------


@query(
    "fn_xml_roundtrip",
    # Serialize each event to XML with to_xml, parse it back with
    # from_xml, and aggregate the EXTRACTED fields. The oracle computes
    # the same aggregate from the original columns — a lossless
    # round-trip through the XML codec is exactly what's asserted.
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(user_id) AS BIGINT) AS sum_uid,
           CAST(sum(CAST(round(round(value, 6) * 1000000, 0) AS BIGINT))
                AS BIGINT) AS sum_value_micro
    FROM events GROUP BY event_type
    """,
)
def fn_xml_roundtrip(spark, sf_dir):
    """XML codec surface: struct -> to_xml -> from_xml -> fields. The
    codec runs per row JVM-side (codegen'd expressions); the aggregate
    proves byte-level fidelity of every field that passed through."""
    ev = t(spark, sf_dir, "events")
    xml = ev.select(
        "event_type",
        F.to_xml(
            F.struct(
                F.col("event_id"),
                F.col("user_id"),
                F.round("value", 6).alias("value"),
            )
        ).alias("x"),
    )
    parsed = xml.select(
        "event_type",
        F.from_xml(
            "x", "event_id BIGINT, user_id BIGINT, value DOUBLE"
        ).alias("r"),
    )
    return parsed.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("r.user_id")).cast("bigint").alias("sum_uid"),
        F.sum(
            F.round(F.round(F.col("r.value"), 6) * 1_000_000, 0).cast("bigint")
        )
        .cast("bigint")
        .alias("sum_value_micro"),
    )


# --------------------------------------------------------------------------
# Bitmap aggregate family (exact distinct via roaring-style buckets)
# --------------------------------------------------------------------------


@query(
    "fn_bitmap_suite",
    # Exact distinct users per event type via the Spark bitmap
    # aggregate family, checked against plain count(DISTINCT): the
    # bitmap path buckets user_id into 4096-bit blocks
    # (bitmap_bucket_number / bitmap_bit_position), ORs the blocks
    # (bitmap_or_agg — one commutative byte-array per bucket), and
    # popcounts (bitmap_count). The oracle is count(DISTINCT): the
    # datastructure must be EXACT or the hash differs.
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct_bitmap,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct_plain
    FROM events GROUP BY event_type
    """,
)
def fn_bitmap_suite(spark, sf_dir):
    """Bitmap aggregates: the map side emits (bucket, bit) per row and
    ORs 512-byte blocks map-side — the shuffle carries one bitmap per
    (group, bucket), not rows, which is the exact-distinct answer at
    scale when ids are dense (HLL covers the sparse/unbounded case).
    The stream twin (stream_bitmap_distinct) runs the same two steps."""
    ev = t(spark, sf_dir, "events")
    plain = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_distinct_plain")
    )
    bm = bitmap_distinct(bitmap_blocks(ev))
    return bm.withColumnRenamed("n_distinct", "n_distinct_bitmap").join(
        plain, "event_type"
    )


def bitmap_blocks(events):
    """One OR-ed user_id bitmap per (event_type, 4096-id bucket), batch
    or streaming: OR is commutative and idempotent, so the drained
    blocks are independent of batching and arrival order."""
    return (
        events.select(
            "event_type",
            F.bitmap_bucket_number(F.col("user_id")).alias("bkt"),
            F.bitmap_bit_position(F.col("user_id")).alias("pos"),
        )
        .groupBy("event_type", "bkt")
        .agg(F.bitmap_construct_agg(F.col("pos")).alias("bits"))
    )


def bitmap_distinct(blocks):
    """Exact distinct users per event_type: popcounts of ``bitmap_blocks``."""
    return blocks.groupBy("event_type").agg(
        F.sum(F.bitmap_count(F.col("bits"))).cast("bigint").alias("n_distinct")
    )


# --------------------------------------------------------------------------
# Phi-frequent items (exact heavy hitters)
# --------------------------------------------------------------------------


@query(
    "agg_phi_frequent",
    # Exact phi-heavy-hitters: items (user_id) whose share of an event
    # type's rows exceeds phi = 0.5%. The exact complement of the
    # Misra-Gries sketch tier (ops.heavy hitters): one (type, user)
    # aggregate + a bounded per-type total broadcast back.
    oracle="""
    WITH c AS (
      SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS k
      FROM events GROUP BY 1, 2
    ), tot AS (
      SELECT event_type, CAST(sum(k) AS BIGINT) AS n FROM c GROUP BY 1
    )
    SELECT c.event_type, c.user_id, c.k,
           round(CAST(c.k AS DOUBLE) / tot.n, 6) AS share
    FROM c JOIN tot ON c.event_type = tot.event_type
    WHERE c.k * 200 > tot.n
    """,
)
def agg_phi_frequent(spark, sf_dir):
    """Exact phi-frequent: the threshold test k * 50 > n is pure
    integer arithmetic (phi = 1/200), so the filter can never flip on
    float rounding; output is bounded at 200 rows per type by
    construction."""
    ev = t(spark, sf_dir, "events")
    c = ev.groupBy("event_type", "user_id").agg(
        F.count("*").cast("bigint").alias("k")
    )
    tot = c.groupBy("event_type").agg(F.sum("k").cast("bigint").alias("n"))
    return (
        c.join(F.broadcast(tot), "event_type")
        .filter(F.col("k") * 200 > F.col("n"))
        .select(
            "event_type",
            "user_id",
            "k",
            F.round(F.col("k").cast("double") / F.col("n"), 6).alias("share"),
        )
    )


# --------------------------------------------------------------------------
# Wilson score confidence interval
# --------------------------------------------------------------------------


@query(
    "stat_wilson_ci",
    # Wilson 95% score interval for each event type's "high-value"
    # proportion (value > 250): exact integer successes/trials, one
    # closed-form chain with z = 1.96 shared literally (CAST to
    # DOUBLE oracle-side: DuckDB types bare decimal literals as
    # exact DECIMAL, which would run different algebra than Spark's
    # double chain — the r11 literal-typing rule).
    oracle="""
    WITH c AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(count_if(value > 250) AS BIGINT) AS s
      FROM events GROUP BY event_type
    )
    SELECT event_type, n, s,
           round(CAST(s AS DOUBLE) / n, 6) AS p_hat,
           round((CAST(s AS DOUBLE) / n + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) / (2 * n)
                  - CAST(1.96 AS DOUBLE) * sqrt((CAST(s AS DOUBLE) / n)
                                * (1 - CAST(s AS DOUBLE) / n) / n
                                + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) / (4.0 * n * n)))
                 / (1 + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) / n), 6) AS wilson_lo,
           round((CAST(s AS DOUBLE) / n + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) / (2 * n)
                  + CAST(1.96 AS DOUBLE) * sqrt((CAST(s AS DOUBLE) / n)
                                * (1 - CAST(s AS DOUBLE) / n) / n
                                + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) / (4.0 * n * n)))
                 / (1 + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) / n), 6) AS wilson_hi
    FROM c WHERE n > 0
    """,
)
def stat_wilson_ci(spark, sf_dir):
    """Wilson interval: one codegen aggregate, closed-form bounds —
    the proportion-CI that stays inside [0,1] where the normal
    approximation fails at small n or extreme p."""
    ev = t(spark, sf_dir, "events")
    c = ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.count_if(F.col("value") > 250).cast("bigint").alias("s"),
    ).filter(F.col("n") > 0)
    n = F.col("n")
    p = F.col("s").cast("double") / n
    z2 = 1.96 * 1.96
    rad = F.sqrt(p * (1 - p) / n + z2 / (4.0 * n * n))
    den = 1 + z2 / n
    return c.select(
        "event_type",
        "n",
        "s",
        F.round(p, 6).alias("p_hat"),
        F.round((p + z2 / (2 * n) - 1.96 * rad) / den, 6).alias("wilson_lo"),
        F.round((p + z2 / (2 * n) + 1.96 * rad) / den, 6).alias("wilson_hi"),
    )


# --------------------------------------------------------------------------
# Streaming bitmap-exact distinct (5th exactly-oracled streaming op)
# --------------------------------------------------------------------------


@query(
    "stream_bitmap_distinct",
    # EXACT streaming distinct per event type via bitmap_or_agg in a
    # complete-mode aggregation: OR is commutative AND idempotent, so
    # the drained bitmaps are independent of batching and arrival
    # order — the streaming result equals count(DISTINCT) exactly,
    # hence the full SQL oracle. State: one <=512-byte bitmap per
    # (type, 4096-id bucket) — bounded by the ID DOMAIN, not the
    # stream length (the dense-id complement of stream_hll_distinct,
    # whose register state covers unbounded sparse ids).
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct
    FROM events GROUP BY event_type
    """,
)
def stream_bitmap_distinct(spark, sf_dir):
    blocks = bitmap_blocks(_events_stream(spark, sf_dir))
    return bitmap_distinct(_run_to_df(spark, blocks, mode="complete"))
