"""Seventeenth analytics wave (round 7): cross-source duplication
matrix, n-gram coverage curve, and the FOURTH exactly-oracled
streaming operator (Poisson burst counts).

The streaming op follows the stream_cms/hll/kmv discipline: the
stateful aggregation is a pure count per (type, hour) cell — order-
and batching-independent — so the drained state is bit-identical to
the batch build and the full batch SQL oracle applies unchanged.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .analytics16 import BURST_SQL, burst_flags, hour_cells
from .base import query, t
from .streaming_q import _events_stream, _run_to_df

# --------------------------------------------------------------------------
# Cross-source duplication matrix
# --------------------------------------------------------------------------


@query(
    "doc_cross_source_dedup",
    # For every unordered source pair: how many first-8-token prefix
    # fingerprints appear in BOTH sources — the "who copies from whom"
    # audit a corpus curator runs before mixing sources. The prefix
    # fingerprint (not the full-text hash, which finds nothing on this
    # corpus — exact cross-source copies don't exist by construction)
    # is the standard cheap lead-paragraph dedup key. Exact integer
    # counts off the distinct (fingerprint, source) relation.
    oracle="""
    WITH h AS (
      SELECT DISTINCT
        md5(array_to_string(
              regexp_extract_all(lower(text), '\\S+')[1:8], ' ')) AS ch,
        source
      FROM documents
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS shared_hashes
    FROM h a JOIN h b ON a.ch = b.ch AND a.source < b.source
    GROUP BY a.source, b.source
    """,
)
def doc_cross_source_dedup(spark, sf_dir):
    """Cross-source overlap: one scan to the distinct (fingerprint,
    source) relation (hash-keyed shuffle), a hash-keyed self-join whose
    per-hash fanout is bounded by |sources|, and a |sources|^2
    aggregate — never a doc-pair join."""
    d = t(spark, sf_dir, "documents")
    h = (
        d.select(
            F.md5(
                F.array_join(
                    F.slice(
                        F.regexp_extract_all(
                            F.lower("text"), F.lit(r"\S+"), F.lit(0)
                        ),
                        1,
                        8,
                    ),
                    " ",
                )
            ).alias("ch"),
            "source",
        )
        .distinct()
    )
    a = h.select(F.col("ch"), F.col("source").alias("source_a"))
    b = h.select(F.col("ch"), F.col("source").alias("source_b"))
    return (
        a.join(b, "ch")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("bigint").alias("shared_hashes"))
    )


# --------------------------------------------------------------------------
# N-gram coverage curve (WIMBD-style corpus concentration)
# --------------------------------------------------------------------------


@query(
    "corpus_ngram_coverage_curve",
    # What fraction of all token occurrences do the top-k tokens cover,
    # for k in (10, 100, 1000)? Top-k by (freq DESC, token) is a
    # deterministic distributed k-smallest; coverages are exact integer
    # ratios, one double chain each.
    oracle="""
    WITH tok AS (
      SELECT unnest(regexp_extract_all(lower(text), '\\S+')) AS tk
      FROM documents
    ), vocab AS (
      SELECT tk, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY tk
    ), tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS n FROM vocab
    ), top AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, tk) AS rk
      FROM vocab ORDER BY c DESC, tk LIMIT 1000
    )
    SELECT k, CAST(cum AS BIGINT) AS top_occurrences,
           n AS total_occurrences,
           round(CAST(cum AS DOUBLE) / n, 6) AS coverage
    FROM (
      SELECT 10 AS k, sum(CASE WHEN rk <= 10 THEN c END) AS cum FROM top
      UNION ALL
      SELECT 100, sum(CASE WHEN rk <= 100 THEN c END) FROM top
      UNION ALL
      SELECT 1000, sum(CASE WHEN rk <= 1000 THEN c END) FROM top
    ), tot
    WHERE cum IS NOT NULL
    """,
)
def corpus_ngram_coverage_curve(spark, sf_dir):
    """Coverage curve: one tokenize scan into the vocab aggregate
    (map-side partial), a TakeOrderedAndProject top-1000 (never a
    global sort), then scalar algebra on <= 1000 rows. The WIMBD-style
    concentration probe at any corpus size."""
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        F.explode(
            F.split(F.lower("text"), r"\s+")
        ).alias("tk")
    ).filter(F.col("tk") != "")
    vocab = tok.groupBy("tk").agg(F.count("*").cast("bigint").alias("c"))
    tot = vocab.agg(F.sum("c").cast("bigint").alias("n"))
    top = (
        vocab.orderBy(F.col("c").desc(), "tk")
        .limit(1000)
        .select(
            "c",
            F.row_number()
            .over(W.orderBy(F.col("c").desc(), "tk"))
            .alias("rk"),
        )
    )
    cums = None
    for k in (10, 100, 1000):
        part = top.agg(
            F.lit(k).alias("k"),
            F.sum(F.when(F.col("rk") <= k, F.col("c"))).alias("cum"),
        )
        cums = part if cums is None else cums.unionAll(part)
    return (
        cums.filter(F.col("cum").isNotNull())
        .crossJoin(F.broadcast(tot))
        .select(
            "k",
            F.col("cum").cast("bigint").alias("top_occurrences"),
            F.col("n").alias("total_occurrences"),
            F.round(F.col("cum").cast("double") / F.col("n"), 6).alias(
                "coverage"
            ),
        )
    )


# --------------------------------------------------------------------------
# Streaming Poisson burst detection (4th exactly-oracled streaming op)
# --------------------------------------------------------------------------


@query(
    "stream_poisson_burst",
    # The streaming twin of events_poisson_burst: hourly cell counts
    # maintained BY a complete-mode streaming aggregation. count() is
    # order- and batching-independent, so the drained cells equal the
    # batch cells EXACTLY and the batch oracle applies verbatim —
    # bursts computed on drained state match the batch operator row
    # for row (the stream_cms/hll/kmv equivalence argument).
    oracle=BURST_SQL,
)
def stream_poisson_burst(spark, sf_dir):
    """Streaming burst detection with events_poisson_burst's steps: the
    ONLY stateful piece is the per-(type, hour) count (``hour_cells``)
    — state bounded at observed cells, complete mode,
    batching-independent. Baseline + z flagging (``burst_flags``) run
    on the drained cells (bounded relation). At 100 TB/day the same
    topology holds: the hot aggregation state is one counter per
    cell."""
    cells = _run_to_df(
        spark, hour_cells(_events_stream(spark, sf_dir)), mode="complete"
    )
    # localCheckpoint: Spark's DeduplicateRelations cannot re-alias a
    # self-join of the same MemoryPlan view (INTERNAL_ERROR conflicting
    # references); the checkpointed LogicalRDD self-joins fine, and the
    # drained state is bounded (one row per cell) so the materialization
    # is O(cells).
    return burst_flags(cells.localCheckpoint())
