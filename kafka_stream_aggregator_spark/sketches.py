"""Mergeable probabilistic sketches with cross-engine-portable hashing.

Bloom filter (set membership), Count-Min (frequency) and HyperLogLog
(distinct count) built as pure DataFrame compositions — no UDFs, no
collect, no driver-side state. Each uses a *sparse* representation: the
sketch is itself a small DataFrame (set bit positions / non-zero cells /
registers), which makes the build a bounded ``groupBy`` (map-side
partial aggregation caps each partition's contribution at the sketch
size) and the probe a broadcast join. Two sketches merge by
``unionByName`` + the same bounded groupBy — the mergeability story is
the plan itself.

Hashing: ``portable_u64`` derives a 60-bit integer from the first 15
hex chars of md5, which DuckDB reproduces exactly via
``('0x' || substr(md5(x), 1, 15))::BIGINT`` — so unlike typical
sketch implementations, every query built on these is *exactly*
oracle-checkable: the oracle replays the same bloom/CMS construction in
SQL and must agree bit-for-bit, false positives included. The in-engine
scale path would swap md5 for xxhash64 (8-byte, no hex round-trip) with
an identical plan shape; md5 is the cross-engine determinism choice,
exactly as queries/corpus.py documents for chunk dedup.

Reference parity note: the reference engine (SURVEY.md §2.B sketch rows)
exposes approximate membership/frequency summaries; here they are
re-expressed as Spark relational plans rather than in-core mutable
arrays.

100 TB design:
- Bloom build: one explode (k rows per item) + one groupBy bounded at m
  distinct positions. Partial aggregation means each map task emits at
  most m rows no matter how many items it saw. The sketch relation is
  ≤ m rows — broadcast side of every probe.
- CMS build: one explode (d rows per item) + one groupBy bounded at d·w
  cells. Weighted counts are plain ``sum`` — mergeable by construction.
- Probes never shuffle the probe side: sketch is broadcast, verdicts are
  computed with a join + bounded groupBy on the probe key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def portable_u64(col: Column, salt: str | int | None = None) -> Column:
    """60-bit uniform hash reproducible in DuckDB.

    Spark:  conv(substr(md5(x), 1, 15), 16, 10)::long
    DuckDB: ('0x' || substr(md5(x), 1, 15))::BIGINT
    (verified equal: md5('abc') -> 648541476951500027 on both engines).
    """
    s = col.cast("string")
    if salt is not None:
        s = F.concat(s, F.lit(f":{salt}"))
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


# The one canonical DuckDB spelling of portable_u64 — every oracle
# formats THIS template (directly or via portable_u64_sql) so the hash
# contract cannot drift between hand-rolled copies.
U64_SQL_TEMPLATE = "CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


def portable_u64_sql(expr: str, salt: str | int | None = None) -> str:
    """The DuckDB twin of :func:`portable_u64` for oracle strings."""
    s = f"CAST({expr} AS VARCHAR)"
    if salt is not None:
        s = f"({s} || ':{salt}')"
    return U64_SQL_TEMPLATE.format(expr=s)



def _pos(col_expr, seed_col, modulus: int, hasher: str):
    """Seeded hash position in [0, modulus).

    hasher="portable": md5-hex-derived 60-bit value — bit-identical in
    DuckDB, the choice wherever an oracle replays the sketch. Costs
    ~4 us/row (md5 + hex conv), measured at 10M rows in
    tools/stress_sketches.py.
    hasher="xx64": JVM xxhash64 — ~20x cheaper, the production default
    when nothing needs to replay the hash outside Spark. Same plan
    shape, same guarantees; sketches built with different hashers do
    NOT merge with each other.
    """
    if hasher == "xx64":
        return F.pmod(F.xxhash64(col_expr, seed_col), F.lit(modulus)).cast("long")
    if hasher != "portable":
        raise ValueError(f"unknown hasher {hasher!r}")
    return (
        portable_u64(F.concat(col_expr.cast("string"), F.lit(":"),
                              seed_col.cast("string")))
        % modulus
    )


# --------------------------------------------------------------------------
# Bloom filter
# --------------------------------------------------------------------------


def bloom_build(
    df: DataFrame, col: str, m_bits: int, k_hashes: int,
    hasher: str = "portable",
) -> DataFrame:
    """Build a sparse Bloom filter: the distinct set bit positions.

    Returns a DataFrame with a single ``pos`` column (≤ m_bits rows).
    Plan: explode k hash positions per item, one distinct (= groupBy on
    pos) that map-side partial aggregation bounds at m_bits rows per
    task — at 100 TB the shuffle moves at most m_bits rows per map
    partition regardless of input size. Merge two filters with
    ``a.unionByName(b).distinct()`` — same bounded plan.
    """
    seeds = F.array(*[F.lit(i) for i in range(k_hashes)])
    return (
        df.select(F.explode(seeds).alias("_i"), F.col(col).alias("_x"))
        .select(_pos(F.col("_x"), F.col("_i"), m_bits, hasher).alias("pos"))
        .distinct()
    )


def bloom_probe(
    probe: DataFrame, col: str, bloom: DataFrame, m_bits: int, k_hashes: int,
    out_col: str = "bloom_hit", hasher: str = "portable",
) -> DataFrame:
    """Probe: item is a (possible) member iff all k bit positions are set.

    The filter relation is broadcast (≤ m_bits rows); the probe side
    never shuffles on the sketch — one explode + broadcast left join +
    groupBy on the probe's own key columns.
    """
    seeds = F.array(*[F.lit(i) for i in range(k_hashes)])
    keys = [c for c in probe.columns]
    exploded = probe.select(
        *keys,
        F.explode(seeds).alias("_i"),
    ).withColumn("pos", _pos(F.col(col), F.col("_i"), m_bits, hasher))
    marked = exploded.join(
        F.broadcast(bloom.withColumn("_set", F.lit(1))), on="pos", how="left"
    )
    # member iff EVERY exploded row found its bit: count(_set) equals
    # the group's total row count — not a literal k, which breaks (false
    # negatives) when the probe relation carries duplicate rows and the
    # groupBy collapses them into one group of n_dup*k rows.
    return (
        marked.groupBy(*keys)
        .agg((F.count("_set") == F.count(F.lit(1))).alias(out_col))
    )


# --------------------------------------------------------------------------
# Count-Min sketch
# --------------------------------------------------------------------------


def cms_build(
    df: DataFrame, col: str, depth: int, width: int,
    weight: Column | None = None, hasher: str = "portable",
) -> DataFrame:
    """Build a sparse Count-Min sketch: rows ``(row, cell, cnt)``.

    ≤ depth·width rows total; the groupBy is bounded the same way the
    bloom build is. ``weight`` defaults to 1 per input row. Merge two
    sketches by union + ``groupBy(row, cell).sum(cnt)``.
    """
    w = weight if weight is not None else F.lit(1).cast("long")
    rows = F.array(*[F.lit(i) for i in range(depth)])
    return (
        df.select(F.col(col).alias("_x"), w.alias("_w"),
                  F.explode(rows).alias("row"))
        .select(
            "row",
            _pos(F.col("_x"), F.col("row"), width, hasher).alias("cell"),
            F.col("_w"),
        )
        .groupBy("row", "cell")
        .agg(F.sum("_w").alias("cnt"))
    )


def cms_estimate(
    items: DataFrame, col: str, sketch: DataFrame, depth: int, width: int,
    out_col: str = "est", hasher: str = "portable",
) -> DataFrame:
    """Point-query the sketch for each item: min over the d rows.

    Sketch is broadcast (≤ d·w rows). Missing cells count as 0 — an
    absent cell can only happen when nothing hashed there, so the min
    with 0 is still an upper bound on the true count... strictly, an
    absent cell means true count 0 for anything mapping there, so
    coalesce(cnt, 0) keeps the CMS guarantee est ≥ true.
    """
    rows = F.array(*[F.lit(i) for i in range(depth)])
    keys = [c for c in items.columns]
    exploded = items.select(*keys, F.explode(rows).alias("row")).withColumn(
        "cell", _pos(F.col(col), F.col("row"), width, hasher)
    )
    joined = exploded.join(F.broadcast(sketch), on=["row", "cell"], how="left")
    return (
        joined.groupBy(*keys)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias(out_col))
    )


# --------------------------------------------------------------------------
# HyperLogLog (distinct users per event type)
# --------------------------------------------------------------------------

# HLL numerator literal, computed ONCE so Spark and DuckDB divide the
# identical double: alpha_64 * m^2 * 2^55 (registers hold 2^(55-rho) as
# exact BIGINTs, so the harmonic sum is INTEGER-exact cross-engine and
# the estimate is a single deterministic double division).
HLL_NUM = repr(0.709 * 64 * 64 * float(1 << 55))


def hll_registers(events: DataFrame) -> DataFrame:
    """The 64 HyperLogLog registers of ``portable_u64(user_id)`` per
    event_type: rows ``(event_type, reg, rho)``, reg = h % 64 and rho =
    leading zeros of the remaining 54 bits + 1 (via bin() length —
    identical in DuckDB). ≤ |types| x 64 rows at any scale; max is
    order- and batching-independent, so a complete-mode stream drains
    to the batch registers exactly, and register tables merge by max."""
    h = portable_u64(F.col("user_id"))
    w = F.shiftright(h, 6)
    rho = F.when(w > 0, F.lit(55) - F.length(F.bin(w))).otherwise(F.lit(55))
    return (
        events.select("event_type", F.pmod(h, F.lit(64)).alias("reg"), rho.alias("rho"))
        .groupBy("event_type", "reg")
        .agg(F.max("rho").alias("rho"))
    )


def hll_estimate(regs: DataFrame) -> DataFrame:
    """``(event_type, n_regs, hll_estimate)`` from ``hll_registers``:
    alpha * m^2 / sum(2^-rho), the harmonic sum carried as exact
    integers (2^(55-rho) over the 2^55 folded into ``HLL_NUM``, absent
    registers counting 2^55), so no cross-engine float-sum order can
    flip a bit. Small-range (linear counting) correction as the paper
    gives it: raw estimate <= 2.5m with empty registers -> m*ln(m/V)."""
    num = F.lit(float(HLL_NUM))
    est = regs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_regs"),
        (
            F.sum(F.expr("shiftleft(cast(1 as bigint), 55 - rho)"))
            + (F.lit(64) - F.count(F.lit(1))) * F.lit(1 << 55)
        ).alias("s"),
    )
    return est.select(
        "event_type",
        "n_regs",
        F.round(
            F.when(
                (num / F.col("s") <= 160) & (F.col("n_regs") < 64),
                F.lit(64) * F.log(F.lit(64.0) / (F.lit(64) - F.col("n_regs"))),
            ).otherwise(num / F.col("s")),
            4,
        ).alias("hll_estimate"),
    )


def bloom_prefilter(
    df: DataFrame, col: str, bloom: DataFrame, m_bits: int, k_hashes: int,
    hasher: str = "portable",
) -> DataFrame:
    """Semi-join reduction: keep only rows whose key is POSSIBLY in the
    bloom (k chained broadcast left-semi probes — no explode, no
    groupBy, no shuffle of ``df``). Sound (never drops a true member),
    not complete (false positives survive) — so follow with the exact
    join, which this exists to shrink.

    This is the classic 100 TB join optimization: instead of shuffling
    the full fact table into a join against a selective dimension,
    broadcast the dimension's Bloom positions (≤ m rows) and shuffle
    only the survivors. Each probe is one broadcast hash semi-join on a
    computed column; at fp rate p the downstream shuffle carries
    |matches| + p·|non-matches| rows instead of |df|.
    """
    b = F.broadcast(bloom.withColumnRenamed("pos", "__bpos"))
    out = df
    for i in range(k_hashes):
        pos_i = _pos(F.col(col), F.lit(i), m_bits, hasher)
        out = (
            out.withColumn("__probe", pos_i)
            .join(b, F.col("__probe") == F.col("__bpos"), "left_semi")
            .drop("__probe")
        )
    return out
