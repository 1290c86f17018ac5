"""Reusable composite operators the built-in DataFrame API lacks.

Each is a pure DataFrame->DataFrame composition (no UDFs, no collect),
designed around one shuffle where possible so it scales to 100 TB.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def data_sized_partitions(
    df: DataFrame,
    bytes_per_partition: int = 1 << 20,
    floor: int = 8,
    max_bytes_per_partition: int = 32 << 20,
) -> int:
    """Partition count sized to the DATA for a CPU-heavy repartition
    (shingling, regex scans): ~``bytes_per_partition`` of input per
    task instead of a flat defaultParallelism.

    A 5000-doc corpus does not need 32 tasks per stage — every surplus
    task is pure scheduling latency (measured on minhash_near_dup at
    sf0.1: 2.45s at 32 partitions vs 1.72s at 8). The default is 1 MB
    of COMPRESSED input per task: parquet text compresses ~5-10x, and
    interpreted higher-order lambdas (n-gram transforms) run ~2-5s per
    MB-compressed — the granularity that keeps a 32-core stage wide
    without drowning in task launches (a single-file 500k-doc corpus
    measured 70s -> 13s at 100k docs from this alone). At 100 TB the
    ``max_bytes_per_partition`` cap (32 MB of input per task) bounds
    the task count once the target exceeds the cluster's
    defaultParallelism — CPU-bound stages tolerate several tasks per
    core, and 32 MB amortizes task launch. Size comes from Catalyst
    stats (file size for a parquet scan), so no job runs to decide.
    """
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    nbytes = int(stats.sizeInBytes())
    dp = df.sparkSession.sparkContext.defaultParallelism
    # Catalyst reports ~Long.MaxValue when it has no estimate (e.g. a
    # local relation or post-join plan without stats): fall back to the
    # defaultParallelism behavior rather than a bogus huge target.
    if nbytes >= (1 << 50):
        return dp
    target = max(1, nbytes // bytes_per_partition)
    cap = max(dp, nbytes // max_bytes_per_partition)
    # hard ceiling: 4M tasks covers 100 TB at 32 MB/task; anything more
    # is a stats anomaly, not a real plan.
    return int(min(max(target, min(floor, dp)), cap, 1 << 22))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_by: str,
    right_by: str,
    right_tiebreak: str | None = None,
    value_cols: Sequence[str] | None = None,
) -> DataFrame:
    """As-of (nearest-prior-event) join, backward direction, exact matches.

    For each left row: values from the latest right row of the same group
    with right_on <= left_on. Implemented as union + last(ignorenulls)
    over a (group) window ordered by (time, side, tiebreak) — a single
    shuffle on the group key and one per-partition sort; no pairwise
    cross-product, so it scales linearly unlike the naive time-bounded
    join. Ties on the timestamp resolve to the largest tiebreak value
    (deterministic).

    Right rows sort before left rows at equal timestamps, so an exact
    timestamp match is visible to the left row.
    """
    value_cols = list(value_cols or [])
    rtypes = dict(right.dtypes)
    tie_type = rtypes[right_tiebreak] if right_tiebreak else "long"

    lhs = left.select(
        F.col(left_by).alias("__by"),
        F.col(left_on).alias("__on"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(tie_type).alias("__tie"),
        *[F.lit(None).cast(rtypes[v]).alias(v) for v in value_cols],
        *[F.col(c) for c in left.columns],
    )
    rhs = right.select(
        F.col(right_by).alias("__by"),
        F.col(right_on).alias("__on"),
        F.lit(0).alias("__side"),
        (F.col(right_tiebreak) if right_tiebreak else F.lit(0)).cast(tie_type).alias(
            "__tie"
        ),
        *[F.col(v) for v in value_cols],
        *[F.lit(None).cast(dt).alias(c) for c, dt in left.dtypes],
    )
    w = (
        W.partitionBy("__by")
        .orderBy("__on", "__side", F.col("__tie").asc_nulls_first())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    filled = lhs.unionByName(rhs).select(
        *[F.col(c) for c in left.columns],
        F.col("__side"),
        *[F.last(v, ignorenulls=True).over(w).alias(v) for v in value_cols],
    )
    return filled.filter(F.col("__side") == 1).drop("__side")


def sessionize(
    df: DataFrame,
    ts_col: str = "ts",
    by: str = "user_id",
    gap_seconds: int = 1800,
    tiebreak: str = "event_id",
) -> DataFrame:
    """Assign session ids per group: a new session starts when the gap to
    the previous event exceeds ``gap_seconds``. Classic lag + cumulative
    sum over one partitioned window (single shuffle)."""
    w = W.partitionBy(by).orderBy(ts_col, tiebreak)
    # Double-cast via timestamp so TIMESTAMP_NTZ inputs (parquet
    # isAdjustedToUTC=false read without normalization) still analyze.
    sec = F.col(ts_col).cast("timestamp").cast("double")
    prev = F.lag(sec).over(w)
    new_sess = F.when(
        prev.isNull() | ((sec - prev) > gap_seconds), 1
    ).otherwise(0)
    return df.withColumn(
        "session_id",
        F.sum(new_sess).over(
            W.partitionBy(by)
            .orderBy(ts_col, tiebreak)
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )


def dedup_keep_first(
    df: DataFrame, keys: Sequence[str], order_by: Sequence[Column | str]
) -> DataFrame:
    """Deterministic dropDuplicates: keep the first row per key under an
    explicit ordering (row_number()==1 — one shuffle on the keys)."""
    w = W.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def top_k_per_group(
    df: DataFrame, by: Sequence[str], order_by: Sequence[Column | str], k: int
) -> DataFrame:
    """Top-k rows per group via row_number (shuffle on group key; Spark
    pushes a per-partition rank limit below the shuffle since 3.5)."""
    w = W.partitionBy(*by).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def global_top_k(df: DataFrame, order_by: Sequence[Column | str], k: int) -> DataFrame:
    """orderBy().limit(k) — compiles to TakeOrderedAndProject: each task
    keeps a k-heap, driver merges; no global sort at any scale."""
    return df.orderBy(*order_by).limit(k)


def distributed_global_rank(
    df: DataFrame,
    order_cols: Sequence[str],
    bucket: Column | None = None,
    n_buckets: int = 64,
    rank_col: str = "rn",
    prefix_sums: dict[str, str] | None = None,
) -> DataFrame:
    """Exact global ``row_number()`` by ``order_cols`` WITHOUT a
    single-reducer sort — the two-phase distributed rank, generalized
    from doc_global_shuffle (queries/corpus.py) so every global-order
    consumer shares one implementation.

    Phase 1 assigns each row a coarse ``bucket`` that is monotone
    non-decreasing in the order key and has bounded cardinality; phase
    2 ranks each bucket independently under a PARTITIONED window and
    lifts local ranks to global ones by adding the broadcast cumulative
    count of earlier buckets (a <= n_buckets-row relation). Ordering by
    (bucket, order_cols) equals ordering by order_cols exactly because
    the bucket is a coarsening of the leading key, so the result is
    bit-identical to an unpartitioned row_number() at any scale —
    the plan just never moves more than one bucket to one task.

    ``bucket``: optional monotone coarsening of the leading order
    column (e.g. the first bytes of a hash the order starts with).
    When omitted, fixed-width ranges between the leading column's
    min/max (a broadcast 1-row aggregate; cast to double, which is
    order-preserving) — pure codegen arithmetic per row. A measured
    note: the first implementation counted 63 approximate-quantile
    edges per row via F.aggregate, and that interpreted higher-order
    fold alone cost ~6 s at 600 k rows; the range bucket is arithmetic.
    Correctness never depends on bucket balance (only the ordering
    contract matters); a skewed value distribution only narrows
    parallelism, and a caller with a pathological column can pass its
    own quantile-edge ``bucket``. ``order_cols`` must be a total order
    (include a unique tiebreak) for determinism. Rows with NULL leading
    values bucket to 0, matching Spark's ascending NULLS FIRST.

    ``prefix_sums``: optional {value_col: out_col} — also emit the
    INCLUSIVE running total of each value column in the same global
    order, by the identical two-phase shape (per-bucket partitioned
    running sums + broadcast bucket-level sum offsets). This is the
    scale-safe form of ``sum(v) OVER (ORDER BY ...)`` — the global
    cumulative sums a budget/quota selection needs — without ever
    creating an unpartitioned window."""
    cols = list(order_cols)
    if bucket is None:
        lead = F.col(cols[0]).cast("double")
        stats = df.agg(
            F.min(lead).alias("__lo"), F.max(lead).alias("__hi")
        )
        span = F.col("__hi") - F.col("__lo")
        raw = F.floor((lead - F.col("__lo")) / span * n_buckets)
        pb = F.when(
            lead.isNull() | (span == 0.0) | span.isNull(), F.lit(0)
        ).otherwise(F.least(raw, F.lit(n_buckets - 1)).cast("int"))
        df = (
            df.crossJoin(F.broadcast(stats))
            .withColumn("__pb", pb)
            .drop("__lo", "__hi")
        )
    else:
        df = df.withColumn("__pb", bucket)
    sums = prefix_sums or {}
    counts = df.groupBy("__pb").agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.sum(c).alias(f"__s_{c}") for c in sums],
    )
    prior = W.orderBy("__pb").rowsBetween(W.unboundedPreceding, -1)
    offsets = counts.select(
        "__pb",
        F.coalesce(F.sum("__n").over(prior), F.lit(0)).alias("__off"),
        *[
            F.coalesce(F.sum(f"__s_{c}").over(prior), F.lit(0)).alias(
                f"__soff_{c}"
            )
            for c in sums
        ],
    )
    local = W.partitionBy("__pb").orderBy(*cols)
    out = df.join(F.broadcast(offsets), "__pb").withColumn(
        rank_col, F.row_number().over(local) + F.col("__off")
    )
    for c, out_col in sums.items():
        out = out.withColumn(
            out_col,
            F.sum(c).over(local.rowsBetween(W.unboundedPreceding, 0))
            + F.col(f"__soff_{c}"),
        )
    return out.drop("__pb", "__off", *[f"__soff_{c}" for c in sums])


def _holds_rank(r, count):
    """A row whose ``count`` values take ranks from ``__below`` on
    holds rank ``r``."""
    return (F.col("__below") <= r) & (r < F.col("__below") + count)


def _interpolate_boundaries(
    ranked: DataFrame,
    group_cols: Sequence[str],
    qs: Sequence[tuple[float, str]],
    count,
) -> DataFrame:
    """The quantile_cont tail of every exact tier. ``ranked`` carries
    ``__v``, the group's row count ``__n`` and ``__below``: each row
    stands for ``count`` equal values ranked from ``__below`` on. Only
    rows holding the floor or ceil rank of a target survive into one
    small agg, and each quantile interpolates between those two values."""
    keep = F.lit(False)
    aggs = [F.max("__n").alias("__n_g")]
    for i, (q, _) in enumerate(qs):
        pos = F.lit(float(q)) * (F.col("__n") - 1)
        lo, hi = _holds_rank(F.floor(pos), count), _holds_rank(F.ceil(pos), count)
        keep = keep | lo | hi
        aggs.append(F.max(F.when(lo, F.col("__v"))).alias(f"__lo{i}"))
        aggs.append(F.max(F.when(hi, F.col("__v"))).alias(f"__hi{i}"))
    agged = ranked.filter(keep).groupBy(*group_cols).agg(*aggs)
    outs = list(group_cols)
    for i, (q, name) in enumerate(qs):
        pos = F.lit(float(q)) * (F.col("__n_g") - 1)
        frac = pos - F.floor(pos)
        outs.append(
            (F.col(f"__lo{i}") + frac * (F.col(f"__hi{i}") - F.col(f"__lo{i}"))).alias(
                name
            )
        )
    return agged.select(*outs)


def exact_percentiles(
    df: DataFrame,
    value_col: str,
    qs: Sequence[tuple[float, str]],
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Sort-based exact percentiles with quantile_cont interpolation.

    ``qs`` is a list of (quantile, output_name). One shuffle-sort ranks
    every row (row_number + count over the group), then only the <=2
    boundary rows per (group, quantile) survive into a tiny final agg.

    Why not F.percentile/F.median: Spark's exact Percentile buffers a
    per-group counts-map keyed by DISTINCT VALUE — O(distinct) memory
    per group, which for a continuous column at 100 TB is an OOM risk
    (and is measurably slow at sf0.1). This rewrite is pure codegen,
    spills through the sort machinery, and holds O(1) reducer memory
    regardless of value cardinality. Remaining scale caveat (documented
    in docs/SCALING.md): each group sorts on one reducer chain, so for
    few giant groups prefer percentile_approx.
    """
    v = F.col(value_col).cast("double")
    w_rank = W.partitionBy(*group_cols).orderBy(v)
    w_all = W.partitionBy(*group_cols) if group_cols else W.partitionBy(F.lit(1))
    # nulls are excluded, matching F.percentile and the bucketed tier:
    # otherwise they sort first under the rank window, inflate __n, and
    # shift every quantile position.
    ranked = df.filter(v.isNotNull()).select(
        *group_cols,
        v.alias("__v"),
        (F.row_number().over(w_rank) - 1).alias("__below"),
        F.count(F.lit(1)).over(w_all).alias("__n"),
    )
    return _interpolate_boundaries(ranked, group_cols, qs, F.lit(1))


def exact_percentiles_bucketed(
    df: DataFrame,
    value_col: str,
    qs: Sequence[tuple[float, str]],
    group_cols: Sequence[str] = (),
    n_buckets: int = 8192,
) -> DataFrame:
    """Exact percentiles without a per-group sort: histogram bucketing
    locates each target rank's bucket, and only the rows of those
    buckets (~n/n_buckets per group) are ever ranked.

    Three fully-parallel passes over the data, all map-side-partial
    aggregates — no stage is serialized per group, unlike
    exact_percentiles' rank window whose sort runs on one reducer chain
    per group. The final within-bucket rank window partitions by
    (group, bucket): thousands of tiny partitions, embarrassingly
    parallel. Same quantile_cont interpolation, exact at any value
    cardinality; the scale-preferred exact tier (docs/SCALING.md).
    """
    g = list(group_cols)
    v = F.col(value_col).cast("double")
    df0 = df.select(*g, v.alias("__v")).filter(F.col("__v").isNotNull())
    w = (W.partitionBy(*g) if g else W.partitionBy(F.lit(1))).orderBy("__b")

    # pass 1: per-group range + count (drives bucket width and ranks)
    stats = df0.groupBy(*g).agg(
        F.min("__v").alias("__lo"),
        F.max("__v").alias("__hi"),
        F.count(F.lit(1)).alias("__n"),
    )

    def bucket_of(val):
        span = F.col("__hi") - F.col("__lo")
        raw = F.floor((val - F.col("__lo")) / span * n_buckets)
        return F.when(span == 0.0, F.lit(0)).otherwise(
            F.least(raw, F.lit(n_buckets - 1))
        ).cast("long")

    withb = df0.join(F.broadcast(stats), g) if g else df0.crossJoin(
        F.broadcast(stats)
    )
    withb = withb.withColumn("__b", bucket_of(F.col("__v")))

    # pass 2: per-(group, bucket) counts -> cumulative rows below bucket
    bcounts = withb.groupBy(*g, "__b").agg(F.count(F.lit(1)).alias("__bn"))
    cum = bcounts.withColumn(
        "__below",
        F.sum("__bn").over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        - F.col("__bn"),
    )
    # a bucket is hot if it contains floor/ceil of any target rank
    cum = cum.join(F.broadcast(stats.select(*g, "__n")), g) if g else (
        cum.crossJoin(F.broadcast(stats.select("__n")))
    )
    hot_pred = F.lit(False)
    for q, _ in qs:
        pos = F.lit(float(q)) * (F.col("__n") - 1)
        for r in (F.floor(pos), F.ceil(pos)):
            hot_pred = hot_pred | _holds_rank(r, F.col("__bn"))
    hot_buckets = cum.filter(hot_pred).select(*g, "__b", "__below")

    # pass 3: rank ONLY the hot buckets' rows (tiny, parallel
    # partitions); __n already rides along from the stats join above
    hot = withb.join(F.broadcast(hot_buckets), [*g, "__b"])
    w_local = (
        W.partitionBy(*g, "__b") if g else W.partitionBy("__b")
    ).orderBy("__v")
    ranked = hot.withColumn(
        "__below", F.col("__below") + F.row_number().over(w_local) - 1
    )
    return _interpolate_boundaries(ranked, g, qs, F.lit(1))


def exact_percentiles_counts(
    df: DataFrame,
    value_col: str,
    qs: Sequence[tuple[float, float | str]],
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Exact percentiles for LOW-CARDINALITY value columns via a
    (group, value) counts table.

    One codegen hash agg compresses the input to groups x distinct
    values BEFORE any shuffle (map-side combine), so the shuffle and
    everything after it is O(distinct), not O(rows) — at 100 TB a
    50-value column still reduces to a few hundred rows. The rank
    windows then run over the tiny counts table: each value row knows
    how many rows sort below it (__below) and its own count, which
    locates floor/ceil of every target rank exactly; same
    quantile_cont interpolation as the other exact tiers.

    Scale-safe ONLY under the caller's low-cardinality declaration: on
    a continuous column the counts table is the data and this becomes
    a worse sort tier (choose_percentile_tier never infers it).
    """
    v = F.col(value_col).cast("double")
    counts = (
        df.filter(v.isNotNull())
        .groupBy(*group_cols, v.alias("__v"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    return percentiles_from_counts(counts, group_cols, qs)


def percentiles_from_counts(
    counts: DataFrame,
    group_cols: Sequence[str],
    qs: Sequence[tuple[float, float | str]],
) -> DataFrame:
    """The counts tier's finisher: ``counts`` holds one row per (group,
    double value ``__v``) with its count ``__c``, from
    ``exact_percentiles_counts`` or drained from a stream
    (``stream_window_percentile``). Cumulative windows over that table
    give each value row ``__below`` and the group's ``__n``."""
    g = list(group_cols)
    w = (W.partitionBy(*g) if g else W.partitionBy(F.lit(1))).orderBy("__v")
    w_all = W.partitionBy(*g) if g else W.partitionBy(F.lit(1))
    cum = counts.select(
        *g,
        "__v",
        "__c",
        (
            F.sum("__c").over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
            - F.col("__c")
        ).alias("__below"),
        F.sum("__c").over(w_all).alias("__n"),
    )
    return _interpolate_boundaries(cum, g, qs, F.col("__c"))


SORT_TIER_MAX_ROWS = 10_000_000  # measured crossover (docs/SCALING.md)
APPROX_TIER_MIN_ROWS = 1_000_000_000


def choose_percentile_tier(
    n_rows: int,
    approx_ok: bool = False,
    low_cardinality: bool = False,
    sort_max_rows: int = SORT_TIER_MAX_ROWS,
    approx_min_rows: int = APPROX_TIER_MIN_ROWS,
) -> str:
    """Pick the percentile tier for an input of ``n_rows``:

    - 'counts'   when the CALLER declares the column low-cardinality:
                 pre-aggregate (group, value) counts with a codegen
                 hash agg (map-side combine compresses before any
                 shuffle), then compute exact quantile_cont from the
                 tiny counts table. Cost scales with DISTINCT values,
                 not rows, so it holds at ANY row count — measured at
                 600k rows / 50 values: 0.23s vs 0.32s for Spark's
                 F.percentile counts-map (which builds the same map
                 row-at-a-time in an ImperativeAggregate buffer) and
                 0.70s for the sort tier. Never inferred from row
                 count alone: on a continuous column the counts table
                 IS the data and the tier degrades to a worse sort.
    - 'sort'     below the measured ~10M crossover: the rank-window tier
                 has the least fixed stage overhead, and O(1) agg-buffer
                 memory regardless of value cardinality.
    - 'bucketed' above it: histogram bucketing keeps every pass fully
                 parallel while the sort tier serializes each group on
                 one reducer chain (6.2s vs 7.2s at 10M, gap grows).
    - 'approx'   at billions of rows IF the caller accepts sketch error
                 (never chosen silently: approx changes the answer).
    """
    if low_cardinality:
        return "counts"
    if approx_ok and n_rows >= approx_min_rows:
        return "approx"
    return "sort" if n_rows < sort_max_rows else "bucketed"


def _estimate_rows(df: DataFrame) -> int:
    """Row-count estimate from Catalyst stats: exact rowCount when the
    optimizer derived one, else sizeInBytes over an assumed ~100 B/row
    (order-of-magnitude is enough — the sort/bucketed crossover is
    shallow, ~15% at 10M rows)."""
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    rc = stats.rowCount()
    if rc.isDefined():
        return int(rc.get().longValue())
    return max(1, int(stats.sizeInBytes()) // 100)


def exact_percentiles_auto(
    df: DataFrame,
    value_col: str,
    qs: Sequence[tuple[float, str]],
    group_cols: Sequence[str] = (),
    n_rows: int | None = None,
    approx_ok: bool = False,
    low_cardinality: bool = False,
    approx_accuracy: int = 10_000,
) -> DataFrame:
    """Percentiles with the tier picked from the input size instead of
    hardcoded at the call site (docs/SCALING.md tiers 1-4: counts,
    sort-rank, histogram-bucketed, t-digest approx).

    ``n_rows`` overrides the Catalyst-stats estimate when the caller
    knows the cardinality (e.g. from a prior count); ``low_cardinality``
    is the caller's declaration that the value column has few distinct
    values (enables the counts tier, size-independent)."""
    n = n_rows if n_rows is not None else _estimate_rows(df)
    tier = choose_percentile_tier(
        n, approx_ok=approx_ok, low_cardinality=low_cardinality
    )
    if tier == "counts":
        return exact_percentiles_counts(df, value_col, qs, group_cols=group_cols)
    if tier == "approx":
        aggs = [
            F.percentile_approx(
                F.col(value_col).cast("double"), F.lit(float(q)), F.lit(approx_accuracy)
            ).alias(name)
            for q, name in qs
        ]
        return df.groupBy(*group_cols).agg(*aggs)
    fn = exact_percentiles if tier == "sort" else exact_percentiles_bucketed
    return fn(df, value_col, qs, group_cols=group_cols)


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi join: replicate the (small-ish) dim side across
    `salt_buckets` salts and spread the fact side's hot keys uniformly.

    A plain shuffle join sends every row of a hot key to ONE reducer; at
    100 TB a single skewed key (a null user_id, a default partition key)
    stalls the stage. Salting bounds any reducer at 1/salt_buckets of a
    key's rows. AQE skew-join handles sort-merge cases adaptively; this
    is the explicit tool for when the skew is known and extreme.

    Only fact-preserving join types are allowed: replicating the dim
    side across salts would duplicate unmatched dim rows salt_buckets
    times under right/full outer joins.
    """
    # normalize the same way Spark's JoinType does (lowercase, drop
    # underscores) so aliases like 'leftOuter'/'left_semi'/'leftanti'
    # all resolve.
    norm = how.lower().replace("_", "")
    allowed = {"inner", "left", "leftouter", "leftsemi", "leftanti", "semi", "anti"}
    if norm not in allowed:
        raise ValueError(
            f"salted_join supports fact-preserving joins {sorted(allowed)}; "
            f"got how={how!r} (dim rows are replicated per salt, so "
            f"right/full outer would emit duplicate unmatched dim rows)"
        )
    how = norm
    salted_fact = fact.withColumn(
        "__salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt_buckets))
    )
    salts = F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1))).alias("__salt")
    salted_dim = dim.select("*", salts)
    out = salted_fact.join(
        salted_dim,
        (F.col(fact_key) == F.col(dim_key)) & (salted_fact["__salt"] == salted_dim["__salt"]),
        how,
    )
    return out.drop("__salt")


def zorder_key_2d(x: Column, y: Column, bits: int = 16) -> Column:
    """Morton (Z-order) key: interleave the low ``bits`` bits of two
    non-negative integer columns — bit i of x lands at z-bit 2i, bit i
    of y at 2i+1.

    Sorting a table by this key before write clusters BOTH dimensions
    into every parquet row group, so min/max skipping works for filters
    on either column (a plain sort gives skipping on the sort column
    only). This is the multi-dimensional data-layout tier used by lake
    formats for 100 TB tables; here it is a pure Catalyst expression
    (shift/and/or, fully codegen'd), usable as
    ``df.orderBy(zorder_key_2d(...)).write...``.
    """
    z: Column = F.lit(0).cast("long")
    for i in range(bits):
        xb = F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)).cast("long"), 2 * i)
        yb = F.shiftleft(
            F.shiftright(y, i).bitwiseAND(F.lit(1)).cast("long"), 2 * i + 1
        )
        z = z.bitwiseOR(xb).bitwiseOR(yb)
    return z


def mg_fold_item(counters: dict, item, w, k: int) -> None:
    """One weighted Misra-Gries fold step, shared by the batch summary
    (approx_heavy_hitters) and the streaming shard state
    (streaming.heavyhitters) — ONE implementation of the decrement
    rule so the two surfaces cannot drift. Callers pre-convert the
    weight to int or float; the fold itself is type-agnostic."""
    if item in counters:
        counters[item] += w
    elif len(counters) < k:
        counters[item] = w
    else:
        # weighted decrement: remove the min counter's worth from
        # everyone (dropping zeros frees a slot), keep the remainder
        # of the newcomer
        dec = min(w, min(counters.values()))
        drop = [it for it, c in counters.items() if c <= dec]
        for it in counters:
            counters[it] -= dec
        for it in drop:
            del counters[it]
        if w > dec:
            counters[item] = w - dec


def approx_heavy_hitters(
    df: DataFrame, col: str, k: int = 100, weight_col: str | None = None
) -> DataFrame:
    """Mergeable frequent-items summary (Misra-Gries / space-saving).

    Each partition keeps at most ``k`` counters via the classic
    decrement rule (Arrow-batched pandas, one pass, O(k) memory); the
    per-partition summaries then merge with a plain groupBy-sum. The
    guarantee composes: per partition the undercount is <= n_p/(k+1),
    so after the merge every item's reported count is a LOWER bound
    within N/(k+1) of its true frequency, and ANY item with true
    frequency > N/(k+1) is guaranteed to survive into the output.

    This is the mergeable-summary pattern for 100 TB frequency
    questions: persist per-day/per-shard summaries (k rows each),
    merge later — the frequent-items counterpart of the HLL sketch
    row (agg_hll_sketch_union). Exact top-k (doc_token_heavy_hitters)
    needs a full shuffle of all distinct items; this needs k rows per
    partition, full stop.

    Returns (item, count_lb, n_total, err_bound) — count_lb is the
    summed lower bound, err_bound = N/(k+1) the worst-case undercount
    (floored to long for integral weights, exact double for float
    weights: truncating a float weight to int would silently break the
    N/(k+1) lower-bound guarantee, so float weights keep float
    arithmetic end to end).
    """
    from collections.abc import Iterable

    import pandas as pd

    is_float_w = weight_col is not None and (
        dict(df.dtypes)[weight_col].startswith(("float", "double", "decimal"))
    )
    num = float if is_float_w else int

    def summarize(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        counters: dict = {}
        n = 0
        for pdf in batches:
            # vectorized pre-aggregation: the python-side MG merge then
            # touches each DISTINCT item once per batch, not each row
            if weight_col:
                vc = pdf.groupby(col, sort=False)[weight_col].sum()
            else:
                vc = pdf[col].value_counts(sort=False)
            n += num(vc.sum())
            for item, w in vc.items():
                mg_fold_item(counters, item, num(w), k)
        yield pd.DataFrame(
            {
                "item": list(counters.keys()) + [None],
                "cnt": list(counters.values()) + [0],
                "n_part": [0] * len(counters) + [n],
            }
        )

    item_type = dict(df.dtypes)[col]
    cnt_type = "double" if is_float_w else "long"
    partials = df.select(
        *( [col, weight_col] if weight_col else [col] )
    ).mapInPandas(
        summarize, schema=f"item {item_type}, cnt {cnt_type}, n_part {cnt_type}"
    )
    # Both output branches (totals + merged) read partials; checkpoint
    # eagerly so the full MG input scan runs ONCE, not once per branch
    # (same rationale as pca_fit's moment checkpoint).
    partials = partials.localCheckpoint(eager=True)
    totals = partials.agg(F.sum("n_part").alias("n_total"))
    merged = (
        partials.filter(F.col("item").isNotNull())
        .groupBy("item")
        .agg(F.sum("cnt").alias("count_lb"))
    )
    err = F.col("n_total") / (k + 1)
    if not is_float_w:
        err = F.floor(err).cast("long")
    return (
        merged.crossJoin(F.broadcast(totals))
        .select("item", "count_lb", "n_total", err.alias("err_bound"))
    )


def isotonic_fit(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    y_sum_col: str,
    w_col: str,
) -> DataFrame:
    """Weighted isotonic regression per group: the O(n) pool-adjacent-
    violators (PAVA) algorithm over each group's (x, y_sum, weight)
    series, Arrow-batched via applyInPandas.

    This is the SCALE PATH named by ml_isotonic_pava's docstring
    (queries/analytics41.py): the oracle-exact minimax identity there
    is O(n^2) in series length — fine for its bounded 50-cell input,
    wrong for long per-group series. Here each group's series (already
    aggregated to one row per distinct x, so its length is bounded by
    the x-domain, not the fact table) is fitted in one linear pass
    inside a worker; groups are distributed by the groupBy shuffle.
    PAVA and the minimax formula compute the SAME function (Robertson
    et al., Order Restricted Statistical Inference, Thm 1.4.4 — the
    max-min characterization of the isotonic projection), which the
    test suite pins by equating both on the same cells.

    Input columns: group_cols + [x_col, y_sum_col (sum of y per x),
    w_col (count/weight per x)]. Output: group_cols + x, iso_fit
    (the fitted weighted mean per x, as double). Weights must be
    strictly positive (a zero-weight cell has no defined isotonic
    mean); the fit raises ValueError inside the worker otherwise
    rather than silently emitting NaN/inf.
    """
    import pandas as pd

    # Output types for the group/x columns mirror the INPUT schema
    # (ADVICE r10: hard-coded 'string'/'bigint' silently cast or broke
    # non-string group keys and non-integer x).
    in_type = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out_fields = ", ".join(
        [f"{c} {in_type[c]}" for c in group_cols]
        + [f"{x_col} {in_type[x_col]}", "iso_fit double"]
    )

    def pava(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(x_col)
        s = pdf[y_sum_col].to_numpy(dtype="float64")
        w = pdf[w_col].to_numpy(dtype="float64")
        if (w <= 0).any():
            raise ValueError(
                f"isotonic_fit: non-positive weight in {w_col} "
                f"(weights must be > 0)"
            )
        # blocks as (total, weight, count-of-cells); merge while the
        # last block's mean exceeds the incoming one
        totals: list[float] = []
        weights: list[float] = []
        sizes: list[int] = []
        for ti, wi in zip(s, w):
            totals.append(float(ti))
            weights.append(float(wi))
            sizes.append(1)
            while (
                len(totals) > 1
                and totals[-2] * weights[-1] >= totals[-1] * weights[-2]
            ):
                totals[-2] += totals[-1]
                weights[-2] += weights[-1]
                sizes[-2] += sizes[-1]
                totals.pop()
                weights.pop()
                sizes.pop()
        fit = []
        for tot, wt, sz in zip(totals, weights, sizes):
            fit.extend([tot / wt] * sz)
        out = pdf[[*group_cols, x_col]].copy()
        out["iso_fit"] = fit
        return out

    return df.groupBy(*group_cols).applyInPandas(pava, schema=out_fields)
