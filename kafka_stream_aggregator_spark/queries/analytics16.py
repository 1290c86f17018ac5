"""Sixteenth analytics wave (round 7): k-fold cross-validated linear
regression, Poisson burst detection, and the Friedman test.

Determinism:
- fold assignment is the portable 60-bit hash (both engines rebuild
  it), so the SPLIT itself is oracle-checked;
- per-fold training moments are exact decimal TOTALS minus the fold's
  own moments (one aggregate, no second pass);
- every squared residual rounds to 9 dp and sums in DECIMAL (the
  chi-square pattern);
- Friedman ranks come from pairwise comparisons of identical
  decimal-sum/count double chains — midranks as exact 2*rank
  integers, the spearman trick.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..sketches import U64_SQL_TEMPLATE as U64
from ..sketches import portable_u64
from .base import query, t

N_FOLDS = 5


@query(
    "ml_kfold_cv_linreg",
    # 5-fold CV of simple OLS (l_extendedprice ~ l_quantity): folds
    # from the portable hash of the line key; train moments for fold f
    # are the EXACT decimal totals minus fold f's moments; per-fold
    # slope/intercept are one double chain; the test-side PREDICTION
    # quantizes to 6 dp (round-6 at ~1e5 magnitude is deterministic:
    # ulp 1.5e-11 << the grain) so every squared residual is an EXACT
    # DECIMAL — no float accumulation anywhere (the anova sf5 lesson:
    # round-9 of ~1e10-magnitude doubles is NOT cross-engine-stable).
    oracle=f"""
    WITH d AS (
      SELECT CAST({U64.format(expr="(CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR) || ':cv')")}
                  % {N_FOLDS} AS INTEGER) AS fold,
             CAST(round(l_quantity, 6) AS DECIMAL(12,6)) AS x,
             CAST(round(l_quantity, 6) AS DECIMAL(20,6)) AS xw,
             CAST(round(l_extendedprice, 6) AS DECIMAL(14,6)) AS y
      FROM lineitem
    ), fm AS (
      SELECT fold,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS DECIMAL(38,6)) AS sx,
             CAST(sum(y) AS DECIMAL(38,6)) AS sy,
             CAST(sum(xw * x) AS DECIMAL(38,12)) AS sxx,
             CAST(sum(xw * y) AS DECIMAL(38,12)) AS sxy
      FROM d GROUP BY fold
    ), tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS tn,
             CAST(sum(sx) AS DECIMAL(38,6)) AS tsx,
             CAST(sum(sy) AS DECIMAL(38,6)) AS tsy,
             CAST(sum(sxx) AS DECIMAL(38,12)) AS tsxx,
             CAST(sum(sxy) AS DECIMAL(38,12)) AS tsxy
      FROM fm
    ), coef AS (
      SELECT fold, n AS n_test, tn - n AS n_train,
             (CAST(tn - n AS DOUBLE) * CAST(tsxy - sxy AS DOUBLE)
              - CAST(tsx - sx AS DOUBLE) * CAST(tsy - sy AS DOUBLE))
             / (CAST(tn - n AS DOUBLE) * CAST(tsxx - sxx AS DOUBLE)
                - CAST(tsx - sx AS DOUBLE) * CAST(tsx - sx AS DOUBLE))
               AS b
      FROM fm, tot
    ), coef2 AS (
      SELECT fold, n_test, n_train, b,
             (CAST(tsy - fm.sy AS DOUBLE)
              - b * CAST(tsx - fm.sx AS DOUBLE)) / (tot.tn - fm.n) AS a
      FROM coef JOIN fm USING (fold), tot
    ), res AS (
      SELECT d.fold,
             (d.y - CAST(round(c.a + c.b * CAST(d.x AS DOUBLE), 6)
                         AS DECIMAL(16,6))) AS rz
      FROM d JOIN coef2 c ON d.fold = c.fold
    )
    SELECT c.fold, c.n_train, c.n_test,
           round(c.a, 6) AS intercept, round(c.b, 6) AS coef_qty,
           round(sqrt(CAST(r.s2 AS DOUBLE) / c.n_test), 6) AS rmse
    FROM coef2 c JOIN (
      SELECT fold, CAST(sum(CAST(rz AS DECIMAL(19,6)) * rz) AS DECIMAL(38,12))
               AS s2
      FROM res GROUP BY fold
    ) r ON c.fold = r.fold
    """,
)
def ml_kfold_cv_linreg(spark, sf_dir):
    """K-fold CV as a relational operator: ONE moments aggregate (per
    fold — map-side partial), train moments by exact subtraction from
    the totals, one residual pass with the 5-row coefficient relation
    broadcast. Two scans total for the full 5-fold evaluation,
    regardless of k — the shape that cross-validates 100 TB."""
    li = t(spark, sf_dir, "lineitem")
    key = F.concat_ws(
        "_", F.col("l_orderkey"), F.col("l_linenumber")
    )
    x = F.round("l_quantity", 6).cast("decimal(12,6)")
    xw = F.round("l_quantity", 6).cast("decimal(20,6)")
    y = F.round("l_extendedprice", 6).cast("decimal(14,6)")
    d = li.select(
        (portable_u64(key, salt="cv") % N_FOLDS).cast("int").alias("fold"),
        x.alias("x"),
        xw.alias("xw"),
        y.alias("y"),
    )
    fm = d.groupBy("fold").agg(
        F.count("*").alias("n"),
        F.sum("x").cast("decimal(38,6)").alias("sx"),
        F.sum("y").cast("decimal(38,6)").alias("sy"),
        F.sum(F.col("xw") * F.col("x")).cast("decimal(38,12)").alias("sxx"),
        F.sum(F.col("xw") * F.col("y")).cast("decimal(38,12)").alias("sxy"),
    )
    tot = fm.agg(
        F.sum("n").cast("bigint").alias("tn"),
        F.sum("sx").cast("decimal(38,6)").alias("tsx"),
        F.sum("sy").cast("decimal(38,6)").alias("tsy"),
        F.sum("sxx").cast("decimal(38,12)").alias("tsxx"),
        F.sum("sxy").cast("decimal(38,12)").alias("tsxy"),
    )
    j = fm.crossJoin(F.broadcast(tot))
    ntr = (F.col("tn") - F.col("n")).cast("double")
    dsx = (F.col("tsx") - F.col("sx")).cast("double")
    dsy = (F.col("tsy") - F.col("sy")).cast("double")
    dsxx = (F.col("tsxx") - F.col("sxx")).cast("double")
    dsxy = (F.col("tsxy") - F.col("sxy")).cast("double")
    b = (ntr * dsxy - dsx * dsy) / (ntr * dsxx - dsx * dsx)
    coef2 = j.select(
        "fold",
        F.col("n").alias("n_test"),
        (F.col("tn") - F.col("n")).alias("n_train"),
        b.alias("b"),
    ).join(fm.select("fold", "sx", "sy", "n"), "fold").crossJoin(
        F.broadcast(tot.select("tn", "tsx", "tsy"))
    ).select(
        "fold",
        "n_test",
        "n_train",
        "b",
        (
            (
                (F.col("tsy") - F.col("sy")).cast("double")
                - F.col("b") * (F.col("tsx") - F.col("sx")).cast("double")
            )
            / (F.col("tn") - F.col("n"))
        ).alias("a"),
    )
    res = d.join(
        F.broadcast(coef2.select("fold", "a", "b")), "fold"
    ).select(
        "fold",
        (
            F.col("y")
            - F.round(
                F.col("a") + F.col("b") * F.col("x").cast("double"), 6
            ).cast("decimal(16,6)")
        ).alias("rz"),
    )
    s2 = res.groupBy("fold").agg(
        F.sum(F.col("rz").cast("decimal(19,6)") * F.col("rz"))
        .cast("decimal(38,12)")
        .alias("s2")
    )
    return coef2.join(s2, "fold").select(
        "fold",
        "n_train",
        "n_test",
        F.round("a", 6).alias("intercept"),
        F.round("b", 6).alias("coef_qty"),
        F.round(
            F.sqrt(F.col("s2").cast("double") / F.col("n_test")), 6
        ).alias("rmse"),
    )


# --------------------------------------------------------------------------
# Poisson burst detection on (type, hour) cells
# --------------------------------------------------------------------------


BURST_SQL = """
    WITH cells AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ), base AS (
      SELECT event_type, hour % 24 AS hod,
             CAST(sum(c) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_cells
      FROM cells GROUP BY 1, 2
    )
    SELECT cells.event_type, hour, c,
           round(CAST(total AS DOUBLE) / n_cells, 6) AS lam,
           round((c - CAST(total AS DOUBLE) / n_cells)
                 / sqrt(CAST(total AS DOUBLE) / n_cells), 6) AS z
    FROM cells JOIN base
      ON cells.event_type = base.event_type
     AND cells.hour % 24 = base.hod
    WHERE (c - CAST(total AS DOUBLE) / n_cells)
          / sqrt(CAST(total AS DOUBLE) / n_cells) > 1.5
    """


@query(
    "events_poisson_burst",
    # Per (event_type, hour-of-day) baseline rate from observed hourly
    # cells; a cell is a burst when its Poisson z-score
    # (c - lambda)/sqrt(lambda) exceeds 1.5 (the demo threshold that
    # fires on the near-uniform synthetic timeline; production would
    # use 3). lambda = exact integer
    # total / integer cell count (identical double chain). The
    # baseline averages OBSERVED cells (documented: absent cells are
    # genuinely absent hours, not zeros, under the extending-timeline
    # scale model).
    oracle=BURST_SQL,
)
def events_poisson_burst(spark, sf_dir):
    """Burst cells: one fact shuffle into hourly cells, the bounded
    (type, hour-of-day) baseline broadcast back — two aggregates and
    a map-only flag pass. The stream twin (stream_poisson_burst) runs
    the same two steps."""
    return burst_flags(hour_cells(t(spark, sf_dir, "events")))


def hour_cells(events):
    """Event count per (event_type, epoch hour) cell, batch or
    streaming (a count is order- and batching-independent)."""
    return events.groupBy(
        "event_type",
        F.floor(F.col("ts").cast("double") / 3600).cast("bigint").alias("hour"),
    ).agg(F.count("*").cast("bigint").alias("c"))


def burst_flags(cells):
    """Cells of ``hour_cells`` whose Poisson z-score against their
    (type, hour-of-day) baseline exceeds 1.5, with lambda and z."""
    base = cells.groupBy(
        "event_type", (F.col("hour") % 24).alias("hod")
    ).agg(
        F.sum("c").cast("bigint").alias("total"),
        F.count("*").cast("bigint").alias("n_cells"),
    )
    lam = F.col("total").cast("double") / F.col("n_cells")
    z = (F.col("c") - lam) / F.sqrt(lam)
    return (
        cells.withColumn("hod", F.col("hour") % 24)
        .join(F.broadcast(base), ["event_type", "hod"])
        .filter(z > 1.5)
        .select(
            "event_type",
            "hour",
            "c",
            F.round(lam, 6).alias("lam"),
            F.round(z, 6).alias("z"),
        )
    )


# --------------------------------------------------------------------------
# Friedman test (within-user treatment ranks)
# --------------------------------------------------------------------------


@query(
    "stat_friedman_test",
    # Friedman's rank test: users with all 5 event types are blocks,
    # the 5 types are treatments, response = per-(user, type) mean
    # value. Ranks come from PAIRWISE comparisons of the identical
    # decimal-sum/count double chains (midranks via the exact 2*rank
    # integers); the tie-corrected statistic
    # Q = (k-1) * S / (A - C) is assembled from exact quarter-integer
    # moments, one double chain at the end.
    oracle="""
    WITH m AS (
      SELECT user_id, event_type,
             CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6)))
                  AS DOUBLE) / count(*) AS mv
      FROM events GROUP BY user_id, event_type
    ), full_u AS (
      SELECT user_id FROM m GROUP BY user_id HAVING count(*) = 5
    ), mm AS (
      SELECT m.user_id, m.event_type, m.mv
      FROM m JOIN full_u USING (user_id)
    ), rk AS (
      SELECT a.user_id, a.event_type,
             CAST(2 + 2 * count_if(b.mv < a.mv)
                  + count_if(b.mv = a.mv AND b.event_type <> a.event_type)
                  AS BIGINT) AS two_r
      FROM mm a JOIN mm b ON a.user_id = b.user_id
      GROUP BY a.user_id, a.event_type
    ), stats AS (
      SELECT CAST((SELECT count(*) FROM full_u) AS BIGINT) AS n,
             CAST(sum(two_r * two_r) AS DECIMAL(38,0)) AS sum_4a
      FROM rk
    ), rj AS (
      SELECT event_type, CAST(sum(two_r) AS BIGINT) AS two_rj
      FROM rk GROUP BY event_type
    ), s AS (
      SELECT CAST(sum((two_rj - (SELECT n FROM stats) * 6)
                      * (two_rj - (SELECT n FROM stats) * 6))
                  AS DECIMAL(38,0)) AS four_s
      FROM rj
    )
    SELECT n,
           round((5 - 1) * (CAST(four_s AS DOUBLE) / 4)
                 / (CAST(sum_4a AS DOUBLE) / 4
                    - CAST(n AS DOUBLE) * 5 * 36 / 4), 6) AS q_stat
    FROM stats, s
    """,
)
def stat_friedman_test(spark, sf_dir):
    """Friedman test: per-(user, type) means are one fact aggregate;
    the pairwise rank join fans each user into k^2 = 25 bounded rows —
    linear in users, the block-design shape at any scale."""
    ev = t(spark, sf_dir, "events")
    dec = F.round("value", 6).cast("decimal(18,6)")
    m = ev.groupBy("user_id", "event_type").agg(
        (F.sum(dec).cast("double") / F.count("*")).alias("mv")
    )
    full_u = m.groupBy("user_id").agg(F.count("*").alias("k")).filter(
        F.col("k") == 5
    ).select("user_id")
    mm = m.join(full_u, "user_id")
    a = mm.select(
        "user_id", F.col("event_type").alias("et_a"), F.col("mv").alias("mv_a")
    )
    b2 = mm.select(
        "user_id", F.col("event_type").alias("et_b"), F.col("mv").alias("mv_b")
    )
    rk = (
        a.join(b2, "user_id")
        .groupBy("user_id", "et_a")
        .agg(
            (
                2
                + 2 * F.count_if(F.col("mv_b") < F.col("mv_a"))
                + F.count_if(
                    (F.col("mv_b") == F.col("mv_a"))
                    & (F.col("et_b") != F.col("et_a"))
                )
            )
            .cast("bigint")
            .alias("two_r")
        )
    )
    n_df = full_u.agg(F.count("*").cast("bigint").alias("n"))
    stats = rk.agg(
        F.sum(F.col("two_r") * F.col("two_r"))
        .cast("decimal(38,0)")
        .alias("sum_4a")
    ).crossJoin(F.broadcast(n_df))
    rj = rk.groupBy("et_a").agg(
        F.sum("two_r").cast("bigint").alias("two_rj")
    )
    s = (
        rj.crossJoin(F.broadcast(n_df))
        .agg(
            F.sum(
                (F.col("two_rj") - F.col("n") * 6)
                * (F.col("two_rj") - F.col("n") * 6)
            )
            .cast("decimal(38,0)")
            .alias("four_s")
        )
    )
    return stats.crossJoin(s).select(
        "n",
        F.round(
            (5 - 1)
            * (F.col("four_s").cast("double") / 4)
            / (
                F.col("sum_4a").cast("double") / 4
                - F.col("n").cast("double") * 5 * 36 / 4
            ),
            6,
        ).alias("q_stat"),
    )
