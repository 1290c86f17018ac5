"""Round-8 wave 33: portfolio drawdown, market-microstructure
estimators (Amihud illiquidity, realized/bipower variation), product
analytics (DAU/MAU stickiness), outlier/serial-correlation tests
(Grubbs, Durbin-Watson), permutation entropy, and revenue HHI.

Determinism notes (house rules applied from birth):
- every money/value accumulation is DECIMAL-exact (2-dp inputs), so
  both engines fold the same integers regardless of partial-agg order;
- float accumulations over engine-ordered streams (DW residual sums,
  Amihud terms, RV/BPV terms, HHI share-squares) are quantized to a
  fixed decimal grain FIRST, then summed exactly — the anova/avg-tie
  lesson (docs/ROADMAP.md round-8 log);
- regression moments are pure BIGINT sums (max magnitude ~5e17 at sf5,
  within int64/HUGEINT);
- per-row float chains (returns, residuals, shares) are IEEE-identical
  across engines because their inputs are exact.
"""

from __future__ import annotations

import math

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .base import query, t


# --------------------------------------------------------------------------
# Maximum drawdown over a signed equity curve
# --------------------------------------------------------------------------


@query(
    "win_drawdown",
    # Per user: sign events (click/view spend, everything else earns),
    # run the DECIMAL-exact equity curve in (ts, event_id) order, track
    # the running peak, and report the max relative drawdown from a
    # positive peak. The curve is exact decimal, so peak/cum are
    # bit-identical across engines; the single division is per-row.
    oracle="""
    WITH s AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type IN ('click', 'view')
                  THEN -CAST(value AS DECIMAL(18,2))
                  ELSE CAST(value AS DECIMAL(18,2)) END AS amt
      FROM events
    ), c AS (
      SELECT user_id, ts, event_id, amt,
             sum(amt) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum
      FROM s
    ), p AS (
      SELECT user_id, amt, cum,
             max(cum) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS peak
      FROM c
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(CAST(sum(amt) AS DOUBLE), 2) AS final_equity,
           round(coalesce(max(CASE WHEN peak > 0 THEN
                 (CAST(peak AS DOUBLE) - CAST(cum AS DOUBLE))
                 / CAST(peak AS DOUBLE) END), 0), 6) AS max_drawdown
    FROM p GROUP BY user_id
    """,
)
def win_drawdown(spark, sf_dir):
    """Running-peak max drawdown: two stacked running windows over the
    same (user, ts, event_id) sort — ONE shuffle on user_id, both
    window passes reuse the partitioning; the decimal curve keeps the
    cross-engine fold exact."""
    ev = t(spark, sf_dir, "events")
    amt = F.when(
        F.col("event_type").isin("click", "view"),
        -F.col("value").cast("decimal(18,2)"),
    ).otherwise(F.col("value").cast("decimal(18,2)"))
    wrun = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    c = ev.select(
        "user_id", "ts", "event_id", amt.alias("amt")
    ).withColumn("cum", F.sum("amt").over(wrun))
    p = c.withColumn("peak", F.max("cum").over(wrun))
    dd = F.when(
        F.col("peak") > 0,
        (F.col("peak").cast("double") - F.col("cum").cast("double"))
        / F.col("peak").cast("double"),
    )
    return p.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.round(F.sum("amt").cast("double"), 2).alias("final_equity"),
        F.round(F.coalesce(F.max(dd), F.lit(0.0)), 6).alias(
            "max_drawdown"
        ),
    )


# --------------------------------------------------------------------------
# Amihud (2002) illiquidity: mean of |daily return| / daily volume
# --------------------------------------------------------------------------


@query(
    "trade_amihud_illiquidity",
    # Per event_type: daily close = last value in (ts, event_id) order,
    # daily dollar volume = DECIMAL-exact sum; ILLIQ = mean over days
    # of 1e6 * |ret| / volume. Terms quantized to DECIMAL(24,10) before
    # the cross-day mean so the fold is exact.
    oracle="""
    WITH base AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             ts, event_id, value
      FROM events
    ), vol AS (
      SELECT event_type, day,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS dvol
      FROM base GROUP BY event_type, day
    ), cl AS (
      SELECT event_type, day, value AS close FROM (
        SELECT event_type, day, value,
               row_number() OVER (PARTITION BY event_type, day
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM base) z
      WHERE rn = 1
    ), r AS (
      SELECT c.event_type, c.close,
             lag(c.close) OVER (PARTITION BY c.event_type
                                ORDER BY c.day) AS pc,
             v.dvol
      FROM cl c JOIN vol v
        ON c.event_type = v.event_type AND c.day = v.day
    ), il AS (
      SELECT event_type,
             CAST(round(1000000 * abs((close - pc) / pc) / dvol, 10)
                  AS DECIMAL(24,10)) AS term
      FROM r WHERE pc IS NOT NULL AND pc > 0 AND dvol > 0
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
           round(CAST(sum(term) AS DOUBLE) / count(*), 6) AS amihud_x1e6
    FROM il GROUP BY event_type
    """,
)
def trade_amihud_illiquidity(spark, sf_dir):
    """Amihud ILLIQ on the event stream read as trades. One fact-sized
    shuffle builds the (type, day) relation (volume aggregate +
    row_number close pick share it); everything after is bounded at
    |types| x |days|."""
    ev = t(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.to_date("ts").alias("day"),
        "ts",
        "event_id",
        "value",
    )
    vol = base.groupBy("event_type", "day").agg(
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("dvol")
    )
    wlast = W.partitionBy("event_type", "day").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    cl = (
        base.withColumn("rn", F.row_number().over(wlast))
        .filter(F.col("rn") == 1)
        .select("event_type", "day", F.col("value").alias("close"))
    )
    wday = W.partitionBy("event_type").orderBy("day")
    r = cl.join(vol, ["event_type", "day"]).withColumn(
        "pc", F.lag("close").over(wday)
    )
    term = F.round(
        1000000
        * F.abs((F.col("close") - F.col("pc")) / F.col("pc"))
        / F.col("dvol"),
        10,
    ).cast("decimal(24,10)")
    il = r.filter(
        F.col("pc").isNotNull() & (F.col("pc") > 0) & (F.col("dvol") > 0)
    ).select(
        "event_type", term.alias("term")
    )
    return il.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.round(
            F.sum("term").cast("double") / F.count(F.lit(1)), 6
        ).alias("amihud_x1e6"),
    )


# --------------------------------------------------------------------------
# DAU/MAU stickiness
# --------------------------------------------------------------------------


STICKINESS_SQL = """
    WITH d AS (
      SELECT DISTINCT strftime(date_trunc('month', ts), '%Y-%m') AS mon,
             CAST(date_trunc('day', ts) AS DATE) AS day, user_id
      FROM events
    ), dau AS (
      SELECT mon, day, count(*) AS dau FROM d GROUP BY mon, day
    ), mau AS (
      SELECT mon, count(DISTINCT user_id) AS mau FROM d GROUP BY mon
    ), x AS (
      SELECT mon, CAST(sum(dau) AS BIGINT) AS sum_dau,
             CAST(count(*) AS BIGINT) AS n_days
      FROM dau GROUP BY mon
    )
    SELECT x.mon, CAST(mau.mau AS BIGINT) AS mau, x.n_days,
           round(CAST(sum_dau AS DOUBLE) / n_days, 6) AS avg_dau,
           round(CAST(sum_dau AS DOUBLE) / (n_days * mau.mau), 6)
             AS stickiness
    FROM x JOIN mau ON x.mon = mau.mon
    """


@query(
    "events_stickiness",
    # Per month: average DAU, MAU, and the stickiness ratio
    # avg_dau / mau = sum_dau / (n_days * mau). Pure integer counts on
    # a distinct (month, day, user) relation — exact everywhere; the
    # two emitted ratios are single closed-form divisions.
    oracle=STICKINESS_SQL,
)
def events_stickiness(spark, sf_dir):
    """DAU/MAU: ONE distinct reduce over (month, day, user) is the only
    fact-sized shuffle; DAU and MAU both re-aggregate that bounded
    relation (months x 31 x users worst case, but shrunk to months x 31
    and months rows immediately). The stream twin (stream_dau_mau)
    runs the same two steps."""
    return stickiness(active_days(t(spark, sf_dir, "events")))


def active_days(events):
    """The distinct (mon, day, user_id) relation, batch or streaming."""
    return events.select(
        F.date_format("ts", "yyyy-MM").alias("mon"),
        F.to_date("ts").alias("day"),
        "user_id",
    ).distinct()


def stickiness(days):
    """Per month of ``active_days``: MAU, days, average DAU and
    avg_dau / mau = sum_dau / (n_days * mau)."""
    dau = days.groupBy("mon", "day").agg(F.count(F.lit(1)).alias("dau"))
    # rename the second branch's key: on a stream both branches read the
    # SAME memory-sink view, whose attribute ids collide in a self-join
    mau = (
        days.select(F.col("mon").alias("mon_m"), "user_id")
        .groupBy("mon_m")
        .agg(F.countDistinct("user_id").alias("mau"))
    )
    x = dau.groupBy("mon").agg(
        F.sum("dau").cast("bigint").alias("sum_dau"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )
    return x.join(F.broadcast(mau), F.col("mon") == F.col("mon_m")).select(
        "mon",
        F.col("mau").cast("bigint").alias("mau"),
        "n_days",
        F.round(
            F.col("sum_dau").cast("double") / F.col("n_days"), 6
        ).alias("avg_dau"),
        F.round(
            F.col("sum_dau").cast("double")
            / (F.col("n_days") * F.col("mau")),
            6,
        ).alias("stickiness"),
    )


# --------------------------------------------------------------------------
# Grubbs outlier statistic
# --------------------------------------------------------------------------


@query(
    "stat_grubbs_max",
    # Per event_type: G = max|x - mean| / sd with mean/sd from
    # DECIMAL-exact power sums of the 2-dp values (x^2 is 4-dp exact;
    # max magnitudes ~2.5e11 at sf5, far inside DECIMAL(38,4)). The
    # mean is one exact-integer division; |x - mean| is a per-row
    # chain; max is order-free.
    oracle="""
    WITH m AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             sum(CAST(value AS DECIMAL(18,2))) AS s,
             sum(CAST(value AS DECIMAL(18,2))
                 * CAST(value AS DECIMAL(18,2))) AS ss
      FROM events GROUP BY event_type
    ), f AS (
      SELECT event_type, n,
             CAST(s AS DOUBLE) / n AS mean,
             sqrt((CAST(ss AS DOUBLE)
                   - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                  / (n - 1)) AS sd
      FROM m WHERE n > 1
        AND CAST(ss AS DOUBLE)
            - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n > 0
    )
    SELECT e.event_type, f.n,
           round(f.mean, 6) AS mean,
           round(f.sd, 6) AS sd,
           round(max(abs(e.value - f.mean)) / f.sd, 6) AS grubbs_g
    FROM events e JOIN f ON e.event_type = f.event_type
    GROUP BY e.event_type, f.n, f.mean, f.sd
    """,
)
def stat_grubbs_max(spark, sf_dir):
    """Grubbs' max-outlier statistic: first pass = exact decimal power
    sums per type (map-side combined); second pass re-scans with the
    broadcast 5-row moment relation and reduces max|x - mean|. Two
    scans, zero fact-sized shuffles beyond the 5-group aggregate."""
    ev = t(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,2)")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(dec).alias("s"),
        F.sum(dec * dec).alias("ss"),
    )
    sd_ = F.sqrt(
        (
            F.col("ss").cast("double")
            - F.col("s").cast("double")
            * F.col("s").cast("double")
            / F.col("n")
        )
        / (F.col("n") - 1)
    )
    var_num = F.col("ss").cast("double") - F.col("s").cast(
        "double"
    ) * F.col("s").cast("double") / F.col("n")
    f = m.filter((F.col("n") > 1) & (var_num > 0)).select(
        "event_type",
        "n",
        (F.col("s").cast("double") / F.col("n")).alias("mean"),
        sd_.alias("sd"),
    )
    j = ev.join(F.broadcast(f), "event_type")
    return j.groupBy("event_type", "n", "mean", "sd").agg(
        F.round(
            F.max(F.abs(F.col("value") - F.col("mean"))) / F.col("sd"),
            6,
        ).alias("grubbs_g")
    ).select(
        "event_type",
        "n",
        F.round("mean", 6).alias("mean"),
        F.round("sd", 6).alias("sd"),
        "grubbs_g",
    )


# --------------------------------------------------------------------------
# Durbin-Watson serial-correlation test on detrended hourly counts
# --------------------------------------------------------------------------


@query(
    "stat_durbin_watson",
    # Per event_type: OLS-detrend the hourly count series (x = hour
    # rank, y = count — ALL regression moments are BIGINT-exact), then
    # DW = sum((e_t - e_{t-1})^2) / sum(e_t^2) with residuals quantized
    # to DECIMAL(13,6) before the sums so both engines fold identical
    # decimals (the anova magnitude rule applied from birth).
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr,
             count(*) AS c
      FROM events GROUP BY event_type, hr
    ), xd AS (
      SELECT event_type, hr, CAST(c AS BIGINT) AS c,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY hr) AS x
      FROM hourly
    ), mo AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(c) AS BIGINT) AS sy,
             CAST(sum(x * c) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM xd GROUP BY event_type
    ), fit AS (
      SELECT event_type, n,
             CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
             sx, sy
      FROM mo WHERE n * sxx - sx * sx <> 0
    ), fit2 AS (
      SELECT event_type, n, slope,
             (CAST(sy AS DOUBLE) - slope * sx) / n AS icept
      FROM fit
    ), q AS (
      SELECT xd.event_type, xd.x, f.n, f.slope,
             CAST(round(xd.c - f.icept - f.slope * xd.x, 6)
                  AS DECIMAL(13,6)) AS qe
      FROM xd JOIN fit2 f ON xd.event_type = f.event_type
    ), dq AS (
      SELECT event_type, n, slope, qe,
             qe - lag(qe) OVER (PARTITION BY event_type
                                ORDER BY x) AS d
      FROM q
    )
    SELECT event_type, n AS n_hours,
           round(slope, 6) + 0.0 AS slope,
           round(CAST(sum(d * d) AS DOUBLE)
                 / CAST(sum(qe * qe) AS DOUBLE), 6) AS dw
    FROM dq GROUP BY event_type, n, slope
    HAVING sum(qe * qe) <> 0
    """,
)
def stat_durbin_watson(spark, sf_dir):
    """DW on the OLS-detrended hourly count series. The hourly
    aggregate is the only fact shuffle; moments are integer sums over
    the bounded (type, hour) relation; residuals quantized to
    DECIMAL(13,6) so the numerator/denominator sums are exact."""
    ev = t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.floor(F.col("ts").cast("double") / 3600)
        .cast("bigint")
        .alias("hr"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    xd = hourly.withColumn(
        "x",
        F.row_number().over(
            W.partitionBy("event_type").orderBy("hr")
        ).cast("bigint"),
    )
    mo = xd.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("c").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("c")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    fit = mo.filter(den != 0).select(
        "event_type",
        "n",
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            .cast("double")
            / den.cast("double")
        ).alias("slope"),
        "sx",
        "sy",
    )
    fit2 = fit.select(
        "event_type",
        "n",
        "slope",
        (
            (F.col("sy").cast("double") - F.col("slope") * F.col("sx"))
            / F.col("n")
        ).alias("icept"),
    )
    q = xd.join(F.broadcast(fit2), "event_type").select(
        "event_type",
        "x",
        "n",
        "slope",
        F.round(
            F.col("c") - F.col("icept") - F.col("slope") * F.col("x"), 6
        )
        .cast("decimal(13,6)")
        .alias("qe"),
    )
    dq = q.withColumn(
        "d",
        F.col("qe")
        - F.lag("qe").over(W.partitionBy("event_type").orderBy("x")),
    )
    g = dq.groupBy("event_type", "n", "slope").agg(
        F.sum(F.col("d") * F.col("d")).cast("double").alias("dw_num"),
        F.sum(F.col("qe") * F.col("qe")).cast("double").alias("dw_den"),
    )
    return g.filter(F.col("dw_den") != 0).withColumn(
        "dw", F.round(F.col("dw_num") / F.col("dw_den"), 6)
    ).select(
        "event_type",
        F.col("n").alias("n_hours"),
        # + 0.0 post-round: the detrend slope is signed and can round
        # to zero from below — DuckDB keeps −0.0 where Spark's
        # BigDecimal round yields +0.0 (caught by the sign-aware r12
        # sf5 sweep; the r11 events_bass_diffusion class)
        (F.round("slope", 6) + 0.0).alias("slope"),
        "dw",
    )


# --------------------------------------------------------------------------
# Permutation entropy (order 3) of the hourly count series
# --------------------------------------------------------------------------


@query(
    "ts_permutation_entropy",
    # Bandt-Pompe permutation entropy, order 3, on the observed hourly
    # count series per event_type: each length-3 window maps to the
    # 3-bit strict-less pattern (c<c1, c1<c2, c<c2 — ties collapse,
    # documented); entropy over the bounded (type, pattern) counts via
    # the ln(N) - sum(c ln c)/N identity (same shape as the green
    # agg_group_entropy).
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr,
             count(*) AS c
      FROM events GROUP BY event_type, hr
    ), led AS (
      SELECT event_type, hr, c,
             lead(c, 1) OVER (PARTITION BY event_type ORDER BY hr)
               AS c1,
             lead(c, 2) OVER (PARTITION BY event_type ORDER BY hr)
               AS c2
      FROM hourly
    ), pat AS (
      SELECT event_type,
             CASE WHEN c < c1 THEN 4 ELSE 0 END
             + CASE WHEN c1 < c2 THEN 2 ELSE 0 END
             + CASE WHEN c < c2 THEN 1 ELSE 0 END AS pattern
      FROM led WHERE c2 IS NOT NULL AND c1 IS NOT NULL
    ), pc AS (
      SELECT event_type, pattern, count(*) AS cp
      FROM pat GROUP BY event_type, pattern
    )
    SELECT event_type,
           CAST(sum(cp) AS BIGINT) AS n_windows,
           CAST(count(*) AS BIGINT) AS n_patterns,
           round(ln(CAST(sum(cp) AS DOUBLE))
                 - sum(cp * ln(CAST(cp AS DOUBLE)))
                   / CAST(sum(cp) AS DOUBLE), 6) AS perm_entropy_nats
    FROM pc GROUP BY event_type
    """,
)
def ts_permutation_entropy(spark, sf_dir):
    """Order-3 permutation entropy: two leads over the bounded hourly
    relation, a 3-bit integer pattern, and the entropy identity over
    at most 8 patterns per type — integers until the single closed
    form per output row."""
    ev = t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.floor(F.col("ts").cast("double") / 3600)
        .cast("bigint")
        .alias("hr"),
    ).agg(F.count(F.lit(1)).alias("c"))
    w = W.partitionBy("event_type").orderBy("hr")
    led = hourly.select(
        "event_type",
        "c",
        F.lead("c", 1).over(w).alias("c1"),
        F.lead("c", 2).over(w).alias("c2"),
    )
    pattern = (
        F.when(F.col("c") < F.col("c1"), 4).otherwise(0)
        + F.when(F.col("c1") < F.col("c2"), 2).otherwise(0)
        + F.when(F.col("c") < F.col("c2"), 1).otherwise(0)
    )
    pat = led.filter(
        F.col("c2").isNotNull() & F.col("c1").isNotNull()
    ).select("event_type", pattern.alias("pattern"))
    pc = pat.groupBy("event_type", "pattern").agg(
        F.count(F.lit(1)).alias("cp")
    )
    return pc.groupBy("event_type").agg(
        F.sum("cp").cast("bigint").alias("n_windows"),
        F.count(F.lit(1)).cast("bigint").alias("n_patterns"),
        F.round(
            F.log(F.sum("cp").cast("double"))
            - F.sum(F.col("cp") * F.log(F.col("cp").cast("double")))
            / F.sum("cp").cast("double"),
            6,
        ).alias("perm_entropy_nats"),
    )


# --------------------------------------------------------------------------
# Herfindahl-Hirschman revenue concentration per nation
# --------------------------------------------------------------------------


@query(
    "agg_hhi_concentration",
    # Per nation: HHI of supplier revenue shares, scaled x1e4. Supplier
    # revenue is the DECIMAL-exact sum of extendedprice*(1-discount)
    # (2-dp x 2-dp = 4-dp exact); shares are per-row chains off exact
    # totals; share^2 terms quantized to DECIMAL(22,10) before the
    # per-nation sum.
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             sum(CAST(l_extendedprice AS DECIMAL(18,2))
                 * CAST(1 - l_discount AS DECIMAL(5,2))) AS r
      FROM lineitem GROUP BY l_suppkey
    ), sn AS (
      SELECT n.n_name, rev.r
      FROM rev
      JOIN supplier s ON rev.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
    ), tot AS (
      SELECT n_name, sum(r) AS tr, CAST(count(*) AS BIGINT) AS ns
      FROM sn GROUP BY n_name
    )
    SELECT t.n_name, t.ns AS n_suppliers,
           round(CAST(sum(CAST(round(
               10000 * (CAST(sn.r AS DOUBLE) / CAST(t.tr AS DOUBLE))
                     * (CAST(sn.r AS DOUBLE) / CAST(t.tr AS DOUBLE)),
               10) AS DECIMAL(22,10))) AS DOUBLE), 6) AS hhi_x1e4
    FROM sn JOIN tot t ON sn.n_name = t.n_name
    GROUP BY t.n_name, t.ns
    """,
)
def agg_hhi_concentration(spark, sf_dir):
    """Revenue HHI: ONE fact shuffle (per-supplier revenue), then
    broadcast dim joins and a re-aggregate over the supplier-bounded
    relation. Exact decimals until the share division."""
    li = t(spark, sf_dir, "lineitem")
    sup = t(spark, sf_dir, "supplier")
    nat = t(spark, sf_dir, "nation")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (1 - F.col("l_discount")).cast("decimal(5,2)")
        ).alias("r")
    )
    sn = (
        rev.join(
            F.broadcast(sup), rev.l_suppkey == sup.s_suppkey
        )
        .join(
            F.broadcast(nat),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("n_name", "r")
    )
    tot = sn.groupBy("n_name").agg(
        F.sum("r").alias("tr"),
        F.count(F.lit(1)).cast("bigint").alias("ns"),
    )
    share = F.col("r").cast("double") / F.col("tr").cast("double")
    term = F.round(10000 * share * share, 10).cast("decimal(22,10)")
    j = sn.join(F.broadcast(tot), "n_name")
    return j.groupBy("n_name", "ns").agg(
        F.round(F.sum(term).cast("double"), 6).alias("hhi_x1e4")
    ).select(
        "n_name", F.col("ns").alias("n_suppliers"), "hhi_x1e4"
    )


# --------------------------------------------------------------------------
# Realized variance vs bipower variation (jump detection)
# --------------------------------------------------------------------------


@query(
    "trade_realized_bipower",
    # Per (event_type, day): RV = sum r^2 and BPV = (pi/2) sum
    # |r_t||r_{t-1}| over intraday hourly price returns, where the
    # hourly price is the DECIMAL-exact mean of value. Terms quantized
    # to DECIMAL(20,8) pre-sum; jump_var = max(0, RV - BPV) via
    # coalesced sums so empty BPV days agree across engines.
    oracle="""
    WITH hp AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               / count(*) AS p
      FROM events GROUP BY event_type, day, hr
    ), r AS (
      SELECT event_type, day, hr,
             p - lag(p) OVER (PARTITION BY event_type, day
                              ORDER BY hr) AS ret
      FROM hp
    ), rr AS (
      SELECT event_type, day, ret,
             lag(ret) OVER (PARTITION BY event_type, day
                            ORDER BY hr) AS pret
      FROM r
    ), terms AS (
      SELECT event_type, day,
             CAST(round(ret * ret, 8) AS DECIMAL(20,8)) AS rv_t,
             CASE WHEN pret IS NOT NULL THEN
               CAST(round(abs(ret) * abs(pret), 8) AS DECIMAL(20,8))
             END AS bp_t
      FROM rr WHERE ret IS NOT NULL
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           CAST(count(*) AS BIGINT) AS n_rets,
           round(CAST(sum(rv_t) AS DOUBLE), 6) AS rv,
           round(pi() / 2 * coalesce(CAST(sum(bp_t) AS DOUBLE), 0), 6)
             AS bpv,
           round(greatest(0, CAST(sum(rv_t) AS DOUBLE)
                 - pi() / 2 * coalesce(CAST(sum(bp_t) AS DOUBLE), 0)),
                 6) AS jump_var
    FROM terms GROUP BY event_type, day
    """,
)
def trade_realized_bipower(spark, sf_dir):
    """RV/BPV jump decomposition: the (type, day, hour) price relation
    is the only fact shuffle; two stacked lags reuse its partitioning;
    term quantization keeps the per-day sums exact."""
    ev = t(spark, sf_dir, "events")
    hp = ev.groupBy(
        "event_type",
        F.to_date("ts").alias("day"),
        F.floor(F.col("ts").cast("double") / 3600)
        .cast("bigint")
        .alias("hr"),
    ).agg(
        (
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("p")
    )
    w = W.partitionBy("event_type", "day").orderBy("hr")
    r = hp.withColumn("ret", F.col("p") - F.lag("p").over(w))
    rr = r.withColumn("pret", F.lag("ret").over(w))
    rv_t = F.round(F.col("ret") * F.col("ret"), 8).cast(
        "decimal(20,8)"
    )
    bp_t = F.when(
        F.col("pret").isNotNull(),
        F.round(F.abs("ret") * F.abs("pret"), 8).cast("decimal(20,8)"),
    )
    terms = rr.filter(F.col("ret").isNotNull()).select(
        "event_type", "day", rv_t.alias("rv_t"), bp_t.alias("bp_t")
    )
    half_pi = F.lit(math.pi / 2)
    rv = F.sum("rv_t").cast("double")
    bp = F.coalesce(F.sum("bp_t").cast("double"), F.lit(0.0))
    return terms.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rets"),
        F.round(rv, 6).alias("rv"),
        F.round(half_pi * bp, 6).alias("bpv"),
        F.round(F.greatest(F.lit(0.0), rv - half_pi * bp), 6).alias(
            "jump_var"
        ),
    ).select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_rets",
        "rv",
        "bpv",
        "jump_var",
    )
