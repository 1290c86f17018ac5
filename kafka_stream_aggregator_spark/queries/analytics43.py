"""Round-12 wave 56: paired/stratified tests, diversity, dispersion
metrics, stability analysis, resampling SEs, and the two measured
tiers VERDICT r11 prescribed.

stat_sign_test is the paired sign test (hourly click-vs-view cents,
continuity-corrected normal z). agg_diversity_profile reports the
ecology triple (Shannon H', Simpson D, Pielou J) per event_type with
species = user. stat_odds_ratio is the 2x2 odds-ratio/relative-risk
with Woolf CI. ml_mcc_confusion closes the binary-eval seam (MCC,
F1, balanced accuracy from integer confusion cells).
events_burstiness_fano adds the two classic point-process dispersion
coefficients (Goh-Barabasi burstiness B over per-user interarrival
gaps; Fano factor over per-minute counts). stat_mantel_haenszel is
the stratified 2x2 (MH common odds ratio + continuity-corrected CMH
chi-square, strata = event_type). ts_allan_variance is overlapping
Allan variance/deviation of the hourly cents series at tau 1/2/4.
stat_jackknife_ratio is the delete-one jackknife SE of a ratio
estimator in closed form (one scan + broadcast totals).
emb_hard_negatives_numpy is the measured Arrow/numpy twin of
emb_hard_negatives (VERDICT r11 item 4). stream_session_ewma runs
the reference's EWMA fold inside native streaming session windows
(VERDICT r11 item 7) — oracled via the closed-form rank-indexed sum
under the stream_session_stats horizon convention.

Float discipline (docs/ROUND9_AUDIT + r10/r11 rules): counts and
cents are BIGINT; per-row doubles are quantized to DECIMAL(38,6)
pre-sum wherever a relation-sized double sum closes the chain; libm
terms feeding round(x,6) stay unquantized only when magnitude*8.9e-16
< 2.5e-8; z/threshold literals are CAST to DOUBLE in oracles; signed
near-zero emissions are normalized + 0.0 and nonneg-by-definition
emissions clamped greatest(0, .); products of big counts are cast to
DOUBLE before multiplying (int64 headroom, r11 ADVICE).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .base import query, t

_CENTS = "CAST(round(value * 100, 0) AS BIGINT)"


def _cents(col="value"):
    return F.round(F.col(col) * 100, 0).cast("bigint")


# ------------------------------------------------------------ sign test


@query(
    "stat_sign_test",
    # Paired sign test: pairs = hours, x = click cents, y = view
    # cents (missing side = 0). All-integer until the closing z =
    # (max - n/2 - 0.5)/sqrt(n/4) (continuity-corrected normal
    # approx); z normalized + 0.0 (it is exactly 0 when the larger
    # side equals n/2 + 0.5 — impossible — but can be a tiny signed
    # eps when pos ~ neg).
    oracle=f"""
    WITH hourly AS (
      SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr,
             CAST(coalesce(sum(CASE WHEN event_type = 'click'
                                    THEN {_CENTS} END), 0) AS BIGINT) AS x,
             CAST(coalesce(sum(CASE WHEN event_type = 'view'
                                    THEN {_CENTS} END), 0) AS BIGINT) AS y
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY hr
    ), cells AS (
      SELECT CAST(count(*) FILTER (WHERE x > y) AS BIGINT) AS pos,
             CAST(count(*) FILTER (WHERE x < y) AS BIGINT) AS neg,
             CAST(count(*) FILTER (WHERE x = y) AS BIGINT) AS ties
      FROM hourly
    )
    SELECT pos AS n_pos, neg AS n_neg, ties AS n_tie,
           least(pos, neg) AS s_stat,
           round((CAST(greatest(pos, neg) AS DOUBLE)
                  - (pos + neg) / 2.0 - 0.5)
                 / sqrt((pos + neg) / 4.0) + 0.0, 6) AS z
    FROM cells WHERE pos + neg > 0
    """,
)
def stat_sign_test(spark, sf_dir):
    """Paired sign test in two aggregations: one groupBy to the
    hourly pair relation, one global aggregate over the three sign
    cells — no per-pair shuffle beyond the hour rollup, so the test
    costs one pass at any scale."""
    ev = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    hourly = ev.groupBy(
        F.floor(F.col("ts").cast("double") / 3600).cast("bigint").alias("hr")
    ).agg(
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "click", _cents())), F.lit(0)
        ).cast("bigint").alias("x"),
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "view", _cents())), F.lit(0)
        ).cast("bigint").alias("y"),
    )
    cells = hourly.agg(
        F.count(F.when(F.col("x") > F.col("y"), 1)).cast("bigint").alias("pos"),
        F.count(F.when(F.col("x") < F.col("y"), 1)).cast("bigint").alias("neg"),
        F.count(F.when(F.col("x") == F.col("y"), 1)).cast("bigint").alias("ties"),
    )
    pos, neg = F.col("pos"), F.col("neg")
    return cells.filter(pos + neg > 0).select(
        pos.alias("n_pos"),
        neg.alias("n_neg"),
        F.col("ties").alias("n_tie"),
        F.least(pos, neg).alias("s_stat"),
        F.round(
            (F.greatest(pos, neg).cast("double") - (pos + neg) / 2.0 - 0.5)
            / F.sqrt((pos + neg) / 4.0)
            + 0.0,
            6,
        ).alias("z"),
    )


# ------------------------------------------------------------ diversity


@query(
    "agg_diversity_profile",
    # Shannon H' = ln N - (sum c*ln c)/N, Simpson D = sum c(c-1) /
    # (N(N-1)), Pielou J = H'/ln S per event_type with species =
    # user_id. The only relation-sized double sum (c*ln c) is
    # quantized to DECIMAL pre-sum (term magnitude ~1e7 at sf5 keeps
    # the libm ln safely under the 2.5e-8 rule); H' and J are clamped
    # greatest(0, .) — a single-species group makes H' an exact-zero
    # chain that could close at -eps.
    oracle="""
    WITH pool AS (
      SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY event_type, user_id
    ), agg AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS s_species,
             CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(CAST(round(c * ln(CAST(c AS DOUBLE)), 6)
                           AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS clnc,
             CAST(sum(c * (c - 1)) AS BIGINT) AS c2
      FROM pool GROUP BY event_type
    )
    SELECT event_type, n AS n_events, s_species AS n_species,
           round(greatest(0, ln(CAST(n AS DOUBLE))
                             - CAST(clnc AS DOUBLE) / n), 6) AS shannon,
           round(CASE WHEN n > 1 THEN c2 / (CAST(n AS DOUBLE) * (n - 1))
                 END, 6) AS simpson,
           round(CASE WHEN s_species > 1 THEN
                   greatest(0, ln(CAST(n AS DOUBLE))
                               - CAST(clnc AS DOUBLE) / n)
                   / ln(CAST(s_species AS DOUBLE))
                 END, 6) AS pielou
    FROM agg
    """,
)
def agg_diversity_profile(spark, sf_dir):
    """The corpus-profiling diversity triple in two aggregations:
    species counts (one shuffle on (type, user)), then per-type
    moments — the c*ln(c) energy rides the same pass as the integer
    sums, so diversity costs no more than a count rollup at scale."""
    ev = t(spark, sf_dir, "events")
    pool = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    agg = pool.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("s_species"),
        F.sum("c").cast("bigint").alias("n"),
        F.sum(
            F.round(F.col("c") * F.log(F.col("c").cast("double")), 6)
            .cast("decimal(38,6)")
        ).cast("decimal(38,6)").alias("clnc"),
        F.sum(F.col("c") * (F.col("c") - 1)).cast("bigint").alias("c2"),
    )
    n, s = F.col("n"), F.col("s_species")
    h = F.greatest(
        F.lit(0.0),
        F.log(n.cast("double")) - F.col("clnc").cast("double") / n,
    )
    return agg.select(
        "event_type",
        n.alias("n_events"),
        s.alias("n_species"),
        F.round(h, 6).alias("shannon"),
        F.round(
            F.when(n > 1, F.col("c2") / (n.cast("double") * (n - 1))), 6
        ).alias("simpson"),
        F.round(F.when(s > 1, h / F.log(s.cast("double"))), 6).alias("pielou"),
    )


# ------------------------------------------------------------ odds ratio


@query(
    "stat_odds_ratio",
    # 2x2 association: exposure = even user_id, outcome = error
    # event. Integer cells; OR/RR are single IEEE ratios; the Woolf
    # 95% CI is exp(ln OR +/- 1.96*SE) with the z literal CAST to
    # DOUBLE (r11 DECIMAL-literal rule) and ln/exp at magnitude ~1
    # (safe unquantized). Guarded all-cells-positive on both engines.
    oracle="""
    WITH cells AS (
      SELECT CAST(count(*) FILTER (WHERE user_id % 2 = 0
                                     AND event_type = 'error')
                  AS BIGINT) AS a,
             CAST(count(*) FILTER (WHERE user_id % 2 = 0
                                     AND event_type <> 'error')
                  AS BIGINT) AS b,
             CAST(count(*) FILTER (WHERE user_id % 2 <> 0
                                     AND event_type = 'error')
                  AS BIGINT) AS c,
             CAST(count(*) FILTER (WHERE user_id % 2 <> 0
                                     AND event_type <> 'error')
                  AS BIGINT) AS d
      FROM events
    )
    SELECT a, b, c, d,
           round(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c), 6)
             AS odds_ratio,
           round((CAST(a AS DOUBLE) / (a + b))
                 / (CAST(c AS DOUBLE) / (c + d)), 6) AS risk_ratio,
           round(exp(ln(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c))
                     - CAST(1.96 AS DOUBLE)
                       * sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)),
                 6) AS ci_lo,
           round(exp(ln(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c))
                     + CAST(1.96 AS DOUBLE)
                       * sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)),
                 6) AS ci_hi
    FROM cells WHERE a > 0 AND b > 0 AND c > 0 AND d > 0
    """,
)
def stat_odds_ratio(spark, sf_dir):
    """One global aggregate to the four cells, then pure scalar
    algebra — the epidemiology 2x2 at the cost of a count(*)."""
    ev = t(spark, sf_dir, "events")
    even = F.col("user_id") % 2 == 0
    err = F.col("event_type") == "error"
    cells = ev.agg(
        F.count(F.when(even & err, 1)).cast("bigint").alias("a"),
        F.count(F.when(even & ~err, 1)).cast("bigint").alias("b"),
        F.count(F.when(~even & err, 1)).cast("bigint").alias("c"),
        F.count(F.when(~even & ~err, 1)).cast("bigint").alias("d"),
    )
    a, b, c, d = F.col("a"), F.col("b"), F.col("c"), F.col("d")
    or_ = a.cast("double") * d / (b.cast("double") * c)
    se = F.sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)
    return cells.filter((a > 0) & (b > 0) & (c > 0) & (d > 0)).select(
        a.alias("a"),
        b.alias("b"),
        c.alias("c"),
        d.alias("d"),
        F.round(or_, 6).alias("odds_ratio"),
        F.round(
            (a.cast("double") / (a + b)) / (c.cast("double") / (c + d)), 6
        ).alias("risk_ratio"),
        F.round(F.exp(F.log(or_) - F.lit(1.96) * se), 6).alias("ci_lo"),
        F.round(F.exp(F.log(or_) + F.lit(1.96) * se), 6).alias("ci_hi"),
    )


# ------------------------------------------------------------ MCC / F1


@query(
    "ml_mcc_confusion",
    # Binary-classifier eval from integer confusion cells: actual =
    # click event, predicted = cents >= 10000 ($100 threshold,
    # integer compare). MCC's numerator and denominator factors are
    # cast to DOUBLE before multiplying (counts^4 overflows int64 at
    # scale — the r11 ADVICE headroom rule); MCC is signed so the
    # emission is normalized + 0.0.
    oracle=f"""
    WITH cells AS (
      SELECT CAST(count(*) FILTER (WHERE event_type = 'click'
                                     AND {_CENTS} >= 10000)
                  AS BIGINT) AS tp,
             CAST(count(*) FILTER (WHERE event_type <> 'click'
                                     AND {_CENTS} >= 10000)
                  AS BIGINT) AS fp,
             CAST(count(*) FILTER (WHERE event_type = 'click'
                                     AND {_CENTS} < 10000)
                  AS BIGINT) AS fn,
             CAST(count(*) FILTER (WHERE event_type <> 'click'
                                     AND {_CENTS} < 10000)
                  AS BIGINT) AS tn
      FROM events
    )
    SELECT tp, fp, fn, tn,
           round((CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
                 / sqrt(CAST(tp + fp AS DOUBLE) * (tp + fn)
                        * (tn + fp) * (tn + fn)) + 0.0, 6) AS mcc,
           round((2 * tp) / (CAST(2 * tp + fp + fn AS DOUBLE)), 6) AS f1,
           round((CAST(tp AS DOUBLE) / (tp + fn)
                  + CAST(tn AS DOUBLE) / (tn + fp)) / 2.0, 6)
             AS balanced_acc
    FROM cells
    WHERE tp + fp > 0 AND tp + fn > 0 AND tn + fp > 0 AND tn + fn > 0
    """,
)
def ml_mcc_confusion(spark, sf_dir):
    """MCC/F1/balanced accuracy in one global aggregate — the
    four-cell rollup is a count(*), the statistics are scalar."""
    ev = t(spark, sf_dir, "events")
    pos = F.col("event_type") == "click"
    pred = _cents() >= 10000
    cells = ev.agg(
        F.count(F.when(pos & pred, 1)).cast("bigint").alias("tp"),
        F.count(F.when(~pos & pred, 1)).cast("bigint").alias("fp"),
        F.count(F.when(pos & ~pred, 1)).cast("bigint").alias("fn"),
        F.count(F.when(~pos & ~pred, 1)).cast("bigint").alias("tn"),
    )
    tp, fp, fn, tn = F.col("tp"), F.col("fp"), F.col("fn"), F.col("tn")
    return cells.filter(
        (tp + fp > 0) & (tp + fn > 0) & (tn + fp > 0) & (tn + fn > 0)
    ).select(
        tp.alias("tp"),
        fp.alias("fp"),
        fn.alias("fn"),
        tn.alias("tn"),
        F.round(
            (tp.cast("double") * tn - fp.cast("double") * fn)
            / F.sqrt(
                (tp + fp).cast("double") * (tp + fn) * (tn + fp) * (tn + fn)
            )
            + 0.0,
            6,
        ).alias("mcc"),
        F.round((2 * tp) / (2 * tp + fp + fn).cast("double"), 6).alias("f1"),
        F.round(
            (tp.cast("double") / (tp + fn) + tn.cast("double") / (tn + fp))
            / 2.0,
            6,
        ).alias("balanced_acc"),
    )


# ------------------------------------------------- burstiness / Fano


@query(
    "events_burstiness_fano",
    # Point-process dispersion: Goh-Barabasi burstiness B =
    # (sigma - mu)/(sigma + mu) over per-user interarrival gaps at
    # SECOND resolution (integer diffs of floor(epoch)); Fano factor
    # = var/mean of per-minute event counts over observed minutes.
    # Integer gap moments are widened to DECIMAL pre-sum (sum of d^2
    # over millions of gaps exceeds int64); variances close in single
    # IEEE chains written identically on both engines. B is signed
    # (+ 0.0 normalized); Fano is clamped greatest(0, .).
    oracle="""
    WITH gaps AS (
      SELECT CAST(floor(epoch(ts)) AS BIGINT)
             - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id) AS d
      FROM events
    ), g AS (
      SELECT CAST(count(*) AS BIGINT) AS ng,
             CAST(sum(CAST(d AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sd,
             CAST(sum(CAST(d * d AS DECIMAL(38,0))) AS DECIMAL(38,0))
               AS sd2
      FROM gaps WHERE d IS NOT NULL
    ), mins AS (
      SELECT CAST(floor(epoch(ts) / 60) AS BIGINT) AS mn,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY mn
    ), m AS (
      SELECT CAST(count(*) AS BIGINT) AS nm,
             CAST(sum(c) AS BIGINT) AS sc,
             CAST(sum(CAST(c * c AS DECIMAL(38,0))) AS DECIMAL(38,0))
               AS sc2
      FROM mins
    )
    SELECT ng AS n_gaps,
           round((sqrt((CAST(sd2 AS DOUBLE)
                        - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) / ng)
                       / ng)
                  - CAST(sd AS DOUBLE) / ng)
                 / (sqrt((CAST(sd2 AS DOUBLE)
                          - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) / ng)
                         / ng)
                    + CAST(sd AS DOUBLE) / ng) + 0.0, 6) AS burstiness,
           nm AS n_minutes,
           round(greatest(0, (CAST(sc2 AS DOUBLE)
                              - CAST(sc AS DOUBLE) * sc / nm) / nm
                             / (CAST(sc AS DOUBLE) / nm)), 6) AS fano
    FROM g CROSS JOIN m
    WHERE ng > 1 AND nm > 0 AND sd > 0
    """,
)
def events_burstiness_fano(spark, sf_dir):
    """Two independent single-pass rollups (per-user lag for gaps,
    per-minute counts) joined as 1x1 — dispersion of a 100 TB event
    stream at the cost of two scans and no wide shuffle."""
    ev = t(spark, sf_dir, "events")
    sec = F.floor(F.col("ts").cast("double")).cast("bigint")
    wu = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select((sec - F.lag(sec).over(wu)).alias("d")).filter(
        F.col("d").isNotNull()
    )
    g = gaps.agg(
        F.count(F.lit(1)).cast("bigint").alias("ng"),
        F.sum(F.col("d").cast("decimal(38,0)")).cast("decimal(38,0)").alias("sd"),
        F.sum((F.col("d") * F.col("d")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("sd2"),
    )
    mins = ev.groupBy(
        F.floor(F.col("ts").cast("double") / 60).cast("bigint").alias("mn")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    m = mins.agg(
        F.count(F.lit(1)).cast("bigint").alias("nm"),
        F.sum("c").cast("bigint").alias("sc"),
        F.sum((F.col("c") * F.col("c")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("sc2"),
    )
    ng, nm = F.col("ng"), F.col("nm")
    sdd = F.col("sd").cast("double")
    sigma = F.sqrt((F.col("sd2").cast("double") - sdd * sdd / ng) / ng)
    mu = sdd / ng
    scd = F.col("sc").cast("double")
    return (
        g.crossJoin(m)
        .filter((ng > 1) & (nm > 0) & (F.col("sd") > 0))
        .select(
            ng.alias("n_gaps"),
            F.round((sigma - mu) / (sigma + mu) + 0.0, 6).alias("burstiness"),
            nm.alias("n_minutes"),
            F.round(
                F.greatest(
                    F.lit(0.0),
                    (F.col("sc2").cast("double") - scd * F.col("sc") / nm)
                    / nm
                    / (scd / nm),
                ),
                6,
            ).alias("fano"),
        )
    )


# ------------------------------------------------- Mantel-Haenszel


@query(
    "stat_mantel_haenszel",
    # Stratified 2x2 (strata = event_type, exposure = even user_id,
    # outcome = cents >= 10000): MH common odds ratio = sum(ad/n) /
    # sum(bc/n) and the continuity-corrected CMH chi-square. The
    # per-stratum double terms (ad/n, bc/n, E_i, V_i) are quantized
    # to DECIMAL pre-sum (engine sum order differs across strata);
    # V_i's four count factors are cast to DOUBLE before multiplying
    # (int64 headroom). chi2 is a square (structurally >= +0.0).
    oracle=f"""
    WITH cells AS (
      SELECT event_type,
             CAST(count(*) FILTER (WHERE user_id % 2 = 0
                                     AND {_CENTS} >= 10000)
                  AS BIGINT) AS a,
             CAST(count(*) FILTER (WHERE user_id % 2 = 0
                                     AND {_CENTS} < 10000)
                  AS BIGINT) AS b,
             CAST(count(*) FILTER (WHERE user_id % 2 <> 0
                                     AND {_CENTS} >= 10000)
                  AS BIGINT) AS c,
             CAST(count(*) FILTER (WHERE user_id % 2 <> 0
                                     AND {_CENTS} < 10000)
                  AS BIGINT) AS d
      FROM events GROUP BY event_type
    ), terms AS (
      SELECT a, a + b + c + d AS n,
             CAST(round(CAST(a AS DOUBLE) * d / (a + b + c + d), 6)
                  AS DECIMAL(38,6)) AS r_i,
             CAST(round(CAST(b AS DOUBLE) * c / (a + b + c + d), 6)
                  AS DECIMAL(38,6)) AS s_i,
             CAST(round(CAST(a + b AS DOUBLE) * (a + c)
                        / (a + b + c + d), 6)
                  AS DECIMAL(38,6)) AS e_i,
             CAST(round(CAST(a + b AS DOUBLE) * (c + d) * (a + c)
                        * (b + d)
                        / (CAST(a + b + c + d AS DOUBLE)
                           * (a + b + c + d)
                           * (a + b + c + d - 1)), 6)
                  AS DECIMAL(38,6)) AS v_i
      FROM cells WHERE a + b + c + d > 1
    ), sums AS (
      SELECT CAST(count(*) AS BIGINT) AS n_strata,
             CAST(sum(a) AS BIGINT) AS sa,
             CAST(sum(r_i) AS DECIMAL(38,6)) AS sr,
             CAST(sum(s_i) AS DECIMAL(38,6)) AS ss,
             CAST(sum(e_i) AS DECIMAL(38,6)) AS se,
             CAST(sum(v_i) AS DECIMAL(38,6)) AS sv
      FROM terms
    )
    SELECT n_strata,
           round(CAST(sr AS DOUBLE) / CAST(ss AS DOUBLE), 6) AS or_mh,
           round((abs(sa - CAST(se AS DOUBLE)) - 0.5)
                 * (abs(sa - CAST(se AS DOUBLE)) - 0.5)
                 / CAST(sv AS DOUBLE), 6) AS cmh_chi2
    FROM sums WHERE n_strata > 0 AND ss > 0 AND sv > 0
    """,
)
def stat_mantel_haenszel(spark, sf_dir):
    """Stratified association in two aggregations: one groupBy to the
    per-stratum 2x2 cells, one global reduce of the quantized MH
    terms — the standard confounder-adjusted 2x2 at rollup cost."""
    ev = t(spark, sf_dir, "events")
    even = F.col("user_id") % 2 == 0
    hit = _cents() >= 10000
    cells = ev.groupBy("event_type").agg(
        F.count(F.when(even & hit, 1)).cast("bigint").alias("a"),
        F.count(F.when(even & ~hit, 1)).cast("bigint").alias("b"),
        F.count(F.when(~even & hit, 1)).cast("bigint").alias("c"),
        F.count(F.when(~even & ~hit, 1)).cast("bigint").alias("d"),
    )
    a, b, c, d = F.col("a"), F.col("b"), F.col("c"), F.col("d")
    n = a + b + c + d
    terms = cells.filter(n > 1).select(
        a.alias("a"),
        n.alias("n"),
        F.round(a.cast("double") * d / n, 6).cast("decimal(38,6)").alias("r_i"),
        F.round(b.cast("double") * c / n, 6).cast("decimal(38,6)").alias("s_i"),
        F.round((a + b).cast("double") * (a + c) / n, 6)
        .cast("decimal(38,6)")
        .alias("e_i"),
        F.round(
            (a + b).cast("double") * (c + d) * (a + c) * (b + d)
            / (n.cast("double") * n * (n - 1)),
            6,
        )
        .cast("decimal(38,6)")
        .alias("v_i"),
    )
    sums = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        F.sum("a").cast("bigint").alias("sa"),
        F.sum("r_i").cast("decimal(38,6)").alias("sr"),
        F.sum("s_i").cast("decimal(38,6)").alias("ss"),
        F.sum("e_i").cast("decimal(38,6)").alias("se"),
        F.sum("v_i").cast("decimal(38,6)").alias("sv"),
    )
    dev = F.abs(F.col("sa") - F.col("se").cast("double")) - 0.5
    return sums.filter(
        (F.col("n_strata") > 0) & (F.col("ss") > 0) & (F.col("sv") > 0)
    ).select(
        "n_strata",
        F.round(
            F.col("sr").cast("double") / F.col("ss").cast("double"), 6
        ).alias("or_mh"),
        F.round(dev * dev / F.col("sv").cast("double"), 6).alias("cmh_chi2"),
    )


# ------------------------------------------------- Allan variance


@query(
    "ts_allan_variance",
    # Overlapping Allan variance of the hourly cents series at tau =
    # 1, 2, 4 hours: avar(tau) = sum_i (S_{i+tau} - S_i)^2 /
    # (2 tau^2 M) over the M = N - 2 tau + 1 full overlapping
    # windows, where S_i is the tau-hour rolling cents sum (BIGINT).
    # The squared diff is computed in DOUBLE in DOLLARS (d/100 before
    # squaring: in cents^2 the sf5 avar is ~4e9, where round(x,6)
    # needs 16 significant digits and the engines' rounding split on
    # the 16th — the M*8.9e-16 rule caught live by the r12 sf5 sweep)
    # and quantized to DECIMAL pre-sum; the closing ratio is one IEEE
    # chain. Calendar-bounded series: N is hours, not rows, so the
    # window stages cost O(hours) at any data scale.
    oracle="""
    WITH hourly AS (
      SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS y
      FROM events GROUP BY hr
    ), idx AS (
      SELECT CAST(row_number() OVER (ORDER BY hr) AS BIGINT) AS k, y,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM hourly
    ), spans AS (
      SELECT t.tau, i.k, i.n,
             CAST(sum(i.y) OVER (PARTITION BY t.tau ORDER BY i.k
                 ROWS BETWEEN CURRENT ROW AND 0 FOLLOWING) AS BIGINT)
               AS s1
      FROM idx i CROSS JOIN (VALUES (CAST(1 AS BIGINT))) t(tau)
      UNION ALL
      SELECT t.tau, i.k, i.n,
             CAST(sum(i.y) OVER (PARTITION BY t.tau ORDER BY i.k
                 ROWS BETWEEN CURRENT ROW AND 1 FOLLOWING) AS BIGINT)
      FROM idx i CROSS JOIN (VALUES (CAST(2 AS BIGINT))) t(tau)
      UNION ALL
      SELECT t.tau, i.k, i.n,
             CAST(sum(i.y) OVER (PARTITION BY t.tau ORDER BY i.k
                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS BIGINT)
      FROM idx i CROSS JOIN (VALUES (CAST(4 AS BIGINT))) t(tau)
    ), diffs AS (
      SELECT tau, n,
             CASE WHEN tau = 1 THEN lead(s1, 1) OVER w
                  WHEN tau = 2 THEN lead(s1, 2) OVER w
                  ELSE lead(s1, 4) OVER w END - s1 AS dd,
             k
      FROM spans
      WINDOW w AS (PARTITION BY tau ORDER BY k)
    ), valid AS (
      SELECT tau,
             CAST(round((CAST(dd AS DOUBLE) / 100.0)
                        * (CAST(dd AS DOUBLE) / 100.0), 6)
                  AS DECIMAL(38,6)) AS d2
      FROM diffs WHERE k + 2 * tau - 1 <= n
    ), agg AS (
      SELECT tau, CAST(count(*) AS BIGINT) AS m,
             CAST(sum(d2) AS DECIMAL(38,6)) AS sd2
      FROM valid GROUP BY tau
    )
    SELECT tau, m AS m_windows,
           round(CAST(sd2 AS DOUBLE) / (2.0 * tau * tau * m), 6) AS avar,
           round(sqrt(CAST(sd2 AS DOUBLE) / (2.0 * tau * tau * m)), 6)
             AS adev
    FROM agg WHERE m > 0 ORDER BY tau
    """,
)
def ts_allan_variance(spark, sf_dir):
    """Allan variance as window algebra: one rollup to hours, then
    per-tau rolling sums + literal-offset leads (Spark's lead offset
    must be a literal, so the three taus are built as unioned
    branches — each a calendar-bounded window stage)."""
    ev = t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.floor(F.col("ts").cast("double") / 3600).cast("bigint").alias("hr")
    ).agg(_cents_sum().alias("y"))
    idx = hourly.select(
        F.row_number().over(W.orderBy("hr")).cast("bigint").alias("k"),
        "y",
        F.count(F.lit(1)).over(W.partitionBy()).cast("bigint").alias("n"),
    )
    branches = []
    for tau in (1, 2, 4):
        wsum = W.orderBy("k").rowsBetween(0, tau - 1)
        wlead = W.orderBy("k")
        b = idx.select(
            F.lit(tau).cast("bigint").alias("tau"),
            "k",
            "n",
            F.sum("y").over(wsum).cast("bigint").alias("s1"),
        ).select(
            "tau",
            "n",
            "k",
            (F.lead("s1", tau).over(wlead) - F.col("s1")).alias("dd"),
        )
        branches.append(b)
    diffs = branches[0].unionAll(branches[1]).unionAll(branches[2])
    dd_usd = F.col("dd").cast("double") / 100.0
    valid = diffs.filter(
        F.col("k") + 2 * F.col("tau") - 1 <= F.col("n")
    ).select(
        "tau",
        F.round(dd_usd * dd_usd, 6).cast("decimal(38,6)").alias("d2"),
    )
    agg = valid.groupBy("tau").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("d2").cast("decimal(38,6)").alias("sd2"),
    )
    avar = F.col("sd2").cast("double") / (
        2.0 * F.col("tau") * F.col("tau") * F.col("m")
    )
    return (
        agg.filter(F.col("m") > 0)
        .select(
            "tau",
            F.col("m").alias("m_windows"),
            F.round(avar, 6).alias("avar"),
            F.round(F.sqrt(avar), 6).alias("adev"),
        )
        .orderBy("tau")
    )


def _cents_sum():
    return (
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).cast("bigint")
    )


# ------------------------------------------------- jackknife ratio


@query(
    "stat_jackknife_ratio",
    # Delete-one jackknife SE of the ratio estimator R = sum(price
    # cents)/sum(qty) over lineitem, in closed form: pseudo-ratio
    # R_i = (Sx - x_i)/(Sy - y_i) per row from broadcast totals, and
    # var_jk = ((n-1)/n) (sum R_i^2 - (sum R_i)^2/n) from
    # DECIMAL-quantized pre-sums (relation-sized double sums). The
    # variance is clamped greatest(0, .) before the closing sqrt
    # (quantization can land an exact-zero chain at -eps).
    oracle="""
    WITH rows_ AS (
      SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS x,
             CAST(round(l_quantity, 0) AS BIGINT) AS y
      FROM lineitem
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy
      FROM rows_
    ), pseudo AS (
      SELECT n, sx, sy,
             CAST(round(CAST(sx - x AS DOUBLE) / (sy - y), 6)
                  AS DECIMAL(38,6)) AS r_i,
             CAST(round(CAST(sx - x AS DOUBLE) / (sy - y)
                        * (CAST(sx - x AS DOUBLE) / (sy - y)), 6)
                  AS DECIMAL(38,6)) AS r_i2
      FROM rows_ CROSS JOIN tot WHERE sy - y > 0
    ), sums AS (
      SELECT max(n) AS n, max(sx) AS sx, max(sy) AS sy,
             CAST(count(*) AS BIGINT) AS np,
             CAST(sum(r_i) AS DECIMAL(38,6)) AS s1,
             CAST(sum(r_i2) AS DECIMAL(38,6)) AS s2
      FROM pseudo
    )
    SELECT n AS n_rows,
           round(CAST(sx AS DOUBLE) / sy, 6) AS ratio,
           round(sqrt(greatest(0,
               (CAST(np - 1 AS DOUBLE) / np)
               * (CAST(s2 AS DOUBLE)
                  - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / np))), 6)
             AS jk_se
    FROM sums WHERE np > 1
    """,
)
def stat_jackknife_ratio(spark, sf_dir):
    """Resampling SE without resampling: one scan computes totals,
    a second scan against the broadcast 1x1 computes every delete-one
    pseudo-ratio in closed form — n jackknife replicates for the cost
    of two passes at any scale."""
    li = t(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("x"),
        F.round(F.col("l_quantity"), 0).cast("bigint").alias("y"),
    )
    tot = li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
    )
    r_i = (F.col("sx") - F.col("x")).cast("double") / (
        F.col("sy") - F.col("y")
    )
    pseudo = (
        li.crossJoin(F.broadcast(tot))
        .filter(F.col("sy") - F.col("y") > 0)
        .select(
            "n",
            "sx",
            "sy",
            F.round(r_i, 6).cast("decimal(38,6)").alias("r_i"),
            F.round(r_i * r_i, 6).cast("decimal(38,6)").alias("r_i2"),
        )
    )
    sums = pseudo.agg(
        F.max("n").alias("n"),
        F.max("sx").alias("sx"),
        F.max("sy").alias("sy"),
        F.count(F.lit(1)).cast("bigint").alias("np"),
        F.sum("r_i").cast("decimal(38,6)").alias("s1"),
        F.sum("r_i2").cast("decimal(38,6)").alias("s2"),
    )
    np_, s1, s2 = F.col("np"), F.col("s1"), F.col("s2")
    var = ((np_ - 1).cast("double") / np_) * (
        s2.cast("double") - s1.cast("double") * s1.cast("double") / np_
    )
    return sums.filter(np_ > 1).select(
        F.col("n").alias("n_rows"),
        F.round(F.col("sx").cast("double") / F.col("sy"), 6).alias("ratio"),
        F.round(F.sqrt(F.greatest(F.lit(0.0), var)), 6).alias("jk_se"),
    )


# --------------------------------------------- numpy hard negatives


@query("emb_hard_negatives_numpy", oracle=None)
def emb_hard_negatives_numpy_q(spark, sf_dir):
    """Measured Arrow/numpy twin of emb_hard_negatives (VERDICT r11
    item 4, mirroring ann_ivf_numpy_topk): same bounded query set
    (vec_id % 97 = 0 AND vec_id < 5000), same top-3-per-query
    (cos DESC, neg_id) different-label ranking, but each Arrow batch
    scores via ONE numpy matmul instead of per-pair interpreted
    aggregate() folds. Top-3 SETS pinned equal to the oracle-exact
    HOF tier in tests/test_numpy_topk.py; oracle=None by design
    (float-sum order)."""
    from ..llm.numpy_topk import hard_negatives_numpy

    e = t(spark, sf_dir, "embeddings")
    q = e.filter(
        (F.col("vec_id") % 97 == 0) & (F.col("vec_id") < 5000)
    ).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_vec"),
    )
    cands = e.select(
        F.col("vec_id").alias("c_id"),
        F.col("label").alias("c_label"),
        F.col("embedding").alias("c_vec"),
    )
    return hard_negatives_numpy(q, cands, k=3)


# --------------------------------------------- streaming session EWMA


@query(
    "stream_session_ewma",
    # The reference's zero-seeded EWMA fold (indicators.rs:14-26)
    # inside NATIVE streaming session windows: per (user, 30-min-gap
    # session), EWMA of value over (ts, event_id) order with alpha =
    # 0.125 (exactly representable). Both engines run the IDENTICAL
    # left-to-right recurrence e = 0.875*e + 0.125*v (Spark aggregate
    # fold over the sorted struct array; DuckDB list_reduce over the
    # ordered list with a 0.0 seed prepended) — pure IEEE mult/add in
    # the same order, so the doubles are bit-identical and the ewma is
    # emitted UNROUNDED (the r6 half-boundary lesson: round(x,6) of
    # the same double can split HALF_UP vs scaled-multiply; the
    # driver's symmetric canonicalization does the rounding).
    # Finalized-session restriction = the stream_session_stats horizon
    # convention (60 s boundary slack).
    oracle="""
    WITH h AS (
      SELECT CAST(floor(epoch(max(ts))) AS BIGINT) - 660 AS horizon
      FROM events
    ), s AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(epoch(ts)) OVER w IS NULL
                       OR epoch(ts) - lag(epoch(ts)) OVER w >= 1800
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts, event_id, value,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM s
    ), g AS (
      SELECT user_id,
             CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
             CAST(floor(epoch(max(ts))) AS BIGINT) + 1800 AS session_end,
             CAST(count(*) AS BIGINT) AS n_events,
             list_reduce(
               list_prepend(CAST(0 AS DOUBLE),
                            list(value ORDER BY ts, event_id)),
               (acc, x) -> CAST(0.875 AS DOUBLE) * acc
                           + CAST(0.125 AS DOUBLE) * x) AS ewma
      FROM sess GROUP BY user_id, sid
    )
    SELECT user_id, session_start, session_end, n_events, ewma
    FROM g, h WHERE session_end <= horizon
    """,
)
def stream_session_ewma(spark, sf_dir):
    """EWMA inside streaming session windows: the session-window agg
    folds the session's values in (ts, event_id) order with
    ``indicators.ewma_fold`` (state bounded by session size) —
    order-sensitive analytics on gap windows without a custom stateful
    operator — and only finalized sessions are kept."""
    from ..indicators import ewma_fold, ordered_values
    from .streaming_q import _events_stream, _finalized, _run_to_df

    s = _events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = s.groupBy(
        "user_id", F.session_window("ts", "30 minutes").alias("win")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        ewma_fold(ordered_values("value", ("ts", "event_id")), 0.125).alias("ewma"),
    )
    out = _run_to_df(spark, agg).select(
        "user_id",
        F.unix_timestamp("win.start").alias("session_start"),
        F.unix_timestamp("win.end").alias("session_end"),
        "n_events",
        "ewma",
    )
    return _finalized(spark, sf_dir, out, 660, F.col("session_end"))
