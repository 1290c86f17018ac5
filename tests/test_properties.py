"""Property/randomized tests (SURVEY.md §5.2 item 4) — seed-pinned
hypothesis generators over small DataFrames.

Spark session startup is expensive, so examples are kept small and
deadlines disabled; the properties target algebraic invariants:
dedup idempotence, set-op algebra, window-frame invariants, as-of
join bounds, EWMA convexity.
"""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from kafka_stream_aggregator_spark.indicators import ewma_fold
from kafka_stream_aggregator_spark.ops import dedup_keep_first

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

rows_strategy = st.lists(
    st.tuples(
        st.integers(0, 5),               # key
        st.integers(0, 100),             # order
        st.floats(0.1, 100.0, allow_nan=False),
    ),
    min_size=1,
    max_size=30,
)


@given(rows=rows_strategy)
@SETTINGS
def test_dedup_idempotent(spark, rows):
    df = spark.createDataFrame(
        [(i, k, o, float(v)) for i, (k, o, v) in enumerate(rows)],
        "id long, k long, o long, v double",
    )
    once = dedup_keep_first(df, ["k"], ["o", "id"])
    twice = dedup_keep_first(once, ["k"], ["o", "id"])
    a = sorted(map(tuple, once.collect()))
    b = sorted(map(tuple, twice.collect()))
    assert a == b
    assert once.select("k").distinct().count() == once.count()


@given(rows=rows_strategy)
@SETTINGS
def test_setop_algebra(spark, rows):
    df = spark.createDataFrame([(k,) for k, _, _ in rows], "k long")
    half = df.filter(F.col("k") % 2 == 0)
    # (A except B) union (A intersect B) == distinct A   (for B subset A)
    left = df.subtract(half).union(df.intersect(half)).distinct()
    assert sorted(map(tuple, left.collect())) == sorted(
        map(tuple, df.distinct().collect())
    )
    # |A unionAll A| = 2|A|
    assert df.unionAll(df).count() == 2 * df.count()


@given(rows=rows_strategy)
@SETTINGS
def test_running_sum_monotone_and_total(spark, rows):
    df = spark.createDataFrame(
        [(i, k, o, float(v)) for i, (k, o, v) in enumerate(rows)],
        "id long, k long, o long, v double",
    )
    w = (
        W.partitionBy("k")
        .orderBy("o", "id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    out = df.withColumn("run", F.sum("v").over(w))
    # positive values -> running sum non-decreasing within each key
    w_ord = W.partitionBy("k").orderBy("o", "id")
    bad = out.withColumn("prev", F.lag("run").over(w_ord)).filter(
        F.col("prev").isNotNull() & (F.col("run") < F.col("prev") - 1e-9)
    )
    assert bad.count() == 0
    # last running value == group sum
    last = (
        out.withColumn("rn", F.row_number().over(w_ord))
        .withColumn("n", F.count(F.lit(1)).over(W.partitionBy("k")))
        .filter("rn = n")
        .select("k", "run")
    )
    totals = df.groupBy("k").agg(F.sum("v").alias("s"))
    j = last.join(totals, "k").filter(
        F.abs(F.col("run") - F.col("s")) > 1e-6
    )
    assert j.count() == 0


@given(
    vals=st.lists(
        st.floats(0.1, 1000.0, allow_nan=False), min_size=1, max_size=50
    ),
    alpha=st.floats(0.001, 0.999),
)
@SETTINGS
def test_ewma_bounds_and_reference(spark, vals, alpha):
    """Zero-seeded EWMA lies in [0, max(vals)] and matches the pure-python
    reference fold exactly."""
    df = spark.createDataFrame([([float(v) for v in vals],)], "v array<double>")
    got = df.select(ewma_fold(F.col("v"), alpha).alias("e")).first()["e"]
    cur = 0.0
    for x in vals:
        cur = alpha * float(x) + (1 - alpha) * cur
    assert math.isclose(got, cur, rel_tol=1e-9)
    assert 0.0 <= got <= max(float(v) for v in vals) + 1e-9


@given(
    left_rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50)), min_size=1, max_size=15
    ),
    right_rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50),
                  st.floats(1.0, 9.0, allow_nan=False)),
        min_size=0, max_size=15,
    ),
)
@SETTINGS
def test_asof_join_matches_bruteforce(spark, left_rows, right_rows):
    """ops.asof_join (union+window) == brute-force nearest-prior lookup
    on arbitrary generated event streams, including ts ties."""
    from kafka_stream_aggregator_spark.ops import asof_join

    left = spark.createDataFrame(
        [(i, g, ts) for i, (g, ts) in enumerate(left_rows)],
        "lid long, g long, ts long",
    )
    right = spark.createDataFrame(
        [(i, g, ts, float(v)) for i, (g, ts, v) in enumerate(right_rows)],
        "rid long, rg long, rts long, val double",
    )
    got = {
        r["lid"]: r["val"]
        for r in asof_join(
            left, right, "ts", "rts", "g", "rg",
            right_tiebreak="rid", value_cols=["val"],
        ).collect()
    }
    # brute force: latest right row (rts <= ts) per group; ties on rts
    # resolved by largest rid
    for i, (g, ts) in enumerate(left_rows):
        cands = [
            (rts, rid, v)
            for rid, (rg, rts, v) in enumerate(right_rows)
            if rg == g and rts <= ts
        ]
        want = max(cands)[2] if cands else None
        assert got[i] == (float(want) if want is not None else None), (
            f"lid={i} g={g} ts={ts}: got {got[i]} want {want}"
        )


words_strategy = st.lists(
    st.text(alphabet="abcd", min_size=1, max_size=3),
    min_size=0,
    max_size=12,
)


@given(docs=st.lists(words_strategy, min_size=1, max_size=6))
@SETTINGS
def test_ngram_hash_counts_match_string_ngrams(spark, docs):
    """Composed n-gram hashes (word_ngram_hashes) must preserve the
    gram multiset structure: per doc, the count of DISTINCT hashes and
    the max multiplicity equal those of the string n-grams, for n=2,3."""
    from kafka_stream_aggregator_spark.llm.pipeline import (
        word_ngram_hashes,
        word_ngrams,
    )

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for n in (2, 3):
        got = df.select(
            "doc_id",
            F.size(F.array_distinct(word_ngram_hashes(F.col("text"), n))).alias("dh"),
            F.size(F.array_distinct(word_ngrams(F.col("text"), n))).alias("dg"),
        ).collect()
        for r in got:
            assert r["dh"] == r["dg"], (n, r)


@given(
    counts=st.lists(st.integers(1, 300), min_size=1, max_size=40),
    budget=st.integers(50, 400),
)
@SETTINGS
def test_pack_sequences_property(spark, counts, budget):
    """FFD packing invariants under random inputs: each doc packed
    once; each bin within budget unless it is a singleton oversize."""
    from kafka_stream_aggregator_spark.llm.pipeline import pack_sequences

    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(counts)], "doc_id long, n_tok long"
    )
    out = pack_sequences(df, "doc_id", "n_tok", budget=budget, n_shards=2).collect()
    assert sorted(r["doc_id"] for r in out) == list(range(len(counts)))
    sums: dict[tuple, list] = {}
    for r in out:
        sums.setdefault((r["shard"], r["bin_id"]), []).append(r["n_tokens"])
    for k, vals in sums.items():
        assert sum(vals) <= budget or len(vals) == 1, (k, vals)


@given(
    rate=st.floats(0.0, 1.0, allow_nan=False),
    ids=st.lists(st.integers(0, 10_000_000), min_size=1, max_size=50, unique=True),
)
@SETTINGS
def test_stratified_sample_subset_and_monotone(spark, rate, ids):
    """The deterministic sampler is a pure predicate: kept set is a
    subset of the input, invariant across calls, and monotone in the
    rate (raising the rate never drops a previously-kept row)."""
    from kafka_stream_aggregator_spark.llm.pipeline import stratified_sample

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    kept = {r["doc_id"] for r in stratified_sample(df, "doc_id", F.lit(rate)).collect()}
    again = {r["doc_id"] for r in stratified_sample(df, "doc_id", F.lit(rate)).collect()}
    assert kept == again
    assert kept <= set(ids)
    higher = {
        r["doc_id"]
        for r in stratified_sample(
            df, "doc_id", F.lit(min(1.0, rate + 0.3))
        ).collect()
    }
    assert kept <= higher


@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 1023), st.integers(0, 1023)),
        min_size=1,
        max_size=25,
        unique=True,
    )
)
@SETTINGS
def test_zorder_key_bijective_and_matches_python(spark, pairs):
    """The Morton key is injective on the 2^10 x 2^10 domain and the
    Catalyst expression agrees bit-for-bit with a python reference."""
    from kafka_stream_aggregator_spark.ops import zorder_key_2d

    def ref(x, y):
        z = 0
        for i in range(10):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    df = spark.createDataFrame(pairs, "x int, y int")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select(
            "x", "y", zorder_key_2d(F.col("x"), F.col("y"), bits=10).alias("z")
        ).collect()
    }
    zs = set()
    for (x, y), z in got.items():
        assert z == ref(x, y)
        zs.add(z)
    assert len(zs) == len(pairs)  # injective


@given(
    stream=st.lists(
        st.tuples(st.integers(0, 8), st.integers(1, 5)),  # (item, weight)
        min_size=1,
        max_size=40,
    ),
    k=st.integers(2, 6),
)
@SETTINGS
def test_heavy_hitters_bounds_on_random_streams(spark, stream, k):
    """MG invariants on arbitrary weighted streams: lower bounds never
    overcount, undercount composes to <= N/(k+1), and every item above
    the threshold is present — regardless of item order or partitioning."""
    from kafka_stream_aggregator_spark.ops import approx_heavy_hitters

    df = spark.createDataFrame(stream, "item long, w long").repartition(3)
    exact: dict = {}
    for item, w in stream:
        exact[item] = exact.get(item, 0) + w
    n_total = sum(exact.values())
    got = {
        r["item"]: r["count_lb"]
        for r in approx_heavy_hitters(df, "item", k=k, weight_col="w").collect()
    }
    # composed MG bound: total decrement <= sum_p n_p/(k+1) <= N/(k+1)
    err = n_total // (k + 1)
    for item, lb in got.items():
        assert lb <= exact[item]
        assert lb >= exact[item] - err
    for item, f in exact.items():
        if f > n_total // (k + 1):
            assert item in got


@given(
    groups=st.lists(
        st.lists(
            st.one_of(
                st.floats(-1000.0, 1000.0, allow_nan=False, width=32),
                st.sampled_from([0.0, 7.0, 7.0, 7.0, -3.5]),  # massive ties
            ),
            min_size=1,
            max_size=25,
        ),
        min_size=1,
        max_size=3,
    ),
    qs=st.lists(st.sampled_from([0.0, 0.1, 0.25, 0.5, 0.9, 0.99, 1.0]),
                min_size=1, max_size=2, unique=True),
)
@SETTINGS
def test_percentile_tiers_agree(spark, groups, qs):
    """The three exact percentile tiers (counts / sort-rank / bucketed)
    are interchangeable: on arbitrary grouped data — including massive
    ties and all-equal groups (span == 0, the bucketed tier's
    degenerate bucket-width branch) — all three agree with each other
    and with numpy's linear-interpolation quantile to 6dp."""
    import numpy as np

    from kafka_stream_aggregator_spark.ops import (
        exact_percentiles,
        exact_percentiles_bucketed,
        exact_percentiles_counts,
    )

    rows = [(g, float(v)) for g, vals in enumerate(groups) for v in vals]
    # force a span==0 group alongside the random ones
    rows += [(99, 5.0), (99, 5.0), (99, 5.0)]
    df = spark.createDataFrame(rows, "g long, v double").repartition(3)
    spec = [(q, f"p{i}") for i, q in enumerate(qs)]
    tiers = {
        "counts": exact_percentiles_counts(df, "v", spec, group_cols=("g",)),
        "sort": exact_percentiles(df, "v", spec, group_cols=("g",)),
        "bucketed": exact_percentiles_bucketed(
            df, "v", spec, group_cols=("g",), n_buckets=16
        ),
    }
    expect = {}
    by_g: dict = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    for g, vals in by_g.items():
        expect[g] = [float(np.quantile(np.array(vals), q)) for q in qs]
    for tier, tdf in tiers.items():
        got = {r["g"]: [r[f"p{i}"] for i in range(len(qs))] for r in tdf.collect()}
        assert set(got) == set(expect), tier
        for g in expect:
            for a, b in zip(got[g], expect[g]):
                assert abs(a - b) < 1e-6, (tier, g, got[g], expect[g])


# strings whose md5-derived 60-bit hash both engines must agree on —
# the foundation every sketch-suite oracle stands on. Exclude
# surrogates (not encodable to UTF-8) but include everything else.
hash_strings = st.lists(
    st.text(
        alphabet=st.characters(blacklist_categories=("Cs",)),
        min_size=0,
        max_size=40,
    ),
    min_size=1,
    max_size=20,
    unique=True,
)


@given(strings=hash_strings)
@SETTINGS
def test_portable_u64_matches_duckdb(spark, strings):
    import duckdb

    from kafka_stream_aggregator_spark.sketches import portable_u64

    df = spark.createDataFrame([(s,) for s in strings], "s string")
    got = {
        r["s"]: r["h"]
        for r in df.select("s", portable_u64(F.col("s")).alias("h")).collect()
    }
    con = duckdb.connect()
    for s in strings:
        want = con.execute(
            "SELECT CAST('0x' || substr(md5(?), 1, 15) AS BIGINT)", [s]
        ).fetchone()[0]
        assert got[s] == want, f"hash mismatch for {s!r}"
        assert 0 <= got[s] < (1 << 60)


@given(
    rows=st.lists(
        st.tuples(
            st.floats(-1e6, 1e6, allow_nan=False),  # heavy-tie value
            st.integers(0, 10**9),                  # tiebreak id
            st.integers(0, 1000),                   # summed weight
        ),
        min_size=1,
        max_size=40,
    ),
    n_buckets=st.sampled_from([1, 2, 4, 64]),
)
@SETTINGS
def test_distributed_rank_and_prefix_sums_property(spark, rows, n_buckets):
    """For ANY value distribution (ties, negatives, constant columns)
    and ANY bucket count, distributed_global_rank must equal the
    unpartitioned row_number and its prefix_sums the unpartitioned
    running sum — the helper's correctness may never depend on bucket
    balance."""
    from kafka_stream_aggregator_spark.ops import distributed_global_rank

    # unique tiebreak: dedup ids
    seen, uniq = set(), []
    for v, i, wgt in rows:
        if i not in seen:
            seen.add(i)
            uniq.append((v, i, wgt))
    df = spark.createDataFrame(uniq, "v double, id long, wgt long")
    got = distributed_global_rank(
        df,
        ["v", "id"],
        n_buckets=n_buckets,
        rank_col="rn",
        prefix_sums={"wgt": "cum_wgt"},
    )
    exp = df.withColumn(
        "rn_ref", F.row_number().over(W.orderBy("v", "id"))
    ).withColumn(
        "cum_ref",
        F.sum("wgt").over(
            W.orderBy("v", "id").rowsBetween(W.unboundedPreceding, 0)
        ),
    )
    j = got.join(exp, ["v", "id", "wgt"]).collect()
    assert len(j) == len(uniq)
    for r in j:
        assert r["rn"] == r["rn_ref"], (r, n_buckets)
        assert r["cum_wgt"] == r["cum_ref"], (r, n_buckets)


edge_strategy = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)),
    min_size=0,
    max_size=25,
)


@given(edges=edge_strategy, k=st.integers(0, 4),
       seeds=st.sets(st.integers(0, 9), min_size=1, max_size=3))
@SETTINGS
def test_k_hop_reach_matches_bfs(spark, edges, k, seeds):
    """graph.k_hop_reach on random directed graphs equals a pure
    set-BFS, per seed, for every k."""
    from kafka_stream_aggregator_spark.graph import k_hop_reach

    adj = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    edf = spark.createDataFrame(
        [(str(s), str(d)) for s, d in edges] or [("x", "x")],
        "src string, dst string",
    )
    if not edges:
        edf = edf.filter("src != 'x'")
    sdf = spark.createDataFrame(
        [(str(s),) for s in seeds], "seed string"
    )
    got = {}
    for r in k_hop_reach(edf, sdf, k).collect():
        got.setdefault(r["seed"], set()).add(r["node"])
    for seed in seeds:
        reach = {seed}
        frontier = {seed}
        for _ in range(k):
            frontier = {
                n for f in frontier for n in adj.get(f, ())
            } - reach
            reach |= frontier
        assert got[str(seed)] == {str(n) for n in reach}, (seed, k)


@given(xs=st.lists(st.integers(0, 50), min_size=0, max_size=40),
       ys=st.lists(st.integers(0, 50), min_size=0, max_size=40))
@SETTINGS
def test_cms_inner_product_upper_bounds_join_size(spark, xs, ys):
    """CMS inner product >= the true join size on random multisets,
    for both hashers (the guarantee is hash-agnostic)."""
    from collections import Counter

    from pyspark.sql import functions as F  # noqa: F811
    from kafka_stream_aggregator_spark.sketches import cms_build

    true = sum(
        c * Counter(ys).get(k, 0) for k, c in Counter(xs).items()
    )
    xdf = spark.createDataFrame([(v,) for v in xs] or [(0,)], "k long")
    ydf = spark.createDataFrame([(v,) for v in ys] or [(0,)], "k long")
    if not xs:
        xdf = xdf.filter("k < 0")
    if not ys:
        ydf = ydf.filter("k < 0")
    for hasher in ["portable", "xx64"]:
        a = cms_build(xdf, "k", 3, 16, hasher=hasher)
        b = cms_build(ydf, "k", 3, 16, hasher=hasher).withColumnRenamed(
            "cnt", "cnt_b"
        )
        dots = {
            r["row"]: r["dot"]
            for r in a.join(b, ["row", "cell"])
            .groupBy("row")
            .agg(F.sum(F.col("cnt") * F.col("cnt_b")).alias("dot"))
            .collect()
        }
        est = min(dots.get(i, 0) for i in range(3))
        assert est >= true, (hasher, est, true)


@given(keys=st.sets(st.integers(0, 10_000), min_size=1, max_size=60),
       split=st.integers(0, 100))
@SETTINGS
def test_kmv_signature_mergeable(spark, keys, split):
    """KMV mergeability: the k smallest hashes of a union equal the k
    smallest of the two sides' signatures concatenated — pinned in
    pure Python with the portable hash (the property the
    sketch_kmv_jaccard construction relies on)."""
    import hashlib

    def u64(v):
        return int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)

    k = 8
    a = {v for v in keys if v % 101 <= split}
    b = keys - a
    sig = lambda s: sorted(u64(v) for v in s)[:k]  # noqa: E731
    merged = sorted(sig(a) + sig(b))[:k]
    direct = sig(keys)
    assert merged == direct


@given(ys=st.lists(st.integers(0, 100_000), min_size=2, max_size=60))
@SETTINGS
def test_control_chart_integer_sigma_identity(ys):
    """events_control_chart's fully-integer 3-sigma rule
    (y*n - sy)^2 > 9*(n*syy - sy^2) must agree with the float
    formula |y - mean| > 3*sigma_pop on every series where the float
    comparison is not within one ulp of the boundary (the integer
    form is EXACT; the float form is the approximation)."""
    n = len(ys)
    sy = sum(ys)
    syy = sum(y * y for y in ys)
    mean = sy / n
    var = syy / n - mean * mean
    for y in ys:
        lhs = (y * n - sy) ** 2
        rhs = 9 * (n * syy - sy * sy)
        int_rule = lhs > rhs
        # float comparison with a relative guard band: outside the
        # band the two forms MUST agree; inside it the float form is
        # untrustworthy (that is the point of the integer form)
        f_lhs = abs(y - mean)
        f_rhs = 3 * math.sqrt(max(var, 0.0))
        band = 1e-9 * max(f_lhs, f_rhs, 1.0)
        if abs(f_lhs - f_rhs) > band:
            assert int_rule == (f_lhs > f_rhs), (y, ys)


@given(
    ys=st.lists(st.integers(-1000, 1000), min_size=1, max_size=40),
    ws=st.lists(st.integers(1, 50), min_size=1, max_size=40),
)
@SETTINGS
def test_isotonic_pava_minimax_identity(ys, ws):
    """ops.isotonic_fit's PAVA and the minimax formula
    fit_i = max_{j<=i} min_{k>=i} avg(y_j..y_k) are the same function
    (Robertson Thm 1.4.4) — pinned in pure Python on random weighted
    series (the Spark test pins the distributed paths on real data)."""
    m = min(len(ys), len(ws))
    ys, ws = ys[:m], ws[:m]
    # PAVA
    totals, weights, sizes = [], [], []
    for y, w in zip(ys, ws):
        totals.append(float(y * w))
        weights.append(float(w))
        sizes.append(1)
        while (
            len(totals) > 1
            and totals[-2] * weights[-1] >= totals[-1] * weights[-2]
        ):
            totals[-2] += totals[-1]
            weights[-2] += weights[-1]
            sizes[-2] += sizes[-1]
            totals.pop(); weights.pop(); sizes.pop()
    pava = []
    for tot, w, sz in zip(totals, weights, sizes):
        pava.extend([tot / w] * sz)
    # minimax
    pre_s = [0.0]
    pre_w = [0.0]
    for y, w in zip(ys, ws):
        pre_s.append(pre_s[-1] + y * w)
        pre_w.append(pre_w[-1] + w)

    def avg(j, k):  # inclusive 0-based cell range
        return (pre_s[k + 1] - pre_s[j]) / (pre_w[k + 1] - pre_w[j])

    for i in range(m):
        mm = max(
            min(avg(j, k) for k in range(i, m)) for j in range(i + 1)
        )
        assert abs(mm - pava[i]) < 1e-7, (i, ys, ws)
