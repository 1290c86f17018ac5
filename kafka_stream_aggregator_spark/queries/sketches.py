"""Sketch-suite registry queries: Bloom-filter decontamination, Count-Min
frequency estimation, deterministic per-group reservoir sampling, and a
hashed-feature linear quality classifier.

Every query here has an EXACT DuckDB oracle — including the two
probabilistic sketches, whose oracles replay the identical bloom/CMS
construction in SQL (portable md5-derived 60-bit hash, see
``kafka_stream_aggregator_spark.sketches``), so even the false
positives must match bit-for-bit. This is deliberately stronger than
the usual "rows-only" gate for probabilistic ops: determinism is a
property of the hash choice, not of the sketch semantics, and the
100 TB plan shape (bounded groupBy build, broadcast probe) is identical
under a cheaper non-portable hash.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..ops import data_sized_partitions
from ..sketches import (
    U64_SQL_TEMPLATE as U64,  # canonical DuckDB twin of portable_u64
    bloom_build,
    bloom_probe,
    HLL_NUM,
    cms_build,
    cms_estimate,
    hll_estimate,
    hll_registers,
    portable_u64,
)
from .base import query, t

BLOOM_M = 4096
BLOOM_K = 4
CMS_D = 4
CMS_W = 512


@query(
    "sketch_bloom_decontaminate",
    # The oracle REPLAYS the bloom construction: distinct bit positions
    # of the eval-set content hashes, then the all-k-bits-set probe.
    # bloom_hit must match exactly — false positives included.
    oracle=f"""
    WITH h AS (
      SELECT doc_id,
             md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS ch
      FROM documents
    ), bloom AS (
      SELECT DISTINCT
             {U64.format(expr="ch || ':' || CAST(i AS VARCHAR)")} % {BLOOM_M} AS pos
      FROM h, unnest(range(0, {BLOOM_K})) AS u(i)
      WHERE doc_id % 10 = 0
    ), probe AS (
      SELECT doc_id, ch,
             {U64.format(expr="ch || ':' || CAST(i AS VARCHAR)")} % {BLOOM_M} AS pos
      FROM h, unnest(range(0, {BLOOM_K})) AS u(i)
    ), hits AS (
      SELECT p.doc_id, p.ch,
             (count(b.pos) = {BLOOM_K}) AS bloom_hit
      FROM probe p LEFT JOIN bloom b USING (pos)
      GROUP BY p.doc_id, p.ch
    )
    SELECT doc_id, bloom_hit,
           ch IN (SELECT ch FROM h WHERE doc_id % 10 = 0) AS exact_member
    FROM hits
    """,
)
def sketch_bloom_decontaminate(spark, sf_dir):
    """Bloom-filter decontamination: treat every 10th document as the
    held-out eval set, build a Bloom filter (m=4096 bits, k=4) over
    their normalized content hashes, and probe the full corpus. Emits
    the bloom verdict beside exact membership so false positives are
    observable (false negatives are impossible by construction — the
    pytest invariant pins that).

    100 TB plan: the filter build is one explode + one distinct that
    map-side partial aggregation bounds at m rows per task; the filter
    relation (≤ m rows) is broadcast into the probe, so the corpus-side
    scan joins against it with zero shuffle of the big side beyond the
    per-doc groupBy on its own key. Sketch construction in
    sketches.bloom_build; reference sketch surface per SURVEY.md §2.B.
    """
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.regexp_replace(F.lower("text"), r"\s+", " ")).alias("ch"),
    )
    bloom = bloom_build(d.filter(F.col("doc_id") % 10 == 0), "ch", BLOOM_M, BLOOM_K)
    probed = bloom_probe(d, "ch", bloom, BLOOM_M, BLOOM_K)
    eval_hashes = d.filter(F.col("doc_id") % 10 == 0).select("ch").distinct()
    return (
        probed.join(
            F.broadcast(eval_hashes.withColumn("_m", F.lit(1))), on="ch", how="left"
        )
        .select(
            "doc_id",
            "bloom_hit",
            F.col("_m").isNotNull().alias("exact_member"),
        )
    )


@query(
    "sketch_cms_user_counts",
    # CMS replayed in SQL: d=4 hash rows, w=512 cells, est = min over
    # rows of the cell counters; compared against the true counts for
    # the 25 most-active users.
    oracle=f"""
    WITH cms AS (
      SELECT i AS rw,
             {U64.format(expr="CAST(user_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)")}
               % {CMS_W} AS cell,
             count(*) AS cnt
      FROM events, unnest(range(0, {CMS_D})) AS u(i)
      GROUP BY 1, 2
    ), truth AS (
      SELECT user_id, count(*) AS true_cnt
      FROM events GROUP BY user_id
      ORDER BY true_cnt DESC, user_id LIMIT 25
    ), lookups AS (
      SELECT t.user_id, t.true_cnt, i AS rw,
             {U64.format(expr="CAST(t.user_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)")}
               % {CMS_W} AS cell
      FROM truth t, unnest(range(0, {CMS_D})) AS u(i)
    ), est AS (
      SELECT l.user_id, l.true_cnt, min(c.cnt) AS est_cnt
      FROM lookups l JOIN cms c USING (rw, cell)
      GROUP BY l.user_id, l.true_cnt
    )
    SELECT user_id, est_cnt, true_cnt FROM est
    """,
)
def sketch_cms_user_counts(spark, sf_dir):
    """Count-Min frequency sketch over event user activity (d=4, w=512)
    — estimate per-user event counts from a ≤2048-cell summary and
    report them beside the exact counts for the top-25 users. The CMS
    guarantee (est ≥ true, est ≤ true + εN w.h.p.) is pinned by a
    pytest invariant; the oracle pins the exact cell arithmetic.

    100 TB plan: the build is one explode (d rows/event) + a groupBy
    bounded at d·w cells (map-side combine caps each task's output);
    the sketch is broadcast into the estimate join — the only unbounded
    shuffle is the truth-side count, which the sketch exists to replace
    in production (here it is computed only to exhibit the bounds).
    Sketch ops in sketches.cms_build / cms_estimate.
    """
    ev = t(spark, sf_dir, "events")
    sketch = cms_build(ev, "user_id", CMS_D, CMS_W)
    truth = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), "user_id")
        .limit(25)
    )
    est = cms_estimate(truth, "user_id", sketch, CMS_D, CMS_W, out_col="est_cnt")
    return est.select("user_id", "est_cnt", "true_cnt")


@query(
    "doc_sample_per_group",
    # Deterministic uniform-without-replacement k-per-group sample:
    # rank by the portable hash of the doc key inside each language.
    oracle=f"""
    WITH r AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY {U64.format(expr="CAST(doc_id AS VARCHAR) || ':samp'")},
                        doc_id
             ) AS sample_rank
      FROM documents
    )
    SELECT doc_id, lang, sample_rank FROM r WHERE sample_rank <= 5
    """,
)
def doc_sample_per_group(spark, sf_dir):
    """Reservoir-equivalent uniform sample of k=5 documents per
    language: every row gets a pseudo-random priority from the portable
    hash of its key, and the k smallest priorities per group win —
    exactly the distributed formulation of reservoir sampling (each
    subset of size k is equally likely under a uniform priority), but
    deterministic, mergeable, and oracle-checkable.

    100 TB plan: single shuffle on the group key with a rank window —
    or, where group cardinality is high, the same top_k_per_group
    pattern ops.py uses (partial per-partition top-k before the
    shuffle). No RNG state, no driver coordination; re-running on the
    same data yields the same sample (the property a training-data
    pipeline actually wants from "random" sampling).
    """
    d = t(spark, sf_dir, "documents")
    pri = portable_u64(F.col("doc_id"), salt="samp")
    w = W.partitionBy("lang").orderBy(pri, "doc_id")
    return (
        d.select("doc_id", "lang", F.row_number().over(w).alias("sample_rank"))
        .filter(F.col("sample_rank") <= 5)
    )


@query(
    "doc_quality_classifier",
    # Hashed-feature linear model: 4096 buckets, deterministic weight
    # table, integer weight sums (exact cross-engine), sigmoid at the
    # end. Token set and bucket hash identical on both sides.
    oracle=f"""
    WITH weights AS (
      SELECT i AS bkt, ((i * 37 + 11) % 997) - 498 AS w_int
      FROM unnest(range(0, 4096)) AS u(i)
    ), toks AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\S+')) AS tok
      FROM documents
    ), feats AS (
      SELECT doc_id,
             {U64.format(expr="tok")} % 4096 AS bkt
      FROM toks
    ), scored AS (
      SELECT f.doc_id,
             count(*) AS n_tokens,
             sum(w.w_int) AS s_int
      FROM feats f JOIN weights w USING (bkt)
      GROUP BY f.doc_id
    )
    SELECT doc_id, n_tokens,
           round(1.0 / (1.0 + exp(-(CAST(s_int AS DOUBLE)
                                    / (498.0 * n_tokens)))), 6) AS quality_prob
    FROM scored
    """,
)
def doc_quality_classifier(spark, sf_dir):
    """FastText-style hashed-feature linear quality classifier: each
    token hashes into one of 4096 weight buckets, the document score is
    the mean bucket weight, squashed through a sigmoid. The weight
    table here is a deterministic stand-in for learned weights — the
    plan is the production shape: a broadcast join of the (tiny) weight
    table against the exploded token stream, integer partial sums
    (exact, order-independent) and a single float division + sigmoid at
    the end.

    100 TB plan: tokens explode scales linearly and stays in codegen
    (regexp + explode + hash are all JVM); the weights join is
    broadcast; the per-doc groupBy is the only shuffle, on the
    pipeline's natural key. Integer weight sums dodge float
    associativity so the same corpus always scores identically.
    """
    spark_weights = (
        spark.range(4096)
        .select(
            F.col("id").cast("int").alias("bkt"),
            ((F.col("id") * 37 + 11) % 997 - 498).cast("long").alias("w_int"),
        )
    )
    d = t(spark, sf_dir, "documents")
    d = d.repartition(data_sized_partitions(d))
    feats = (
        d.select(
            "doc_id",
            F.explode(F.regexp_extract_all(F.lower("text"), F.lit(r"\S+"), 0)).alias("tok"),
        )
        .select("doc_id", (portable_u64(F.col("tok")) % 4096).cast("int").alias("bkt"))
    )
    scored = (
        feats.join(F.broadcast(spark_weights), on="bkt")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum("w_int").alias("s_int"))
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        F.round(
            1.0 / (1.0 + F.exp(-(F.col("s_int").cast("double") / (498.0 * F.col("n_tokens"))))),
            6,
        ).alias("quality_prob"),
    )


@query(
    "join_bloom_prefilter",
    # The bloom is a pure pre-filter here: survivors go through the
    # exact join, so false positives drop out and the result equals the
    # plain join — which is exactly what the oracle runs.
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2)
                AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_totalprice > 400000
    GROUP BY o_orderpriority
    """,
)
def join_bloom_prefilter(spark, sf_dir):
    """Bloom-accelerated selective join (semi-join reduction): build a
    Bloom filter over the keys of a selective dimension slice
    (orders with totalprice > 400k), pre-filter the fact table with k
    chained broadcast semi-probes (sketches.bloom_prefilter — no
    explode, no fact-side shuffle), THEN run the exact join on the
    survivors. Result is identical to the plain join (bloom is sound;
    the join removes false positives) — the payoff at 100 TB is the
    shuffle: it carries |matches| + fp-rate x |non-matches| rows
    instead of the whole fact table. This is the engine-level runtime-
    filter pattern (Spark's runtime bloom join / Trino dynamic
    filtering) expressed as an explicit, mergeable operator."""
    from ..sketches import bloom_build, bloom_prefilter

    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    li = t(spark, sf_dir, "lineitem")
    # xx64 tier: this oracle never replays the hash (the bloom is a
    # transparent pre-filter, result == plain join), so the fact table
    # pays the ~20x cheaper production hasher, not the md5 oracle tier
    bloom = bloom_build(o.select("o_orderkey"), "o_orderkey", 1 << 16, 4,
                        hasher="xx64")
    survivors = bloom_prefilter(li, "l_orderkey", bloom, 1 << 16, 4,
                                hasher="xx64")
    return (
        survivors.join(o, survivors.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
        )
    )


@query(
    "doc_weighted_sample",
    # Efraimidis–Spirakis weighted reservoir: priority ln(u)/w with u a
    # portable-hash uniform in (0,1]; the k largest priorities per
    # language form a weighted-without-replacement sample. Both engines
    # compute identical doubles (same u, same ln, same division).
    oracle=f"""
    WITH pri AS (
      SELECT doc_id, lang, n_chars,
             ln((({U64.format(expr="CAST(doc_id AS VARCHAR) || ':wsamp'")}
                  % 9007199254740992) + 1) / 9007199254740992.0)
               / n_chars AS priority
      FROM documents
    ), r AS (
      SELECT doc_id, lang, n_chars,
             row_number() OVER (PARTITION BY lang
                                ORDER BY priority DESC, doc_id) AS sample_rank
      FROM pri
    )
    SELECT doc_id, lang, n_chars, sample_rank FROM r WHERE sample_rank <= 5
    """,
)
def doc_weighted_sample(spark, sf_dir):
    """Weighted uniform sample (Efraimidis-Spirakis A-ES): each doc
    gets priority u^(1/w) -- ranked equivalently via ln(u)/w --
    with u a deterministic portable-hash uniform and w = n_chars, so
    longer documents are proportionally more likely to be drawn; the
    top-5 priorities per language are the sample. This is the
    distributed, mergeable form of weighted reservoir sampling:
    priorities are row-local, the only shuffle is the per-group top-k,
    and two partial samples merge by taking the k largest priorities
    of their union -- the mixture-sampling primitive (sample by
    quality score / domain weight) of corpus construction.

    Deterministic + exactly oracled (same hash, same ln, same
    division on both engines)."""
    d = t(spark, sf_dir, "documents")
    # u in (0, 1]: (h % 2^53 + 1) / 2^53 — exact in doubles
    u = (
        (portable_u64(F.col("doc_id"), salt="wsamp") % F.lit(9007199254740992))
        + 1
    ) / F.lit(9007199254740992.0)
    pri = (F.log(u) / F.col("n_chars")).alias("priority")
    w = W.partitionBy("lang").orderBy(F.col("priority").desc(), "doc_id")
    return (
        d.select("doc_id", "lang", "n_chars", pri)
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= 5)
        .select("doc_id", "lang", "n_chars", "sample_rank")
    )


@query(
    "sketch_minhash_portable",
    # MinHash with k=16 portable salted hashes, candidates = pairs
    # agreeing on >= 4 of 16 slots (est Jaccard >= 0.25). The oracle
    # REPLAYS the sketch (same md5-derived mins), so the probabilistic
    # estimate — false positives included — is hash-checked exactly,
    # the same trick sketch_bloom_decontaminate uses.
    oracle=f"""
    WITH dt AS (
      SELECT doc_id, regexp_extract_all(lower(trim(text)), '\\S+') AS tk
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, array_to_string(tk[g:g+2], ' ') AS s
      FROM dt, unnest(range(1, greatest(len(tk)-2,0)+1)) AS u(g)
    ), salts AS (
      SELECT unnest(range(0, 16)) AS slot
    ), sig AS (
      SELECT doc_id, slot,
             min({U64.format(expr="(s || ':' || CAST(slot AS VARCHAR))")}) AS mh
      FROM sh, salts GROUP BY doc_id, slot
    ), m AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS nm
      FROM sig a JOIN sig b ON a.slot = b.slot AND a.mh = b.mh
                            AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, CAST(nm AS BIGINT) AS n_match,
           round(nm / 16.0, 6) AS est_jac
    FROM m WHERE nm >= 4
    """,
)
def sketch_minhash_portable(spark, sf_dir):
    """MinHash near-dup candidates with an EXACT oracle: 16 salted
    portable_u64 min-hashes per document (the md5-prefix trick — same
    60-bit values in Spark and DuckDB), pairs agreeing on >= 4 slots.
    minhash_near_dup (llm.dedup) is the production tier — xxhash64,
    banded LSH, skew guards — and is necessarily rows-only-checked;
    this registry twin trades the cheap hash for a DuckDB-replayable
    one so the driver hash-verifies MinHash SEMANTICS end to end,
    estimation error and false positives included.

    Plan shape is the production one: explode distinct shingles, ONE
    groupBy(doc) computing all 16 mins (map-side partial), explode the
    16-slot signature, self-join on (slot, minhash) — every join key
    bounded, no all-pairs stage anywhere."""
    d = t(spark, sf_dir, "documents")
    d = d.repartition(data_sized_partitions(d))
    toks = F.regexp_extract_all(
        F.lower(F.trim(F.col("text"))), F.lit(r"\S+"), 0
    )
    shingles = F.when(
        F.size(toks) >= 3,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 2),
                lambda i: F.array_join(F.slice(toks, i, 3), " "),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    sh = d.select("doc_id", F.explode(shingles).alias("s"))
    k = 16
    sig = sh.groupBy("doc_id").agg(
        *[
            F.min(portable_u64(F.col("s"), salt=i)).alias(f"m{i}")
            for i in range(k)
        ]
    )
    slots = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("slot"), F.col(f"m{i}").alias("mh")
                    )
                    for i in range(k)
                ]
            )
        ).alias("x"),
    ).select("doc_id", F.col("x.slot").alias("slot"), F.col("x.mh").alias("mh"))
    a = slots.select(
        F.col("doc_id").alias("id_a"), "slot", "mh"
    )
    b = slots.select(F.col("doc_id").alias("id_b"), "slot", "mh")
    return (
        a.join(b, ["slot", "mh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_match"))
        .filter(F.col("n_match") >= 4)
        .select(
            "id_a",
            "id_b",
            "n_match",
            F.round(F.col("n_match") / 16.0, 6).alias("est_jac"),
        )
    )


_SIGN_SQL = (
    "CASE WHEN "
    + U64.format(expr="(CAST(p AS VARCHAR) || ':' || CAST(i AS VARCHAR))")
    + " % 2 = 0 THEN 1.0 ELSE -1.0 END"
)


@query(
    "emb_signlsh_neardup",
    # Random-hyperplane (sign) LSH near-dup over embeddings, EXACTLY
    # oracled: hyperplanes are +-1 vectors derived from the portable
    # hash, so DuckDB replays the whole pipeline — 16 sign bits,
    # ADAPTIVE banding (4x4-bit below 4k vectors, 2x8-bit above: a
    # fixed 4-bit band is a latent quadratic — ~1/16 random collision
    # per band makes candidates ~20%% of ALL pairs at any n), candidate
    # pairs = any band collision, then exact cosine >= 0.4
    # verification. Recall loss and all, both engines compute the
    # identical pair set; the oracle replays the adaptive width via
    # the same count threshold.
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), pl AS (
      SELECT unnest(range(0, 16)) AS p
    ), bits AS (
      SELECT vec_id, p,
             CASE WHEN list_dot_product(v,
                    list_transform(range(1, len(v) + 1), i -> {_SIGN_SQL}))
                  >= 0 THEN 1 ELSE 0 END AS bit
      FROM e, pl
    ), bw AS (
      SELECT CASE WHEN count(*) >= 4000 THEN 8 ELSE 4 END AS bits FROM e
    ), bands AS (
      SELECT vec_id, p // bits AS band_idx,
             CAST(sum(bit << (p % bits)) AS BIGINT) AS band_val
      FROM bits, bw GROUP BY vec_id, p // bits
    ), cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.vec_id < b.vec_id
    ), sim AS (
      SELECT id_a, id_b,
             list_dot_product(ea.v, eb.v)
               / (sqrt(list_dot_product(ea.v, ea.v))
                  * sqrt(list_dot_product(eb.v, eb.v))) AS cs
      FROM cand JOIN e ea ON id_a = ea.vec_id JOIN e eb ON id_b = eb.vec_id
    )
    SELECT id_a, id_b, round(cs, 6) AS cos_sim FROM sim WHERE cs >= 0.4
    """,
)
def emb_signlsh_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs via sign LSH (Charikar
    random hyperplanes), the vector twin of sketch_minhash_portable:
    16 hyperplanes with +-1 components derived from portable_u64(p:i),
    adaptively banded (4-bit bands below 4k vectors, 8-bit above — the
    sqrt-nlist lesson from emb_cosine_near_dup_ivf applied to banding:
    a constant band width makes random collisions a constant FRACTION
    of all pairs, i.e. quadratic candidates); colliding pairs are
    verified with the
    exact cosine (the hoisted-norms dot-product convention
    cos_topk_bruteforce already proved hash-identical to DuckDB's
    list_dot_product). Because the hyperplanes are hash-derived, the
    oracle REPLAYS the sketch — the driver checks the LSH's actual
    recall behavior, not just a lucky subset.

    Scale shape: the 16 x d sign matrix is a pure function of the
    portable hash, so it is precomputed driver-side (hashlib md5 ==
    portable_u64 bit-for-bit) and shipped as LITERAL arrays sliced to
    each row's dimension — each bit is then ONE codegen'd zip_with dot
    (the first implementation hashed per (row, plane, dim) inside an
    interpreted fold: 5M md5 calls and 14.5 s at sf0.1; literals make
    it ~2 s). The band self-join is the bounded LSH bucket join; exact
    verification touches candidates only. No all-pairs stage; brute
    force appears only in the oracle SQL.

    Parameter note, measured: 4-bit bands collide ~1/16 per band for
    UNRELATED vectors, so at tau=0.4 (a hard, low-similarity regime —
    this table's max pair cosine is 0.51) candidates are ~20% of all
    pairs and verification dominates (7.4 s at sf0.1 after norm
    hoisting). That is the inherent sign-LSH trade at low thresholds;
    for true near-dup work (cos >= 0.9, p_bit ~ 0.9) the same pipeline
    with 8-bit bands keeps recall >= 0.95 while cutting random
    collisions to 1/256 — band width is the lever, and the IVF/PQ
    tiers (ann_ivf_topk, ann_pq_topk) are the production ANN path."""
    import hashlib

    from ..llm.similarity import as_double, dot

    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )

    max_dim = 512  # covers any embedding width in this engine's tables

    def sign_vec(p: int):
        # hashlib twin of portable_u64: int(md5(s)[:15 hex], 16) % 2
        signs = [
            1.0
            if int(hashlib.md5(f"{p}:{i}".encode()).hexdigest()[:15], 16) % 2
            == 0
            else -1.0
            for i in range(1, max_dim + 1)
        ]
        return F.slice(F.lit(signs), 1, F.size("v"))

    band_bits = 8 if e.count() >= 4000 else 4  # construction-time sizing
    bits = e.select(
        "vec_id",
        "v",
        *[
            (dot(F.col("v"), sign_vec(p)) >= 0).cast("int").alias(f"b{p}")
            for p in range(16)
        ],
    )
    n_bands = 16 // band_bits
    band_structs = [
        F.struct(
            F.lit(b).alias("band_idx"),
            sum(
                (F.col(f"b{band_bits * b + j}") * (1 << j))
                for j in range(band_bits)
            ).cast("bigint").alias("band_val"),
        )
        for b in range(n_bands)
    ]
    bands = bits.select(
        "vec_id", F.explode(F.array(*band_structs)).alias("x")
    ).select("vec_id", "x.band_idx", "x.band_val")
    cand = (
        bands.alias("a")
        .join(bands.alias("b"), ["band_idx", "band_val"])
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b")
        )
        .distinct()
    )
    # norms hoisted per VECTOR, not per candidate pair (float-identical
    # to the inline form — the brute_force_topk convention): per-pair
    # work drops from three interpreted folds to one
    en = e.withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
    ea = en.select(
        F.col("vec_id").alias("id_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    eb = en.select(
        F.col("vec_id").alias("id_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    cs = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .withColumn("cs", cs)
        .filter(F.col("cs") >= 0.4)
        .select("id_a", "id_b", F.round("cs", 6).alias("cos_sim"))
    )


def _hll_regs_sql() -> str:
    h = U64.format(expr="CAST(user_id AS VARCHAR)")
    return f"""
      SELECT event_type,
             {h} % 64 AS reg,
             max(CASE WHEN ({h} >> 6) > 0
                      THEN 55 - length(bin({h} >> 6)) ELSE 55 END) AS rho
      FROM events GROUP BY event_type, {h} % 64
    """


_HLL_ESTIMATE_SQL = f"""
    , est AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_regs,
             sum(CAST(1 AS BIGINT) << (55 - rho))
               + (64 - count(*)) * (CAST(1 AS BIGINT) << 55) AS s
      FROM regs GROUP BY event_type
    ), truth AS (
      SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
      FROM events GROUP BY event_type
    )
    SELECT e.event_type, n_regs,
           round(CASE WHEN {HLL_NUM} / s <= 160 AND n_regs < 64
                      THEN 64 * ln(64.0 / (64 - n_regs))
                      ELSE {HLL_NUM} / s END, 4) AS hll_estimate,
           exact_distinct
    FROM est e JOIN truth USING (event_type)
"""


@query(
    "sketch_hll_portable",
    # 64-register HyperLogLog over the portable hash: register = h%64,
    # rho = leading zeros of the remaining 54 bits + 1 (via bin()
    # length — identical in both engines). The harmonic sum is kept as
    # an exact BIGINT (2^(55-rho) per register), so the oracle replays
    # the sketch bit-for-bit and the estimate (vs the exact distinct,
    # reported beside it) hash-matches exactly.
    oracle="WITH regs AS (" + _hll_regs_sql() + ")" + _HLL_ESTIMATE_SQL,
)
def sketch_hll_portable(spark, sf_dir):
    """HyperLogLog distinct-count sketch with an EXACT oracle — the
    last member of the portable-sketch family (bloom / CMS / MinHash /
    sign-LSH / HLL): per event type, 64 registers each holding the max
    leading-zero count of portable_u64(user_id)'s upper 54 bits. The
    register relation is bounded at |types| x 64 rows at ANY scale (the
    mergeable-summary property: per-day register tables merge by max),
    and the estimate is alpha * m^2 / sum(2^-rho) — with the harmonic
    sum carried as exact integers (2^(55-rho) over a 2^55 denominator
    folded into one shared literal), so no cross-engine float-sum
    ordering can flip a bit. Spark's own approx_count_distinct (HLL++)
    is the production tier (agg_approx_distinct); THIS query is the
    one whose driver row proves the HLL construction itself. Small-range
    (linear counting) correction applied exactly as the paper gives it:
    raw estimate <= 2.5m with empty registers -> m*ln(m/V) — the branch
    condition is the identical double on both engines, so the oracle
    replays the correction too."""
    ev = t(spark, sf_dir, "events")
    truth = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_distinct")
    )
    return hll_estimate(hll_registers(ev)).join(truth, "event_type")
