"""Deduplication operators: exact, MinHash+LSH, SimHash.

All pure DataFrame compositions (xxhash64 is JVM-side and seedable via
extra literal columns) — no python in the hot path, every stage is a
keyed shuffle, so the same code runs at 100 TB:

  exact:   hash-groupBy, one shuffle on the content hash
  minhash: one row per doc (token array -> distinct shingle-hash set ->
           signature fold, no explode or aggregate) -> band-explode ->
           1 shuffle (groupBy band bucket) -> pairs only within a bucket
           (never all-pairs) -> exact-Jaccard verification. The doc row
           and the band buckets are SQL text (minhash_doc_sql,
           band_buckets_sql) that streaming.neardup runs on a stream.
  simhash: token-explode -> bitwise majority agg -> 16-bit band blocking
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..ops import data_sized_partitions


def _shingles(text_col, shingle_len: int):
    """Distinct word n-gram shingles of lower-cased text, as Column
    expressions: minhash_signatures' own construction, kept apart from
    minhash_doc_sql so that it stays an independent reference."""
    toks = F.split(F.lower(F.trim(text_col)), r"\s+")
    n = F.size(toks)
    return F.when(n >= shingle_len, F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n - shingle_len + 1),
            lambda i: F.array_join(F.slice(toks, i, shingle_len), " "),
        )
    )).otherwise(F.array(F.array_join(toks, " ")))


def exact_dedup(
    df: DataFrame, id_col: str, text_col: str, normalize: bool = True
) -> DataFrame:
    """Keep the lowest-id row per distinct (optionally normalized) text.

    Returns the input plus ``content_hash`` and ``is_canonical``.
    """
    txt = F.col(text_col)
    if normalize:
        txt = F.regexp_replace(F.lower(txt), r"\s+", " ")
    h = F.md5(txt)
    w_min = F.min(id_col).over(W.partitionBy("content_hash"))
    return (
        df.withColumn("content_hash", h)
        .withColumn("is_canonical", F.col(id_col) == w_min)
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 32,
    shingle_len: int = 3,
) -> DataFrame:
    """(id, signature array<long>) — k independent min-hashes per doc.

    One explode + one groupBy(id) with k min() aggregates (map-side
    partial min keeps the shuffle tiny: k longs per doc).

    The input is spread across the cluster first: a small corpus often
    arrives as one parquet file -> one partition, which would serialize
    the (CPU-heavy) shingling on a single core.
    """
    df = df.repartition(data_sized_partitions(df), id_col)
    # hash each shingle string ONCE to 8 bytes, then derive the k
    # independent min-hash functions by re-hashing the long with a seed —
    # k string hashes per shingle would dominate the whole pipeline
    # (n_shingles x k x strlen work); k long hashes are ~20x cheaper.
    ex = df.select(
        F.col(id_col).alias("__id"),
        F.explode(_shingles(F.col(text_col), shingle_len)).alias("__s"),
    ).select("__id", F.xxhash64("__s").alias("__h"))
    mins = ex.groupBy("__id").agg(
        *[
            F.min(F.xxhash64("__h", F.lit(k))).alias(f"h{k}")
            for k in range(n_hashes)
        ]
    )
    return mins.select(
        F.col("__id").alias(id_col),
        F.array(*[f"h{k}" for k in range(n_hashes)]).alias("signature"),
    )


def lsh_candidate_probability(jaccard: float, bands: int, rows: int) -> float:
    """P(>=1 shared band bucket) for a pair with the given true Jaccard
    under (bands x rows) MinHash banding: 1 - (1 - j^rows)^bands — the
    standard LSH S-curve."""
    return 1.0 - (1.0 - jaccard**rows) ** bands


def choose_bands(
    n_hashes: int,
    jaccard_threshold: float,
    min_recall_at_threshold: float = 0.9,
) -> int:
    """Pick the band count for a target threshold from the S-curve.

    Among divisors b of n_hashes (rows = n_hashes/b), take the SMALLEST
    b (steepest curve, fewest false candidates) whose recall at the
    threshold reaches ``min_recall_at_threshold``; if none does, the
    largest-recall b. More bands -> higher recall but more candidate
    pairs to verify; this makes the tradeoff explicit instead of a
    hand-tuned constant."""
    divisors = [b for b in range(1, n_hashes + 1) if n_hashes % b == 0]
    best = max(
        divisors,
        key=lambda b: lsh_candidate_probability(
            jaccard_threshold, b, n_hashes // b
        ),
    )
    for b in divisors:  # ascending: fewest bands first
        if (
            lsh_candidate_probability(jaccard_threshold, b, n_hashes // b)
            >= min_recall_at_threshold
        ):
            return b
    return best


def minhash_doc_sql(
    src: str,
    id_col: str,
    text_col: str,
    n_hashes: int = 32,
    shingle_len: int = 3,
) -> str:
    """SQL for the per-doc MinHash row over the relation ``src``:
    (__id, __n_sh, __set, __sig) — distinct shingle count, the distinct
    shingle-hash array and the k-min-hash signature as one array<bigint>.
    minhash_doc_table runs it on a batch and streaming.neardup on a
    stream; the signature equals minhash_signatures' (tested).

    Each shingle string is hashed once and the k min-hash functions
    re-hash that long with the INT seed k, as minhash_signatures does.
    The shape keeps interpreted lambdas from re-running the tokenizer:
    the token array is its own projection (referenced several times,
    so Catalyst does not inline ``split`` into the shingle lambda), and
    the signature is ONE aggregate/zip_with fold updating all k mins
    per shingle — k separate ``array_min(transform(__set, ...))``
    columns get the whole shingle set inlined into each lambda once
    ``__set`` is referenced only once (5,000 docs: 2.0–2.6 s vs
    0.32–0.49 s for the fold, plans pinned in tests/test_plans.py)."""
    return f"""
    SELECT __id, size(__set) AS __n_sh, __set,
           aggregate(__set, array_repeat(9223372036854775807L, {n_hashes}),
             (acc, x) -> zip_with(acc, sequence(0, {n_hashes - 1}),
                                  (m, k) -> least(m, xxhash64(x, k)))) AS __sig
    FROM (
      SELECT __id, transform(
               CASE WHEN size(__toks) >= {shingle_len}
                    THEN array_distinct(transform(
                           sequence(1, size(__toks) - {shingle_len} + 1),
                           i -> array_join(slice(__toks, i, {shingle_len}), ' ')))
                    ELSE array(array_join(__toks, ' ')) END,
               s -> xxhash64(s)) AS __set
      FROM (
        SELECT `{id_col}` AS __id,
               split(lower(trim(`{text_col}`)), '\\\\s+') AS __toks
        FROM {src}))
    """


def band_buckets_sql(sig: str, n_hashes: int, bands: int) -> str:
    """SQL array of (band, bucket) structs for the signature column
    ``sig``: band b's bucket is the xxhash64 of its ``n_hashes // bands``
    min-hashes joined as text. Shared by the batch and stream LSH."""
    rows = n_hashes // bands
    return (
        f"transform(sequence(0, {bands - 1}), b -> struct(b AS band, "
        f"xxhash64(array_join(transform(slice({sig}, b * {rows} + 1, {rows}), "
        f"x -> CAST(x AS STRING)), ',')) AS bucket))"
    )


def minhash_doc_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 32,
    shingle_len: int = 3,
) -> DataFrame:
    """minhash_doc_sql over ``df`` spread across the cluster: one row
    per doc, array expressions only (no explode, no aggregate — the
    only shuffle is the repartition; plan pinned in tests/test_plans.py).

    floor=16: the repartition feeds the CPU-heavy interpreted shingle
    transform, where extra width pays even when the input is tiny by
    bytes (measured at sf0.1: 0.42 s at 16 tasks vs 0.54 s at 8, vs
    1.06 s at 32 — task-launch overhead wins past that)."""
    rep = df.repartition(data_sized_partitions(df, floor=16), id_col)
    return df.sparkSession.sql(
        minhash_doc_sql("{df}", id_col, text_col, n_hashes, shingle_len), df=rep
    )


def minhash_near_dup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 32,
    bands: int | None = 8,
    shingle_len: int = 3,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int = 2000,
    skew_observation: Observation | None = None,
    shingle_storage: StorageLevel | None = None,
) -> DataFrame:
    """Near-duplicate pairs via LSH banding + exact-Jaccard verification.

    Pairs sharing >=1 of `bands` band-buckets become candidates (only
    same-bucket docs are ever joined); candidates are then verified with
    exact shingle Jaccard. Output: (id_a, id_b, jaccard) with id_a < id_b
    and jaccard >= threshold. ``bands=None`` auto-selects from the LSH
    S-curve for the threshold (choose_bands).

    Skew guard: a degenerate band bucket (empty docs, boilerplate, a
    10^4-copy template) would make the within-bucket pair join quadratic
    — invisible at test scale, the stage-that-never-finishes at 100 TB.
    Buckets above ``max_bucket_size`` members switch from all-pairs to a
    STAR topology (every member pairs with the bucket's min-id member
    only): candidate count per bucket drops O(n^2) -> O(n), connectivity
    for downstream clustering (cluster_near_dups) is preserved, and every
    emitted pair is still exact-Jaccard-verified. Pass
    ``skew_observation`` to observe `starred_rows` (members that went
    through the star path) at zero extra cost via DataFrame.observe.
    """
    if bands is None:
        bands = choose_bands(n_hashes, jaccard_threshold)
    # The corpus is tokenized exactly once, straight to one row per doc
    # carrying everything downstream needs (minhash_doc_table).
    # localCheckpoint instead of .cache(): checkpoint blocks are
    # released by the ContextCleaner as soon as this DataFrame is
    # garbage-collected (a CacheManager entry is pinned until an
    # explicit unpersist that a lazily-returned result can never safely
    # issue). Default storage MEMORY_AND_DISK: blocks that fit stay in
    # memory, the rest spill, and under execution-memory pressure the
    # unified memory manager evicts storage blocks above
    # spark.memory.storageFraction — at 100 TB the table degrades to
    # the disk path instead of competing with the join stages' working
    # set. Pass StorageLevel.DISK_ONLY to skip the memory tier.
    # The doc and bucket phases are SQL strings (one JVM parse each):
    # the ~100 py4j round trips of the equivalent Column builders cost
    # ~0.35 s of plan construction per call at any data size.
    spark = df.sparkSession
    docs = minhash_doc_table(
        df, id_col, text_col, n_hashes, shingle_len
    ).localCheckpoint(
        eager=True,
        storageLevel=shingle_storage or StorageLevel.MEMORY_AND_DISK,
    )

    # candidate generation: band-explode off the checkpointed per-doc
    # table, then ONE shuffle on (band, bucket) into a member-list row
    # per bucket (map-side partial collect_list), then pairs stream out
    # of a double explode — no self-join, no window. The left explode
    # source is the whole member list below the cap (all ordered pairs)
    # and just the min-id member above it (star topology) — one
    # expression gives both topologies, and id_a < id_b holds for both
    # since the star representative IS the bucket minimum. Reducer-side
    # exposure for a degenerate bucket is one member list (O(bucket) ids).
    buckets_sql = f"""
    SELECT bb.band AS band, bb.bucket AS bucket,
           collect_list(__id) AS __ids, count(*) AS __bn
    FROM (SELECT __id, explode({band_buckets_sql("__sig", n_hashes, bands)}) AS bb
          FROM {{docs}})
    GROUP BY bb.band, bb.bucket
    """
    buckets = spark.sql(buckets_sql, docs=docs)
    if skew_observation is not None:
        buckets = buckets.observe(
            skew_observation,
            F.sum(
                F.when(F.col("__bn") > max_bucket_size, F.col("__bn")).otherwise(0)
            ).alias("starred_rows"),
        )

    # Pair emission + verification stay Column-built (few expressions,
    # negligible construction cost) — and deliberately NOT another
    # spark.sql({param}) hop: substituting an .observe()-wrapped
    # DataFrame as a SQL parameter re-analyzes its CollectMetrics node
    # and the query never completes (reproduced on 4.1.2; the
    # DataFrame-composition path is unaffected).
    cand = (
        buckets.select(
            F.explode(
                F.when(F.col("__bn") <= max_bucket_size, F.col("__ids")).otherwise(
                    F.array(F.array_min("__ids"))
                )
            ).alias("id_a"),
            "__ids",
        )
        .select("id_a", F.explode("__ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )

    # verification: join each candidate pair's two per-doc shingle SETS
    # (8-byte hashes — ~10x smaller than strings, collisions ~n^2/2^64,
    # zero re-tokenization) and intersect them JVM-side. The candidate
    # side is small after banding, so AQE broadcasts it and the docs
    # table streams; array_intersect is a hash-set probe, O(|a|+|b|)
    # per pair.
    da = docs.select(
        F.col("__id").alias("id_a"),
        F.col("__n_sh").alias("n_a"),
        F.col("__set").alias("set_a"),
    )
    db = docs.select(
        F.col("__id").alias("id_b"),
        F.col("__n_sh").alias("n_b"),
        F.col("__set").alias("set_b"),
    )
    return (
        cand.join(da, "id_a")
        .join(db, "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("set_a", "set_b")))
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per document: per-token xxhash64, bitwise weighted
    majority vote folded back into one BIGINT. explode + 64 conditional
    sums in a single groupBy (one shuffle)."""
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("__t"),
    ).withColumn("__h", F.xxhash64("__t"))
    bit_sums = toks.repartition("__id").groupBy("__id").agg(
        *[
            F.sum(
                F.when(F.shiftright("__h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(
                    -1
                )
            ).alias(f"b{i}")
            for i in range(64)
        ]
    )
    sig = F.lit(0).cast("long")
    for i in range(64):
        sig = sig.bitwiseOR(
            F.when(
                F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
            ).otherwise(F.lit(0).cast("long"))
        )
    return bit_sums.select(F.col("__id").alias(id_col), sig.alias("simhash"))


def _hamming(a, b):
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 8,
    scheme: str = "chunk16",
    max_bucket_size: int = 2000,
    skew_observation: Observation | None = None,
) -> DataFrame:
    """Candidate pairs whose SimHashes differ in <= max_hamming bits.

    Blocking schemes (joins only within blocking buckets — no all-pairs):

    - ``chunk16``: 4 x 16-bit chunks. Pigeonhole guarantees every pair
      within hamming<=3 shares an untouched chunk; larger radii trade
      recall. 65,536 possible buckets per chunk — at 10^11 docs each
      holds ~10^6 members and the within-bucket join goes quadratic, so
      this tier is for corpora up to ~10^8 docs.
    - ``pair32``: C(4,2)=6 keys, each the concatenation of two 16-bit
      chunks (32 bits). <=2 flipped bits touch at most 2 chunks, leaving
      2 chunks clean, so their pair key matches: hamming<=2 guaranteed,
      and 2^32 bucket values keep buckets ~10^4x smaller at large N —
      the scale-preferred tier (1.5x the explode fan-out of chunk16).

    Both schemes get the same skew guard as minhash_near_dup: buckets
    above ``max_bucket_size`` switch from all-pairs to star topology
    around the bucket's min-id member (every emitted pair still carries
    its true hamming distance and respects max_hamming), and
    ``skew_observation`` observes `starred_rows` at zero cost.
    """
    sig = simhash(df, id_col, text_col)
    if scheme == "chunk16":
        keys = [
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftright("simhash", c * 16)
                .bitwiseAND(F.lit(0xFFFF))
                .alias("key"),
            )
            for c in range(4)
        ]
    elif scheme == "pair32":
        chunk = lambda c: F.shiftright("simhash", c * 16).bitwiseAND(F.lit(0xFFFF))
        keys = [
            F.struct(
                F.lit(4 + i).alias("chunk"),
                F.shiftleft(chunk(ci), 16).bitwiseOR(chunk(cj)).alias("key"),
            )
            for i, (ci, cj) in enumerate(
                [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]
            )
        ]
    else:
        raise ValueError(f"unknown blocking scheme {scheme!r} (chunk16|pair32)")
    chunks = sig.select(
        F.col(id_col).alias("__id"),
        "simhash",
        F.explode(F.array(*keys)).alias("ck"),
    ).select("__id", "simhash", "ck.chunk", "ck.key")
    wb = W.partitionBy("chunk", "key")
    chunks = chunks.select(
        "__id",
        "simhash",
        "chunk",
        "key",
        F.count(F.lit(1)).over(wb).alias("__bn"),
        F.min("__id").over(wb).alias("__rep"),
        F.min(F.struct("__id", "simhash")).over(wb).getField("simhash").alias(
            "__rep_sig"
        ),
    )
    if skew_observation is not None:
        chunks = chunks.observe(
            skew_observation,
            F.sum(
                F.when(F.col("__bn") > max_bucket_size, 1).otherwise(0)
            ).alias("starred_rows"),
        )
    small = chunks.filter(F.col("__bn") <= max_bucket_size)
    a = small.select(
        "chunk", "key", F.col("__id").alias("id_a"), F.col("simhash").alias("sig_a")
    )
    b = small.select(
        F.col("chunk").alias("chunk_b"),
        F.col("key").alias("key_b"),
        F.col("__id").alias("id_b"),
        F.col("simhash").alias("sig_b"),
    )
    all_pairs = a.join(
        b,
        (a.chunk == b.chunk_b) & (a.key == b.key_b) & (a.id_a < b.id_b),
    ).select(
        "id_a", "id_b", _hamming(F.col("sig_a"), F.col("sig_b")).alias("hamming")
    )
    star_pairs = (
        chunks.filter(
            (F.col("__bn") > max_bucket_size) & (F.col("__id") != F.col("__rep"))
        )
        .select(
            F.col("__rep").alias("id_a"),
            F.col("__id").alias("id_b"),
            _hamming(F.col("__rep_sig"), F.col("simhash")).alias("hamming"),
        )
    )
    return (
        all_pairs.unionByName(star_pairs)
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def cluster_near_dups(
    pairs: DataFrame, max_iter: int = 10
) -> DataFrame:
    """Connected components over near-dup pairs -> (doc id, cluster_id)
    with cluster_id = min doc id in the component (the canonical doc).

    Iterative label propagation: each node adopts the smallest label
    among itself and its neighbors until fixpoint — O(diameter)
    iterations, each one join + one aggregate (all shuffles on id).
    Near-dup components are tiny (diameter ~2-3), so max_iter=10 is
    generous; convergence is checked per iteration.
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        # materialize once: every iteration joins against edges, and
        # without this the (possibly expensive) pair-producing pipeline
        # upstream would re-execute per iteration
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("cluster_id", F.col("id"))
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("cluster_id"), F.coalesce("nbr_min", F.col("cluster_id"))
                ).alias("cluster_id"),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter("n.cluster_id <> o.cluster_id")
            .limit(1)
            .count()
        )
        labels = new_labels.localCheckpoint(eager=True)  # cut the lineage
        if changed == 0:
            break
    return labels
