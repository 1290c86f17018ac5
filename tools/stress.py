"""Scale stress check: the engine's heavy operators on a 10M-row events
table synthesized by exploding sf0.1 (100k rows x 100 replicas with
perturbed keys/timestamps — no testdata mutation; output to /tmp).

This is not the bench (bench.py is the driver contract); it exists to
answer the scale-up question directly: do the plans that win at 600k
rows still run, without memory blowups or single-task stages, at 100x?
Run:  python tools/stress.py [n_replicas]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from kafka_stream_aggregator_spark.indicators import (
    cumulative_ewma_col,
    ewma_alpha,
    windowed_ewma,
)
from kafka_stream_aggregator_spark.ops import asof_join, sessionize
from kafka_stream_aggregator_spark.session import get_spark
from kafka_stream_aggregator_spark.tables import load_table


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    spark = get_spark("stress")
    base = load_table(spark, "/root/testdata/sf0.1", "events")

    out_dir = tempfile.mkdtemp(prefix="stress_events_")
    t0 = time.time()
    # replicate: shift each replica by r days and give it disjoint
    # user/event id ranges, preserving intra-replica distributions
    r = F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))).alias("r")
    big = (
        base.select("*", r)
        .select(
            (F.col("event_id") + F.col("r") * 1_000_000).alias("event_id"),
            (F.col("ts") + F.make_interval(days=F.col("r"))).alias("ts"),
            (F.col("user_id") + F.col("r") * 1_000).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
    )
    big.write.mode("overwrite").parquet(out_dir)
    n = spark.read.parquet(out_dir).count()
    print(f"materialized {n:,} rows in {time.time()-t0:.1f}s -> {out_dir}")

    ev = spark.read.parquet(out_dir)

    def tt(label, df):
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        print(f"{label}: {time.time()-t0:.1f}s")

    # batch input: windowed_ewma runs its reverse-rank closed form
    tt("windowed_ewma(5min, by type)", windowed_ewma(
        ev, group_cols=("event_type",), period_minutes=5))
    tt("cumulative_ewma(by user)", ev.select(
        "user_id", "event_id",
        cumulative_ewma_col("value", ewma_alpha(5), ["user_id"], ["ts", "event_id"]).alias("e")))
    tt("sessionize+agg", sessionize(ev).groupBy("user_id", "session_id").count())
    left = ev.filter("event_type = 'purchase'").select("event_id", "user_id", "ts")
    right = ev.filter("event_type = 'click'").select(
        F.col("user_id").alias("ru"), F.col("ts").alias("rts"),
        F.col("event_id").alias("rid"), F.col("value").alias("rv"))
    tt("asof_join(purchase<-click)", asof_join(
        left, right, "ts", "rts", "user_id", "ru", "rid", ["rv"]))
    tt("topk_per_user", ev.groupBy("user_id").agg(
        F.max("value"), F.percentile_approx("value", 0.5)))

    from kafka_stream_aggregator_spark.ops import (
        exact_percentiles,
        exact_percentiles_bucketed,
    )

    # continuous column, 5 groups, 10M rows: the built-in exact
    # Percentile would buffer ~2M-entry counts-maps per group; the
    # sort tier holds O(1) reducer memory, the bucketed tier adds full
    # parallelism — it overtakes sort at this scale (SCALING.md tiers)
    tt("exact_percentiles sort tier", exact_percentiles(
        ev, "value", [(0.5, "p50"), (0.99, "p99")], group_cols=("event_type",)))
    tt("exact_percentiles bucketed tier", exact_percentiles_bucketed(
        ev, "value", [(0.5, "p50"), (0.99, "p99")], group_cols=("event_type",)))

    # OHLC candles: one partial-aggregatable shuffle; struct min/max
    # stays a codegen HashAggregate (min_by/max_by are object-hash
    # aggs that fall back to sort-based beyond 128 groups/partition —
    # measured 124.7s vs 14.3s for this exact query at 10M rows)
    ws = (F.floor(F.unix_timestamp("ts") / 300) * 300).cast("long")
    key = F.struct("ts", "event_id", "value")
    tt("ohlc_5min (struct min/max)", ev.select(
        "event_type", ws.alias("w"), "ts", "event_id", "value"
    ).groupBy("event_type", "w").agg(
        F.min(key)["value"].alias("open"), F.max("value").alias("high"),
        F.min("value").alias("low"), F.max(key)["value"].alias("close"),
        F.count(F.lit(1)).alias("n")))

    # gaps-and-islands: whole query on ONE user_id shuffle
    from pyspark.sql import Window as W

    hot = (F.col("value") > 50).alias("hot")
    w_all = W.partitionBy("user_id").orderBy("ts", "event_id")
    w_flag = W.partitionBy("user_id", "hot").orderBy("ts", "event_id")
    f = ev.select("user_id", "ts", "event_id", hot).select(
        "user_id", "hot",
        F.row_number().over(w_all).alias("rn"),
        F.row_number().over(w_flag).alias("rn_f"))
    tt("gap_islands", f.filter("hot").groupBy(
        "user_id", (F.col("rn") - F.col("rn_f")).alias("isl")
    ).agg(F.count(F.lit(1)).alias("len")).groupBy("user_id").agg(
        F.count(F.lit(1)), F.max("len")))

    import shutil

    shutil.rmtree(out_dir, ignore_errors=True)

    # ---- document-corpus stress: the LLM/dedup path at replicas x 5k
    # docs. Each replica gets disjoint ids and a replica-salted text
    # tail (so near-dup structure stays per-replica instead of turning
    # the whole corpus into one giant duplicate cluster — the worst
    # case the star guard exists for is exercised separately in tests).
    from kafka_stream_aggregator_spark.llm.dedup import (
        exact_dedup,
        minhash_near_dup,
    )
    from kafka_stream_aggregator_spark.llm.pipeline import (
        decontaminate,
        repetition_signals,
    )

    dbase = load_table(spark, "/root/testdata/sf0.1", "documents")
    ddir = tempfile.mkdtemp(prefix="stress_docs_")
    t0 = time.time()
    bigd = (
        dbase.select("*", r)
        .select(
            (F.col("doc_id") + F.col("r") * 1_000_000).alias("doc_id"),
            F.concat(
                F.col("text"), F.lit(" rep"), F.col("r").cast("string")
            ).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
    )
    bigd.write.mode("overwrite").parquet(ddir)
    nd = spark.read.parquet(ddir).count()
    print(f"materialized {nd:,} docs in {time.time()-t0:.1f}s -> {ddir}")
    docs = spark.read.parquet(ddir)

    tt("exact_dedup", exact_dedup(docs, "doc_id", "text"))
    tt("minhash_near_dup", minhash_near_dup(docs, "doc_id", "text"))
    tt("repetition_signals", repetition_signals(docs, "doc_id", "text"))
    tt(
        "decontaminate(3-gram)",
        decontaminate(
            docs.filter(F.col("doc_id") % 97 != 0),
            docs.filter(F.col("doc_id") % 97 == 0),
            "doc_id",
            "text",
            n=3,
        ),
    )

    # char entropy: explode factor capped at 2 KB/doc by construction
    pfx = docs.select(
        "doc_id", F.substring("text", 1, 2048).alias("pfx")
    ).select("doc_id", F.explode(F.split("pfx", "")).alias("ch")).filter(
        F.col("ch") != ""
    )
    ent = pfx.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c")).groupBy(
        "doc_id"
    ).agg(
        (F.log2(F.sum("c")) - F.sum(F.col("c") * F.log2("c")) / F.sum("c")).alias(
            "h"
        )
    )
    tt("char_entropy", ent)

    # md5 train/val/test split: pure row-local hash + tiny aggregate
    nib = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    tt("train_split", docs.select(
        F.when(nib.isin(*"0123456789ab"), F.lit("train"))
        .when(nib.isin(*"cd"), F.lit("val"))
        .otherwise(F.lit("test")).alias("split")
    ).groupBy("split").count())

    shutil.rmtree(ddir, ignore_errors=True)


if __name__ == "__main__":
    main()
