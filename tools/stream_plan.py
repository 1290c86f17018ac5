"""Print the benchmark's streaming EWMA query plan, normalized.

Usage: python tools/stream_plan.py {json|avro} [outfile]

Builds the streaming query the way perfbench/replay.py builds it (file
stream of Confluent frames -> the format's decode -> `windows()`, the
per-instrument 5-minute EWMA with a 10-minute watermark), runs it once
over 200 framed synthetic trades into a noop sink, and prints its
`explain(extended)` text: the logical plans and the last micro-batch's
physical plan. Expression IDs are rewritten by tools/plan_normalize.py,
and UUIDs and temp paths by this script, so the plans of two commits
compare byte-equal."""

from __future__ import annotations

import os
import re
import sys
import tempfile
from types import SimpleNamespace

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))


def main() -> None:
    fmt = sys.argv[1]
    out = sys.argv[2] if len(sys.argv) > 2 else None

    from plan_normalize import normalize

    from kafka_stream_aggregator_spark.session import get_spark
    from kafka_stream_aggregator_spark.streaming.avro_codec import TRADES_AVRO_SCHEMA
    from kafka_stream_aggregator_spark.streaming.sources import file_stream
    from kafka_stream_aggregator_spark.streaming.trade_pipeline import (
        frame_trades,
        frame_trades_avro,
        synthetic_trades,
    )
    from perfbench.replay import decode, frame_schema, windows

    spark = get_spark("stream_plan", cpus=2, shuffle_partitions=2)
    # frame_trades_avro frames under schema id 7
    registry = SimpleNamespace(snapshot=lambda: {7: TRADES_AVRO_SCHEMA})
    with tempfile.TemporaryDirectory() as work:
        in_dir, ckpt = os.path.join(work, "in"), os.path.join(work, "ckpt")
        trades = synthetic_trades(spark, n=200)
        frames = frame_trades_avro(trades) if fmt == "avro" else frame_trades(trades)
        frames.coalesce(1).write.parquet(in_dir)
        framed = file_stream(spark, in_dir, frame_schema(), max_files_per_trigger=1)
        q = (
            windows(decode(framed, fmt, registry)).writeStream.format("noop")
            .outputMode("append").option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        txt = normalize(q._jsq.explainInternal(True)).replace(work, "<work>")
    txt = re.sub(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<uuid>", txt)
    if out:
        with open(out, "w") as f:
            f.write(txt)
        print(f"wrote {out}")
    else:
        print(txt)


if __name__ == "__main__":
    main()
