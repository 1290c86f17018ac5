"""Smoke self-test of the benchmark, in its tiny mode.

    python3 -m pytest perfbench/test_smoke.py -q

Runs both replays end to end (untraced and traced) with their output
checks, a run whose frames carry a schema id the registry never issued
(it must fail, not report a faster time), and the benchmark without the
program beside it (it must exit non-zero without a result).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(*args, cwd=ROOT, script=os.path.join(HERE, "run.py")):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run([sys.executable, script, "--seed", "3", "--seconds", "1", *args],
                       cwd=cwd, env=env, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else None
    detail = json.loads(lines[-2])["detail"] if len(lines) > 1 else None
    return p.returncode, result, detail


@pytest.mark.parametrize("workload,trace", [
    ("trade_replay_avro", 0), ("trade_replay_avro", 1), ("trade_replay_json", 1)])
def test_tiny_replay_is_checked_and_correct(workload, trace):
    rc, result, detail = _run("--workload", workload, "--trace", str(trace), "--tiny")
    assert rc == 0, detail
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert detail["windows_expected"] > 0 and detail["injected_late"] > 0
    if workload == "trade_replay_avro":
        assert detail["injected_unknown_id"] > 0
    wanted = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    if trace:
        layers = result["metrics"]
        assert layers["state.dropped_late"]["value"] == detail["injected_late"]
        assert layers["decode.dropped"]["value"] == detail["injected_unknown_id"]
        with open(os.path.join(ROOT, detail["span_file"])) as f:
            spans = json.load(f)["spans"]
        names = {s["name"] for s in spans}
        assert {"run", "session.start", "warmup", "replay", "batch", "stream.addBatch",
                "isolate", "decode", "aggregate", "sink", "avro_codec.decode"} <= names


def test_unregistered_schema_id_fails_instead_of_speeding_up():
    rc, result, detail = _run("--workload", "trade_replay_avro", "--trace", "0",
                              "--tiny", "--unknown-ids")
    assert rc != 0
    assert result["correct"] is False and result["failed"] > 0
    assert any("decode dropped" in e for e in detail["errors"])


def test_backlog_frames_match_the_program_producers(monkeypatch):
    """The generator frames in-process; its bytes must be the ones
    `frame_trades_avro` writes, and its JSON frames must decode through
    `decode_trades` to the generator's rows. Rows with a null `iv` are
    left out of the byte comparison: `frame_trades_avro` reads them back
    from Arrow as NaN and encodes NaN where the generator encodes null."""
    sys.path.insert(0, ROOT)
    from perfbench import gen
    from kafka_stream_aggregator_spark.schemas import TRADE_SCHEMA
    from kafka_stream_aggregator_spark.session import get_spark
    from kafka_stream_aggregator_spark.streaming.trade_pipeline import (
        decode_trades,
        frame_trades_avro,
    )

    monkeypatch.setenv("PYTHONPATH", ROOT)  # for the Python workers
    spark = get_spark("perfbench-smoke", cpus=2, shuffle_partitions=2,
                      extra={"spark.driver.memory": "1g"})
    cols = [f.name for f in TRADE_SCHEMA.fields]
    trades = gen.make_trades(5, gen.TradeParams(n_trades=400))
    v2 = trades[(trades.schema_id == gen.V2_ID) & trades.iv.notna()]
    ours = gen.build_frames(v2.assign(schema_id=gen.V2_ID), "avro")
    theirs = frame_trades_avro(spark.createDataFrame(v2[cols], TRADE_SCHEMA),
                               schema_id=gen.V2_ID).toPandas()
    assert list(ours.value) == [bytes(v) for v in theirs.value]
    assert list(ours.key) == list(theirs.key)

    js = gen.build_frames(trades, "json")
    decoded = decode_trades(spark.createDataFrame(js)).select(*cols).toPandas()
    want = trades[trades.schema_id != gen.UNKNOWN_ID][cols].reset_index(drop=True)
    assert decoded.astype(object).where(decoded.notna(), None).values.tolist() == \
        want.astype(object).where(want.notna(), None).values.tolist()
    spark.stop()


def test_without_the_program_it_exits_nonzero_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".cache", ".work", ".results", "__pycache__"))
    rc, result, _ = _run("--workload", "trade_replay_avro", "--trace", "0", cwd=tmp_path,
                         script=str(tmp_path / "perfbench" / "run.py"))
    assert rc != 0 and result is None
