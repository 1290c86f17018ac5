"""Guard tests for testdata loading.

The driver has shipped ``events.ts`` under three distinct parquet
encodings across rounds:

* r1/r2: TIMESTAMP(NANOS) — Spark reads it as ``bigint`` under
  spark.sql.legacy.parquet.nanosAsLong and tables.py rebuilds a timestamp.
* r3: timestamp[us] with isAdjustedToUTC=false — Spark surfaces
  TIMESTAMP_NTZ, which cannot be cast straight to double (the r3 bench
  crash). tables.py must _normalize() it to TimestampType.
* (potential) timestamp[us] UTC-adjusted — plain TimestampType.

These tests pin all three paths plus a drift canary on the live testdata
so the next encoding change fails loudly in pytest instead of silently
invalidating old green verdicts.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from kafka_stream_aggregator_spark.tables import load_table, table_path
from kafka_stream_aggregator_spark.schemas import TESTDATA_TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _events_arrays():
    return {
        "event_id": pa.array([1, 2, 3], pa.int64()),
        "user_id": pa.array([10, 10, 11], pa.int64()),
        "event_type": pa.array(["view", "click", "view"]),
        "value": pa.array([1.0, 2.0, 3.0], pa.float64()),
        "props": pa.array(["{}", "{}", "{}"]),
    }


def _write_events(tmpdir: str, ts_type) -> str:
    cols = _events_arrays()
    micros = [1_700_000_000_000_000, 1_700_000_060_000_000, 1_700_003_600_000_000]
    if ts_type == "nanos":
        ts = pa.array([m * 1000 for m in micros], pa.timestamp("ns"))
    elif ts_type == "ntz":
        ts = pa.array(micros, pa.timestamp("us"))
    else:  # ltz
        ts = pa.array(micros, pa.timestamp("us", tz="UTC"))
    table = pa.table({**cols, "ts": ts})
    path = os.path.join(tmpdir, f"events.parquet")
    pq.write_table(table, path)
    return tmpdir


@pytest.mark.parametrize("enc", ["nanos", "ntz", "ltz"])
def test_events_ts_loads_as_timestamp(spark, tmp_path, enc):
    d = str(tmp_path / enc)
    os.makedirs(d, exist_ok=True)
    _write_events(d, enc)
    df = load_table(spark, d, "events")
    ts_field = df.schema["ts"]
    assert isinstance(ts_field.dataType, T.TimestampType), (
        f"{enc}: events.ts loaded as {ts_field.dataType}, want TimestampType"
    )
    # The cast sites downstream require epoch math to work:
    secs = [r[0] for r in df.selectExpr("cast(ts as double)").orderBy("ts").collect()]
    assert secs == [1_700_000_000.0, 1_700_000_060.0, 1_700_003_600.0]


def test_table_path_is_the_file_load_table_reads(spark, tmp_path):
    """Footer probes read `table_path`; it must be what the loader reads."""
    d = str(tmp_path)
    pq.write_table(pa.table({"doc_id": pa.array([1, 2, 3], pa.int64())}),
                   table_path(d, "documents"))
    assert pq.ParquetFile(table_path(d, "documents")).metadata.num_rows == 3
    assert load_table(spark, d, "documents").count() == 3


def test_vanilla_session_shuffle_partitions_sized_from_the_host(
    spark, monkeypatch
):
    """A driver-supplied session still at Spark's 200 shuffle partitions,
    with $SPARK_GRAFT_CPUS unset, gets the thread count get_spark would
    give local[n]: the CPUs this process may run on."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    s = spark.newSession()
    s.conf.set(key, "200")
    try:
        load_table(s, SF_DIR, "region")
        got = s.conf.get(key)
    finally:
        s.conf.unset(key)
    assert got == str(len(os.sched_getaffinity(0)))
    assert spark.conf.get(key) == before


def test_live_testdata_schema_canary(spark):
    """Drift canary: every live table must load with no NTZ columns and
    events.ts must be TimestampType castable to double. Fails the moment
    /root/testdata changes encoding again."""
    if not os.path.isdir(SF_DIR):
        pytest.skip("no testdata")
    for name in TESTDATA_TABLES:
        df = load_table(spark, SF_DIR, name)
        ntz = [f.name for f in df.schema.fields
               if isinstance(f.dataType, T.TimestampNTZType)]
        assert not ntz, f"{name}: NTZ columns leaked through load_table: {ntz}"
    ev = load_table(spark, SF_DIR, "events")
    assert isinstance(ev.schema["ts"].dataType, T.TimestampType)
    # analysis-only check that the double cast is legal
    ev.selectExpr("cast(ts as double)").schema
