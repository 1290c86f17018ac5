"""kafka_stream_aggregator_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the capabilities of the
reference system demiurgente/kafka-stream-aggregator (a Rust Kafka
streaming pipeline: Deribit WS -> Kafka -> 5-min EWMA -> Kafka, plus a
JDBC sink; see SURVEY.md). Everything is DataFrame / Spark SQL /
Structured Streaming; zero custom Catalyst extensions.

Layout:
  session.py     SparkSession factory tuned for local[...] and cluster use
  schemas.py     canonical schemas (trade stream parity + testdata tables)
  tables.py      testdata loaders (handles parquet TIMESTAMP(NANOS))
  indicators.py  EWMA/SMA fold expressions (reference parity semantics)
  queries/       operator inventory as (spark_fn, duckdb_oracle_sql) pairs
  streaming/     Structured Streaming layer (sources, EWMA pipeline, state)
  llm/           LLM-data-pipeline ops (dedup, similarity, text, multimodal)
  plans/         TOML pipeline runner (reference config.rs parity)

Importing the package installs `zipimport_cache`. A UDF that calls
package code (the Avro decode does) imports the package inside the
Python worker, so from a reused worker's second task on, Spark's
per-task `importlib.invalidate_caches()` no longer re-reads unchanged
zip archives.
"""

from . import zipimport_cache as _zipimport_cache

_zipimport_cache.install()

__version__ = "0.1.0"
