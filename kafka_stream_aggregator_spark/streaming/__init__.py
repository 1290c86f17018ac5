"""Structured Streaming layer — the reference's three services, Spark-first.

sources.py   Kafka/file/rate stream sources + Confluent Avro framing helper
pipeline.py  the R7/R8/R9 aggregation pipeline (event-time windows under a
             watermark, built on indicators.windowed_ewma), dedup, joins
stateful.py  continuous cross-window EWMA (applyInPandasWithState)
sinks.py     foreachBatch JDBC/parquet/kafka sinks (R11 parity)
"""

from .pipeline import streaming_windowed_ewma
from .sources import confluent_avro_payload, file_stream, kafka_stream, rate_stream
from .stateful import continuous_ewma
from .sinks import foreach_batch_jdbc_writer, start_to_memory

__all__ = [
    "streaming_windowed_ewma",
    "confluent_avro_payload",
    "file_stream",
    "kafka_stream",
    "rate_stream",
    "continuous_ewma",
    "foreach_batch_jdbc_writer",
    "start_to_memory",
]
