"""Streaming dispatch: the reference's production path on Structured
Streaming.

The batch and streaming engines share ONE plan builder —
operators/dispatch.py works unchanged on a streaming DataFrame because
every dispatch stage is stateless and narrow (the reference topology has
no state either, TopologyProducer.kt:84-202). What this module adds is the
streaming source; the routed frame's `topic` column feeds one Kafka sink
(sources/kafka.py:kafka_topic_sink).
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def file_stream_reader(
    spark: SparkSession,
    path: str,
    schema,
    max_files_per_trigger: int | None = None,
):
    """Parquet file stream source (the test harness path; also the pattern
    for landing-zone ingestion at scale — schema must be explicit)."""
    reader = spark.readStream.format("parquet").schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)
