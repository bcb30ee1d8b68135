"""Kafka builder contract tests — no broker exists in this container, so
these pin everything short of the network: the reader/writer option
dicts against the reference's consumer/producer configs
(TopologyProducer.kt:85, :126-131, :160-164, :196-199;
application.properties:10), the routed-frame column contract the sink
validates, and that a full decode→dispatch→value_for_topic pipeline
builds a Kafka DataStreamWriter without needing a running broker."""

import pytest
from pyspark.sql import functions as F

from kafka_processor_cosmos_tx_dispatch_spark.operators import dispatch as dsp
from kafka_processor_cosmos_tx_dispatch_spark.rules import DispatchRule
from kafka_processor_cosmos_tx_dispatch_spark.sources import txgen
from kafka_processor_cosmos_tx_dispatch_spark.sources.kafka import (
    kafka_reader_options,
    kafka_stream_reader,
    kafka_topic_sink,
    kafka_writer_options,
    validate_routed_frame,
)

RULES = [
    DispatchRule(
        "by-type", "topic-1", f"$.body.messages[?(@.@type == '{txgen.MSG_SEND_URL}')]"
    ),
]


class TestReaderOptions:
    def test_defaults_mirror_reference_consumer(self):
        # subscribe = topic.in (kt:85), earliest ≅ auto.offset.reset
        # (application.properties:10), no trigger cap unless asked
        assert kafka_reader_options("broker:9092", "input") == {
            "kafka.bootstrap.servers": "broker:9092",
            "subscribe": "input",
            "startingOffsets": "earliest",
        }

    def test_max_offsets_stringified(self):
        opts = kafka_reader_options(
            "b:9092", "in", starting_offsets="latest", max_offsets_per_trigger=5000
        )
        assert opts["startingOffsets"] == "latest"
        assert opts["maxOffsetsPerTrigger"] == "5000"  # Spark wants strings


class TestWriterOptions:
    def test_no_topic_option(self):
        # the destination is the `topic` COLUMN — a fixed topic option
        # would silently override per-row routing
        opts = kafka_writer_options("b:9092", "/ckpt")
        assert opts == {
            "kafka.bootstrap.servers": "b:9092",
            "checkpointLocation": "/ckpt",
        }
        assert "topic" not in opts


class TestRoutedFrameContract:
    def test_missing_columns_rejected(self, spark):
        df = spark.createDataFrame([("a",)], "key string")
        with pytest.raises(ValueError, match="value"):
            validate_routed_frame(df)
        df = spark.createDataFrame([(b"v",)], "value binary")
        with pytest.raises(ValueError, match="topic"):
            validate_routed_frame(df)

    def test_topic_must_be_string(self, spark):
        df = spark.createDataFrame([(b"v", 1)], "value binary, topic int")
        with pytest.raises(ValueError, match="topic"):
            validate_routed_frame(df)

    def test_value_must_be_binary_or_string(self, spark):
        df = spark.createDataFrame([(1, "t")], "value int, topic string")
        with pytest.raises(ValueError, match="value"):
            validate_routed_frame(df)

    def test_mixed_destination_values_after_normalization(self, spark):
        # the reference's sinks carry ByteArray (rule/error) AND String
        # (DLQ) values (:162 vs :198); value_for_topic casts everything
        # to ONE binary column so the single-sink contract holds
        df = spark.createDataFrame(
            [(b"v", "t", "k")], "value binary, topic string, key string"
        )
        validate_routed_frame(df)  # no raise


class TestBuilders:
    def test_reader_builds_without_broker(self, spark):
        reader = kafka_stream_reader(spark, "broker:9092", "input")
        # building the reader must not touch the network; load() would
        assert reader is not None

    def test_full_pipeline_builds_kafka_writer(self, spark, tmp_path):
        """txgen stream → decode → dispatch → value_for_topic → Kafka
        sink builder: the complete reference topology as one streaming
        plan, stopping just short of start() (which needs a broker)."""
        txgen.register(spark)
        stream = (
            spark.readStream.format("cosmos_tx_gen")
            .option("n", 100)
            .option("rows_per_batch", 50)
            .load()
        )
        routed = dsp.route(stream, RULES, error_topic="errors")
        writer = kafka_topic_sink(routed, "broker:9092", str(tmp_path / "ckpt"))
        assert writer._df.columns == ["key", "value", "topic"]

    def test_sink_drops_source_partition(self, spark, tmp_path):
        """route() keeps the source frame's columns, and a Kafka-shaped
        input carries `partition`: the Kafka sink would write each row to
        that partition number instead of spreading rows by key, and fail
        on a destination topic with fewer partitions."""
        src = tmp_path / "src"
        src.mkdir()
        stream = spark.readStream.schema(
            "key binary, value binary, partition int, offset long"
        ).parquet(str(src))
        routed = dsp.route(stream, RULES, error_topic="errors")
        assert {"partition", "offset"} <= set(routed.columns)
        writer = kafka_topic_sink(routed, "broker:9092", str(tmp_path / "ckpt"))
        assert writer._df.columns == ["key", "value", "topic"]
