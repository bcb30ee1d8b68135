"""Kafka source/sink builders — the production wiring of the dispatch
engine, mirroring the reference's topology endpoints:

    topic.in    (TopologyProducer.kt:61-62, consumer at :85)
    topic.dlq   (:64-65, producer at :196-199)
    topic.error (:67-68 optional, producer at :126-129)

No broker exists in the test container, so the builders can't execute —
but their CONTRACT is unit-testable: the option dicts are pure functions
(asserted against the reference's consumer/producer configs in
tests/test_kafka.py), the sink validates the routed-frame column
contract (topic: string routing column, value: binary/string —
:126/:162/:198's mixed value types after value_for_topic normalization),
and the built DataStreamWriter/DataStreamReader plumb those options
verbatim. The routing semantics they feed (decode → evaluate →
multicast → route) are fully tested through the file-stream path in
streaming/dispatch.py, which shares every operator.

Scale: one Kafka sink with a `topic` column replaces the reference's
N+2 hand-built producers — Spark routes rows to their destination topic
natively, and `maxOffsetsPerTrigger` gives the backpressure the
reference got from Kafka Streams' poll loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def kafka_reader_options(
    bootstrap_servers: str,
    topic_in: str,
    starting_offsets: str = "earliest",  # ≅ auto.offset.reset=earliest
    max_offsets_per_trigger: int | None = None,
) -> dict[str, str]:
    """The consumer config as a pure dict (TopologyProducer.kt:85 +
    application.properties:10,13): subscribe to one input topic, start
    from the earliest offset by default, optional per-trigger cap."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic_in,
        "startingOffsets": starting_offsets,
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def kafka_writer_options(
    bootstrap_servers: str,
    checkpoint_dir: str,
) -> dict[str, str]:
    """The producer-side config as a pure dict: no `topic` option — the
    destination comes from the routed frame's `topic` COLUMN, which is
    what collapses the reference's N+2 producers (:126-129, :160-164,
    :196-199) into one sink."""
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "checkpointLocation": checkpoint_dir,
    }


def validate_routed_frame(routed: DataFrame) -> None:
    """The column contract Spark's Kafka sink enforces at start():
    `topic` string (routing), `value` binary or string, optional `key`
    binary or string. Checking here fails at BUILD time with the
    engine's own message instead of at stream start."""
    fields = {f.name: f.dataType for f in routed.schema.fields}
    for col in ("value", "topic"):
        if col not in fields:
            raise ValueError(f"routed frame needs a '{col}' column")
    if not isinstance(fields["topic"], T.StringType):
        raise ValueError(
            f"'topic' must be string, got {fields['topic'].simpleString()}"
        )
    for col in ("value", "key"):
        if col in fields and not isinstance(
            fields[col], (T.BinaryType, T.StringType)
        ):
            raise ValueError(
                f"'{col}' must be binary or string, got "
                f"{fields[col].simpleString()}"
            )


def kafka_stream_reader(
    spark: SparkSession,
    bootstrap_servers: str,
    topic_in: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
):
    """readStream on the input topic: key binary, value binary — the
    KStream<String, ByteArray> analog (key stays bytes until needed)."""
    reader = spark.readStream.format("kafka")
    for k, v in kafka_reader_options(
        bootstrap_servers, topic_in, starting_offsets, max_offsets_per_trigger
    ).items():
        reader = reader.option(k, v)
    return reader


def kafka_topic_sink(
    routed: DataFrame,
    bootstrap_servers: str,
    checkpoint_dir: str,
):
    """writeStream for a routed frame carrying (key, value, topic): Spark's
    Kafka sink reads the destination from the `topic` column — the whole
    split()/branch() fan-out of the reference collapses here.

    Only `key` (when present), `value` and `topic` are written. The sink
    also reads a `partition` column, and a frame routed from
    `kafka_stream_reader` still carries the input record's; passing it
    on would pin each output row to that partition number instead of
    spreading rows by key as the reference's producers do."""
    validate_routed_frame(routed)
    cols = [c for c in ("key", "value", "topic") if c in routed.columns]
    writer = routed.select(*cols).writeStream.format("kafka")
    for k, v in kafka_writer_options(bootstrap_servers, checkpoint_dir).items():
        writer = writer.option(k, v)
    return writer
