"""End-to-end dispatch demo: binary protobuf records -> decode ->
rule routing -> per-topic outputs, from a YAML rules file.

    python examples/run_dispatch.py [rules.yaml]

Swap the in-memory demo records for `sources.kafka.kafka_stream_reader`
+ `kafka_topic_sink` against a broker and the same code is the
production deployment of the reference's topology.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_processor_cosmos_tx_dispatch_spark.operators import dispatch as dsp
from kafka_processor_cosmos_tx_dispatch_spark.rules import load_rules
from kafka_processor_cosmos_tx_dispatch_spark.session import get_spark


def demo_records():
    """Hand-encoded wire bytes (see tests/test_decode.py for the encoder)."""
    from tests.test_decode import TX1, TX2, TX3, TX_ERR

    return [(1, TX1), (2, TX2), (3, TX3), (4, TX_ERR)]


def main() -> None:
    rules_path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(__file__), "rules.yaml"
    )
    rules = load_rules(rules_path)
    spark = get_spark(app_name="dispatch-demo")
    df = spark.createDataFrame(demo_records(), "tx_id int, value binary")
    valued = dsp.route(df, rules, error_topic="error")
    valued.select("tx_id", "rule_name", "topic", "value").orderBy(
        "tx_id", "topic"
    ).show(truncate=60)
    spark.stop()


if __name__ == "__main__":
    main()
