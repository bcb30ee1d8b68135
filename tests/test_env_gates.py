"""Tripwires for the three env-blocked capabilities (r13 verdict
'keep them warm': live Kafka E2E, the JVM spark-protobuf decode tier,
transformWithStateInPandas). Each probe is one cheap check per round;
the moment the container gains a capability the matching test FAILS
with instructions, so the flip to live tests cannot be forgotten.
While the environment lacks them, every probe passes green."""

from __future__ import annotations

import glob
import importlib.util
import socket

import pytest


def _broker_reachable(host: str = "localhost", port: int = 9092) -> bool:
    try:
        with socket.create_connection((host, port), timeout=0.5):
            return True
    except OSError:
        return False


def test_gate_kafka_broker_still_absent():
    if _broker_reachable():
        pytest.fail(
            "a Kafka broker answers on localhost:9092 — flip "
            "tests/test_kafka.py's brokerless contract tests to live "
            "end-to-end (reader.start(), routed-frame round-trip, DLQ "
            "sink) per SURVEY.md §2.1 #1/#13"
        )


def test_gate_spark_protobuf_jar_still_absent():
    jars = glob.glob("/opt/spark/jars/*protobuf*.jar") + glob.glob(
        "/opt/spark/jars/spark-protobuf*.jar"
    )
    if any("spark-protobuf" in j for j in jars):
        pytest.fail(
            f"spark-protobuf jar present ({jars}) — a JVM decode tier "
            "(from_protobuf over resources/cosmos_tx.desc) can now be "
            "built; if one is added, test its parity with the Arrow "
            "decoder"
        )


def test_gate_google_protobuf_pip_still_absent():
    # find_spec raises (not returns None) when the parent 'google'
    # namespace package itself is absent
    try:
        spec = importlib.util.find_spec("google.protobuf")
    except ModuleNotFoundError:
        spec = None
    if spec is not None:
        pytest.fail(
            "the protobuf pip package is importable — un-skip the "
            "transformWithStateInPandas twins (streaming/stateful.py; "
            "tests/test_streaming.py importorskip sites)"
        )
