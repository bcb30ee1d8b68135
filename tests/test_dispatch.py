"""Golden end-to-end dispatch tests, mirroring the reference's
TopologyTest.kt:25-94 fixture corpus: 4 transactions through a 3-rule
config, asserting destination topics, multicast duplication, the DLQ
JSON envelope, and error-topic gating."""

import json

import pytest
from pyspark.sql import functions as F

from kafka_processor_cosmos_tx_dispatch_spark.operators import dispatch as dsp
from kafka_processor_cosmos_tx_dispatch_spark.rules import (
    ERROR,
    UNFILTERED,
    DispatchRule,
    RulesParseError,
    loads_rules,
)

MSG_SEND = "type.googleapis.com/cosmos.bank.v1beta1.MsgSend"
OKP4_ADDR = "okp41rhd8744u4vqvcjuvyfm8fea4k9mefe3k57qz27"

# ≅ src/test/resources/rules_example.yaml
RULES_YAML = f"""
rules:
  - name: message-type-MsgSend
    topic: topic-1
    predicate: "$.body.messages[?(@.@type == '{MSG_SEND}')]"
  - name: message-from
    topic: topic-2
    predicate: "$..messages[?(@.fromAddress == '{OKP4_ADDR}')]"
  - name: never-match
    topic: topic-3
    predicate: "$.nop"
"""

TX1 = {"body": {"messages": [{"@type": MSG_SEND, "fromAddress": "testFrom"}]}}
TX2 = {"body": {"messages": [{"@type": MSG_SEND, "fromAddress": OKP4_ADDR}]}}
TX3 = {"body": {}, "authInfo": {}}


@pytest.fixture(scope="module")
def rules():
    return loads_rules(RULES_YAML)


@pytest.fixture(scope="module")
def tx_df(spark):
    # (tx_id, key, raw bytes, tx_json or None, error or None)
    rows = [
        (1, "", json.dumps(TX1).encode(), json.dumps(TX1), None),
        (2, "", json.dumps(TX2).encode(), json.dumps(TX2), None),
        (3, "", json.dumps(TX3).encode(), json.dumps(TX3), None),
        (4, "", b"test", None, "decode failure: invalid protobuf"),
    ]
    return spark.createDataFrame(
        rows, "tx_id long, key string, raw binary, tx_json string, error string"
    )


def test_rules_loader(rules):
    assert [r.topic for r in rules] == ["topic-1", "topic-2", "topic-3"]
    assert rules[0].name == "message-type-MsgSend"
    with pytest.raises(RulesParseError):
        loads_rules("rules:\n  - name: x\n    topic: t\n")  # missing predicate
    with pytest.raises(RulesParseError):
        loads_rules("nope: 1")
    # a null, list or map field is no name, topic or predicate
    for field in ("name", "topic", "predicate"):
        for bad in ("", "[a, b]", "{a: b}"):
            doc = {"name": "a", "topic": "t", "predicate": "$.x", field: bad}
            text = "rules:\n- " + "\n  ".join(f"{k}: {v}" for k, v in doc.items())
            with pytest.raises(RulesParseError, match=field):
                loads_rules(text)
    assert loads_rules("rules:\n- name: 1\n  topic: t\n  predicate: $.x")[0].name == "1"


def test_golden_routing_with_error_topic(tx_df, rules):
    """TopologyTest.kt:88-94: tx1→[topic-1], tx2→[topic-1,topic-2]
    (multicast), tx3→[dlq], txError→[error]."""
    out = dsp.dispatch(
        tx_df, rules, json_col="tx_json", error_col="error",
        dlq_topic="dlq", error_topic="error",
    )
    routing = sorted(
        (r["tx_id"], r["topic"]) for r in out.select("tx_id", "topic").collect()
    )
    assert routing == [
        (1, "topic-1"),
        (2, "topic-1"),
        (2, "topic-2"),
        (3, "dlq"),
        (4, "error"),
    ]


def test_error_records_dropped_without_error_topic(tx_df, rules):
    """TopologyProducer.kt:124-131: no error topic configured ⇒ dropped."""
    out = dsp.dispatch(tx_df, rules, json_col="tx_json", error_col="error")
    assert sorted(r["tx_id"] for r in out.select("tx_id").collect()) == [1, 2, 2, 3]


def test_rule_idx_and_names(tx_df, rules):
    out = dsp.dispatch(
        tx_df, rules, json_col="tx_json", error_col="error", error_topic="error"
    )
    rows = {(r["tx_id"], r["rule_idx"]): r["rule_name"] for r in out.collect()}
    assert rows[(1, 0)] == "message-type-MsgSend"
    assert rows[(2, 1)] == "message-from"
    assert rows[(3, UNFILTERED)] is None
    assert rows[(4, ERROR)] is None


def test_dlq_envelope_exact_shape(spark):
    """TopologyTest.kt:147-154 asserts the exact Jackson string:
    {"txJson":...,"txBytes":<base64>,"message":null}"""
    df = spark.createDataFrame(
        [(json.dumps(TX3, separators=(",", ":")), json.dumps(TX3).encode())],
        "tx_json string, raw binary",
    )
    env = df.select(
        dsp.dlq_envelope(F.col("tx_json"), F.col("raw")).alias("v")
    ).collect()[0]["v"]
    obj = json.loads(env)
    assert set(obj.keys()) == {"txJson", "txBytes", "message"}
    assert obj["message"] is None
    assert json.loads(obj["txJson"]) == TX3
    import base64

    assert base64.b64decode(obj["txBytes"]) == json.dumps(TX3).encode()
    # Jackson includes null fields; ours must too.
    assert '"message":null' in env


def test_value_projection_per_destination(tx_df, rules):
    """Rule topics carry the payload; error carries ORIGINAL bytes
    (TopologyProducer.kt:122); DLQ carries the envelope string."""
    out = dsp.dispatch(
        tx_df, rules, json_col="tx_json", error_col="error", error_topic="error"
    )
    out = dsp.value_for_topic(
        out, rules, payload_col="tx_json", raw_col="raw", json_col="tx_json"
    )
    vals = {(r["tx_id"], r["topic"]): bytes(r["value"]) for r in out.collect()}
    assert vals[(1, "topic-1")] == json.dumps(TX1).encode()
    assert vals[(4, "error")] == b"test"
    dlq = json.loads(vals[(3, "dlq")].decode())
    assert dlq["message"] is None and json.loads(dlq["txJson"]) == TX3


def test_value_projection_reserialize(spark, rules):
    """reserialize=True: rule topics AND the DLQ envelope's txBytes carry
    the protowire re-encoded Tx (reference semantics — tx.toByteArray(),
    TopologyProducer.kt:155-159 and :186-195). Canonical wire inputs
    round-trip byte-identically; non-canonical input at a PARSED level
    (Fee.gas_limit non-minimal varint) is normalized (bytes differ, JSON
    equal); an Any payload's bytes stay verbatim (protobuf-java never
    parses them); the error branch keeps the ORIGINAL bytes."""
    import base64

    from kafka_processor_cosmos_tx_dispatch_spark.functions import protowire
    from kafka_processor_cosmos_tx_dispatch_spark.sources.txgen import record_at

    def _ld(no, b):
        return protowire.encode_ld(no, b)

    canonical = record_at(0, 0)[1]  # txgen emits canonical MsgSend txs
    # gas_limit = 1 as the legal-but-non-minimal varint 81 00, in
    # AuthInfo.fee — a level protobuf-java PARSES, so it normalizes
    nm_fee = bytes([2 << 3 | 0, 0x81, 0x00])
    body = _ld(1, _ld(1, MSG_SEND.removeprefix("/").encode()))
    non_minimal = _ld(1, body) + _ld(2, _ld(2, nm_fee))
    # matches no rule → DLQ; also non-canonical at the parsed level
    dlq_raw = _ld(1, b"") + _ld(2, _ld(2, nm_fee))
    rows = [
        (1, canonical, protowire.decode_tx(canonical), None),
        (2, non_minimal, protowire.decode_tx(non_minimal), None),
        (3, b"not-protobuf", None, "decode failure"),
        (4, dlq_raw, protowire.decode_tx(dlq_raw), None),
    ]
    df = spark.createDataFrame(
        [(i, r, json.dumps(j) if j is not None else None, e) for i, r, j, e in rows],
        "tx_id long, raw binary, tx_json string, error string",
    )
    type_rule = [
        DispatchRule("any-send-or-vote", "topic-1", "$.body.messages")
    ]
    out = dsp.dispatch(
        df, type_rule, json_col="tx_json", error_col="error", error_topic="error"
    )
    out = dsp.value_for_topic(
        out, type_rule, payload_col="raw", raw_col="raw", json_col="tx_json",
        reserialize=True,
    )
    vals = {(r["tx_id"], r["topic"]): bytes(r["value"]) for r in out.collect()}
    assert vals[(1, "topic-1")] == canonical  # canonical → byte-identical
    reenc = vals[(2, "topic-1")]
    assert reenc != non_minimal  # parsed-level normalization
    assert protowire.decode_tx(reenc) == protowire.decode_tx(non_minimal)
    assert vals[(3, "error")] == b"not-protobuf"  # error: ORIGINAL bytes
    dlq = json.loads(vals[(4, "dlq")].decode("utf-8"))
    want = protowire.reencode_tx(dlq_raw)
    assert want != dlq_raw
    assert dlq["txBytes"] == base64.b64encode(want).decode()  # toByteArray()


def test_multicast_count_matches_rule_hits(spark, rules):
    """A record matching k rules is duplicated exactly k times."""
    both = {"body": {"messages": [{"@type": MSG_SEND, "fromAddress": OKP4_ADDR}]}}
    df = spark.createDataFrame([(1, json.dumps(both))], "tx_id long, tx_json string")
    out = dsp.dispatch(df, rules, json_col="tx_json")
    assert out.count() == 2


def test_predicate_error_is_nonmatch_not_failure(spark):
    """TopologyProducer.kt:221-223: a rule whose evaluation errors is a
    non-match; a record failing all rules goes to the DLQ."""
    rules = [DispatchRule("weird", "t1", "$.a[?(@.x == 'y')]")]
    df = spark.createDataFrame(
        [(1, '{"a": 5}')], "tx_id long, tx_json string"
    )  # filter on a scalar: evaluation "fails" → non-match
    out = dsp.dispatch(df, rules, json_col="tx_json")
    rows = out.select("tx_id", "topic").collect()
    assert [(r["tx_id"], r["topic"]) for r in rows] == [(1, "dlq")]


def test_observed_metrics_counts(tx_df, rules):
    """with_observed_metrics: the reference's peek-log counters (routed /
    unfiltered / decode-error), collected inline by observe() during the
    one normal pass — no second job, no extra scan."""
    out = dsp.dispatch(
        tx_df, rules, json_col="tx_json", error_col="error", error_topic="error"
    )
    observed, obs = dsp.with_observed_metrics(out)
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    assert m["n_rule_matches"] == m["n_output_rows"] - m["n_unfiltered"] - m["n_decode_errors"]
    assert m["n_decode_errors"] == 1  # txError fixture
    assert m["n_unfiltered"] == 1  # tx3 fixture


def test_entry_counts_match_direct_dispatch(spark):
    """__spark_entry__.entry() runs, and its per-(topic, rule_name)
    counts equal a direct dispatch of the same sf0.001 events."""
    import __spark_entry__ as entrymod
    from kafka_processor_cosmos_tx_dispatch_spark.queries._core import (
        EVENT_RULES,
        _events_record,
    )

    got = {
        (r["topic"], r["rule_name"]): r["n_records"]
        for r in entrymod.entry(spark).collect()
    }
    ev = _events_record(spark, entrymod.SMOKE_SF_DIR)
    want = {
        (r["topic"], r["rule_name"]): r["n"]
        for r in dsp.dispatch(ev, EVENT_RULES, struct_col="rec")
        .groupBy("topic", "rule_name")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want
    assert sum(got.values()) >= ev.count()  # every event lands somewhere
    assert ("dlq", None) in got

