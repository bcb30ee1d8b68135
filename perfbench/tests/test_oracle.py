"""The benchmark's generators and oracle against the package.

    python3 -m pytest perfbench/tests -q

The oracle must agree with the engine on every tx kind, including the
undecodable and unregistered-``Any`` records, or the benchmark's
correctness check means nothing.
"""

from __future__ import annotations

import json

import numpy as np
import pytest

from kafka_processor_cosmos_tx_dispatch_spark.functions import jsonpath as jp
from kafka_processor_cosmos_tx_dispatch_spark.functions import protowire
from perfbench import pipeline as pl
from perfbench import workload as wl

N = 3000


def _records(gen, n=N):
    ids, offsets, data = gen.batch(0, n)
    return ids, [data[offsets[j] : offsets[j + 1]].tobytes() for j in range(n)]


def _norm(tx: dict) -> dict:
    """Per-record fields blanked, so a record compares with its skeleton."""
    tx = wl.fill(tx, "0", 0)
    tx["authInfo"]["signerInfos"][0]["publicKey"]["key"] = ""
    return tx


@pytest.fixture(scope="module")
def wire():
    return wl.WireGen(5)


@pytest.fixture(scope="module")
def fanout():
    return wl.FanoutGen(5)


def test_wire_records_decode_to_their_skeleton(wire):
    ids, raws = _records(wire)
    kinds = set()
    for s, raw in zip(ids.tolist(), raws):
        sk = wire.txs[s]
        if sk is None:
            with pytest.raises(protowire.DecodeError):
                protowire.decode_tx(raw)
            kinds.add("error")
            continue
        assert _norm(protowire.decode_tx(raw)) == _norm(sk)
        kinds.update(m["@type"] for m in sk["body"]["messages"])
    assert kinds == {
        "error", wl.MSG_SEND, wl.MSG_DELEGATE, wl.MSG_VOTE, wl.MSG_WITHDRAW, wl.UNREGISTERED
    }
    assert len(set(raws)) == N
    assert 0.07 < float(np.mean([wire.txs[s] is None for s in ids])) < 0.13


def test_fanout_records_parse_to_their_skeleton(fanout):
    ids, texts = _records(fanout)
    for s, text in zip(ids.tolist(), texts):
        assert _norm(json.loads(text)) == _norm(fanout.txs[s])
    assert len(set(texts)) == N


def test_same_seed_same_records(wire):
    assert _records(wl.WireGen(5), 200)[1] == _records(wire, 200)[1]
    assert _records(wl.WireGen(6), 200)[1] != _records(wire, 200)[1]


@pytest.mark.parametrize("which", ["wire", "fanout"])
def test_oracle_agrees_with_jsonpath_evaluator(which, wire, fanout):
    gen, rules = (wire, wl.wire_rules(wire)) if which == "wire" else (fanout, wl.fanout_rules(fanout))
    for r in rules:
        pred = jp.compile_predicate(r.path)
        for tx in gen.txs:
            if tx is not None:
                assert pred(tx) == r.oracle(tx), (r.name, tx)


def test_fanout_bank_shape(fanout):
    rules = wl.fanout_rules(fanout)
    assert len(rules) == 32
    topics = [t for ts in fanout.topics(rules) for t in ts]
    per_record = len(topics) / len(fanout.txs)
    dlq = topics.count(wl.DLQ_TOPIC) / len(fanout.txs)
    assert 2.5 < per_record < 4.5 and 0.2 < dlq < 0.4


def test_live_pool_has_error_and_unregistered(wire):
    ids = pl.pool_ids(64)
    assert len(set(ids.tolist())) == 64
    assert any(wire.txs[s] is None for s in ids)
    assert any(
        m["@type"] == wl.UNREGISTERED
        for s in ids
        if wire.txs[s] is not None
        for m in wire.txs[s]["body"]["messages"]
    )


def test_compare_counts_wrong_outputs():
    topics = ["a", "b", wl.DLQ_TOPIC, wl.ERROR_TOPIC]
    skeleton_topics = [["a"], ["a", "b"], [wl.DLQ_TOPIC]]
    exp = pl.Expected(topics)
    exp.add(["k0", "k1", "k2"], np.array([0, 1, 2]), skeleton_topics)
    n, c = exp.n.copy(), list(exp.c)
    assert pl.compare(exp, n, c) == 0
    # k0 routed to b instead of a, and k1 to a in place of b: counts agree
    c[0] += wl.crc("k1", "a") - wl.crc("k0", "a")
    c[1] += wl.crc("k0", "b") - wl.crc("k1", "b")
    assert pl.compare(exp, n, c) == 2
    n[3] += 1  # one extra error output
    assert pl.compare(exp, n, c) == 3


@pytest.fixture(scope="module")
def spark():
    from kafka_processor_cosmos_tx_dispatch_spark.session import get_spark

    return get_spark(app_name="perfbench-tests", master="local[2]")


def _routed_pairs(spark, keys, values, rules, schema=None) -> set[tuple[str, str]]:
    import pyarrow as pa

    from kafka_processor_cosmos_tx_dispatch_spark.rules import loads_rules

    table = pa.table(
        {
            "key": keys,
            "value": pa.array(values, pa.binary()),
            "partition": pa.array(np.zeros(len(keys), np.int32)),
            "offset": pa.array(np.arange(len(keys), dtype=np.int64)),
        }
    )
    df = spark.createDataFrame(table.to_pandas(), pl.INPUT_SCHEMA)
    bank = loads_rules(wl.rules_yaml(rules))
    out = pl.route(df, bank, schema)
    return {(r.key, r.topic) for r in out.select("key", "topic").collect()}


def _expected_pairs(gen, rules, ids) -> set[tuple[str, str]]:
    topics = gen.topics(rules)
    return {(f"k{j}", t) for j, s in enumerate(ids.tolist()) for t in topics[s]}


def test_engine_routes_wire_records_like_the_oracle(spark, wire):
    ids, raws = _records(wire)
    rules = wl.wire_rules(wire)
    got = _routed_pairs(spark, [f"k{j}" for j in range(N)], raws, rules)
    assert got == _expected_pairs(wire, rules, ids)


def test_engine_routes_fanout_records_like_the_oracle(spark, fanout):
    from kafka_processor_cosmos_tx_dispatch_spark.operators import dispatch as dsp
    from kafka_processor_cosmos_tx_dispatch_spark.rules import loads_rules

    ids, texts = _records(fanout)
    rules = wl.fanout_rules(fanout)
    bank = loads_rules(wl.rules_yaml(rules))
    schema = wl.fanout_schema()
    assert dsp.python_tier_paths(bank, json_col="tx_json", struct_type=schema) == []
    got = _routed_pairs(spark, [f"k{j}" for j in range(N)], texts, rules, schema)
    assert got == _expected_pairs(fanout, rules, ids)


def test_benchmark_json_matches_the_command():
    import os

    from perfbench import run

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.LAYER_UNITS
