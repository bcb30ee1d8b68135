"""The cosmos_tx_gen Python DataSource: deterministic generated records
through the full decode → dispatch path, in batch and as a bounded
stream (same record mix as the reference's golden fixtures,
TopologyTest.kt:25-69)."""

import os
import uuid

from pyspark.sql import functions as F

from kafka_processor_cosmos_tx_dispatch_spark.operators import dispatch as dsp
from kafka_processor_cosmos_tx_dispatch_spark.rules import DispatchRule
from kafka_processor_cosmos_tx_dispatch_spark.sources import txgen

RULES = [
    DispatchRule(
        "by-type", "topic-1", f"$.body.messages[?(@.@type == '{txgen.MSG_SEND_URL}')]"
    ),
    DispatchRule(
        "by-from", "topic-2", f"$..messages[?(@.fromAddress == '{txgen.OKP4_ADDR}')]"
    ),
]

N, ERROR_EVERY = 200, 10


def test_batch_read_is_deterministic(spark):
    txgen.register(spark)
    reads = []
    for _ in range(2):
        df = (
            spark.read.format("cosmos_tx_gen")
            .option("n", N)
            .option("partitions", 4)
            .option("error_every", ERROR_EVERY)
            .load()
        )
        reads.append(
            sorted((r["key"], bytes(r["value"])) for r in df.collect())
        )
    assert reads[0] == reads[1]
    assert len(reads[0]) == N
    # matches the pure-function record description
    as_map = dict(reads[0])
    for i in (0, 1, 3, ERROR_EVERY - 1):
        assert as_map[f"tx-{i}"] == txgen.record_at(i, ERROR_EVERY)[1]


def test_batch_decode_dispatch_routing_mix(spark):
    """Derive expected routing per record index from the generator's own
    JSON oracle and compare the full engine output against it."""
    txgen.register(spark)
    df = (
        spark.read.format("cosmos_tx_gen")
        .option("n", N)
        .option("partitions", 4)
        .option("error_every", ERROR_EVERY)
        .load()
    )
    out = dsp.route(df, RULES, error_topic="errors")
    got = {}
    for r in out.select("key", "topic").collect():
        got.setdefault(r["key"], set()).add(r["topic"])

    import json as J

    import kafka_processor_cosmos_tx_dispatch_spark.functions.jsonpath as jp

    for i in range(N):
        j = txgen.expected_routing_json(i, ERROR_EVERY)
        if j is None:
            want = {"errors"}
        else:
            topics = {
                rule.topic for rule in RULES if jp.match(j, rule.predicate)
            }
            want = topics or {"dlq"}
        assert got[f"tx-{i}"] == want, (i, J.loads(j) if j else None, got[f"tx-{i}"])


def test_stream_reader_bounded_run(spark, tmp_path):
    """Bounded stream: offsets advance by rows_per_batch and stop at n, so
    processAllAvailable terminates having emitted exactly n records."""
    txgen.register(spark)
    stream = (
        spark.readStream.format("cosmos_tx_gen")
        .option("n", 100)
        .option("partitions", 2)
        .option("rows_per_batch", 40)
        .option("error_every", ERROR_EVERY)
        .load()
    )
    name = f"txgen_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.table(name).collect()
        assert len(rows) == 100
        assert {r["key"] for r in rows} == {f"tx-{i}" for i in range(100)}
        # batch parity: streamed bytes == batch bytes
        batch = dict(
            (r["key"], bytes(r["value"]))
            for r in spark.read.format("cosmos_tx_gen")
            .option("n", 100)
            .option("error_every", ERROR_EVERY)
            .load()
            .collect()
        )
        for r in rows:
            assert bytes(r["value"]) == batch[r["key"]]
    finally:
        q.stop()


def test_restart_from_checkpoint_routes_each_record_once(spark, tmp_path):
    """Restart drill: wire records stream through route() from a file
    source to a parquet sink with a checkpoint. The query stops, more
    files land, and a second query restarts on the same checkpoint:
    every (key, topic) is written exactly once, and the whole output
    equals batch route() over all the files."""
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))

    def land(start: int, n: int) -> None:
        rows = [txgen.record_at(i, ERROR_EVERY) for i in range(start, start + n)]
        spark.createDataFrame(rows, "key string, value binary").coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def batch_routes():
        routed = dsp.route(spark.read.parquet(src), RULES, error_topic="errors")
        return sorted((r["key"], r["topic"]) for r in routed.collect())

    def run_until_drained():
        stream = (
            spark.readStream.schema("key string, value binary")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            dsp.route(stream, RULES, error_topic="errors")
            .select("key", "topic")
            .writeStream.format("parquet")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start(out)
        )
        assert q.awaitTermination(120)
        assert q.exception() is None
        return sorted((r["key"], r["topic"]) for r in spark.read.parquet(out).collect())

    land(0, 60)
    land(60, 60)
    first = run_until_drained()
    assert first == batch_routes()
    land(120, 60)
    got = run_until_drained()
    assert len(got) == len(set(got))  # nothing replayed
    assert got == batch_routes()
    assert {k for k, _ in got} == {f"tx-{i}" for i in range(180)}

    # the checkpoint's two logs agree batch for batch, and every temp
    # file was renamed into place
    def batch_ids(log: str) -> list[int]:
        return sorted(int(f) for f in os.listdir(os.path.join(ckpt, log)) if f.isdigit())

    offsets = batch_ids("offsets")
    assert offsets == batch_ids("commits") == list(range(len(offsets)))
    assert len(offsets) >= 3  # one file per trigger
    left = [
        f
        for root in (ckpt, out)
        for _, _, files in os.walk(root)
        for f in files
        if ".tmp" in f
    ]
    assert left == []


def test_session_writes_checkpoints_through_filesystem(spark):
    """get_spark() picks the FileSystem-based checkpoint manager, which
    renames without spawning `readlink` when libhadoop is absent; the
    class must resolve in this Spark."""
    name = spark.conf.get("spark.sql.streaming.checkpointFileManagerClass")
    assert name == (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )
    assert spark._jvm.java.lang.Class.forName(name).getName() == name
