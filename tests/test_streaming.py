"""Structured Streaming tests: streaming dispatch parity with batch,
windowed aggregations with watermarks, session windows, streaming dedup,
and the custom stateful operator — all driven by file streams (the
broker-free path; the Kafka builders share every operator)."""

import json
import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_processor_cosmos_tx_dispatch_spark.operators import dispatch as dsp
from kafka_processor_cosmos_tx_dispatch_spark.rules import DispatchRule
from kafka_processor_cosmos_tx_dispatch_spark.streaming import (
    dispatch as sdsp,
    stateful,
    windows,
)

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

RULES = [
    DispatchRule("purchases", "topic-purchases", "$[?(@.event_type == 'purchase')]"),
    DispatchRule("high-k", "topic-high-k", "$.props[?(@.k > 90)]"),
]


def _mk_events(spark, rows):
    data = [
        (i, f"2024-01-01 0{h}:00:00", u, et, v, json.dumps({"k": k}))
        for i, h, u, et, v, k in rows
    ]
    df = spark.createDataFrame(
        data, "event_id long, ts string, user_id long, event_type string, value double, props string"
    )
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


@pytest.fixture()
def stream_dir(tmp_path):
    d = str(tmp_path / "stream_in")
    os.makedirs(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _run_to_memory(df, name, mode="append"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


class TestStreamingDispatch:
    def test_parity_with_batch(self, spark, stream_dir):
        """The same rules over the same records route identically in
        streaming and batch (one shared plan builder)."""
        rows = [
            (1, 1, 10, "purchase", 5.0, 10),
            (2, 1, 11, "view", 5.0, 95),
            (3, 2, 12, "purchase", 5.0, 95),  # multicast
            (4, 2, 13, "click", 5.0, 10),  # dlq
        ]
        batch_df = _mk_events(spark, rows)
        batch_df.write.parquet(os.path.join(stream_dir, "b0"))

        stream = sdsp.file_stream_reader(
            spark, os.path.join(stream_dir, "b0"), EVENTS_SCHEMA
        )
        rec = F.struct(
            F.col("event_type"),
            F.col("value"),
            F.from_json(F.col("props"), "struct<k: int>").alias("props"),
        )
        routed = dsp.dispatch(
            stream.withColumn("rec", rec), RULES, struct_col="rec"
        ).select("event_id", "topic")
        name = f"route_{uuid.uuid4().hex[:8]}"
        _run_to_memory(routed, name)
        got = sorted(
            (r["event_id"], r["topic"]) for r in spark.table(name).collect()
        )

        expected = sorted(
            (r["event_id"], r["topic"])
            for r in dsp.dispatch(
                batch_df.withColumn("rec", rec), RULES, struct_col="rec"
            )
            .select("event_id", "topic")
            .collect()
        )
        assert got == expected
        assert (3, "topic-purchases") in got and (3, "topic-high-k") in got
        assert (4, "dlq") in got


class TestWindows:
    def test_tumbling_counts(self, spark, stream_dir):
        rows = [
            (1, 1, 10, "view", 10.0, 0),
            (2, 1, 11, "view", 20.0, 0),
            (3, 2, 12, "view", 30.0, 0),
        ]
        _mk_events(spark, rows).write.parquet(os.path.join(stream_dir, "b0"))
        stream = sdsp.file_stream_reader(
            spark, os.path.join(stream_dir, "b0"), EVENTS_SCHEMA
        )
        agg = windows.tumbling_counts(stream, width="1 hour")
        name = f"tumble_{uuid.uuid4().hex[:8]}"
        _run_to_memory(agg, name, mode="complete")
        got = {
            (r["window"]["start"].hour, r["event_type"]): (r["n"], r["sum_value"])
            for r in spark.table(name).collect()
        }
        assert got[(1, "view")] == (2, 30.0)
        assert got[(2, "view")] == (1, 30.0)

    def test_session_windows_merge_by_gap(self, spark, stream_dir):
        # user 10: events at 01:00 and 01:10 (one session), 03:00 (new session)
        data = [
            (1, "2024-01-01 01:00:00", 10, "view", 1.0, "{}"),
            (2, "2024-01-01 01:10:00", 10, "view", 2.0, "{}"),
            (3, "2024-01-01 03:00:00", 10, "view", 4.0, "{}"),
        ]
        df = spark.createDataFrame(
            data,
            "event_id long, ts string, user_id long, event_type string, value double, props string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        df.write.parquet(os.path.join(stream_dir, "b0"))
        stream = sdsp.file_stream_reader(
            spark, os.path.join(stream_dir, "b0"), EVENTS_SCHEMA
        )
        agg = windows.session_windows(stream, gap="30 minutes")
        name = f"sess_{uuid.uuid4().hex[:8]}"
        _run_to_memory(agg, name, mode="complete")
        sessions = sorted(
            (r["n_events"], r["session_value"]) for r in spark.table(name).collect()
        )
        assert sessions == [(1, 4.0), (2, 3.0)]

    def test_dedup_within_watermark(self, spark, stream_dir):
        data = [
            (1, "2024-01-01 01:00:00", 10, "view", 1.0, "{}"),
            (2, "2024-01-01 01:05:00", 10, "view", 2.0, "{}"),  # dup key
            (3, "2024-01-01 01:06:00", 11, "click", 3.0, "{}"),
        ]
        df = spark.createDataFrame(
            data,
            "event_id long, ts string, user_id long, event_type string, value double, props string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        df.write.parquet(os.path.join(stream_dir, "b0"))
        stream = sdsp.file_stream_reader(
            spark, os.path.join(stream_dir, "b0"), EVENTS_SCHEMA
        )
        deduped = windows.dedup_within_watermark(stream, ("user_id", "event_type"))
        name = f"dedup_{uuid.uuid4().hex[:8]}"
        _run_to_memory(deduped, name)
        kept = sorted(r["event_id"] for r in spark.table(name).collect())
        # exactly one survivor per (user_id, event_type); which of the two
        # dup rows survives within a batch is not ordered
        assert len(kept) == 2 and kept[0] in (1, 2) and kept[1] == 3


class TestStateful:
    def test_state_survives_across_batches(self, spark, stream_dir, tmp_path):
        """Two micro-batches; the per-user profile accumulates across them
        (real cross-batch state, not per-batch agg)."""
        b0 = [(1, 1, 10, "view", 10.0, 0), (2, 1, 10, "click", 20.0, 0)]
        b1 = [(3, 2, 10, "purchase", 30.0, 0), (4, 2, 11, "view", 5.0, 0)]
        _mk_events(spark, b0).write.parquet(os.path.join(stream_dir, "f0"))

        stream = sdsp.file_stream_reader(
            spark, stream_dir + "/f*", EVENTS_SCHEMA, max_files_per_trigger=1
        )
        prof = stateful.running_user_profiles(stream)
        name = f"prof_{uuid.uuid4().hex[:8]}"
        q = (
            prof.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt2"))
            .start()
        )
        try:
            q.processAllAvailable()
            first = {
                r["user_id"]: (r["n_events"], r["total_value"])
                for r in spark.table(name).collect()
            }
            assert first[10] == (2, 30.0)

            _mk_events(spark, b1).write.parquet(os.path.join(stream_dir, "f1"))
            q.processAllAvailable()
            rows = spark.table(name).collect()
            latest = {}
            for r in rows:  # memory sink appends updates; last wins
                latest[r["user_id"]] = (r["n_events"], r["total_value"], r["last_type"])
            assert latest[10] == (3, 60.0, "purchase")
            assert latest[11] == (1, 5.0, "view")
        finally:
            q.stop()

    def test_transform_with_state_per_type_counts(self, spark, stream_dir, tmp_path):
        """transformWithStateInPandas (Spark 4 StatefulProcessor +
        MapState): per-(user, type) counts accumulate across batches.
        Needs the protobuf package (Spark's state protocol) — skipped
        where it isn't installed."""
        pytest.importorskip("google.protobuf")
        b0 = [(1, 1, 10, "view", 1.0, 0), (2, 1, 10, "view", 1.0, 0)]
        b1 = [(3, 2, 10, "view", 1.0, 0), (4, 2, 10, "click", 1.0, 0)]
        _mk_events(spark, b0).write.parquet(os.path.join(stream_dir, "g0"))
        stream = sdsp.file_stream_reader(
            spark, stream_dir + "/g*", EVENTS_SCHEMA, max_files_per_trigger=1
        )
        counts = stateful.per_type_counts(stream)
        name = f"tws_{uuid.uuid4().hex[:8]}"
        q = (
            counts.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt_tws"))
            .start()
        )
        try:
            q.processAllAvailable()
            _mk_events(spark, b1).write.parquet(os.path.join(stream_dir, "g1"))
            q.processAllAvailable()
            latest = {}
            for r in spark.table(name).collect():
                latest[(r["user_id"], r["event_type"])] = r["n"]
            assert latest[(10, "view")] == 3
            assert latest[(10, "click")] == 1
        finally:
            q.stop()


class TestCheckpointRecovery:
    def test_incremental_processing_across_restarts(self, spark, tmp_path):
        """Checkpointed file stream: a restarted query picks up only NEW
        files (offsets tracked in the checkpoint), so the sink sees each
        record exactly once across restarts — the recovery contract the
        reference gets from Kafka consumer commits."""
        from pyspark.sql import functions as F

        src = str(tmp_path / "src")
        ckpt = str(tmp_path / "ckpt")
        out = str(tmp_path / "out")

        def write_batch(ids):
            spark.createDataFrame(
                [(i,) for i in ids], "event_id long"
            ).coalesce(1).write.mode("append").parquet(src)

        def run_once():
            stream = spark.readStream.schema("event_id long").parquet(src)
            q = (
                stream.withColumn("doubled", F.col("event_id") * 2)
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        write_batch(range(0, 10))
        run_once()
        write_batch(range(10, 15))
        run_once()  # restart from checkpoint: must process ONLY the new file

        got = sorted(r["event_id"] for r in spark.read.parquet(out).collect())
        assert got == list(range(15))  # each record exactly once


class TestIncrementalMerge:
    def test_multi_batch_split_matches_batch_agg(self, spark, tmp_path):
        """Decimal partials make the per-batch MERGE associative-exact:
        three micro-batches (maxFilesPerTrigger=1) must reproduce the
        one-shot batch aggregate bit-for-bit, including users whose rows
        span batches."""
        from kafka_processor_cosmos_tx_dispatch_spark.streaming.incremental import (
            incremental_decimal_merge,
        )

        src = str(tmp_path / "inc_src")
        os.makedirs(src)
        rows = [
            [(1, 1, 10, "a", 1.17, 0), (2, 1, 11, "b", 2.03, 0)],
            [(3, 2, 10, "a", 0.49, 0), (4, 2, 12, "c", 7.77, 0)],
            [(5, 3, 10, "b", 10.01, 0), (6, 3, 11, "a", 0.01, 0)],
        ]
        for i, batch in enumerate(rows):
            _mk_events(spark, batch).write.parquet(f"{src}/f{i}.parquet")
        schema = (
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        stream = (
            spark.readStream.format("parquet")
            .schema(schema)
            .option("maxFilesPerTrigger", "1")
            .load(src + "/*")
        )
        out = incremental_decimal_merge(
            stream, str(tmp_path / "inc_state"), key="user_id", value_col="value"
        )
        got = {
            r["user_id"]: (r["n_events"], r["total_value"])
            for r in out.collect()
        }
        batch_df = spark.read.parquet(src + "/*")
        expect = {
            r["user_id"]: (r["n"], r["tv"])
            for r in batch_df.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(12,2)"))
                .cast("double")
                .alias("tv"),
            )
            .collect()
        }
        assert got == expect
        assert got[10] == (3, 11.67)  # spans all three batches

    def test_replayed_batch_is_not_double_counted(self, spark, tmp_path):
        """foreachBatch is AT-LEAST-ONCE: a crash between the state
        write and the checkpoint commit redelivers the same batch id on
        restart. The batch-id state ledger must make the merge
        exactly-once — applying batch 0 twice (same id), then batch 1,
        then a stale replay of batch 0 again, must equal each batch
        applied once. Also covers ledger recovery from disk (a FRESH
        merge closure over the same state dir still rejects the
        replay), i.e. the cross-restart case."""
        from kafka_processor_cosmos_tx_dispatch_spark.streaming.incremental import (
            _scan_state,
            make_decimal_merge_batch,
        )

        state = str(tmp_path / "replay_state")
        os.makedirs(state)
        b0 = _mk_events(spark, [(1, 1, 10, "a", 1.17, 0), (2, 1, 11, "b", 2.03, 0)])
        b1 = _mk_events(spark, [(3, 2, 10, "a", 0.49, 0)])

        latest = {"path": None, "bid": None}
        merge = make_decimal_merge_batch(state, "user_id", "value", latest)
        merge(b0, 0)
        merge(b0, 0)  # in-run redelivery
        merge(b1, 1)
        merge(b0, 0)  # stale replay after progress

        # cross-restart: a fresh closure recovers the ledger from disk
        bid, path = _scan_state(state)
        assert bid == 1
        latest2 = {"path": path, "bid": bid}
        merge2 = make_decimal_merge_batch(state, "user_id", "value", latest2)
        merge2(b1, 1)  # restart redelivery of the last batch

        got = {
            r["user_id"]: (r["pn"], float(r["ptv"]))
            for r in spark.read.parquet(latest2["path"]).collect()
        }
        assert got == {10: (2, 1.66), 11: (1, 2.03)}


class TestIncrementalScd2:
    def test_multi_batch_split_matches_batch_scd2(self, spark, tmp_path):
        """SCD2's run-collapsing is order-sensitive: batch 3 delivers a
        LATE row that lands between two already-processed changes and
        must resurrect a previously-collapsed duplicate (user 10: A@1,
        A@5 collapsed to one run until B@3 arrives between them). The
        bucket-scoped recompute must converge to the one-shot batch
        SCD2 regardless of the micro-batch split."""
        from kafka_processor_cosmos_tx_dispatch_spark.streaming.incremental import (
            incremental_scd2,
        )

        src = str(tmp_path / "scd2_src")
        os.makedirs(src)
        batches = [
            [(1, 1, 10, "A", 0.0, 0), (2, 2, 11, "X", 0.0, 0)],
            [(3, 5, 10, "A", 0.0, 0), (4, 6, 11, "X", 0.0, 0)],
            [(5, 3, 10, "B", 0.0, 0), (6, 7, 12, "Z", 0.0, 0)],  # late row
        ]
        for i, batch in enumerate(batches):
            _mk_events(spark, batch).write.parquet(f"{src}/f{i}.parquet")
        schema = (
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        stream = (
            spark.readStream.format("parquet")
            .schema(schema)
            .option("maxFilesPerTrigger", "1")
            .load(src + "/*")
        )
        got = sorted(
            map(
                tuple,
                incremental_scd2(stream, str(tmp_path / "scd2_state"))
                .collect(),
            )
        )
        batch_df = spark.read.parquet(src + "/*")
        from pyspark.sql import Window as W

        ww = W.partitionBy("user_id").orderBy("ts", "event_id")
        chg = (
            batch_df.withColumn("prev_type", F.lag("event_type").over(ww))
            .filter(
                F.col("prev_type").isNull()
                | (F.col("prev_type") != F.col("event_type"))
            )
            .select("user_id", "event_type", "ts", "event_id")
        )
        expect = sorted(
            map(
                tuple,
                chg.select(
                    "user_id",
                    "event_type",
                    F.unix_micros("ts").alias("valid_from_us"),
                    F.unix_micros(F.lead("ts").over(ww)).alias("valid_to_us"),
                    F.row_number().over(ww).alias("version"),
                    F.lead("ts").over(ww).isNull().alias("is_current"),
                ).collect(),
            )
        )
        assert got == expect
        # the late row really did split user 10's collapsed A-run:
        u10 = sorted((r for r in got if r[0] == 10), key=lambda t: t[4])
        assert [t[1] for t in u10] == ["A", "B", "A"]


class TestScd2Replay:
    def test_replayed_batch_absorbed_by_change_filter(self, spark, tmp_path):
        """SCD2's replay story differs from the decimal merge: a
        redelivered batch APPENDS duplicate rows to the log, and the
        rebuild absorbs them — an exact duplicate sorts adjacent to its
        original under (ts, event_id) and the prev_type != type change
        filter drops it, so history, versions, and validity intervals
        are identical to the no-replay run. This pins that argument."""
        from kafka_processor_cosmos_tx_dispatch_spark.streaming.incremental import (
            make_scd2_rebuild,
        )

        def run(root):
            wrote = {"any": False}
            rebuild = make_scd2_rebuild(
                f"{root}/log", f"{root}/hist", 4, wrote
            )
            b0 = _mk_events(
                spark, [(1, 1, 10, "a", 0.0, 0), (2, 2, 10, "b", 0.0, 0)]
            )
            b1 = _mk_events(
                spark, [(3, 3, 10, "a", 0.0, 0), (4, 1, 11, "c", 0.0, 0)]
            )
            rebuild(b0, 0)
            if root.endswith("replayed"):
                rebuild(b0, 0)  # redelivery: duplicate log append
            rebuild(b1, 1)
            if root.endswith("replayed"):
                rebuild(b1, 1)
            return sorted(
                (
                    r["user_id"], r["event_type"], r["valid_from_us"],
                    r["valid_to_us"], r["version"], r["is_current"],
                )
                for r in spark.read.parquet(f"{root}/hist").drop("pb").collect()
            )

        clean = run(str(tmp_path / "clean"))
        replayed = run(str(tmp_path / "replayed"))
        assert replayed == clean
        assert len(clean) == 4  # a,b,a for user 10 + c for user 11


class TestDriftReplay:
    def test_replayed_batch_skipped_by_ledger(self, spark, tmp_path):
        from kafka_processor_cosmos_tx_dispatch_spark.streaming.incremental import (
            make_drift_merge_batch,
        )

        state = str(tmp_path / "drift_state")
        os.makedirs(state)
        b0 = _mk_events(spark, [(2, 1, 10, "a", 10.0, 0), (3, 1, 11, "b", 30.0, 0)])
        latest = {"path": None, "bid": None}
        merge = make_drift_merge_batch(state, 25.0, latest)
        merge(b0, 0)
        merge(b0, 0)  # redelivery must not double the counts
        got = {
            r["bucket"]: (r["p_ref"], r["p_cur"])
            for r in spark.read.parquet(latest["path"]).collect()
        }
        assert got == {0: (1, 0), 1: (0, 1)}


class TestIncrementalCusum:
    def test_daily_count_merge_replay_idempotent(self, spark, tmp_path):
        """The daily-count ledger mirrors the decimal merge's
        exactly-once contract: in-run redelivery, stale replay after
        progress, and cross-restart redelivery must all be absorbed —
        final per-day counts equal each batch applied once."""
        from kafka_processor_cosmos_tx_dispatch_spark.streaming.incremental import (
            _scan_state,
            make_daily_count_merge_batch,
        )

        state = str(tmp_path / "cusum_state")
        os.makedirs(state)
        b0 = _mk_events(spark, [(1, 1, 10, "a", 1.0, 0), (2, 2, 11, "b", 2.0, 0)])
        b1 = _mk_events(spark, [(3, 3, 10, "a", 3.0, 0)])

        latest = {"path": None, "bid": None}
        merge = make_daily_count_merge_batch(state, latest)
        merge(b0, 0)
        merge(b0, 0)  # in-run redelivery
        merge(b1, 1)
        merge(b0, 0)  # stale replay after progress

        bid, path = _scan_state(state)
        assert bid == 1
        latest2 = {"path": path, "bid": bid}
        merge2 = make_daily_count_merge_batch(state, latest2)
        merge2(b1, 1)  # restart redelivery

        got = {
            str(r["day"]): r["n"]
            for r in spark.read.parquet(latest2["path"]).collect()
        }
        assert got == {"2024-01-01": 3}


class TestIncrementalLshDedup:
    def test_split_invariant_and_replay_idempotent(self, spark, tmp_path):
        """Any micro-batch split of a document corpus must yield the
        same near-dup pair set as the one-shot batch computation: a
        pair lands in one batch (self-join) or across two (state join).
        Also replays a mid-stream batch AFTER later state exists — the
        canonicalized pairs + DISTINCT readout must absorb it."""
        import glob

        from kafka_processor_cosmos_tx_dispatch_spark.operators.dedup import (
            minhash_lsh_pairs,
        )
        from kafka_processor_cosmos_tx_dispatch_spark.streaming.incremental import (
            make_lsh_dedup_batch,
        )

        base = (
            "the quick brown fox jumps over the lazy dog again and again "
            "making a long enough shingle stream for minhash"
        )
        docs = [
            (i, base if i % 3 == 0 else f"{base} variant {i} " + "x " * i)
            for i in range(30)
        ]
        schema = "doc_id long, text string"
        full = spark.createDataFrame(docs, schema)
        want = {
            (r["doc_a"], r["doc_b"])
            for r in minhash_lsh_pairs(full, max_bucket=10**9).collect()
        }

        work = str(tmp_path / "sdedup")
        body = make_lsh_dedup_batch(work)
        splits = [docs[:11], docs[11:17], docs[17:]]
        for bid, rows in enumerate(splits):
            body(spark.createDataFrame(rows, schema), bid)
        body(spark.createDataFrame(splits[1], schema), 1)  # stale replay

        outs = glob.glob(f"{work}/pairs/b*")
        got = {
            (r["doc_a"], r["doc_b"])
            for r in spark.read.parquet(*outs).distinct().collect()
        }
        assert got == want


class TestIncrementalMixtureSchedule:
    def test_split_invariant_and_replay_skipped(self, spark, tmp_path):
        """Any ORDERED micro-batch split of the corpus must assign every
        document the same schedule key as the one-shot computation
        (per-lang arrival rank × stride, carried counters), and a
        replayed batch id must be skipped by the ledger — counters are
        associative, not idempotent, so a re-fold would shift every
        later rank."""
        import glob

        from kafka_processor_cosmos_tx_dispatch_spark.streaming.incremental import (
            make_mixture_schedule_batch,
        )

        weights, scale = {"en": 4, "de": 2}, 840
        docs = [(i, "en" if i % 3 else "de") for i in range(30)]
        schema = "doc_id long, lang string"

        def run(splits, workdir, replay_bid=None):
            body = make_mixture_schedule_batch(
                workdir, weights, scale, {"bid": None, "path": None}
            )
            for bid, rows in enumerate(splits):
                body(spark.createDataFrame(rows, schema), bid)
                if replay_bid == bid:
                    body(spark.createDataFrame(rows, schema), bid)
            outs = glob.glob(f"{workdir}/keyed/b*")
            return {
                r["doc_id"]: (r["lang"], r["k"])
                for r in spark.read.parquet(*outs).collect()
            }

        one_shot = run([docs], str(tmp_path / "a"))
        split = run(
            [docs[:7], docs[7:8], docs[8:20], docs[20:]],
            str(tmp_path / "b"),
            replay_bid=2,
        )
        assert split == one_shot
        # stride semantics: within a lang, keys are rank*stride
        en_keys = sorted(k for lang, k in one_shot.values() if lang == "en")
        assert en_keys[:3] == [210, 420, 630]
        de_keys = sorted(k for lang, k in one_shot.values() if lang == "de")
        assert de_keys[:3] == [420, 840, 1260]


class TestIncrementalDomainCap:
    def test_split_invariant_prefix_semantics_and_replay(self, spark, tmp_path):
        """Any ORDERED micro-batch split must admit exactly the documents
        the batch window keeps (carried per-source token counters), a
        replayed batch id must be skipped (counters are associative),
        and a source ABSENT from a middle batch must keep its counter."""
        import glob

        from kafka_processor_cosmos_tx_dispatch_spark.streaming.incremental import (
            make_domain_cap_batch,
        )

        # srcA docs are 3 tokens each, srcB 5 tokens each; budget 12 →
        # srcA admits 4 docs (12 tokens), srcB admits 2 (10; the third
        # would hit 15 > 12 and everything after is dropped too)
        docs = [
            (i, "tok " * (3 if i % 2 == 0 else 5), "srcA" if i % 2 == 0 else "srcB")
            for i in range(14)
        ]
        schema = "doc_id long, text string, source string"

        def run(splits, workdir, replay_bid=None):
            body = make_domain_cap_batch(
                workdir, 12, {"bid": None, "path": None}
            )
            for bid, rows in enumerate(splits):
                body(spark.createDataFrame(rows, schema), bid)
                if replay_bid == bid:
                    body(spark.createDataFrame(rows, schema), bid)
            outs = glob.glob(f"{workdir}/admitted/b*")
            return {
                r["doc_id"]: (r["source"], r["n_toks"], r["cum_toks"])
                for r in spark.read.parquet(*outs).collect()
            }

        one_shot = run([docs], str(tmp_path / "a"))
        assert sorted(one_shot) == [0, 1, 2, 3, 4, 6]  # 4×srcA + 2×srcB
        assert one_shot[6] == ("srcA", 3, 12)  # exactly-at-budget kept
        # middle batch contains ONLY srcA docs — srcB's counter must
        # survive it (full-outer merge), and bid=2 replays are skipped
        split = run(
            [docs[:3], [docs[4], docs[6]], [docs[3], docs[5]] + docs[7:]],
            str(tmp_path / "b"),
            replay_bid=2,
        )
        assert split == one_shot
        # cross-RESTART stale replay: a fresh foreachBatch body (new
        # ledger cache → must re-scan v{bid} dirs from disk) receiving
        # an already-processed batch id must skip it — the counter fold
        # is associative, not idempotent, so a double-count here would
        # silently shrink later admissions (the MERGE ledger contract,
        # r10 verdict #7)
        restarted = make_domain_cap_batch(
            str(tmp_path / "b"), 12, {"bid": None, "path": None}
        )
        restarted(spark.createDataFrame(docs[:3], schema), 0)
        outs = glob.glob(f"{tmp_path}/b/admitted/b*")
        after_restart = {
            r["doc_id"]: (r["source"], r["n_toks"], r["cum_toks"])
            for r in spark.read.parquet(*outs).collect()
        }
        assert after_restart == one_shot

    def test_registered_streaming_twin_matches_batch(self, spark, sf_dir):
        from kafka_processor_cosmos_tx_dispatch_spark.queries import (
            sample_domain_cap,
            streaming_domain_cap,
        )

        want = {
            tuple(r) for r in sample_domain_cap(spark, sf_dir).collect()
        }
        got = {
            tuple(r) for r in streaming_domain_cap(spark, sf_dir).collect()
        }
        assert got == want


class TestIncrementalArrivalMonitor:
    def test_split_invariance_bridge_gaps_and_replay(self, spark, tmp_path):
        """Gaps exist between consecutive arrivals regardless of batch
        boundaries: any ORDERED split must produce the one-shot stats
        (the bridge gap stitches the carried last_ts to the batch's
        first arrival), a user absent from a middle batch must keep
        state, and replays (in-run and cross-restart) must be skipped
        — gap folds are associative, not idempotent."""
        from kafka_processor_cosmos_tx_dispatch_spark.streaming.incremental import (
            make_arrival_monitor_batch,
        )
        from pyspark.sql import functions as FF

        # user 1: arrivals at 0s, 10s, 7210s (one >1h gap); user 2:
        # arrivals at 5s, 65s; user 3: single arrival (no gaps → must
        # be absent from the readout)
        rows = [
            (1, 100, 0), (2, 101, 5), (1, 102, 10), (2, 103, 65),
            (3, 104, 70), (1, 105, 7210),
        ]
        schema = "user_id long, event_id long, sec long"

        def mk(rws):
            return spark.createDataFrame(rws, schema).select(
                "user_id",
                "event_id",
                FF.timestamp_micros(FF.col("sec") * 1_000_000).alias("ts"),
            )

        def readout(workdir):
            import glob as _g

            vs = sorted(_g.glob(f"{workdir}/gaps/v*"))
            st = spark.read.parquet(vs[-1])
            return {
                r["user_id"]: (
                    r["n_events"], r["min_gap_us"], r["max_gap_us"],
                    r["sum_gap_us"], r["n_gaps"], r["n_gaps_over_1h"],
                )
                for r in st.filter(FF.col("n_gaps") > 0).collect()
            }

        one = str(tmp_path / "one")
        body = make_arrival_monitor_batch(one, {"bid": None, "path": None})
        body(mk(rows), 0)
        want = readout(one)
        assert want[1] == (3, 10_000_000, 7_200_000_000,
                           7_210_000_000, 2, 1)
        assert want[2] == (2, 60_000_000, 60_000_000, 60_000_000, 1, 0)
        assert 3 not in want

        # ordered split: batch 1 has NO user-2 rows (state must carry),
        # the 7200s gap straddles batches 1→2 (bridge), bid=1 replayed
        split = str(tmp_path / "split")
        body2 = make_arrival_monitor_batch(split, {"bid": None, "path": None})
        body2(mk(rows[:3]), 0)
        body2(mk([rows[3], rows[4]]), 1)
        body2(mk([rows[3], rows[4]]), 1)  # in-run replay: skipped
        body2(mk([rows[5]]), 2)
        assert readout(split) == want
        # cross-restart stale replay: fresh body re-scans the ledger
        restarted = make_arrival_monitor_batch(
            split, {"bid": None, "path": None}
        )
        restarted(mk(rows[:3]), 0)
        assert readout(split) == want

    def test_unordered_source_fails_loud(self, spark, tmp_path):
        """ADVICE r11: a late event in a later micro-batch makes the
        bridge gap negative; instead of silently poisoning min/sum the
        fold counts it and the drain endpoint raises — batches must
        arrive ordered (the contract the batch twin doesn't need)."""
        import glob as _g

        from kafka_processor_cosmos_tx_dispatch_spark.streaming.incremental import (
            make_arrival_monitor_batch,
        )
        from pyspark.sql import functions as FF

        schema = "user_id long, event_id long, sec long"

        def mk(rws):
            return spark.createDataFrame(rws, schema).select(
                "user_id",
                "event_id",
                FF.timestamp_micros(FF.col("sec") * 1_000_000).alias("ts"),
            )

        wd = str(tmp_path / "late")
        body = make_arrival_monitor_batch(wd, {"bid": None, "path": None})
        body(mk([(1, 100, 50), (1, 101, 60)]), 0)
        body(mk([(1, 102, 10)]), 1)  # predates carried last_ts=60
        vs = sorted(_g.glob(f"{wd}/gaps/v*"))
        st = spark.read.parquet(vs[-1])
        assert st.agg(FF.sum("n_neg_bridges")).first()[0] == 1

    def test_registered_streaming_twin_matches_batch(self, spark, sf_dir):
        from kafka_processor_cosmos_tx_dispatch_spark.queries import (
            q_arrival_gaps,
            streaming_arrival_monitor,
        )

        want = {tuple(r) for r in q_arrival_gaps(spark, sf_dir).collect()}
        got = {
            tuple(r)
            for r in streaming_arrival_monitor(spark, sf_dir).collect()
        }
        assert got == want


class TestIncrementalPipelineCurate:
    DOCS_SCHEMA = (
        "doc_id long, text string, lang string, source string, n_chars long"
    )
    # crafted corpus: token counts known by construction; every text
    # passes the 4-check quality gate except doc 3 (digits: alpha-ratio
    # and stopword checks fail). doc 2 duplicates doc 1 up to whitespace
    # (normalized-fingerprint dup). src1 has 3 candidate docs whose
    # token budget (cap 30) admits only the first two (12 + 12 = 24;
    # the third would make 36).
    GOOD = "the quick brown fox jumps over the lazy dog again and again"  # 12
    DOCS = [
        (1, GOOD, "en", "src1", 0),
        (2, "the  quick brown fox jumps over the lazy dog  again and again", "en", "src2", 0),  # dup of 1
        (3, "1234 5678 9012 3456 7890 1234 5678 9012 3456 7890 11 22", "en", "src1", 0),  # fails quality
        (4, GOOD.replace("fox", "cat"), "en", "src1", 0),
        (5, GOOD.replace("fox", "owl"), "en", "src2", 0),
        (6, GOOD.replace("fox", "hen"), "en", "src1", 0),  # src1 over cap
        (7, GOOD.replace("fox", "bat"), "en", "src2", 0),  # src2: 12+12=24 ok? no — doc 2 was a dup, so src2 = 5,7 admitted
        (8, GOOD.replace("fox", "elk"), "en", "src2", 0),  # src2 36 > 30 → dropped
    ]
    # admitted in doc_id order: 1 (src1, 12), 4 (src1, 24), 5 (src2,
    # 12), 7 (src2, 24) — then packed with budget 20:
    # cum: 12, 24, 36, 48; bin = (cum-12) div 20 → 0, 0, 1, 1
    EXPECT = [(1, 12, 0, 1), (4, 12, 0, 2), (5, 12, 1, 1), (7, 12, 1, 2)]

    def _run(self, spark, workdir, batches):
        from kafka_processor_cosmos_tx_dispatch_spark.streaming.incremental import (
            make_pipeline_curate_batch,
        )

        body = make_pipeline_curate_batch(
            workdir, 30, 20, {"bid": None, "path": None}
        )
        for bid, rows in enumerate(batches):
            body(spark.createDataFrame(rows, self.DOCS_SCHEMA), bid)
        return body

    def _readout(self, spark, workdir):
        import glob as _g

        outs = [
            p
            for p in _g.glob(f"{workdir}/packed/b*")
            if os.path.exists(os.path.join(p, "_SUCCESS"))
        ]
        return sorted(tuple(r) for r in spark.read.parquet(*outs).collect())

    def test_split_invariance_and_replay(self, spark, tmp_path):
        """Any ORDERED micro-batch split must reproduce the one-shot
        composed pipeline exactly: the dedup fingerprint state catches a
        cross-batch duplicate, the cap counter carries across the
        boundary, a PACK BIN straddling the boundary continues at the
        carried row count, and replays (in-run and cross-restart) are
        skipped."""
        one = str(tmp_path / "one")
        self._run(spark, one, [self.DOCS])
        assert self._readout(spark, one) == self.EXPECT

        # split so the dup (doc 2) arrives a batch AFTER its original,
        # src1's cap decision straddles batches, and bin 1 straddles
        # the 2nd/3rd boundary (doc 5 opens it, doc 7 continues it)
        split = str(tmp_path / "split")
        body = self._run(
            spark,
            split,
            [self.DOCS[:2], self.DOCS[2:5], self.DOCS[5:]],
        )
        assert self._readout(spark, split) == self.EXPECT
        # in-run replay: state ledger skips, outputs unchanged
        body(
            spark.createDataFrame(self.DOCS[2:5], self.DOCS_SCHEMA), 1
        )
        assert self._readout(spark, split) == self.EXPECT

        # cross-restart stale replay: fresh body re-scans the ledger
        from kafka_processor_cosmos_tx_dispatch_spark.streaming.incremental import (
            make_pipeline_curate_batch,
        )

        restarted = make_pipeline_curate_batch(
            split, 30, 20, {"bid": None, "path": None}
        )
        restarted(spark.createDataFrame(self.DOCS[:2], self.DOCS_SCHEMA), 0)
        assert self._readout(spark, split) == self.EXPECT

    def test_registered_streaming_twin_matches_oracle_shape(
        self, spark, sf_dir
    ):
        """The registered query drains the sf documents stream and
        matches its composed-batch oracle row set (the full parity is
        the DuckDB sweep; here: non-empty, capped, and bin-contiguous)."""
        from kafka_processor_cosmos_tx_dispatch_spark.queries import (
            streaming_pipeline_curate,
        )

        got = streaming_pipeline_curate(spark, sf_dir).collect()
        assert got
        bins = sorted({r["bin"] for r in got})
        assert bins == list(range(len(bins)))  # contiguous bins from 0


class TestIncrementalHeavyHitters:
    def test_carried_sketch_survives_eviction_and_recount_is_exact(
        self, spark, tmp_path
    ):
        """Tiny k forces eviction in EVERY merge; the carried sketch must
        still retain the true heavy keys (superset guarantee under the
        sequential Agarwal fold), the final recount must equal the exact
        >1.2×-mean answer, the sketch must never exceed k rows, and a
        replayed batch id must be skipped."""
        import glob

        from kafka_processor_cosmos_tx_dispatch_spark.streaming.incremental import (
            _scan_state,
            make_heavy_hitter_batch,
        )

        # 100×A, 60×B, then 12 singletons — exact answer at u=14,
        # n=172: threshold cnt·14·5 > 6·172 → cnt > 14.7 → {A, B}
        rows = [(1,)] * 100 + [(2,)] * 60 + [(i,) for i in range(10, 22)]
        schema = "user_id long"
        k = 3

        def run(splits, workdir, replay_bid=None):
            latest = {"bid": None, "path": None}
            body = make_heavy_hitter_batch(workdir, k, latest)
            for bid, chunk in enumerate(splits):
                body(spark.createDataFrame(chunk, schema), bid)
                if replay_bid == bid:
                    body(spark.createDataFrame(chunk, schema), bid)
            _, sketch = _scan_state(f"{workdir}/sketch")
            cand = {r["user_id"] for r in spark.read.parquet(sketch).collect()}
            assert len(cand) <= k
            outs = glob.glob(f"{workdir}/deltas/b*")
            deltas = spark.read.parquet(*outs)
            n = deltas.agg(F.sum("cnt")).collect()[0][0]
            assert n == len(rows)  # replay did not double-fold
            return cand

        # interleave so no single batch is one-key-only
        import random

        rng = random.Random(5)
        shuffled = rows[:]
        rng.shuffle(shuffled)
        cand = run(
            [shuffled[:50], shuffled[50:90], shuffled[90:]],
            str(tmp_path / "hh"),
            replay_bid=1,
        )
        assert {1, 2} <= cand  # true heavies survived every eviction

    def test_registered_streaming_twin_matches_batch(self, spark, sf_dir):
        from kafka_processor_cosmos_tx_dispatch_spark.queries import (
            q_heavy_hitters_mg,
            streaming_heavy_hitters,
        )

        want = {tuple(r) for r in q_heavy_hitters_mg(spark, sf_dir).collect()}
        got = {tuple(r) for r in streaming_heavy_hitters(spark, sf_dir).collect()}
        assert got == want and len(got) >= 1


class TestIncrementalOhlc:
    def test_unordered_split_invariance_and_replay(self, spark, tmp_path):
        """OHLC state must converge to the one-shot answer under an
        UNORDERED batch split (the merge carries order keys, it never
        assumes arrival order), and a replayed batch must be skipped."""
        import datetime as dt
        import glob

        from kafka_processor_cosmos_tx_dispatch_spark.streaming.incremental import (
            _scan_state,
            make_ohlc_merge_batch,
        )

        base = dt.datetime(2024, 1, 1, 10, 0, 0)
        rows = [
            (base + dt.timedelta(minutes=m), i, "click", float(v))
            for i, (m, v) in enumerate(
                [(0, 5.0), (10, 9.0), (20, 1.0), (30, 7.0), (59, 4.0),
                 (61, 8.0), (70, 2.0)]
            )
        ]
        schema = "ts timestamp, event_id long, event_type string, value double"

        def run(splits, workdir, replay_bid=None):
            latest = {"bid": None, "path": None}
            body = make_ohlc_merge_batch(workdir, latest)
            for bid, chunk in enumerate(splits):
                body(spark.createDataFrame(chunk, schema), bid)
                if replay_bid == bid:
                    body(spark.createDataFrame(chunk, schema), bid)
            _, path = _scan_state(f"{workdir}/state")
            out = {}
            for r in spark.read.parquet(path).collect():
                out[(r["bucket_epoch"], r["event_type"])] = (
                    r["n"],
                    r["first_k"]["value"],
                    r["last_k"]["value"],
                    r["high"],
                    r["low"],
                )
            return out

        one = run([rows], str(tmp_path / "a"))
        # reversed + interleaved split: order keys must still find the
        # true open (minute 0, value 5.0) and close (minute 59, 4.0)
        shuffled = [rows[4], rows[1]], [rows[6], rows[0], rows[3]], [rows[2], rows[5]]
        split = run(list(shuffled), str(tmp_path / "b"), replay_bid=1)
        assert split == one
        h1 = one[(int(base.timestamp()), "click")]
        assert h1 == (5, 5.0, 4.0, 9.0, 1.0)

    def test_registered_streaming_twin_matches_batch(self, spark, sf_dir):
        from kafka_processor_cosmos_tx_dispatch_spark.queries import (
            q_timeseries_ohlc,
            streaming_ohlc,
        )

        want = {tuple(r) for r in q_timeseries_ohlc(spark, sf_dir).collect()}
        got = {tuple(r) for r in streaming_ohlc(spark, sf_dir).collect()}
        # column order differs (n before open in both) — compare keyed
        assert got == want


class TestIncrementalWeightedReservoir:
    DOCS_SCHEMA = "doc_id long, lang string, weight int"
    DOCS = [(i, "en", (i % 5)) for i in range(60)]

    def _run(self, spark, workdir, batches):
        from kafka_processor_cosmos_tx_dispatch_spark.streaming.incremental import (
            make_weighted_reservoir_batch,
        )

        body = make_weighted_reservoir_batch(
            workdir, 10, {"bid": None, "path": None}
        )
        for bid, rows in enumerate(batches):
            body(spark.createDataFrame(rows, self.DOCS_SCHEMA), bid)
        return body

    def _readout(self, spark, workdir):
        from kafka_processor_cosmos_tx_dispatch_spark.streaming.incremental import (
            _scan_state,
        )
        import os as _os

        _, path = _scan_state(_os.path.join(workdir, "state"))
        return sorted(tuple(r) for r in spark.read.parquet(path).collect())

    def test_split_invariance_and_replay(self, spark, tmp_path):
        """Any micro-batch split — and any REPLAY, ledger or not: the
        merge is a semilattice — yields the identical bottom-k sample
        as the one-shot batch."""
        one = str(tmp_path / "one")
        self._run(spark, one, [self.DOCS])
        want = self._readout(spark, one)
        assert len(want) == 10
        assert all(w >= 1 for (_, _, w, _) in want)  # weight-0 never samples

        split = str(tmp_path / "split")
        body = self._run(
            spark, split, [self.DOCS[:7], self.DOCS[7:40], self.DOCS[40:]]
        )
        assert self._readout(spark, split) == want
        # in-run replay skipped by ledger
        body(spark.createDataFrame(self.DOCS[:7], self.DOCS_SCHEMA), 1)
        assert self._readout(spark, split) == want

        # cross-restart: fresh body re-scans the ledger, replay skipped;
        # and even a FORCED duplicate merge (new bid, repeated rows)
        # cannot change the state — idempotent semilattice
        from kafka_processor_cosmos_tx_dispatch_spark.streaming.incremental import (
            make_weighted_reservoir_batch,
        )

        restarted = make_weighted_reservoir_batch(
            split, 10, {"bid": None, "path": None}
        )
        restarted(spark.createDataFrame(self.DOCS[:7], self.DOCS_SCHEMA), 0)
        assert self._readout(spark, split) == want
        restarted(spark.createDataFrame(self.DOCS, self.DOCS_SCHEMA), 9)
        assert self._readout(spark, split) == want


class TestIncrementalConnectedComponents:
    EDGE_SCHEMA = "node_a long, node_b long"

    def _run(self, spark, workdir, batches):
        from kafka_processor_cosmos_tx_dispatch_spark.streaming.incremental import (
            make_cc_batch,
        )

        body = make_cc_batch(workdir, {"bid": None, "path": None})
        for bid, rows in enumerate(batches):
            body(spark.createDataFrame(rows, self.EDGE_SCHEMA), bid)
        return body

    def _readout(self, spark, workdir):
        from kafka_processor_cosmos_tx_dispatch_spark.streaming.incremental import (
            _scan_state,
        )
        import os as _os

        _, path = _scan_state(_os.path.join(workdir, "labels"))
        return {
            r["node"]: r["comp"]
            for r in spark.read.parquet(path).collect()
        }

    # chain 1-2-3-4 built so NO single batch connects it: batch 0 has
    # (3,4), batch 1 has (1,2), batch 2's (2,3) must merge TWO carried
    # components {1,2} and {3,4} through the contraction; node 9 is an
    # isolated self-edge (dropped), 7-8 a pair that never grows
    BATCHES = [
        [(3, 4), (9, 9)],
        [(1, 2), (7, 8)],
        [(2, 3)],
    ]
    WANT = {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7}

    def test_cross_batch_merge_and_replay(self, spark, tmp_path):
        one = str(tmp_path / "one")
        self._run(spark, one, [[e for b in self.BATCHES for e in b]])
        assert self._readout(spark, one) == self.WANT

        split = str(tmp_path / "split")
        body = self._run(spark, split, self.BATCHES)
        assert self._readout(spark, split) == self.WANT
        # replay skipped (and harmless anyway: contraction of merged
        # edges yields only self-loops)
        body(spark.createDataFrame(self.BATCHES[1], self.EDGE_SCHEMA), 1)
        assert self._readout(spark, split) == self.WANT

        # cross-restart replay + a genuinely NEW batch joining the two
        # surviving components through a fresh node
        from kafka_processor_cosmos_tx_dispatch_spark.streaming.incremental import (
            make_cc_batch,
        )

        restarted = make_cc_batch(split, {"bid": None, "path": None})
        restarted(spark.createDataFrame(self.BATCHES[0], self.EDGE_SCHEMA), 0)
        assert self._readout(spark, split) == self.WANT
        restarted(
            spark.createDataFrame([(8, 100), (100, 4)], self.EDGE_SCHEMA), 3
        )
        assert self._readout(spark, split) == {
            n: 1 for n in (1, 2, 3, 4, 7, 8, 100)
        }

    def test_unordered_split_invariance(self, spark, tmp_path):
        """Contraction is order-insensitive: reversed batch order gives
        the identical final labels."""
        rev = str(tmp_path / "rev")
        self._run(spark, rev, list(reversed(self.BATCHES)))
        assert self._readout(spark, rev) == self.WANT


class TestIncrementalDsir:
    DOCS_SCHEMA = "doc_id long, text string, lang string"
    DOCS = [
        (0, "good clean prose here", "en"),
        (1, "good clean prose here", "fr"),
        (2, "zz1 zz2 zz3 zz4", "fr"),
        (3, "good clean zz1 zz2", "en"),
        (4, "prose here zz3 zz4", "fr"),
        (5, "solo", "fr"),  # no bigram -> never scored
    ]

    def _run(self, spark, workdir, batches, replay_bid=None, restart_at=None):
        from kafka_processor_cosmos_tx_dispatch_spark.streaming.incremental import (
            make_dsir_batch,
        )

        latest = {"bid": None, "path": None}
        body = make_dsir_batch(workdir, 4096, latest)
        for bid, rows in enumerate(batches):
            if restart_at == bid:
                # simulate a restart: fresh ledger must recover from disk
                latest = {"bid": None, "path": None}
                body = make_dsir_batch(workdir, 4096, latest)
            body(spark.createDataFrame(rows, self.DOCS_SCHEMA), bid)
            if replay_bid == bid:
                body(spark.createDataFrame(rows, self.DOCS_SCHEMA), bid)

    def _readout(self, spark, workdir):
        from kafka_processor_cosmos_tx_dispatch_spark.streaming.incremental import (
            dsir_drained,
        )

        return sorted(tuple(r) for r in dsir_drained(spark, workdir).collect())

    def test_split_invariance_replay_and_restart(self, spark, tmp_path):
        """The model is an associative-commutative count table and the
        features are row-local, so ANY split — ordered, unordered,
        singleton batches — drains to the one-shot answer; a replayed
        batch is skipped via the ledger, and a replay arriving AFTER a
        restart (fresh ledger) is skipped via the on-disk state scan."""
        one = self._run(spark, str(tmp_path / "a"), [self.DOCS])
        one = self._readout(spark, str(tmp_path / "a"))
        assert len(one) == 5  # doc 5 has no bigram

        shuffled = [
            [self.DOCS[4], self.DOCS[1]],
            [self.DOCS[5], self.DOCS[0]],
            [self.DOCS[3], self.DOCS[2]],
        ]
        self._run(spark, str(tmp_path / "b"), shuffled, replay_bid=1)
        assert self._readout(spark, str(tmp_path / "b")) == one

        self._run(spark, str(tmp_path / "c"), shuffled, restart_at=2)
        assert self._readout(spark, str(tmp_path / "c")) == one

        # stale replay after restart: re-deliver batch 0 with a FRESH
        # ledger after the full run — state must not double-count
        from kafka_processor_cosmos_tx_dispatch_spark.streaming.incremental import (
            make_dsir_batch,
        )

        body = make_dsir_batch(
            str(tmp_path / "c"), 4096, {"bid": None, "path": None}
        )
        body(spark.createDataFrame(shuffled[0], self.DOCS_SCHEMA), 0)
        assert self._readout(spark, str(tmp_path / "c")) == one

    def test_matches_batch_operator(self, spark, tmp_path):
        """Drained streaming weights are row-identical to the batch
        dsir_weights over the same corpus."""
        from kafka_processor_cosmos_tx_dispatch_spark.operators.sampling import (
            dsir_weights,
        )
        from pyspark.sql import functions as F

        docs = spark.createDataFrame(self.DOCS, self.DOCS_SCHEMA)
        want = sorted(
            tuple(r)
            for r in dsir_weights(
                docs, target=F.col("lang") == "en"
            ).collect()
        )
        self._run(
            spark,
            str(tmp_path / "m"),
            [[self.DOCS[0], self.DOCS[5]], [self.DOCS[2], self.DOCS[4]],
             [self.DOCS[1], self.DOCS[3]]],
        )
        assert self._readout(spark, str(tmp_path / "m")) == want

    def test_registered_streaming_twin_matches_batch(self, spark, sf_dir):
        from kafka_processor_cosmos_tx_dispatch_spark.queries import (
            sample_dsir_weights,
            streaming_dsir_weights,
        )

        want = {tuple(r) for r in sample_dsir_weights(spark, sf_dir).collect()}
        got = {
            tuple(r) for r in streaming_dsir_weights(spark, sf_dir).collect()
        }
        assert got == want and len(got) >= 1


class TestIncrementalParagraphDedup:
    DOCS_SCHEMA = "doc_id long, text string"
    BOILER = "b1 b2 b3 b4"
    DOCS = [
        (0, "b1 b2 b3 b4 a1 a2 a3 a4"),
        (1, "c1 c2 c3 c4 b1 b2 b3 b4"),  # loses the boiler chunk
        (2, "b1 b2 b3 b4"),  # entirely boilerplate
        (3, "d1 d2 d3 d4 d1 d2 d3 d4 e1"),  # within-doc repeat
        (4, "c1 c2 c3 c4 f1"),  # loses its first chunk to doc 1
    ]

    def _run(self, spark, workdir, batches, replay_bid=None, restart_at=None):
        from kafka_processor_cosmos_tx_dispatch_spark.streaming.incremental import (
            make_paragraph_dedup_batch,
        )

        latest = {"bid": None, "path": None}
        body = make_paragraph_dedup_batch(workdir, 4, latest)
        for bid, rows in enumerate(batches):
            if restart_at == bid:
                latest = {"bid": None, "path": None}
                body = make_paragraph_dedup_batch(workdir, 4, latest)
            body(spark.createDataFrame(rows, self.DOCS_SCHEMA), bid)
            if replay_bid == bid:
                body(spark.createDataFrame(rows, self.DOCS_SCHEMA), bid)

    def _readout(self, spark, workdir):
        import glob
        import os as _os

        outs = [
            p
            for p in glob.glob(_os.path.join(workdir, "out", "b*"))
            if _os.path.exists(_os.path.join(p, "_SUCCESS"))
        ]
        return sorted(tuple(r) for r in spark.read.parquet(*outs).collect())

    def test_ordered_split_invariance_replay_and_restart(
        self, spark, tmp_path
    ):
        """Under any doc_id-ORDERED split (prefix semantics) the drained
        shard matches the batch operator; replays are skipped via the
        ledger, including a stale replay arriving after a restart."""
        from kafka_processor_cosmos_tx_dispatch_spark.operators.dedup import (
            paragraph_dedup,
        )

        docs = spark.createDataFrame(self.DOCS, self.DOCS_SCHEMA)
        want = sorted(
            tuple(r) for r in paragraph_dedup(docs, size=4).collect()
        )

        self._run(spark, str(tmp_path / "a"), [self.DOCS])
        assert self._readout(spark, str(tmp_path / "a")) == want

        splits = [self.DOCS[:2], self.DOCS[2:3], self.DOCS[3:]]
        self._run(spark, str(tmp_path / "b"), splits, replay_bid=1)
        assert self._readout(spark, str(tmp_path / "b")) == want

        self._run(spark, str(tmp_path / "c"), splits, restart_at=2)
        assert self._readout(spark, str(tmp_path / "c")) == want

        # stale replay with a FRESH ledger after the full run: the seen
        # set must not change and no output may duplicate
        from kafka_processor_cosmos_tx_dispatch_spark.streaming.incremental import (
            make_paragraph_dedup_batch,
        )

        body = make_paragraph_dedup_batch(
            str(tmp_path / "c"), 4, {"bid": None, "path": None}
        )
        body(spark.createDataFrame(splits[0], self.DOCS_SCHEMA), 0)
        assert self._readout(spark, str(tmp_path / "c")) == want

    def test_cross_batch_drop_is_first_occurrence(self, spark, tmp_path):
        """A passage arriving in batch 1 that batch 0 already kept is
        dropped from the LATER document — and a document whose every
        passage is stale reassembles to the empty string."""
        splits = [self.DOCS[:1], self.DOCS[1:3]]
        self._run(spark, str(tmp_path / "d"), splits)
        got = {r[0]: r for r in self._readout(spark, str(tmp_path / "d"))}
        assert got[1][2] == 1 and got[1][3] == "c1 c2 c3 c4"
        assert got[2][2] == 0 and got[2][3] == ""

    def test_registered_streaming_twin_matches_batch(self, spark, sf_dir):
        from kafka_processor_cosmos_tx_dispatch_spark.queries import (
            dedup_paragraph_exact,
            streaming_paragraph_dedup,
        )

        want = {
            tuple(r) for r in dedup_paragraph_exact(spark, sf_dir).collect()
        }
        got = {
            tuple(r)
            for r in streaming_paragraph_dedup(spark, sf_dir).collect()
        }
        assert got == want and len(got) >= 1


class TestIncrementalQualityTrain:
    DOCS_SCHEMA = "doc_id long, text string, lang string"
    DOCS = [
        (0, "good clean prose here and more words of it", "en"),
        (1, "good clean prose here and more words of it", "fr"),
        (2, "zz1 zz2 zz3 zz4 zz5", "en"),
        (3, "good clean zz1 zz2 prose", "en"),
        (4, "prose here zz3 zz4", "fr"),
        (5, "   ", "en"),  # bias-only doc
    ]

    def _run(self, spark, workdir, batches, replay_bid=None, restart=False):
        from kafka_processor_cosmos_tx_dispatch_spark.streaming.incremental import (
            make_quality_archive_batch,
        )

        body = make_quality_archive_batch(workdir, 64)
        for bid, rows in enumerate(batches):
            if restart and bid == len(batches) - 1:
                body = make_quality_archive_batch(workdir, 64)  # fresh body
            body(spark.createDataFrame(rows, self.DOCS_SCHEMA), bid)
            if replay_bid == bid:
                body(spark.createDataFrame(rows, self.DOCS_SCHEMA), bid)

    def _readout(self, spark, workdir):
        from kafka_processor_cosmos_tx_dispatch_spark.streaming.incremental import (
            quality_train_drained,
        )

        return sorted(
            tuple(r)
            for r in quality_train_drained(
                spark, workdir, 64, (1, 2, 4)
            ).collect()
        )

    def test_any_split_replay_restart(self, spark, tmp_path):
        """Archive-by-path has no fold at all: ordered, unordered and
        replayed/restarted deliveries all drain to the one-shot
        weights."""
        self._run(spark, str(tmp_path / "a"), [self.DOCS])
        one = self._readout(spark, str(tmp_path / "a"))
        assert len(one) == 65  # 64 buckets + bias

        shuffled = [
            [self.DOCS[4], self.DOCS[1]],
            [self.DOCS[5], self.DOCS[0]],
            [self.DOCS[3], self.DOCS[2]],
        ]
        self._run(spark, str(tmp_path / "b"), shuffled, replay_bid=1)
        assert self._readout(spark, str(tmp_path / "b")) == one

        self._run(spark, str(tmp_path / "c"), shuffled, restart=True)
        assert self._readout(spark, str(tmp_path / "c")) == one

    def test_matches_batch_operator(self, spark, tmp_path):
        """Drained weights are row-identical to quality_train over the
        same corpus (same default label)."""
        from pyspark.sql import functions as F

        from kafka_processor_cosmos_tx_dispatch_spark.operators.quality import (
            quality_train,
        )
        from kafka_processor_cosmos_tx_dispatch_spark.functions import (
            text as TX,
        )

        docs = spark.createDataFrame(self.DOCS, self.DOCS_SCHEMA)
        t = F.filter(TX.tokens(F.col("text")), lambda w: w != "")
        label = (F.col("lang") == "en") & F.size(t).between(50, 100000)
        want = sorted(
            tuple(r) for r in quality_train(docs, label, buckets=64).collect()
        )
        self._run(
            spark,
            str(tmp_path / "m"),
            [[self.DOCS[1], self.DOCS[5]], [self.DOCS[0]],
             [self.DOCS[2], self.DOCS[4], self.DOCS[3]]],
        )
        assert self._readout(spark, str(tmp_path / "m")) == want

    def test_registered_streaming_twin_matches_batch(self, spark, sf_dir):
        from kafka_processor_cosmos_tx_dispatch_spark.queries import (
            streaming_quality_train,
            text_quality_train,
        )

        want = {tuple(r) for r in text_quality_train(spark, sf_dir).collect()}
        got = {
            tuple(r)
            for r in streaming_quality_train(spark, sf_dir).collect()
        }
        assert got == want and len(got) == 513
