"""Tx-dispatch benchmark: decode → dispatch → route on three workloads.

    python3 perfbench/run.py --workload drain_wire --seed 1 --seconds 10 --trace 0

Runs the package's streaming pipeline on ``local[N]`` (N = usable cores),
checks every routed output against the workload's oracle, prints each
metric with its unit, and ends with one JSON line: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.  Exits 1 when
an output is missing, extra or misrouted.  Reads and writes only under the
repository root (``.perfbench_work/``).  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import datetime
import json
import math
import os
import shutil
import signal
import statistics
import sys
import threading
import time

PROCESS_START = time.time()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_BASE = os.path.join(ROOT, ".perfbench_work")

WORKLOADS = ("drain_wire", "live_tail", "json_fanout")
FILE_ROWS = 5_000  # records per backlog file: one file is one scan task
FILES_PER_TRIGGER = 4  # drain_wire and json_fanout micro-batches: 20k records, 4 tasks
BACKLOG_RATE = 30_000  # records/s per 4 cores the backlog is sized for
LIVE_RATE = 3_000  # live_tail offered rate, records/s
LIVE_POOL = 64  # live_tail payload templates
LIVE_TICK_S = 0.1  # live_tail lands one file per tick
LIVE_TRIGGER = "1 second"  # live_tail's processing-time trigger
# Spark fires a processing-time trigger on whole multiples of its interval;
# the lander's ticks end this far past them, so every run sees the same
# wait for the next trigger and no file lands as a trigger lists the folder
LIVE_PHASE_S = 0.05
LATENCY_LIMIT_MS = 3_000  # slo_miss_frac counts records later than this
SETUP_ROWS = 500  # records per set-up file; one file per core, read in one trigger
WINDOW_BATCHES = 3  # latency percentiles are taken over this many consecutive batches
SETUP_START = 10**9  # offset of the set-up file's records, apart from the backlog
# micro-batches before the timed region: counted in batches, not seconds, so
# the region starts at the same point of the JVM's warm-up on a slow host
WARMUP_BATCHES = {"drain_wire": 10, "live_tail": 20, "json_fanout": 10}
# the traced pass runs on the JVM the untraced pass warmed
TRACED_WARMUP_BATCHES = 10
PROBE_ROWS = 20_000
SAMPLE_ROWS = 2_000
DEADLINE_S = 170  # the whole run, set-up included
# the driver heap's cap, through the package's own setting (default 16g):
# under 16g the heap's growth, and peak RSS with it, varies from run to run;
# no -Xms, so RSS still follows the heap the JVM touches
DRIVER_HEAP = "1g"

E2E_UNITS = {
    "setup_s": "s",
    "records_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_p99_ms": "ms",
    "peak_rss_mb": "MB",
}

LAYER_UNITS = {
    "session.start_s": "s",
    "session.worker_warm_s": "s",
    "rules.load_ms": "ms",
    "protowire.decode_tx_us": "us",
    "protowire.fail_frac": "frac",
    "protowire.wire_bytes_per_rec": "bytes",
    "descriptors.registry_build_ms": "ms",
    "descriptors.any_decode_us": "us",
    "jsonpath.compile_ms": "ms",
    "jsonpath.tier1_rules": "count",
    "jsonpath.tier2_rules": "count",
    "jsonpath.tier3_rules": "count",
    "jsonpath.pred_us": "us",
    "jsonpath.match_frac": "frac",
    "decode.rows_per_s": "1/s",
    "decode.tx_json_bytes_per_rec": "bytes",
    "dispatch.rows_per_s": "1/s",
    "dispatch.fanout": "rows/rec",
    "dispatch.dlq_frac": "frac",
    "dispatch.error_frac": "frac",
    "dispatch.value_rows_per_s": "1/s",
    "dispatch.value_bytes_per_row": "bytes",
    "streaming.batches": "count",
    "streaming.rows_per_batch_p50": "count",
    "streaming.trigger_ms_p50": "ms",
    "streaming.addBatch_ms_p50": "ms",
    "streaming.fixed_ms_p50": "ms",
    "streaming.queryPlanning_ms_p50": "ms",
    "streaming.latestOffset_ms_p50": "ms",
    "streaming.walCommit_ms_p50": "ms",
    "streaming.lag_records_p99": "count",
    "host.cpu_busy_frac": "frac",
    "gen.us_per_rec": "us",
    "scaling.records_per_s_1core": "1/s",
    "scaling.speedup": "x",
    "trace.overhead_frac": "frac",
    "trace.unaccounted_frac": "frac",
}


def _parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _prepare_env(work: str) -> None:
    """Keep Spark's and Python's scratch files inside the checkout, make
    the benchmark importable in Python workers, and cap the driver heap."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP


def _kill_tree(root: int) -> None:
    from perfbench.trace import descendants

    for pid in descendants(root):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def _commit_time(p: dict) -> float:
    return _trigger_time(p) + p["durationMs"].get("triggerExecution", 0) / 1000


def _trigger_time(p: dict) -> float:
    ts = datetime.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return ts.replace(tzinfo=datetime.timezone.utc).timestamp()


def _files(p: dict) -> list[int]:
    """The input files one batch routed, from its check observation."""
    from perfbench.pipeline import CHECK

    return p["observedMetrics"][CHECK]["files"] or []


def _pct(values, q: float) -> float:
    import numpy as np

    return float(np.percentile(values, q)) if len(values) else float("nan")


def write_records(folder: str, f: int, prefix: str, lo: int, offsets, data) -> str:
    """One parquet file of Kafka-shaped records with offsets ``lo ..``,
    written under a hidden name and renamed, so a file stream never sees
    it half written; returns its path."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = len(offsets) - 1
    value = pa.BinaryArray.from_buffers(
        pa.binary(), rows, [None, pa.py_buffer(offsets), pa.py_buffer(data)]
    )
    table = pa.table(
        {
            "key": [f"{prefix}{lo + j}" for j in range(rows)],
            "value": value,
            "partition": pa.array(np.full(rows, f, np.int32)),
            "offset": pa.array(np.arange(lo, lo + rows, dtype=np.int64)),
        }
    )
    os.makedirs(folder, exist_ok=True)
    tmp = os.path.join(folder, f".part-{f:06d}.parquet")
    pq.write_table(table, tmp)
    path = os.path.join(folder, f"part-{f:06d}.parquet")
    os.rename(tmp, path)
    return path


class Lander:
    """The live_tail load generator: an open loop on its own thread.  Every
    ``LIVE_TICK_S`` it lands one file holding the records due in that tick
    (record ``i`` is due at ``t0 + i / LIVE_RATE``), whether or not the
    pipeline keeps up.  A record is stamped as created when its file lands,
    the first moment the engine can see it, so the tick's wait and the
    parquet write are not counted as pipeline latency.  Payloads cycle
    through a small pool; keys are unique."""

    def __init__(self, bench: "Bench", folder: str):
        from perfbench import pipeline as pl

        self.folder, self.prefix = folder, bench.prefix
        self.pool = pl.pool(bench.args.seed, LIVE_POOL)
        self.pool_ids = pl.pool_ids(LIVE_POOL)
        self.files: dict[int, tuple] = {}
        self.landed: dict[int, float] = {}  # file id -> wall time it landed
        self.stats: list[tuple[int, float, float]] = []  # records, gen s, s late
        self.t0 = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        os.makedirs(folder, exist_ok=True)

    def start(self) -> None:
        self.t0 = math.ceil(time.time()) + LIVE_PHASE_S
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def _run(self) -> None:
        import numpy as np

        from perfbench import pipeline as pl

        k = 0
        while not self._stop.wait(max(0.0, self.t0 + (k + 1) * LIVE_TICK_S - time.time())):
            t = time.perf_counter()
            lo = int(k * LIVE_TICK_S * LIVE_RATE)
            hi = int((k + 1) * LIVE_TICK_S * LIVE_RATE)
            picks = pl.pool_picks(lo, hi, LIVE_POOL)
            values = [self.pool[j] for j in picks.tolist()]
            offsets = np.zeros(hi - lo + 1, np.int32)
            np.cumsum([len(v) for v in values], out=offsets[1:])
            data = np.frombuffer(b"".join(values), np.uint8)
            write_records(self.folder, k, self.prefix, lo, offsets, data)
            landed = time.time()
            self.files[k] = (lo, hi, self.pool_ids[picks])
            self.landed[k] = landed
            late = landed - (self.t0 + (hi - 1) / LIVE_RATE)
            self.stats.append((hi - lo, time.perf_counter() - t, late))
            k += 1


class Bench:
    def __init__(self, args: argparse.Namespace, work: str):
        from perfbench.trace import Tracer

        self.args = args
        self.work = work
        self.workload = args.workload
        self.live = args.workload == "live_tail"
        self.json = args.workload == "json_fanout"
        self.cores = len(os.sched_getaffinity(0))
        self.warmup = WARMUP_BATCHES[args.workload]
        self.tracer = Tracer(bool(args.trace))
        self.spark = None
        self.queries = 0
        self.wrong = 0
        self.attempted = 0
        self.expected = 0

    # -- output ---------------------------------------------------------------

    def say(self, text: str) -> None:
        print(text, flush=True)

    # -- workload -------------------------------------------------------------

    def generate(self) -> None:
        """Build the generator, the rule bank and the oracle's per-skeleton
        topics, and write the parquet backlog (backlog workloads) and the
        set-up file."""
        from perfbench import workload as wl

        seed = self.args.seed
        t = time.perf_counter()
        if self.json:
            self.gen = wl.FanoutGen(seed)
            bank = wl.fanout_rules(self.gen)
            self.schema = wl.fanout_schema()
        else:
            self.gen = wl.WireGen(seed)
            bank = wl.wire_rules(self.gen)
            self.schema = None
        self.yaml = wl.rules_yaml(bank)
        self.topics = [r.topic for r in bank] + [wl.DLQ_TOPIC, wl.ERROR_TOPIC]
        self.skeleton_topics = self.gen.topics(bank)
        self.prefix = f"{self.workload[0]}{seed}-"
        # file id -> (first offset, end offset, skeleton ids) of the backlog
        self.backlog: dict[int, tuple] = {}
        self.backlog_rows = 0
        if not self.live:
            per_core = BACKLOG_RATE * self.cores / 4
            n_files = self.warmup * FILES_PER_TRIGGER + math.ceil(
                per_core * (self.args.seconds + 3) / FILE_ROWS
            )
            # modification times one ms apart in file order: the file
            # source reads files oldest first, so it reads 0, 1, 2, ...
            mtime0 = time.time_ns()
            for f in range(n_files):
                lo = f * FILE_ROWS
                ids, offsets, data = self.gen.batch(lo, FILE_ROWS)
                self.backlog[f] = (lo, lo + FILE_ROWS, ids)
                path = write_records(os.path.join(self.work, "data"), f, self.prefix, lo, offsets, data)
                os.utime(path, ns=(mtime0 + f * 10**6,) * 2)
            self.backlog_rows = n_files * FILE_ROWS
        for f in range(self.cores):
            lo = f * SETUP_ROWS
            _, offsets, data = self.gen.batch(SETUP_START + lo, SETUP_ROWS)
            write_records(os.path.join(self.work, "setup"), f, "setup-", lo, offsets, data)
        self.gen_s = time.perf_counter() - t
        self.gen_us_per_rec = self.gen_s / (self.backlog_rows + self.cores * SETUP_ROWS) * 1e6

    # -- spark ----------------------------------------------------------------

    def session(self, master: str) -> float:
        """(Re)start the session; returns seconds spent in ``get_spark``."""
        from kafka_processor_cosmos_tx_dispatch_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t = time.perf_counter()
        with self.tracer.span("session.build"):
            self.spark = get_spark(
                app_name="perfbench",
                master=master,
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.streaming.numRecentProgressUpdates": "100000",
                    "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                    "spark.driver.extraJavaOptions": "-Djava.io.tmpdir="
                    + os.path.join(self.work, "tmp"),
                },
            )
        return time.perf_counter() - t

    def stream(self, folder: str, files_per_trigger: int | None):
        from kafka_processor_cosmos_tx_dispatch_spark.streaming.dispatch import (
            file_stream_reader,
        )

        from perfbench.pipeline import INPUT_SCHEMA

        return file_stream_reader(
            self.spark,
            os.path.join(self.work, folder),
            INPUT_SCHEMA,
            max_files_per_trigger=files_per_trigger,
        )

    def start(self, stream, trigger: str | None = None):
        from perfbench.pipeline import checked, route

        self.queries += 1
        with self.tracer.span("dispatch.plan"):
            out = checked(route(stream, self.rules, self.schema), self.topics)
        ckpt = os.path.join(self.work, "ckpt", str(self.queries))
        writer = out.writeStream.format("noop").option("checkpointLocation", ckpt)
        if trigger is not None:
            writer = writer.trigger(processingTime=trigger)
        with self.tracer.span("streaming.start"):
            return writer.start()

    # -- set-up ---------------------------------------------------------------

    def setup(self) -> dict:
        """The cold set-up: JVM launch and session, rule load, plan, and the
        first routed batch, which starts the Python workers.  Timed from
        process start, minus workload generation."""
        from kafka_processor_cosmos_tx_dispatch_spark.rules import loads_rules

        with self.tracer.span("setup"):
            start_s = self.session(f"local[{self.cores}]")
            t = time.perf_counter()
            with self.tracer.span("rules.load"):
                self.rules = loads_rules(self.yaml)
            rules_ms = (time.perf_counter() - t) * 1000
            q = self.start(self.stream("setup", files_per_trigger=self.cores))
            started = time.time()
            with self.tracer.span("streaming.first_batch"):
                first = self._wait_first(q)
                q.stop()
        done = _commit_time(first)
        return {
            "setup_s": done - PROCESS_START - self.gen_s,
            "start_s": start_s,
            "rules_ms": rules_ms,
            "worker_warm_s": done - started,
        }

    def _wait_first(self, q) -> dict:
        deadline = time.time() + 90
        while time.time() < deadline:
            for p in q.recentProgress:
                if p["numInputRows"] > 0:
                    return p
            if q.exception() is not None:
                raise RuntimeError(f"set-up query failed: {q.exception()}")
            time.sleep(0.02)
        raise TimeoutError("no routed batch within 90 s of set-up")

    # -- measured run ---------------------------------------------------------

    def measure(
        self, label: str, seconds: float, warmup: int, files_per_trigger: int = FILES_PER_TRIGGER
    ) -> dict:
        """Stream until ``seconds`` have passed since the commit of the
        ``warmup``-th micro-batch; returns the end-to-end numbers over that region.  The
        backlog workloads read the parquet backlog; ``live_tail`` reads the
        files its lander writes on schedule."""
        from perfbench.trace import tree_cpu_seconds, tree_peak_rss_bytes

        me = os.getpid()
        lander = None
        with self.tracer.span(f"measure.{label}") as sid:
            listener = self._listen(sid) if self.tracer.enabled and label == "traced" else None
            if self.live:
                lander = Lander(self, os.path.join(self.work, f"live-{label}"))
                self.files, self.landed = lander.files, lander.landed
                q = self.start(self.stream(f"live-{label}", None), LIVE_TRIGGER)
                lander.start()
            else:
                self.files = self.backlog
                q = self.start(self.stream("data", files_per_trigger))
            t_start = time.time()
            region_start = cpu0 = None
            while True:
                time.sleep(0.05)
                now = time.time()
                if q.exception() is not None:
                    raise RuntimeError(f"query failed: {q.exception()}")
                last = q.lastProgress
                done = last is not None and last["numInputRows"] > 0
                commit = _commit_time(last) if done else 0.0
                if region_start is None and done and last["batchId"] >= warmup - 1:
                    region_start, cpu0 = commit, tree_cpu_seconds(me)
                if region_start is not None and commit > region_start:
                    if now >= region_start + seconds:
                        break
                if now > t_start + seconds + 120:
                    raise TimeoutError(f"{label}: no progress past warm-up")
            cpu1, t_stop = tree_cpu_seconds(me), time.time()
            rss, procs = tree_peak_rss_bytes(me)
            progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
            q.stop()
            if lander is not None:
                lander.stop()
            if listener is not None:
                self.spark.streams.removeListener(listener)
        if lander is not None:
            self.report_lander(lander)
        self.say(
            f"{label} batches (records, trigger ms): "
            + " ".join(f"{p['numInputRows']}/{p['durationMs'].get('triggerExecution')}" for p in progress)
        )
        res = self._summarize(progress, region_start, t_stop)
        res["peak_rss_mb"] = rss / 2**20
        res["peak_procs"] = procs
        res["cpu_busy_frac"] = (cpu1 - cpu0) / ((t_stop - region_start) * self.cores)
        res["progress"] = progress
        res["region_start"] = region_start
        self._check(label, progress)
        return res

    def report_lander(self, lander: Lander) -> None:
        import numpy as np

        st = np.array(lander.stats)
        self.lander_us_per_rec = float(st[:, 1].sum() / st[:, 0].sum() * 1e6)
        self.say(
            f"generator: {len(st)} files, {self.lander_us_per_rec:.2f} us/record, landed "
            f"{_pct(st[:, 2], 50) * 1000:.1f} ms (p50) / {_pct(st[:, 2], 99) * 1000:.1f} ms "
            "(p99) after the last record of its tick was due"
        )

    def _listen(self, parent: int):
        """One span per trigger (with its addBatch part as a child), from a
        StreamingQueryListener."""
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self.tracer

        class Spans(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:  # noqa: N802
                pass

            def onQueryProgress(self, event) -> None:  # noqa: N802
                p = json.loads(event.progress.json)
                d = p["durationMs"]
                start = _trigger_time(p)
                end = start + d.get("triggerExecution", 0) / 1000
                sid = tracer.add("streaming.trigger", parent, start, end)
                pre = sum(d.get(k, 0) for k in ("latestOffset", "queryPlanning", "walCommit", "getBatch"))
                a = min(end, start + pre / 1000)
                tracer.add("pipeline.addBatch", sid, a, min(end, a + d.get("addBatch", 0) / 1000))

            def onQueryIdle(self, event) -> None:  # noqa: N802
                pass

            def onQueryTerminated(self, event) -> None:  # noqa: N802
                pass

        listener = Spans()
        self.spark.streams.addListener(listener)
        return listener

    def _latencies(self, p: dict):
        """Per-record latency (s) of one batch: from the landing of the
        record's file (live_tail) or from the trigger that fetched it
        (closed-loop drains) to the batch's commit."""
        import numpy as np

        commit = _commit_time(p)
        if self.live:
            files = _files(p)
            return commit - np.repeat(
                [self.landed[f] for f in files], [self.files[f][1] - self.files[f][0] for f in files]
            )
        return np.full(p["numInputRows"], commit - _trigger_time(p))

    def _summarize(self, progress: list[dict], region_start: float, t_stop: float) -> dict:
        """Throughput and latency over the timed region.  Backlog drains:
        the median over batches of records per second since the previous
        commit.  ``live_tail``: records routed over the region's time.
        Latency percentiles are taken in each window of ``WINDOW_BATCHES``
        consecutive batches, sliding by one, and the median over windows
        is reported, so one slow batch moves the figure by one window."""
        import numpy as np

        commits = [_commit_time(p) for p in progress]
        first = next(k for k, c in enumerate(commits) if region_start < c <= t_stop)
        last = max(k for k, c in enumerate(commits) if c <= t_stop)
        region = progress[first : last + 1]
        end = commits[last]
        rows = sum(p["numInputRows"] for p in region)
        if self.live:
            rate = rows / (end - region_start)
        else:
            rate = statistics.median(
                progress[k]["numInputRows"] / (commits[k] - commits[k - 1])
                for k in range(first, last + 1)
            )
        per_batch = [self._latencies(p) * 1000 for p in region]
        lat = np.concatenate(per_batch)
        n_win = max(1, len(per_batch) - WINDOW_BATCHES + 1)
        windows = [np.concatenate(per_batch[k : k + WINDOW_BATCHES]) for k in range(n_win)]
        limit = LATENCY_LIMIT_MS
        if self.live:
            # records landed in the region early enough to meet the limit
            # by its last commit: late or never routed ones are misses
            window = {f for f, t in self.landed.items() if region_start <= t < end - limit / 1000}
            offered = sum(self.files[f][1] - self.files[f][0] for f in window)
            met = 0
            for p in progress:
                commit = _commit_time(p)
                for f in window.intersection(_files(p)):
                    if (commit - self.landed[f]) * 1000 <= limit:
                        met += self.files[f][1] - self.files[f][0]
            miss = (offered - met) / offered if offered else float("nan")
        else:
            miss = float(np.count_nonzero(lat > limit)) / lat.size
        return {
            "records_per_s": rate,
            "latency_p50_ms": statistics.median(_pct(w, 50) for w in windows),
            "latency_p99_ms": statistics.median(_pct(w, 99) for w in windows),
            "latency_samples": int(lat.size),
            "latency_windows": n_win,
            "slo_miss_frac": miss,
            "batches": len(region),
        }

    # -- correctness ----------------------------------------------------------

    def _check(self, label: str, progress: list[dict]) -> None:
        """Compare the observed per-topic counts and check sums of every
        completed batch with the oracle's.  The oracle expects every file
        from 0 to the last one read (files are read in order), and on
        live_tail every file that landed before the last batch's trigger,
        so a skipped file counts as missing outputs."""
        from perfbench import pipeline as pl

        exp = pl.Expected(self.topics)
        n_in = sum(p["numInputRows"] for p in progress)
        files = set()
        for p in progress:
            files.update(_files(p))
        want = set(range(max(files) + 1)) if files else set()
        if self.live and progress:
            last = _trigger_time(progress[-1])
            want.update(f for f, t in self.landed.items() if t < last)
        for f in sorted(want | files):
            lo, hi, ids = self.files[f]
            exp.add([f"{self.prefix}{i}" for i in range(lo, hi)], ids, self.skeleton_topics)
        n_files = sum(self.files[f][1] - self.files[f][0] for f in files)
        if n_files != n_in:  # a file read twice or partly
            self.wrong += abs(n_files - n_in)
        n, c, counters = pl.observed_totals(progress, self.topics)
        wrong = pl.compare(exp, n, c)
        expected = int(exp.n.sum())
        if counters.get("n_output_rows") != int(n.sum()):
            wrong = max(wrong, 1)  # the package's counter disagrees with ours
        self.wrong += wrong
        self.expected += expected
        self.attempted += n_in
        self.say(
            f"check {label}: {n_in} records, {expected} expected outputs, "
            f"{int(n.sum())} routed, {wrong} wrong"
        )

    # -- traced probes --------------------------------------------------------

    def probe_layers(self) -> dict:
        """Driver-side replay of a record sample through protowire,
        json.dumps, the descriptor registry and the compiled predicates."""
        import numpy as np

        from kafka_processor_cosmos_tx_dispatch_spark.functions import jsonpath as jp
        from kafka_processor_cosmos_tx_dispatch_spark.functions import protowire
        from kafka_processor_cosmos_tx_dispatch_spark.functions.descriptors import TypeRegistry
        from kafka_processor_cosmos_tx_dispatch_spark.operators import dispatch as dsp
        from kafka_processor_cosmos_tx_dispatch_spark.operators.decode import load_descriptor_set
        from pyspark.sql import functions as F

        from perfbench import workload as wl

        raws, ids = self.wire_sample(SAMPLE_ROWS, 1)
        out: dict[str, float] = {}
        builds = []
        for _ in range(3):
            t = time.perf_counter()
            with self.tracer.span("descriptors.registry_build"):
                registry = TypeRegistry.from_bytes(load_descriptor_set())
            builds.append(time.perf_counter() - t)
        out["descriptors.registry_build_ms"] = statistics.median(builds) * 1000
        payloads = [
            (m["@type"].rsplit("/", 1)[-1], wl.message_payload(m))
            for s in ids.tolist()
            if self.gen.txs[s] is not None
            for m in self.gen.txs[s]["body"]["messages"]
            if registry.has_message(m["@type"].rsplit("/", 1)[-1])
        ]
        for fqn, payload in payloads[:200]:  # compile each type once
            registry.decode(fqn, payload)
        t = time.perf_counter()
        with self.tracer.span("descriptors.any_decode"):
            for fqn, payload in payloads:
                registry.decode(fqn, payload)
        out["descriptors.any_decode_us"] = (time.perf_counter() - t) / len(payloads) * 1e6
        objs, fails = [], 0
        t = time.perf_counter()
        with self.tracer.span("protowire.decode_tx"):
            for raw in raws:
                try:
                    objs.append(protowire.decode_tx(raw))
                except protowire.DecodeError:
                    fails += 1
        out["protowire.decode_tx_us"] = (time.perf_counter() - t) / len(raws) * 1e6
        out["protowire.fail_frac"] = fails / len(raws)
        out["protowire.wire_bytes_per_rec"] = sum(map(len, raws)) / len(raws)
        with self.tracer.span("decode.json_dumps"):
            for o in objs:
                json.dumps(o, separators=(",", ":"))
        t = time.perf_counter()
        with self.tracer.span("jsonpath.compile"):
            preds = [jp.compile_predicate(r.predicate) for r in self.rules]
            tiers = [0, 0, 0]
            for r in self.rules:
                if self.schema is not None and jp.compile_struct_predicate(
                    F.col("tx"), self.schema, r.predicate
                ) is not None:
                    tiers[0] += 1
                elif jp.compile_json_string_predicate(F.col("tx_json"), r.predicate) is not None:
                    tiers[1] += 1
                else:
                    tiers[2] += 1
        out["jsonpath.compile_ms"] = (time.perf_counter() - t) * 1000
        out["jsonpath.tier1_rules"], out["jsonpath.tier2_rules"], out["jsonpath.tier3_rules"] = tiers
        python_paths = dsp.python_tier_paths(
            self.rules, json_col="tx_json", struct_type=self.schema
        )
        if self.json and python_paths:
            raise RuntimeError(f"json_fanout rules fell back to Python: {python_paths}")
        t = time.perf_counter()
        with self.tracer.span("jsonpath.pred"):
            hits = [p(o) for o in objs for p in preds]
        out["jsonpath.pred_us"] = (time.perf_counter() - t) / max(1, len(hits)) * 1e6
        out["jsonpath.match_frac"] = float(np.mean(hits)) if hits else 0.0
        return out

    def wire_sample(self, n: int, start_file: int):
        """``n`` wire records of this workload (JSON workloads: their
        skeletons encoded to wire) and their skeleton ids."""
        from perfbench import pipeline as pl
        from perfbench import workload as wl

        rng_start = SETUP_START + start_file * FILE_ROWS
        if self.live:
            picks = pl.pool_picks(0, n, LIVE_POOL)
            pool = pl.pool(self.args.seed, LIVE_POOL)
            return [pool[j] for j in picks.tolist()], pl.pool_ids(LIVE_POOL)[picks]
        if self.json:
            import numpy as np

            templates = [wl.wire_template(tx) for tx in self.gen.txs]
            rng = np.random.default_rng([self.args.seed, rng_start])
            ids = rng.integers(0, len(templates), n)
            offsets, data = wl.materialize(templates, ids, rng, text=False)
        else:
            ids, offsets, data = self.gen.batch(rng_start, n)
        return [data[offsets[j] : offsets[j + 1]].tobytes() for j in range(n)], ids

    def probe_stages(self) -> dict:
        """One Spark action per stage on cached inputs: decode, dispatch,
        value_for_topic, each to the noop sink."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from kafka_processor_cosmos_tx_dispatch_spark.operators import dispatch as dsp
        from kafka_processor_cosmos_tx_dispatch_spark.operators.decode import decode_tx_records

        from perfbench import pipeline as pl
        from perfbench import workload as wl

        raws, ids = self.wire_sample(PROBE_ROWS, 2)
        cols = {"key": [f"p{j}" for j in range(PROBE_ROWS)], "value": raws}
        if self.json:
            cols["json"] = [
                json.dumps(self.gen.txs[s], separators=(",", ":")).encode() for s in ids.tolist()
            ]
        path = os.path.join(self.work, "probe.parquet")
        pq.write_table(pa.table(cols), path)
        out: dict[str, float] = {}
        spark = self.spark

        def run(df, span: str) -> float:
            t = time.perf_counter()
            with self.tracer.span(span):
                df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t

        def cached(df):
            with self.tracer.span("spark.cache"):
                df = df.cache()
                df.count()
            return df

        inp = cached(spark.read.parquet(path).repartition(self.cores))
        tier3 = dsp.python_tier_paths(self.rules, json_col="tx_json")
        obs = Observation("decode")
        dec = decode_tx_records(inp, match_paths=tier3, tier3_col=pl.TIER3)
        observed = dec.observe(
            obs,
            F.sum(F.length("tx_json")).alias("b"),
            F.count_if(F.col("error").isNull()).alias("ok"),
        )
        secs = run(observed, "decode.stage")
        out["decode.rows_per_s"] = PROBE_ROWS / secs
        out["decode.tx_json_bytes_per_rec"] = (obs.get["b"] or 0) / max(1, obs.get["ok"])
        if self.json:
            parsed = inp.select("key", F.col("json").alias("value"))
            parsed = parsed.withColumn("tx_json", F.col("value").cast("string"))
            src = cached(parsed.withColumn("tx", F.from_json("tx_json", self.schema)))
            routed = dsp.dispatch(src, self.rules, json_col="tx_json", struct_col="tx")
        else:
            src = cached(dec)
            routed = dsp.dispatch(
                src, self.rules, json_col="tx_json", error_col="error",
                error_topic=wl.ERROR_TOPIC, tier3_col=pl.TIER3,
            )
        observed, obs = dsp.with_observed_metrics(routed, "probe_dispatch")
        secs = run(observed, "dispatch.stage")
        m = obs.get
        out["dispatch.rows_per_s"] = PROBE_ROWS / secs
        out["dispatch.fanout"] = m["n_output_rows"] / PROBE_ROWS
        out["dispatch.dlq_frac"] = m["n_unfiltered"] / PROBE_ROWS
        out["dispatch.error_frac"] = m["n_decode_errors"] / PROBE_ROWS
        routed_c = cached(routed)
        obs = Observation("value")
        valued = dsp.value_for_topic(routed_c, self.rules, payload_col="value", json_col="tx_json")
        secs = run(valued.observe(obs, F.sum(F.length("value")).alias("b")), "dispatch.value_stage")
        out["dispatch.value_rows_per_s"] = m["n_output_rows"] / secs
        out["dispatch.value_bytes_per_row"] = (obs.get["b"] or 0) / m["n_output_rows"]
        for df in (routed_c, src, inp):
            df.unpersist()
        return out

    def streaming_layer(self, res: dict) -> dict:
        import numpy as np

        region = [p for p in res["progress"] if _commit_time(p) > res["region_start"]]
        d = lambda k: [p["durationMs"].get(k, 0) for p in region]  # noqa: E731
        trig, add = np.array(d("triggerExecution")), np.array(d("addBatch"))
        lags, read = [], 0
        for p in res["progress"]:  # offered minus read at trigger start
            if self.live:
                start = _trigger_time(p)
                offered = sum(
                    self.files[f][1] - self.files[f][0] for f, t in self.landed.items() if t < start
                )
            else:
                offered = self.backlog_rows
            lags.append(offered - read)
            read += p["numInputRows"]
        return {
            "streaming.batches": len(region),
            "streaming.rows_per_batch_p50": _pct([p["numInputRows"] for p in region], 50),
            "streaming.trigger_ms_p50": _pct(trig, 50),
            "streaming.addBatch_ms_p50": _pct(add, 50),
            "streaming.fixed_ms_p50": _pct(trig - add, 50),
            "streaming.queryPlanning_ms_p50": _pct(d("queryPlanning"), 50),
            "streaming.latestOffset_ms_p50": _pct(d("latestOffset"), 50),
            "streaming.walCommit_ms_p50": _pct(d("walCommit"), 50),
            "streaming.lag_records_p99": _pct(lags, 99),
        }

    # -- the run ----------------------------------------------------------------

    def run(self) -> dict:
        args = self.args
        with self.tracer.span("generate"):
            self.generate()
        self.say(
            f"workload {self.workload} seed {args.seed} on local[{self.cores}], "
            f"generated in {self.gen_s:.2f} s"
        )
        setup = self.setup()
        self.say(
            f"cold setup {setup['setup_s']:.3f} s: session {setup['start_s']:.3f} s, "
            f"rules {setup['rules_ms']:.1f} ms, first batch {setup['worker_warm_s']:.3f} s"
        )
        e2e = self.measure("untraced", args.seconds, self.warmup)
        e2e["setup_s"] = setup["setup_s"]
        e2e["failed_frac"] = self.wrong / max(1, self.expected)
        self.report(e2e)
        if not args.trace:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
            return self.result(metrics)
        layer = {
            "session.start_s": setup["start_s"],
            "session.worker_warm_s": setup["worker_warm_s"],
            "rules.load_ms": setup["rules_ms"],
            "host.cpu_busy_frac": e2e["cpu_busy_frac"],
            "gen.us_per_rec": self.gen_us_per_rec,
        }
        traced = self.measure("traced", args.seconds, TRACED_WARMUP_BATCHES)
        headline = "latency_p50_ms" if self.live else "records_per_s"
        sign = 1 if self.live else -1
        layer["trace.overhead_frac"] = sign * (traced[headline] - e2e[headline]) / e2e[headline]
        self.say(
            "tracing overhead: "
            + ", ".join(f"{k} {traced[k] - e2e[k]:+.4g}" for k in E2E_UNITS if k in traced)
        )
        layer.update(self.streaming_layer(traced))
        with self.tracer.span("probe"):
            layer.update(self.probe_layers())
            layer.update(self.probe_stages())
        if self.live:
            layer["gen.us_per_rec"] = self.lander_us_per_rec
        with self.tracer.span("baseline.1core"):
            self.session("local[1]")
            one = self.measure("one_core", max(3.0, args.seconds / 2), 2, files_per_trigger=1)
        layer["scaling.records_per_s_1core"] = one["records_per_s"]
        layer["scaling.speedup"] = e2e["records_per_s"] / one["records_per_s"]
        self.say(
            f"records_per_s at 1 core {one['records_per_s']:.1f}, "
            f"at {self.cores} cores {e2e['records_per_s']:.1f}"
        )
        layer["trace.unaccounted_frac"] = self.trace_report()
        metrics = {k: {"value": layer[k], "unit": u} for k, u in LAYER_UNITS.items()}
        return self.result(metrics)

    def report(self, e2e: dict) -> None:
        self.say(f"setup_s {e2e['setup_s']:.4f} s")
        self.say(f"records_per_s {e2e['records_per_s']:.2f} 1/s")
        self.say(
            f"latency_p50_ms {e2e['latency_p50_ms']:.2f} ms, latency_p99_ms "
            f"{e2e['latency_p99_ms']:.2f} ms: medians over {e2e['latency_windows']} windows of "
            f"{WINDOW_BATCHES} batches, {e2e['latency_samples']} records in {e2e['batches']} batches"
        )
        self.say(
            f"slo_miss_frac {e2e['slo_miss_frac']:.6f} (limit {LATENCY_LIMIT_MS} ms)"
        )
        self.say(f"failed_frac {e2e['failed_frac']:.6f}")
        self.say(f"peak_rss_mb {e2e['peak_rss_mb']:.1f} MB over {e2e['peak_procs']} processes")
        self.say(f"host cpu busy {e2e['cpu_busy_frac']:.3f} of {self.cores} cores")

    def trace_report(self) -> float:
        """Print self time per span name and per layer; returns the share
        of wall time no span covers."""
        tr = self.tracer
        end = time.time()
        root = tr.add("run", None, PROCESS_START, end)
        for s in tr.spans:
            if s["parent"] is None and s["id"] != root:
                s["parent"] = root
        selfs = tr.self_times()
        wall = end - PROCESS_START
        layers: dict[str, float] = {}
        for name, v in selfs.items():
            layers[name.split(".")[0]] = layers.get(name.split(".")[0], 0.0) + v
        self.say(f"self time over {wall:.2f} s of traced wall time:")
        for name, v in sorted(selfs.items(), key=lambda kv: -kv[1]):
            self.say(f"  {name:32s} {v:8.3f} s {v / wall:6.1%}")
        self.say("per layer: " + ", ".join(f"{k} {v:.2f} s" for k, v in sorted(layers.items())))
        self.say(f"accounted {sum(selfs.values()):.3f} s of {wall:.3f} s")
        tr.write(os.path.join(WORK_BASE, "traces", f"{self.workload}-s{self.args.seed}.jsonl"))
        return selfs["run"] / wall

    def result(self, metrics: dict) -> dict:
        return {
            "correct": self.wrong == 0,
            "attempted": self.attempted,
            "failed": self.wrong,
            "metrics": metrics,
        }

    def close(self) -> None:
        """Stop the session and the JVM, and wait for every process below
        this one to end."""
        from perfbench.trace import descendants

        try:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            if self.spark is not None:
                self.spark.stop()
            if gateway is not None:
                proc = getattr(gateway, "proc", None)
                gateway.shutdown()
                if proc is not None:
                    proc.stdin.close()  # the JVM exits when its stdin closes
                    proc.wait(timeout=30)
        finally:
            deadline = time.time() + 30
            while descendants(os.getpid()) and time.time() < deadline:
                time.sleep(0.1)
            _kill_tree(os.getpid())


def main(argv: list[str] | None = None) -> int:
    args = _parse_args(argv)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import kafka_processor_cosmos_tx_dispatch_spark  # noqa: F401 — fail fast without the package

    work = os.path.join(WORK_BASE, f"{args.workload}-s{args.seed}-{os.getpid()}")
    _prepare_env(work)

    def expire() -> None:
        print(f"run exceeded {DEADLINE_S} s", file=sys.stderr, flush=True)
        _kill_tree(os.getpid())
        os._exit(3)

    watchdog = threading.Timer(DEADLINE_S - (time.time() - PROCESS_START), expire)
    watchdog.daemon = True
    watchdog.start()
    bench = Bench(args, work)
    try:
        result = bench.run()
        for name, m in result["metrics"].items():
            if not math.isfinite(m["value"]):
                raise RuntimeError(f"metric {name} is {m['value']}")
    finally:
        bench.close()
        watchdog.cancel()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
