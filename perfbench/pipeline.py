"""The pipeline under test, the live-tail payload pool and the routing
check.

``route()`` wires decode → dispatch → ``value_for_topic`` through the
package's public API only.  ``checked()`` adds the package's dispatch
counters plus per-topic output counts and ``(key, topic)`` check sums as
observed metrics, so correctness is collected inside the measured pass,
with no collect and no extra job.  ``compare()`` turns those sums and the
oracle's expectation into the count of wrong outputs.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_processor_cosmos_tx_dispatch_spark.operators import dispatch as dsp
from kafka_processor_cosmos_tx_dispatch_spark.operators.decode import decode_tx_records
from kafka_processor_cosmos_tx_dispatch_spark.rules import DispatchRule

from perfbench.workload import ERROR_TOPIC, WireGen, crc

INPUT_SCHEMA = "key string, value binary, partition int, offset long"
CHECK = "perfbench_check"
TIER3 = "__tier3"
POOL_STRIDE = 40503  # odd, so record i cycles through every pool entry


def route(stream: DataFrame, rules: list[DispatchRule], struct_schema=None) -> DataFrame:
    """Wire records (``struct_schema is None``): fused ``decode_tx_records``
    with the tier-3 predicates, then ``dispatch`` on the tx JSON with the
    error topic.  JSON records: ``from_json`` against the fixed schema,
    then ``dispatch`` on the struct.  Both end in ``value_for_topic``."""
    if struct_schema is None:
        tier3 = dsp.python_tier_paths(rules, json_col="tx_json")
        decoded = decode_tx_records(stream, match_paths=tier3, tier3_col=TIER3)
        routed = dsp.dispatch(
            decoded,
            rules,
            json_col="tx_json",
            error_col="error",
            error_topic=ERROR_TOPIC,
            tier3_col=TIER3,
        )
    else:
        parsed = stream.withColumn("tx_json", F.col("value").cast("string"))
        parsed = parsed.withColumn("tx", F.from_json("tx_json", struct_schema))
        routed = dsp.dispatch(parsed, rules, json_col="tx_json", struct_col="tx")
    return dsp.value_for_topic(routed, rules, payload_col="value", json_col="tx_json")


def check_columns(topics: list[str]) -> list:
    """Per-topic output count and crc32 sum of ``key|topic``, the output
    bytes, and the input files seen."""
    check = F.crc32(F.encode(F.concat_ws("|", "key", "topic"), "UTF-8"))
    cols = [
        F.sum(F.length("value")).alias("value_bytes"),
        F.collect_set("partition").alias("files"),
    ]
    for k, t in enumerate(topics):
        hit = F.col("topic") == F.lit(t)
        cols += [F.count_if(hit).alias(f"n{k}"), F.sum(F.when(hit, check)).alias(f"c{k}")]
    return cols


def checked(out: DataFrame, topics: list[str]) -> DataFrame:
    """The streaming output with the package's dispatch counters and the
    benchmark's check sums attached as observed metrics."""
    return dsp.with_streaming_metrics(out).observe(CHECK, *check_columns(topics))


class Expected:
    """Oracle totals per topic over a set of records."""

    def __init__(self, topics: list[str]):
        self.index = {t: k for k, t in enumerate(topics)}
        self.n = np.zeros(len(topics), np.int64)
        self.c = [0] * len(topics)

    def add(self, keys: list[str], ids: np.ndarray, skeleton_topics: list[list[str]]) -> None:
        for key, s in zip(keys, ids.tolist()):
            for t in skeleton_topics[s]:
                k = self.index[t]
                self.n[k] += 1
                self.c[k] += crc(key, t)


def observed_totals(progress: list[dict], topics: list[str]) -> tuple[np.ndarray, list[int], dict]:
    """Per-topic counts and check sums summed over the batches' observed
    metrics, plus the package's dispatch counters."""
    n = np.zeros(len(topics), np.int64)
    c = [0] * len(topics)
    counters: dict[str, int] = {}
    for p in progress:
        om = p["observedMetrics"] or {}
        if CHECK in om:
            row = om[CHECK].asDict()
            for k in range(len(topics)):
                n[k] += int(row[f"n{k}"] or 0)
                c[k] += int(row[f"c{k}"] or 0)
        if "dispatch_metrics" in om:
            for name, v in om["dispatch_metrics"].asDict().items():
                counters[name] = counters.get(name, 0) + int(v or 0)
    return n, c, counters


def compare(exp: Expected, n: np.ndarray, c: list[int]) -> int:
    """Wrong outputs: per topic, the count difference, or 1 when counts
    agree but the check sums do not (a lower bound on misrouted rows)."""
    wrong = 0
    for k in range(len(c)):
        dn = abs(int(n[k]) - int(exp.n[k]))
        wrong += dn if dn else int(c[k] != exp.c[k])
    return wrong


# --------------------------------------------------------------------------
# live_tail payload pool
# --------------------------------------------------------------------------


def pool_ids(size: int) -> np.ndarray:
    """Skeletons of the live-tail pool: the first ``size - 2`` regular
    skeletons plus one undecodable (k = 7) and one with an unregistered
    ``Any`` (k = 3)."""
    regular = [
        k
        for k in range(WireGen.ERROR_EVERY * size)
        if k % WireGen.ERROR_EVERY != 7 and k % WireGen.UNREGISTERED_EVERY != 3
    ]
    return np.array(regular[: size - 2] + [7, 3], np.int64)


def pool(seed: int, size: int) -> list[bytes]:
    """The live-tail payload pool: one fresh record per pool skeleton."""
    _, offsets, data = WireGen(seed).batch(0, size, pool_ids(size))
    return [data[offsets[j] : offsets[j + 1]].tobytes() for j in range(size)]


def pool_picks(lo: int, hi: int, size: int) -> np.ndarray:
    """Pool entry of each live record ``lo .. hi - 1``."""
    return (np.arange(lo, hi, dtype=np.int64) * POOL_STRIDE) % size
