"""Batch table sources over the driver-generated parquet directories.

The harness tables (TESTDATA.md) are one parquet file per table under
``{sf_dir}/{name}.parquet``. At cluster scale the same call reads a
directory of many files; nothing here assumes single-file layout.
"""

from __future__ import annotations

import os
from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Session-scoped memo of load_table PLANS (never results): every
# spark.read.parquet call pays py4j round-trips plus a driver-side
# footer/schema read, and a registry sweep invokes each registered query
# fresh — hundreds of identical table loads per sweep, each
# rebuilding the identical scan plan (the r15 _dims-probe lesson: count
# driver round-trips, not just plan nodes). DataFrames are immutable, so
# handing every caller the same handle is safe; execution still scans
# the parquet files on every action — nothing here caches data. Keyed
# per SparkSession (a WeakKeyDictionary entry dies with its session, so
# a restarted session can never serve stale JVM handles) and per
# resolved path. The harness table directories are static by contract
# (TESTDATA.md); paths that change under a session must not go through
# load_table (the q_source_* roundtrip queries read their own writes
# via spark.read directly).
_TABLE_MEMO: WeakKeyDictionary = WeakKeyDictionary()


# Dimension tables small enough to broadcast at any realistic scale factor
# (region=5 rows, nation=25 rows fixed; supplier/part/customer grow with SF
# but stay orders of magnitude under the fact tables).
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = table_path(sf_dir, name)
    memo = _TABLE_MEMO.setdefault(spark, {})
    cached = memo.get(path)
    if cached is not None:
        return cached
    # The harness parquet carries TIMESTAMP(NANOS) columns, which Spark
    # rejects outright unless this legacy conf is on. session.py sets it at
    # build time, but external harnesses (the correctness driver) own their
    # own SparkSession — set it here so load_table works under ANY session.
    # Read-before-write: a redundant conf.set on every table load showed up
    # as a consistent +10-20% on the hot bench queries (r2 bench deltas).
    conf_key = "spark.sql.legacy.parquet.nanosAsLong"
    if spark.conf.get(conf_key, None) != "true":
        spark.conf.set(conf_key, "true")
    df = spark.read.parquet(path)
    # The harness timestamps are naive wall times meant as UTC. Two physical
    # encodings have appeared across harness generations; normalize BOTH to
    # a TimestampType (LTZ) whose epoch equals the wall time read as UTC —
    # the representation every downstream query (unix_micros, window(),
    # as-of) was built on:
    #  - TIMESTAMP(NANOS) → long under nanosAsLong: integer DIV, not float
    #    /: ns-since-epoch (~1.7e18) exceeds a double's 53-bit mantissa, so
    #    float division can be ±1 µs off.
    #  - TIMESTAMP(MICROS, isAdjustedToUTC=false) → TIMESTAMP_NTZ: convert
    #    via timestampdiff from the NTZ epoch — pure wall-clock arithmetic,
    #    independent of spark.sql.session.timeZone (a plain NTZ→LTZ cast
    #    shifts the epoch by the session offset and breaks oracle parity
    #    under any non-UTC session).
    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, T.LongType):
            df = df.withColumn(
                field.name, F.timestamp_micros(F.expr(f"{field.name} DIV 1000"))
            )
        elif isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn(
                field.name,
                F.timestamp_micros(
                    F.expr(
                        "timestampdiff(MICROSECOND, "
                        f"TIMESTAMP_NTZ '1970-01-01 00:00:00', {field.name})"
                    )
                ),
            )
    memo[path] = df
    return df


def widen(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Ensure enough partitions for CPU-heavy per-row work.

    A small single-row-group parquet file scans as ONE split, serializing
    expensive text/vector pipelines onto one core no matter how many the
    executor has. Round-robin repartition is cheap for such inputs (the
    data is small by construction — that's why it got one split) and a
    no-op for real multi-split datasets, where the scan is already wide.
    """
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    # Use driver-side file metadata as the split-count proxy instead of
    # df.rdd.getNumPartitions(): the latter forces a plan->RDD conversion on
    # the driver for every widened query, defeating lazy planning. A scan of
    # >= target files is already at least that wide (one split per file
    # minimum); fewer files than target means a narrow scan worth widening.
    # Known proxy limits (deliberate): an explicitly coalesced file-backed
    # frame still counts its files (don't widen() after coalesce), and a
    # non-file frame (no metadata at all) is repartitioned unconditionally —
    # cheap for the small in-memory frames where that occurs.
    try:
        n_files = len(df.inputFiles())
    except Exception:  # non-file-backed plans (e.g. in-memory test frames)
        n_files = 0
    if n_files < target:
        return df.repartition(target)
    return df
