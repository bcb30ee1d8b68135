"""Batch dataset sinks: partitioned and bucketed parquet layouts.

The reference's only sinks are Kafka producers (TopologyProducer.kt:
126-129, 160-164, 196-199 — see sources/kafka.py:kafka_topic_sink for
those); an analytics engine also needs durable TABLE layouts, and at
100 TB the layout IS the performance model:

- hive-style partition directories → partition PRUNING: a predicate on
  the partition column skips whole directories at plan time;
- bucketing by join/agg key → pre-shuffled storage: repeated equi-joins
  and aggregations on the bucket key run with NO exchange (pinned by
  tests/test_scale_plans.py:test_bucketed_join_has_no_exchange);
- `max_records_per_file` bounds file sizes without a repartition;
  the `one_file_per_partition` repartition trades write parallelism for
  fewer, larger files (small-files problem) — at scale prefer the
  default and let maxRecordsPerFile do the splitting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
    max_records_per_file: int = 1_000_000,
    one_file_per_partition: bool = False,
) -> None:
    """Hive-layout parquet (`path/col=value/...`) for partition pruning."""
    out = df.repartition(*partition_cols) if one_file_per_partition else df
    (
        out.write.mode(mode)
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 32,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Bucketed (and optionally sorted) managed table: pays one shuffle at
    write time so every later equi-join/agg on `bucket_col` runs
    exchange-free. Bucket count is fixed at write — size it for the
    TARGET scale (shuffle partitions at read time adapt, buckets don't)."""
    w = df.write.mode(mode).bucketBy(num_buckets, bucket_col)
    if sort:
        w = w.sortBy(bucket_col)
    w.saveAsTable(table)


def reset_managed_table(spark: SparkSession, table: str) -> None:
    """Drop a managed table AND its warehouse location, on any filesystem.

    A fresh session's in-memory catalog doesn't know tables a prior
    session wrote, but the warehouse directory persists — so a plain
    overwrite dies with LOCATION_ALREADY_EXISTS. DROP TABLE alone only
    clears the catalog half. Deletion goes through the Hadoop FileSystem
    API resolved from the warehouse URI itself, so the same call works on
    file:, hdfs:, s3a:, ... — no scheme string surgery, no silent no-op
    on non-local warehouses (a shutil.rmtree would only ever delete local
    paths)."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    jvm = spark._jvm
    # managed-table location = <warehouse>/<lowercased name>
    path = jvm.org.apache.hadoop.fs.Path(warehouse, table.lower())
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(path):
        fs.delete(path, True)


def ensure_bucketed_table(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 32,
) -> DataFrame:
    """Idempotent setup: (re)write `df` as a bucketed managed table and
    return it as read from the catalog. Factored out of the query layer
    so plans stay pure reads; the warehouse mutation lives here."""
    reset_managed_table(spark, table)
    write_bucketed(df, table, bucket_col, num_buckets=num_buckets)
    return spark.table(table)


def roundtrip_dataset(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    fmt: str,
    schema: str,
    options: dict | None = None,
) -> DataFrame:
    """Write `df` in `fmt` (csv/json/parquet/orc) under the warehouse and
    read it back with an EXPLICIT schema — the interchange-format source
    path (the reference only speaks Kafka; an analytics engine must also
    ingest the text formats corpora arrive in). Explicit read schema is
    the scale contract: schema inference is a second full scan of the
    dataset before the real one, never acceptable at 100 TB.

    Paths resolve against spark.sql.warehouse.dir (same contract as the
    bucketed tables), so the write works under any filesystem scheme the
    session's Hadoop conf supports."""
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    path = f"{warehouse}/{name}"
    writer = df.write.mode("overwrite").format(fmt)
    reader = spark.read.format(fmt).schema(schema)
    for k, v in (options or {}).items():
        writer = writer.option(k, v)
        reader = reader.option(k, v)
    writer.save(path)
    return reader.load(path)


def zorder_value(cols: list, mins: list, maxs: list, bits: int = 16):
    """Morton (Z-order) key over `cols`: each column min-max-normalized
    to `bits` bits, then bit-interleaved — one JVM integer expression,
    no UDF. Columns must arrive with their global mins/maxs (a 1-row
    aggregate upstream)."""
    from pyspark.sql import functions as F

    n = len(cols)
    span = (1 << bits) - 1
    quantized = []
    for c, lo, hi in zip(cols, mins, maxs):
        rng = F.when(hi - lo == 0, F.lit(1)).otherwise((hi - lo))
        quantized.append(
            F.least(
                F.lit(span).cast("long"),
                F.floor((c - lo) * span / rng).cast("long"),
            )
        )
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, q in enumerate(quantized):
            z = z + (
                F.shiftleft(
                    F.shiftright(q, b).bitwiseAND(F.lit(1)), b * n + i
                ).cast("long")
            )
    return z


def zorder_layout(
    df: DataFrame,
    cols: list[str],
    path: str,
    n_files: int = 16,
    bits: int = 16,
) -> DataFrame:
    """Z-order-clustered parquet layout: range-partition + sort the data
    by the Morton key of `cols`, so every file covers a small, BALANCED
    bounding box in all clustered dimensions at once — a range predicate
    on ANY of them prunes most files via footer min/max stats. (A
    single-column sort gives perfect pruning on that column and none on
    the others; Z-order is the multi-dimension data-skipping layout
    Delta/Iceberg OPTIMIZE ZORDER implements.) The global min/max per
    column is a 1-row broadcast aggregate; the write is one range
    shuffle. Returns the re-read frame."""
    from pyspark.sql import functions as F

    spark = df.sparkSession
    aggs = []
    for c in cols:
        aggs += [
            F.min(c).alias(f"__min_{c}"),
            F.max(c).alias(f"__max_{c}"),
        ]
    stats = df.agg(*aggs)
    with_z = df.crossJoin(F.broadcast(stats)).withColumn(
        "__z",
        zorder_value(
            [F.col(c).cast("double") for c in cols],
            [F.col(f"__min_{c}").cast("double") for c in cols],
            [F.col(f"__max_{c}").cast("double") for c in cols],
            bits,
        ),
    )
    (
        with_z.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z", *[f"__min_{c}" for c in cols], *[f"__max_{c}" for c in cols])
        .write.mode("overwrite")
        .parquet(path)
    )
    return spark.read.parquet(path)


def read_partition_pruned(
    spark: SparkSession, path: str, **partition_values: str
) -> DataFrame:
    """Read with explicit partition filters (shows up as PartitionFilters
    in the scan, zero data files touched outside the selected dirs)."""
    df = spark.read.parquet(path)
    for col, val in partition_values.items():
        df = df.filter(df[col] == val)
    return df
