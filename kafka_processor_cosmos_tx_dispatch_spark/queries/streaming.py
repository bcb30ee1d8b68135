"""'streaming'-family queries — split verbatim from the queries.py
monolith (r13); registration order within the family is
unchanged, so the driver-sampling interleave is identical.
Shared helpers come from queries/_core.py."""

from __future__ import annotations

from ._core import (  # noqa: F401 — shared query toolkit
    DEC_PRICE,
    DataFrame,
    EVENT_RULES,
    F,
    SparkSession,
    W,
    _CAP_BUDGET,
    _DOMAIN_CAP_SQL,
    _D_NORM,
    _D_TOKS,
    _MIX_SCALE,
    _MIX_WEIGHTS,
    _ORACLE,
    _SPIPE_CAP_BUDGET,
    _SW,
    _events_stream,
    _minhash_sig_sql,
    _run_stream_to_table,
    dsp,
    load_table,
    register,
)

# decoration-time read of a dispatch-family oracle: must execute after
# the dispatch module is imported (it is — bucket order), so it lives
# here rather than in _core (which imports before any registration)
_DISPATCH_ROUTE_ORACLE = _ORACLE["dispatch_route"]


@register("streaming_ohlc", _ORACLE["q_timeseries_ohlc"])
def streaming_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candles maintained over the EVENT stream
    (streaming/incremental.py:incremental_ohlc): the canonical
    non-commutative aggregate made mergeable by carrying the extremal
    order keys — each batch's partial holds min/max struct(ts,
    event_id, value) per candle, and the cross-batch merge is
    least/greatest of those structs, so ANY batch split (ordered or
    not) converges to the batch twin's answer. Oracle =
    q_timeseries_ohlc's exact query."""
    import tempfile

    from ..streaming.incremental import incremental_ohlc

    stream = _events_stream(spark, sf_dir)
    return incremental_ohlc(
        stream.select("ts", "event_id", "event_type", "value"),
        tempfile.mkdtemp(prefix="sohlc_"),
    )


@register("streaming_dispatch_route", _DISPATCH_ROUTE_ORACLE)
def streaming_dispatch_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME oracle as dispatch_route, satisfied through Structured
    Streaming: file stream → rule evaluation → multicast → memory sink.
    Streaming/batch parity is the core guarantee of sharing one plan
    builder (the dispatch path is stateless ⇒ append mode, no watermark)."""
    ev = _events_stream(spark, sf_dir)
    rec = F.struct(
        F.col("event_type"),
        F.col("value"),
        F.struct(
            F.get_json_object("props", "$.k").cast("int").alias("k")
        ).alias("props"),
    )
    routed = dsp.dispatch(
        ev.withColumn("rec", rec), EVENT_RULES, struct_col="rec"
    ).select("event_id", "rule_idx", "rule_name", "topic")
    return _run_stream_to_table(routed, "stream_route", "append")


@register(
    "streaming_tumbling_counts",
    """
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start_epoch,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows over the event stream (complete mode so the
    result is the full deterministic window set; watermarked append is
    exercised in tests where flush timing is controlled)."""
    from ..streaming.windows import tumbling_counts

    ev = _events_stream(spark, sf_dir)
    agg = tumbling_counts(ev, width="1 hour", watermark="2 hours")
    out = _run_stream_to_table(agg, "stream_tumble", "complete")
    return out.select(
        F.unix_timestamp(F.col("window.start")).alias("window_start_epoch"),
        "event_type",
        "n",
        "sum_value",
    )


@register(
    "streaming_sliding_counts",
    """
    WITH w AS (
      SELECT event_type, value,
             unnest([date_trunc('hour', ts),
                     date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS ws
      FROM events)
    SELECT CAST(epoch(ws) AS BIGINT) AS window_start_epoch, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM w GROUP BY 1, 2
    """,
)
def streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 2h/1h windows: each event lands in exactly width/slide = 2
    windows (the oracle materializes the same two window-starts per event
    with unnest)."""
    from ..streaming.windows import sliding_counts

    ev = _events_stream(spark, sf_dir)
    agg = sliding_counts(ev, width="2 hours", slide="1 hour", watermark="4 hours")
    out = _run_stream_to_table(agg, "stream_slide", "complete")
    return out.select(
        F.unix_timestamp(F.col("window.start")).alias("window_start_epoch"),
        "event_type",
        "n",
        "sum_value",
    )


@register(
    "streaming_session_window",
    """
    WITH o AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS sess_id FROM o)
    SELECT user_id,
           CAST(floor(epoch(MIN(ts))) AS BIGINT) AS session_start_epoch,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS session_value
    FROM s GROUP BY user_id, sess_id
    """,
)
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows per user. Spark merges sessions whose
    [ts, ts+gap) intervals overlap, i.e. a new session starts exactly when
    the gap to the previous event is >= 30 min — the oracle reproduces
    that with a lag()-based gaps-and-islands numbering."""
    from ..streaming.windows import session_windows

    ev = _events_stream(spark, sf_dir)
    agg = session_windows(ev, gap="30 minutes", watermark="2 hours")
    out = _run_stream_to_table(agg, "stream_sess", "complete")
    return out.select(
        "user_id",
        F.unix_timestamp(F.col("session_window.start")).alias("session_start_epoch"),
        "n_events",
        "session_value",
    )


@register(
    "streaming_windowed_topk",
    """
    WITH agg AS (
      SELECT date_trunc('hour', ts) AS w, user_id,
             CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS user_value
      FROM events GROUP BY 1, 2),
    r AS (SELECT *, row_number() OVER (PARTITION BY w
                    ORDER BY user_value DESC, user_id) AS rn FROM agg)
    SELECT CAST(epoch(w) AS BIGINT) AS window_start_epoch, user_id,
           user_value, CAST(rn AS INTEGER) AS rank
    FROM r WHERE rn <= 3
    """,
)
def streaming_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k: rank functions can't run inside a streaming
    aggregation, so the production pattern is two tiers — the STREAM
    maintains the windowed per-user sums (incremental state), and the
    top-k rank runs as a batch window function over the materialized
    sink. This query exercises exactly that composition."""
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"), "user_id")
        .agg(
            F.sum(F.col("value").cast(DEC_PRICE)).cast("double").alias("user_value")
        )
    )
    out = _run_stream_to_table(agg, "stream_topk", "complete")
    w = W.partitionBy("window").orderBy(F.desc("user_value"), F.asc("user_id"))
    return (
        out.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            F.unix_timestamp(F.col("window.start")).alias("window_start_epoch"),
            "user_id",
            "user_value",
            F.col("rank").cast("int").alias("rank"),
        )
    )


@register(
    "streaming_dedup_watermark",
    "SELECT DISTINCT user_id, event_type FROM events",
)
def streaming_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup with bounded state. The watermark (40 days)
    exceeds the dataset's 30-day span, so no key's state is evicted
    mid-run and each (user_id, event_type) is emitted exactly once —
    making the append-mode output equal to batch DISTINCT."""
    from ..streaming.windows import dedup_within_watermark

    ev = _events_stream(spark, sf_dir)
    dd = dedup_within_watermark(ev, keys=("user_id", "event_type"), watermark="40 days")
    out = _run_stream_to_table(dd, "stream_dedup", "append")
    return out.select("user_id", "event_type")


@register(
    "streaming_user_profiles",
    """
    WITH ranked AS (
      SELECT user_id, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
           MAX(CASE WHEN rn = 1 THEN event_type END) AS last_type
    FROM ranked GROUP BY user_id
    """,
)
def streaming_user_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user running
    profile. Update mode emits one row per touched user per micro-batch;
    n_events strictly increases, so max_by(n_events) recovers the final
    state regardless of how the file source split batches."""
    from ..streaming.stateful import running_user_profiles

    ev = _events_stream(spark, sf_dir)
    prof = running_user_profiles(ev)
    out = _run_stream_to_table(prof, "stream_prof", "update")
    final = out.groupBy("user_id").agg(
        F.max_by(F.struct("n_events", "total_value", "last_type"), "n_events").alias("s")
    )
    return final.select("user_id", "s.n_events", "s.total_value", "s.last_type")


@register(
    "streaming_incremental_merge",
    """
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY user_id
    """,
)
def streaming_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: each micro-batch's
    partial aggregate is MERGEd (the q_merge_upsert algebra — full-outer
    join + coalesce) into a parquet state table via foreachBatch. The
    partials are DECIMAL, and decimal addition is associative-exact, so
    ANY micro-batch split reproduces the one-shot batch aggregate
    bit-for-bit — the oracle is the plain batch GROUP BY. The double
    cast happens once, at read-out. Scale: state and delta shuffle on
    the group key per batch (a lakehouse table format adds file-level
    pruning on top of this same row algebra); state versions rotate, no
    driver-side accumulation anywhere. Multi-batch split-invariance is
    pinned by tests/test_streaming.py (maxFilesPerTrigger=1)."""
    import tempfile

    from ..streaming.incremental import incremental_decimal_merge

    ev = _events_stream(spark, sf_dir)
    return incremental_decimal_merge(
        ev,
        tempfile.mkdtemp(prefix="inc_merge_"),
        key="user_id",
        value_col="value",
    )


@register(
    "streaming_static_join",
    """
    SELECT e.event_id, e.event_type, n.n_name AS region_name
    FROM events e
    JOIN nation n
      ON n.n_nationkey = CAST(json_extract_string(e.props, '$.k') AS INTEGER) % 25
    """,
)
def streaming_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the 25-row nation dim is broadcast
    to every task, so the stream side never shuffles — the canonical
    pattern for dimension lookups on unbounded input."""
    ev = _events_stream(spark, sf_dir)
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    key = F.get_json_object("props", "$.k").cast("int") % 25
    joined = ev.withColumn("__nk", key).join(
        F.broadcast(nation), F.col("__nk") == F.col("n_nationkey")
    )
    out = _run_stream_to_table(
        joined.select("event_id", "event_type", F.col("n_name").alias("region_name")),
        "stream_sjoin",
        "append",
    )
    return out


@register(
    "streaming_stream_stream_join",
    """
    SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
    FROM events p
    JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
    """,
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join (self-join of the event stream): each
    purchase paired with the same user's clicks in the preceding hour.
    Both sides watermarked; the time-range condition is what lets Spark
    bound the join state (rows age out once the watermark passes the
    interval), which is the difference between O(window) and O(stream)
    state at scale."""
    ev = _events_stream(spark, sf_dir)
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "40 days")
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "40 days")
    )
    j = p.join(
        c,
        F.expr(
            "p_user = c_user AND c_ts >= p_ts - interval 1 hour AND c_ts <= p_ts"
        ),
    )
    out = _run_stream_to_table(
        j.select("purchase_id", "click_id", F.col("p_user").alias("user_id")),
        "stream_ssjoin",
        "append",
    )
    return out


@register("streaming_scd2_history", _ORACLE["q_scd2_history"])
def streaming_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD Type-2 maintenance
    (streaming/incremental.py:incremental_scd2): micro-batches append to
    a bucket-partitioned change log and rebuild ONLY the touched
    buckets' history via dynamic partition overwrite. SCD2's
    run-collapsing is order-sensitive, so unlike the decimal MERGE view
    this is maintained by key-scoped recompute — the order-invariant
    formulation — and the finished stream must equal the one-shot batch
    build exactly (same oracle as q_scd2_history; micro-batch
    split-invariance pinned in tests/test_streaming.py)."""
    import tempfile

    from ..streaming.incremental import incremental_scd2

    ev = _events_stream(spark, sf_dir)
    return incremental_scd2(ev, tempfile.mkdtemp(prefix="scd2_"))


@register("streaming_drift_monitor", _ORACLE["q_drift_chi2"])
def streaming_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drift gate maintained WHILE data lands
    (streaming/incremental.py:incremental_drift_counts): per-bucket
    snapshot counts merge per micro-batch — integer addition is
    associative, so any split reproduces the one-shot histogram exactly
    — and the fixed-point chi-square reads out at the end. Same oracle
    as the batch gate."""
    import tempfile

    from ..streaming.incremental import incremental_drift_counts

    ev = _events_stream(spark, sf_dir)
    return incremental_drift_counts(ev, tempfile.mkdtemp(prefix="drift_"))


@register("streaming_changepoint_monitor", _ORACLE["q_changepoint_cusum"])
def streaming_changepoint_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUSUM change-point gate maintained WHILE data lands
    (streaming/incremental.py:incremental_cusum_daily): per-day counts
    merge per micro-batch — integer addition is associative, so any
    split reproduces the one-shot daily histogram exactly — and the
    R − prefix-min closed form reads out over the bounded daily series
    at the end. Same oracle as the batch gate; replay-idempotent via
    the batch-id state ledger."""
    import tempfile

    from ..streaming.incremental import incremental_cusum_daily

    ev = _events_stream(spark, sf_dir)
    return incremental_cusum_daily(ev, tempfile.mkdtemp(prefix="cusum_"))


@register(
    "streaming_incremental_dedup",
    f"""
    WITH {_minhash_sig_sql()}
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a
    JOIN banded b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    """,
)
def streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates maintained over a DOCUMENT
    stream (streaming/incremental.py:incremental_lsh_dedup): each
    micro-batch pairs against itself AND the accumulated corpus
    band-key state, so the union of per-batch outputs equals the
    one-shot batch pair set under any split — the crawl-ingest dedup
    loop as Structured Streaming, per-batch cost O(new · collisions)
    independent of corpus size. Oracle = the batch LSH pair set
    (uncapped: a bucket cap would make results depend on batch
    boundaries; production re-adds it on the state side)."""
    import tempfile

    from ..streaming.dispatch import file_stream_reader
    from ..streaming.incremental import incremental_lsh_dedup

    stream = file_stream_reader(
        spark,
        f"{sf_dir}/documents*.parquet",
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    return incremental_lsh_dedup(stream, tempfile.mkdtemp(prefix="sdedup_"))


@register(
    "streaming_mixture_schedule",
    f"""
    WITH ranked AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS r
      FROM documents),
    keyed AS (
      SELECT doc_id, lang,
             r * ({_MIX_SCALE} // CASE lang
                 {" ".join(f"WHEN '{k}' THEN {v}"
                           for k, v in _MIX_WEIGHTS.items())}
                 ELSE 1 END) AS k
      FROM ranked)
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY k, lang, doc_id) AS BIGINT)
             AS position,
           lang, doc_id
    FROM keyed
    QUALIFY position <= 100
    """,
)
def streaming_mixture_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mixture schedule maintained over a DOCUMENT stream
    (streaming/incremental.py:incremental_mixture_schedule) — stride
    scheduling where every arriving document gets its FINAL schedule
    key at arrival (per-lang arrival rank × stride, counters carried
    across micro-batches, batch-id-ledgered exactly-once), so a
    training loader can consume "next by key" while ingest runs. The
    oracle ranks per lang by doc_id — the stream's arrival order — and
    equals the batch schedule under any ordered micro-batch split
    (split-invariance pinned in tests/test_streaming.py); the batch
    twin sample_mixture_schedule differs only in its md5 shuffle
    order."""
    import tempfile

    from ..streaming.dispatch import file_stream_reader
    from ..streaming.incremental import incremental_mixture_schedule

    stream = file_stream_reader(
        spark,
        f"{sf_dir}/documents*.parquet",
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    keyed = incremental_mixture_schedule(
        stream,
        tempfile.mkdtemp(prefix="smix_"),
        _MIX_WEIGHTS,
        _MIX_SCALE,
    )
    wg = W.orderBy("k", "lang", "doc_id")
    return (
        keyed.withColumn(
            "position", F.row_number().over(wg).cast("long")
        )
        .filter(F.col("position") <= 100)
        .select("position", "lang", "doc_id")
    )


@register("streaming_domain_cap", _DOMAIN_CAP_SQL)
def streaming_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The domain cap enforced over a DOCUMENT stream
    (streaming/incremental.py:incremental_domain_cap) — per-source token
    counters carried across micro-batches, batch-id-ledgered
    exactly-once, each document admitted or dropped ONCE at arrival and
    never revised. The oracle is the batch twin's window SQL: under any
    ordered micro-batch split the carried counter equals the batch
    running sum (split-invariance pinned in tests/test_streaming.py),
    so the admitted set is byte-identical."""
    import tempfile

    from ..streaming.dispatch import file_stream_reader
    from ..streaming.incremental import incremental_domain_cap

    stream = file_stream_reader(
        spark,
        f"{sf_dir}/documents*.parquet",
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    return incremental_domain_cap(
        stream, tempfile.mkdtemp(prefix="sdcap_"), _CAP_BUDGET
    ).select("doc_id", "source", "n_toks", "cum_toks")


@register("streaming_heavy_hitters", _ORACLE["q_heavy_hitters_mg"])
def streaming_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters maintained over the EVENT stream
    (streaming/incremental.py:incremental_heavy_hitters) — a carried
    k-counter Misra–Gries sketch absorbs each micro-batch's count delta
    (weighted Agarwal merge, batch-id-ledgered exactly-once, ≤k rows of
    state at all times, anytime superset guarantee), and the final
    candidate set is exact-recounted against the archived per-batch
    deltas. The answer — and therefore the oracle — is the batch twin
    q_heavy_hitters_mg's exact >1.2×-mean query."""
    import tempfile

    from ..streaming.incremental import incremental_heavy_hitters

    stream = _events_stream(spark, sf_dir)
    return incremental_heavy_hitters(
        stream.select("user_id"), tempfile.mkdtemp(prefix="shh_"), k=2048
    )


@register("streaming_arrival_monitor", _ORACLE["q_arrival_gaps"])
def streaming_arrival_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The heartbeat/liveness audit maintained over the EVENT stream
    (streaming/incremental.py:incremental_arrival_monitor) — carried
    per-user (last_ts, count, min/max/sum gap, >1 h count) state,
    batch-id-ledgered exactly-once, with the BRIDGE gap (carried
    last_ts → batch's first arrival) stitching micro-batches so any
    ordered split reproduces the batch window's gap sequence
    (split-invariance + stale-replay pinned in tests/test_streaming.py).
    The oracle is the batch twin q_arrival_gaps' window SQL."""
    import tempfile

    from ..streaming.incremental import incremental_arrival_monitor

    stream = _events_stream(spark, sf_dir)
    return incremental_arrival_monitor(
        stream.select("user_id", "event_id", "ts"),
        tempfile.mkdtemp(prefix="sarr_"),
    )


@register(
    "streaming_pipeline_curate",
    rf"""
    WITH base AS (
      SELECT doc_id, text, source, {_D_TOKS} AS t, md5({_D_NORM}) AS fp
      FROM documents),
    dd AS (
      SELECT doc_id, text, source, t FROM (
        SELECT doc_id, text, source, t,
               ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS dr
        FROM base) WHERE dr = 1),
    q AS (
      SELECT doc_id, source, CAST(len(t) AS BIGINT) AS n,
        (CASE WHEN len(t) BETWEEN 10 AND 1000 THEN 1 ELSE 0 END
         + CASE WHEN CAST(LENGTH(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                       AS DOUBLE) / CAST(LENGTH(text) AS DOUBLE) >= 0.6
                THEN 1 ELSE 0 END
         + CASE WHEN CAST(LENGTH(text) - (len(t) - 1) AS DOUBLE)
                       / CAST(len(t) AS DOUBLE) BETWEEN 2.0 AND 12.0
                THEN 1 ELSE 0 END
         + CASE WHEN CAST(len(list_filter(t,
                       x -> list_contains({_SW['en']}, x))) AS DOUBLE)
                       / CAST(len(t) AS DOUBLE) > 0.0
                THEN 1 ELSE 0 END) AS quality
      FROM dd),
    kept AS (SELECT doc_id, source, n FROM q WHERE quality >= 3),
    capd AS (
      SELECT doc_id, n FROM (
        SELECT doc_id, n,
               SUM(n) OVER (PARTITION BY source ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS scum
        FROM kept) WHERE scum <= {_SPIPE_CAP_BUDGET}),
    c AS (SELECT doc_id, n,
                 SUM(n) OVER (ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cum
          FROM capd)
    SELECT doc_id, n AS n_tokens,
           CAST((cum - n) // 512 AS INTEGER) AS bin,
           CAST(ROW_NUMBER() OVER (PARTITION BY (cum - n) // 512
                                   ORDER BY doc_id) AS INTEGER) AS bin_pos
    FROM c
    """,
)
def streaming_pipeline_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING curation pipeline ending (r11 verdict #5) — the
    production shape of continuous crawl ingestion: exact dedup →
    quality gate → per-source domain cap → sequence packing, maintained
    over a DOCUMENT stream with every stateful stage's state carried
    across micro-batches (streaming/incremental.py:
    incremental_pipeline_curate — carried fingerprint set, per-source
    token counters, and the (cum, open-bin) packing scalar,
    batch-id-ledgered exactly-once). The six batch pipeline endings are
    all one-shot compositions; this is the same curation chain run
    CONTINUOUSLY, each arriving document admitted/binned once and never
    revised. The oracle is the composed batch chain: under any ordered
    micro-batch split the admitted, capped, packed shard is
    row-identical (split-invariance + cross-restart replay pinned in
    tests/test_streaming.py)."""
    import tempfile

    from ..streaming.dispatch import file_stream_reader
    from ..streaming.incremental import incremental_pipeline_curate

    stream = file_stream_reader(
        spark,
        f"{sf_dir}/documents*.parquet",
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    return incremental_pipeline_curate(
        stream,
        tempfile.mkdtemp(prefix="spcur_"),
        cap_budget=_SPIPE_CAP_BUDGET,
        pack_budget=512,
    )


@register(
    "streaming_weighted_reservoir",
    _ORACLE["sample_weighted_reservoir"],
)
def streaming_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sample_weighted_reservoir maintained over the documents STREAM
    (streaming/incremental.py:incremental_weighted_reservoir): the
    carried k-row bottom-k state is the anytime PPS sample of
    everything seen so far. The ticket priorities are row-intrinsic
    (md5 of id and ticket index — no rand()), so bottom-k merge is a
    semilattice and the drained state is row-identical to the one-shot
    batch sample under ANY micro-batch split — the oracle is literally
    the batch query's SQL. Weighting (the Gopher quality score) is
    stateless and computed inside each micro-batch."""
    import tempfile

    from ..functions import text as TX
    from ..streaming.dispatch import file_stream_reader
    from ..streaming.incremental import incremental_weighted_reservoir

    stream = file_stream_reader(
        spark,
        f"{sf_dir}/documents*.parquet",
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    toks = TX.tokens(F.col("text"))
    weighted = stream.select(
        "doc_id",
        "lang",
        TX.quality_score(F.col("text"), toks).cast("int").alias("weight"),
    )
    return incremental_weighted_reservoir(
        weighted, tempfile.mkdtemp(prefix="swres_"), k=100
    )


@register(
    "streaming_connected_components",
    f"""
    WITH RECURSIVE
    base AS (SELECT doc_id, md5({_D_NORM}) AS fp,
                    md5(substring({_D_NORM}, 1, 32)) AS pfp
             FROM documents),
    keys AS (SELECT doc_id,
                    1000000000 + ('0x' || substring(fp, 1, 12))::BIGINT
                      AS knode
             FROM base
             UNION ALL
             SELECT doc_id,
                    2000000000000000
                      + ('0x' || substring(pfp, 1, 12))::BIGINT
             FROM base),
    edges AS (SELECT doc_id AS a, knode AS b FROM keys
              UNION SELECT knode, doc_id FROM keys),
    nodes AS (SELECT DISTINCT a AS n FROM edges),
    lbl(n, l) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT e.b, lbl.l FROM lbl JOIN edges e ON e.a = lbl.n),
    comp AS (SELECT n, MIN(l) AS component FROM lbl GROUP BY n)
    SELECT n AS doc_id, CAST(component AS BIGINT) AS component
    FROM comp WHERE n < 1000000000
    """,
)
def streaming_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental entity resolution over the document stream
    (streaming/incremental.py:incremental_connected_components): each
    arriving document statelessly emits link-key edges — one to its
    exact-content fingerprint node, one to its 32-char-prefix
    fingerprint node (the multi-key ER shape: different evidence kinds
    chain records transitively, so A~B by full text and B~C by shared
    prefix puts {{A,B,C}} in ONE component across any number of
    micro-batches) — and the carried (node, comp) labels absorb them by
    CONTRACTION: batch edges are rewritten onto current component ids,
    a batch-bounded pointer-jump CC merges what this batch connects,
    and only the touched labels remap. The drained labels are
    row-identical to the one-shot CC of the full edge set (oracle: the
    recursive-CTE min-label closure over the same dual-key graph —
    tractable because link-key components are small; key-node ids live
    above 10^9 so the min-id component convention always lands on a
    real doc_id)."""
    import tempfile

    from ..functions.text import normalized
    from ..streaming.dispatch import file_stream_reader
    from ..streaming.incremental import incremental_connected_components

    stream = file_stream_reader(
        spark,
        f"{sf_dir}/documents*.parquet",
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    norm = normalized(F.col("text"))
    k1 = F.lit(1000000000) + F.conv(
        F.substring(F.md5(norm), 1, 12), 16, 10
    ).cast("long")
    k2 = F.lit(2000000000000000) + F.conv(
        F.substring(F.md5(F.substring(norm, 1, 32)), 1, 12), 16, 10
    ).cast("long")
    edges = stream.select(
        F.col("doc_id").alias("node_a"),
        F.explode(F.array(k1, k2)).alias("node_b"),
    )
    labels = incremental_connected_components(
        edges, tempfile.mkdtemp(prefix="scc_")
    )
    return labels.filter(F.col("node") < 1000000000).select(
        F.col("node").alias("doc_id"), F.col("comp").alias("component")
    )


@register(
    "streaming_dsir_weights",
    """
    WITH arr AS (SELECT doc_id, lang, string_split(text, ' ') AS a
                 FROM documents),
    bg AS (
      SELECT doc_id, lang,
             ('0x' || substring(md5(a[i] || ' ' || a[i + 1]), 1, 15))::BIGINT
               % 4096 AS bkt
      FROM arr, unnest(generate_series(1, len(a) - 1)) t(i)
      WHERE a[i] <> '' AND a[i + 1] <> ''),
    bt AS (
      SELECT bkt, CAST(COUNT(*) AS BIGINT) AS cr,
             CAST(COUNT(CASE WHEN lang = 'en' THEN 1 END) AS BIGINT) AS ct
      FROM bg GROUP BY bkt)
    SELECT bg.doc_id, COUNT(*) AS n_feats,
           CAST(SUM((ct + 1) * 1048576 // (cr + 1)) AS BIGINT) AS dsir_fp
    FROM bg JOIN bt USING (bkt)
    GROUP BY bg.doc_id
    """,
)
def streaming_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of sample_dsir_weights — the DSIR hashed-bigram
    model (per-bucket raw/target counts) maintained continuously over
    the document stream (streaming/incremental.py:
    incremental_dsir_weights: carried ≤4096-row count table absorbed
    with a full-outer integer sum per micro-batch, batch-id-ledgered
    exactly-once; per-document feature rows archived as disjoint
    deltas), scored at drain time by ONE broadcast join of the final
    model onto the archives. Bucket counts are associative-commutative
    integers and features are row-local, so the drained weights are
    row-identical to the batch operator under ANY micro-batch split —
    the batch SQL is the oracle (split-invariance + cross-restart
    replay pinned in tests/test_streaming.py)."""
    import tempfile

    from ..streaming.dispatch import file_stream_reader
    from ..streaming.incremental import incremental_dsir_weights

    stream = file_stream_reader(
        spark,
        f"{sf_dir}/documents*.parquet",
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    return incremental_dsir_weights(stream, tempfile.mkdtemp(prefix="sdsir_"))


@register(
    "streaming_paragraph_dedup",
    _ORACLE["dedup_paragraph_exact"],  # the twin shares the batch oracle
)
def streaming_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of dedup_paragraph_exact — corpus-level paragraph
    dedup with reassembly over the continuously-arriving document stream
    (streaming/incremental.py:incremental_paragraph_dedup): carried SEEN
    passage-fingerprint set, batch-id-ledgered exactly-once; each batch
    applies the batch operator's within-batch keep-first rule, then
    drops anything an earlier batch already kept — prefix semantics
    (taxonomy class (2)), so under the doc_id-ordered split the drained
    shard is row-identical to the batch operator and the batch SQL is
    the oracle (split-invariance + replay + restart pinned in
    tests/test_streaming.py)."""
    import tempfile

    from ..streaming.dispatch import file_stream_reader
    from ..streaming.incremental import incremental_paragraph_dedup

    stream = file_stream_reader(
        spark,
        f"{sf_dir}/documents*.parquet",
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    return incremental_paragraph_dedup(
        stream, tempfile.mkdtemp(prefix="spard_")
    )


@register(
    "streaming_quality_train",
    _ORACLE["text_quality_train"],  # the twin shares the batch oracle
)
def streaming_quality_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of text_quality_train — the quality classifier
    trained over the continuously-arriving document stream
    (streaming/incremental.py:incremental_quality_train): each
    micro-batch archives its row-local (doc_id, y, fb) feature rows as
    an idempotent-by-path parquet delta (taxonomy class (1) BY PATH —
    no carried fold, no ledger; replays rewrite identical bytes), and
    the 3-step fixed-point trainer runs ONCE at drain over the
    accumulated corpus — the production cadence: full-batch gradient
    steps are a global computation, deliberately not folded per batch.
    Drained weights are row-identical to the batch operator under ANY
    split (unordered-split/replay/restart pinned in
    tests/test_streaming.py); the batch SQL is the oracle."""
    import tempfile

    from ..streaming.dispatch import file_stream_reader
    from ..streaming.incremental import incremental_quality_train

    stream = file_stream_reader(
        spark,
        f"{sf_dir}/documents*.parquet",
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    return incremental_quality_train(
        stream, tempfile.mkdtemp(prefix="sqt_")
    )
