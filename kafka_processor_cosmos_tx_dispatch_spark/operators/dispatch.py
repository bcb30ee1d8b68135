"""The dispatch engine: rule evaluation → multicast routing → topic column.

Re-expresses the reference topology (/root/reference/src/main/kotlin/com/
okp4/processor/cosmos/TopologyProducer.kt:84-231) as one declarative
DataFrame plan:

    reference                           here
    ---------                           ----
    mapValues tx-deserialization        route(): decode_tx_records or from_json
    mapValues evaluate-tx (:97,205-231) with_matches(): one array<int> column
    flatMapValues flatten (:100-105)    explode(matches)
    split()+branches (:106-201)         a 'topic' string column
    per-branch serialization            value_for_topic() projections

`route()` builds that whole chain from a Kafka-shaped frame.

Semantics pinned by the reference tests (TopologyTest.kt:88-94):
  * multicast — a record matching k rules yields k output rows;
  * rule order = config order, tags are list indices (:214);
  * no match ⇒ sentinel UNFILTERED(-2) ⇒ DLQ with a JSON envelope
    {"txJson": ..., "txBytes": base64, "message": null} (:32-41, 186-195);
  * decode failure ⇒ sentinel ERROR(-1) ⇒ error topic with the ORIGINAL
    input bytes (:122), and only if an error topic is configured (:124) —
    otherwise those records are dropped;
  * per-record predicate evaluation error ⇒ non-match, never a failure
    (:221-223).

Scale notes: rules are a handful of driver-side literals compiled INTO the
plan (no join, no shuffle, no Python in the hot path when predicates
compile natively); evaluation + explode + routing is a single narrow
stage — the whole dispatch path is shuffle-free, exactly like the
reference's stateless topology, and survives any scale-up.
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import jsonpath as jp
from ..functions.exprs import bind
from ..rules import ERROR, UNFILTERED, DispatchRule
from .decode import decode_tx_records

DEFAULT_DLQ_TOPIC = "dlq"
_TIER3 = "__tier3"


def _rule_tiers(
    rules: list[DispatchRule], struct_type: T.DataType | None
) -> list[jp.NodeFn | str | jp.JsonPathError]:
    """Each rule's tier, in rule order: the parse error of a predicate
    that does not parse (never-match), the native node function when the
    record has a struct type the path compiles over, otherwise the
    predicate itself (Python tier). Decided on the parse tree, so it
    needs no SparkContext."""
    tiers: list[jp.NodeFn | str | jp.JsonPathError] = []
    for r in rules:
        try:
            fn = jp.struct_node_fn(struct_type, r.predicate)
            tiers.append(r.predicate if fn is None else fn)
        except jp.JsonPathError as e:
            tiers.append(e)
    return tiers


def python_tier_paths(
    rules: list[DispatchRule],
    json_col: str = "tx_json",
    struct_type: T.StructType | None = None,
) -> list[str]:
    """Predicates, in rule order, that `with_matches` runs in the Python
    tier (all that parse when there is no struct): the contract of a
    precomputed ``tier3_col``. ``json_col`` plays no part in the choice;
    it stays because existing callers pass it."""
    return [t for t in _rule_tiers(rules, struct_type) if isinstance(t, str)]


def with_matches(
    df: DataFrame,
    rules: list[DispatchRule],
    json_col: str | None = None,
    struct_col: str | None = None,
    error_col: str | None = None,
    tier3_col: str | None = None,
) -> DataFrame:
    """Add ``matches: array<int>`` — indices of matching rules in rule order.

    ``[-1]`` for decode failures (error_col non-null), ``[-2]`` when no rule
    matches (≅ getEvaluatedTxList, TopologyProducer.kt:205-231). All rules
    are evaluated once per record against one shared JSON/struct view —
    the reference's evaluate-once/route-by-tag shape; Catalyst's
    subexpression elimination keeps it single-pass.

    `_rule_tiers` decides each rule once: never-match (with a warning)
    when its path does not parse; native, over ``struct_col``; otherwise
    Python — the `python_tier_paths()` rules, whose results are read
    from one ``array<boolean>`` column, one element per Python-tier rule
    in rule order.

    ``tier3_col`` names that column when it is PRECOMPUTED upstream
    (``decode_tx_records(match_paths=...)`` evaluates the rules on the
    decoded object it already holds; `route` wires both). Otherwise the
    JSON-text UDF over ``json_col`` writes it. The column is consumed
    (dropped from the output).
    """
    st = df.schema[struct_col].dataType if struct_col else None
    tiers = _rule_tiers(rules, st)
    py_paths = [t for t in tiers if isinstance(t, str)]
    if py_paths and tier3_col is None:
        if json_col is None:
            raise ValueError(
                f"rule {rules[tiers.index(py_paths[0])].name!r} needs a "
                "json_col or a typed struct_col"
            )
        # Every Python-tier rule rides ONE fused UDF (one json.loads per
        # record for the whole bank, one Arrow column back), MATERIALIZED
        # as its own column: inlined into each element_at it would leave
        # one copy of the PythonUDF per rule for Catalyst to dedup.
        tier3_col = _TIER3
        df = df.withColumn(
            tier3_col, jp.jsonpath_match_many_pandas_udf(py_paths)(F.col(json_col))
        )
    preds: list[Column] = []
    pos = 0
    for r, t in zip(rules, tiers):
        if isinstance(t, jp.JsonPathError):
            warnings.warn(
                f"rule {r.name!r}: unparseable predicate "
                f"{r.predicate!r} ({t}) — compiled to never-match",
                stacklevel=2,
            )
            preds.append(F.lit(False))
        elif isinstance(t, str):
            pos += 1
            # coalesce: a null element (malformed precomputed array)
            # must read as non-match, never null-propagate into `tagged`
            preds.append(F.coalesce(F.element_at(F.col(tier3_col), pos), F.lit(False)))
        else:
            preds.append(F.coalesce(t(F.col(struct_col)), F.lit(False)))
    tagged = F.array(
        *[F.when(p, F.lit(i)).otherwise(F.lit(None)) for i, p in enumerate(preds)]
    )
    hits = F.filter(tagged, lambda x: x.isNotNull())
    no_match = F.array(F.lit(UNFILTERED))
    # bind(): `hits` (the full rule-bank evaluation) appears twice in the
    # WHEN/OTHERWISE below; without the let-binding Catalyst duplicates
    # the whole predicate array textually into both branches (and into
    # any filter later inferred from this column).
    matched = bind(
        hits, lambda h: F.when(F.size(h) > 0, h).otherwise(no_match)
    )
    if error_col is not None:
        matched = F.when(
            F.col(error_col).isNotNull(), F.array(F.lit(ERROR))
        ).otherwise(matched)
    out = df.withColumn("matches", matched.cast(T.ArrayType(T.IntegerType())))
    return out.drop(tier3_col) if tier3_col is not None else out


def topic_map(
    rules: list[DispatchRule],
    dlq_topic: str = DEFAULT_DLQ_TOPIC,
    error_topic: str | None = None,
) -> Column:
    """rule_idx → destination topic as a literal map (broadcast by value)."""
    pairs: list[Column] = []
    for i, r in enumerate(rules):
        pairs += [F.lit(i), F.lit(r.topic)]
    pairs += [F.lit(UNFILTERED), F.lit(dlq_topic)]
    if error_topic is not None:
        pairs += [F.lit(ERROR), F.lit(error_topic)]
    return F.create_map(*pairs)


def dispatch(
    df: DataFrame,
    rules: list[DispatchRule],
    json_col: str | None = None,
    struct_col: str | None = None,
    error_col: str | None = None,
    dlq_topic: str = DEFAULT_DLQ_TOPIC,
    error_topic: str | None = None,
    tier3_col: str | None = None,
) -> DataFrame:
    """Full routing: one output row per (record, destination).

    Adds ``rule_idx`` (int; -1 error, -2 unfiltered), ``rule_name`` (null
    for sentinels) and ``topic``. Records that fail decode are DROPPED when
    no error topic is configured (TopologyProducer.kt:124-131).
    ``tier3_col``: see `with_matches` — precomputed Python-tier results.
    """
    out = with_matches(
        df, rules, json_col, struct_col, error_col, tier3_col=tier3_col
    )
    # explode_outer, deliberately: `matches` is never empty (the UNFILTERED
    # sentinel guarantees ≥1 element) so outer vs inner explode is
    # semantically identical — but the non-outer Generate makes Catalyst
    # infer a `size(matches) > 0` filter and push it below the Generate,
    # re-evaluating the entire rule bank once more per input row (measured
    # ~2× on the dispatch bench).
    out = out.withColumn("rule_idx", F.explode_outer("matches")).drop("matches")
    if error_topic is None:
        out = out.filter(F.col("rule_idx") != F.lit(ERROR))
    name_pairs: list[Column] = []
    for i, r in enumerate(rules):
        name_pairs += [F.lit(i), F.lit(r.name)]
    out = out.withColumn(
        "rule_name", F.element_at(F.create_map(*name_pairs), F.col("rule_idx"))
    )
    out = out.withColumn(
        "topic", F.element_at(topic_map(rules, dlq_topic, error_topic), F.col("rule_idx"))
    )
    return out


def dlq_envelope(tx_json: Column, raw_bytes: Column) -> Column:
    """The DLQ JSON envelope, field-for-field with the reference's Jackson
    serialization of ``DLQ(txJson, txBytes, message)`` (TopologyProducer.kt:
    32-41, 186-195): camelCase keys, bytes base64-encoded, explicit nulls
    (the reference never sets ``message``).
    """
    fields = [
        tx_json.alias("txJson"),
        # Spark 4's chunked base64 puts CRLF after every 76 characters;
        # Jackson's byte[] encoding never wraps. replace() is a byte
        # search; translate() would cost about ten times as much per row.
        F.replace(F.base64(raw_bytes), F.lit("\r\n"), F.lit("")).alias("txBytes"),
        F.lit(None).cast("string").alias("message"),
    ]
    return F.to_json(F.struct(*fields), {"ignoreNullFields": "false"})


def value_for_topic(
    dispatched: DataFrame,
    rules: list[DispatchRule],
    payload_col: str,
    json_col: str | None = None,
) -> DataFrame:
    """Project the per-destination output value, mirroring the branches:

    DLQ → the JSON envelope as a string (TopologyProducer.kt:186-195),
    its txBytes the payload;
    rule topics and the error topic → the payload (kt:155-159, :122).

    The payload is the input bytes. The reference writes the rebuilt
    Tx's `toByteArray()` to rule topics and into txBytes, which equals
    the input for every canonically encoded tx; a non-canonical but
    decodable tx is forwarded as it came.

    Output column ``value`` is binary (DLQ string UTF-8 encoded) so one
    Kafka sink handles all destinations.
    """
    payload = F.col(payload_col).cast("binary")
    txj = F.col(json_col) if json_col else F.lit(None).cast("string")
    value = F.when(
        F.col("rule_idx") == F.lit(UNFILTERED),
        F.encode(dlq_envelope(txj, payload), "UTF-8"),
    ).otherwise(payload)
    return dispatched.withColumn("value", value)


def route(
    df: DataFrame,
    rules: list[DispatchRule],
    *,
    schema: T.StructType | None = None,
    error_topic: str | None = None,
    dlq_topic: str = DEFAULT_DLQ_TOPIC,
) -> DataFrame:
    """The whole topology, batch or streaming: decode → match →
    multicast → per-topic ``value``. One row per (record, destination):
    ``df``'s columns, the tx views, ``rule_idx``, ``rule_name``, ``topic``,
    and ``value`` replaced by the destination's payload.

    ``df``'s ``value`` holds TxRaw wire bytes (``schema is None``: decoded
    in Python, every rule evaluated on the decoded object in the decode
    UDF) or protobuf-JSON text of struct type ``schema`` (``from_json``;
    rules native where they compile, the rest in the JSON-text UDF)."""
    if schema is None:
        df = decode_tx_records(
            df, match_paths=python_tier_paths(rules), tier3_col=_TIER3
        )
        views = {"error_col": "error", "tier3_col": _TIER3}
    else:
        df = df.withColumn("tx_json", F.col("value").cast("string"))
        df = df.withColumn("tx", F.from_json("tx_json", schema))
        views = {"struct_col": "tx"}
    routed = dispatch(
        df, rules, json_col="tx_json", dlq_topic=dlq_topic,
        error_topic=error_topic, **views,
    )
    return value_for_topic(routed, rules, payload_col="value", json_col="tx_json")


def dispatch_metrics() -> list[Column]:
    """The observability analog of the reference's three peek taps
    (decode-failure / per-rule routing / unfiltered logs,
    TopologyProducer.kt:114-121, 152-154, 183-185): counters computed
    inline by the observe() framework — collected as accumulators during
    the normal pass, zero extra jobs, zero extra scans.
    """
    return [
        F.count(F.lit(1)).alias("n_output_rows"),
        F.count_if(F.col("rule_idx") >= 0).alias("n_rule_matches"),
        F.count_if(F.col("rule_idx") == F.lit(UNFILTERED)).alias("n_unfiltered"),
        F.count_if(F.col("rule_idx") == F.lit(ERROR)).alias("n_decode_errors"),
    ]


def with_observed_metrics(dispatched: DataFrame, name: str = "dispatch_metrics"):
    """Batch: returns (df, Observation) — read ``observation.get`` after an
    action. The reference logs per-record; at 100 TB per-record logging is
    the anti-pattern, so the engine surfaces the same information as
    per-pass aggregate metrics."""
    from pyspark.sql import Observation

    obs = Observation(name)
    return dispatched.observe(obs, *dispatch_metrics()), obs


def with_streaming_metrics(dispatched: DataFrame, name: str = "dispatch_metrics") -> DataFrame:
    """Streaming: named observation; per-batch values arrive in every
    StreamingQueryProgress.observedMetrics[name] (hook a
    StreamingQueryListener to ship them to a metrics sink)."""
    return dispatched.observe(name, *dispatch_metrics())
