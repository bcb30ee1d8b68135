"""'dispatch'-family queries — split verbatim from the queries.py
monolith (r13); registration order within the family is
unchanged, so the driver-sampling interleave is identical.
Shared helpers come from queries/_core.py."""

from __future__ import annotations

from ._core import (  # noqa: F401 — shared query toolkit
    DataFrame,
    EVENT_RULES,
    F,
    SparkSession,
    TIER3_RULES,
    _events_record,
    dsp,
    load_table,
    register,
)


@register(
    "dispatch_route",
    """
    WITH ev AS (
      SELECT event_id, event_type, value,
             CAST(json_extract(props, '$.k') AS INTEGER) AS k
      FROM events
    ), m AS (
      SELECT event_id, 0 AS rule_idx, 'purchases' AS rule_name,
             'topic-purchases' AS topic FROM ev WHERE event_type = 'purchase'
      UNION ALL
      SELECT event_id, 1, 'high-k', 'topic-high-k' FROM ev WHERE k > 90
      UNION ALL
      SELECT event_id, 2, 'big-errors', 'topic-errors' FROM ev
      WHERE event_type = 'error' AND value >= 100
    )
    SELECT event_id, rule_idx, rule_name, topic FROM m
    UNION ALL
    SELECT event_id, -2 AS rule_idx, CAST(NULL AS VARCHAR) AS rule_name,
           'dlq' AS topic
    FROM ev WHERE event_id NOT IN (SELECT event_id FROM m)
    """,
)
def dispatch_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's whole topology as one narrow, shuffle-free stage:
    evaluate all rules once per record, multicast per match, DLQ fallback
    (TopologyProducer.kt:97-231). Scales linearly — no shuffle, no state,
    rules are literals folded into the plan."""
    ev = _events_record(spark, sf_dir)
    out = dsp.dispatch(ev, EVENT_RULES, struct_col="rec")
    return out.select("event_id", "rule_idx", "rule_name", "topic")


@register(
    "dispatch_dlq_envelope",
    """
    WITH ev AS (
      SELECT event_id, event_type, value, props,
             CAST(json_extract(props, '$.k') AS INTEGER) AS k
      FROM events
    )
    SELECT event_id, props AS "txJson", to_base64(encode(props)) AS "txBytes",
           CAST(NULL AS VARCHAR) AS message
    FROM ev
    WHERE NOT (event_type = 'purchase') AND NOT (k > 90)
      AND NOT (event_type = 'error' AND value >= 100)
    """,
)
def dispatch_dlq_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DLQ envelope fields for unmatched records: the router's own
    envelope (dsp.dlq_envelope) parsed back into its three fields and
    checked against the oracle (the exact Jackson-shape envelope string
    is pinned by tests/test_dispatch.py)."""
    ev = _events_record(spark, sf_dir)
    out = dsp.dispatch(ev, EVENT_RULES, struct_col="rec")
    dlq = out.filter(F.col("topic") == dsp.DEFAULT_DLQ_TOPIC)
    env = dsp.dlq_envelope(F.col("props"), F.encode("props", "UTF-8"))
    fields = F.from_json(env, "txJson string, txBytes string, message string")
    return dlq.select("event_id", fields.alias("env")).select("event_id", "env.*")


@register(
    "dispatch_route_tier3",
    """
    WITH ev AS (
      SELECT event_id, event_type, value,
             CAST(json_extract(props, '$.k') AS INTEGER) AS k
      FROM events
    ), m AS (
      SELECT event_id, 0 AS rule_idx, 'error-or-signup' AS rule_name,
             'topic-es' AS topic FROM ev
      WHERE regexp_matches(event_type, '^(?:error|signup)$')
      UNION ALL
      SELECT event_id, 1, 'mid-band-k', 'topic-mid-k' FROM ev
      WHERE k >= 50 AND k < 80
      UNION ALL
      SELECT event_id, 2, 'big-value', 'topic-big' FROM ev
      WHERE value >= 100
    )
    SELECT event_id, rule_idx, rule_name, topic FROM m
    UNION ALL
    SELECT event_id, -2 AS rule_idx, CAST(NULL AS VARCHAR) AS rule_name,
           'dlq' AS topic
    FROM ev WHERE event_id NOT IN (SELECT event_id FROM m)
    """,
)
def dispatch_route_tier3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dispatch topology with a rule bank that runs in the Python
    tier. The record view here is a JSON STRING (to_json of the event —
    the reference's own evaluation substrate, TopologyProducer.kt:213)
    with no typed struct, so every rule — the regex rule (`=~`, Jayway
    full-match semantics), the &&-band filter and the definite paths
    `$.bigValue` / `$.missing` — routes through the ONE fused Arrow UDF
    (dispatch: single json.loads per record for the whole bank). The
    sometimes-absent `bigValue` key (to_json omits nulls) makes the
    definite-path rule a real filter rather than an always-match.

    Scale: still narrow and shuffle-free like dispatch_route; the Python
    stage is one Arrow hop costing parse + 4 cheap walks per record —
    the measured fused-bank design (SURVEY §8 r7 deltas). The oracle
    re-derives every rule relationally; regex full-match anchoring
    (^(?:...)$) mirrors the evaluator's \\A(?:...)\\Z."""
    ev = load_table(spark, sf_dir, "events")
    view = F.to_json(
        F.struct(
            F.col("event_type").alias("eventType"),
            F.get_json_object("props", "$.k").cast("int").alias("k"),
            F.when(F.col("value") >= 100, F.col("value")).alias("bigValue"),
        )
    )
    out = dsp.dispatch(ev.withColumn("tx_json", view), TIER3_RULES, json_col="tx_json")
    return out.select("event_id", "rule_idx", "rule_name", "topic")
