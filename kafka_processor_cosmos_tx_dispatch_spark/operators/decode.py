"""Binary tx decode stage: the reference's `tx-deserialization` operator
(TopologyProducer.kt:86-96) as an Arrow-batched transformation.

Input: any DataFrame with a binary `value` column (Kafka's record value
shape). Output adds:

    tx_json: string  — canonical protobuf-JSON of the decoded Tx
                       (null when decode failed), the bytes of
                       json.dumps(obj, separators=(",", ":")); see
                       tx_json_text
    error:   string  — decode failure message (null when decode
                       succeeded)

The original `value` bytes pass through untouched — the error branch
must emit them verbatim (TopologyProducer.kt:122), and rule topics may
re-serialize (here: original bytes, which round-trip identically for
the supported subset).

`operators/dispatch.py:route` wires this stage to dispatch and
`value_for_topic` — the full reference topology with zero extra stages.
"""

from __future__ import annotations

import json
import os

import orjson
import pandas as pd
from pyspark.sql import DataFrame

from ..functions import protowire, pyworker

_ADDED = "tx_json string, error string"

DESCRIPTOR_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "resources",
    "cosmos_tx.desc",
)


def tx_json_text(obj: dict) -> str:
    """``json.dumps(obj, separators=(",", ":"))``, byte for byte, at
    orjson's speed (14.6 → 2.3 µs per seed-1 drain_wire record, checks
    included).  The two agree on every decoded tx except three cases,
    which take json.dumps: non-ASCII text (json.dumps escapes it, orjson
    does not), DEL 0x7f (json.dumps writes ``\\u007f``), and what orjson
    refuses (integers beyond 64 bits, nesting past 254 levels).  Floats
    would also differ, but no field of the descriptor set is a float or
    a double."""
    try:
        b = orjson.dumps(obj)
        if b.isascii() and b"\x7f" not in b:
            return b.decode()
    except TypeError:  # orjson.JSONEncodeError
        pass
    return json.dumps(obj, separators=(",", ":"))


def load_descriptor_set() -> bytes:
    """The checked-in FileDescriptorSet for cosmos.tx.v1beta1 (+ bank/
    staking/gov/distribution msgs), generated by tools/gen_descriptor.py
    without protoc — the Spark-native analog of the reference's compiled
    proto classes (TopologyProducer.kt:86-96)."""
    with open(DESCRIPTOR_PATH, "rb") as fh:
        return fh.read()


def decode_tx_records(
    df: DataFrame,
    value_col: str = "value",
    match_paths: list[str] | None = None,
    tier3_col: str = "__tier3",
) -> DataFrame:
    """Arrow-batched decode with Result-style failure capture: wire
    parsing runs per record in Python, in the generated decoders
    (functions/descriptors.py).

    Shape: a SCALAR pandas_udf over ONLY the value column returning
    struct<tx_json, error> — passthrough columns (key, offsets, any
    upstream additions) never cross the Arrow boundary, unlike the
    earlier mapInPandas full-frame roundtrip (which shipped and copied
    every column both ways; switching measured ~13% on the 2-column
    shape and grows with row width).

    ``match_paths``: JsonPath predicates to evaluate ON THE DECODED
    OBJECT inside the same UDF, emitted as ``tier3_col:
    array<boolean>`` for `dispatch(tier3_col=...)`. `route` passes
    `python_tier_paths(rules)` — on wire input that is every rule that
    parses, in rule order. Without this fusion the downstream
    Python matcher re-parses the JSON text the decoder just serialized
    — one redundant json.loads per record — AND the ~KB tx_json strings
    make a second full Arrow round-trip to a separate Python worker
    pool; fusing removes both (the dict is matched in-place before
    serialization). Evaluating on the pre-dumps dict is exact: tx_json
    is json.dumps(obj) (tx_json_text), so loads(tx_json) == obj for the
    JSON-safe values the decoder emits. The predicates are compiled to
    Python source on the driver (jsonpath.compile_predicate) and ship
    with the UDF. Per-path error semantics match the
    unfused tier (error ⇒ False for that rule only,
    TopologyProducer.kt:221-223); decode failures emit all-False (the
    dispatcher's error sentinel wins before the Python-tier results are
    consulted)."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from ..functions import jsonpath as jp

    fused = match_paths is not None
    preds = [jp.compile_predicate(p) for p in (match_paths or [])]
    n_paths = len(preds)
    schema = _ADDED + (f", {tier3_col} array<boolean>" if fused else "")

    @pandas_udf(schema)
    def decode_udf(vals: pd.Series) -> pd.DataFrame:
        pyworker.prepare()
        txs: list[str | None] = []
        errs: list[str | None] = []
        t3: list[list[bool]] = []
        for raw in vals:
            try:
                obj = protowire.decode_tx(bytes(raw))
                txs.append(tx_json_text(obj))
                errs.append(None)
                if fused:
                    t3.append([p(obj) for p in preds])
                continue
            except protowire.DecodeError as e:
                txs.append(None)
                errs.append(str(e))
            except Exception as e:  # noqa: BLE001 — backstop: the
                # reference captures ALL deserialization failures
                # (runCatching, TopologyProducer.kt:122); one
                # malformed record must route to the error topic,
                # never kill the task
                txs.append(None)
                errs.append(f"{type(e).__name__}: {e}")
            if fused:
                t3.append([False] * n_paths)
        out = {"tx_json": txs, "error": errs}
        if fused:
            out[tier3_col] = t3
        return pd.DataFrame(out)

    cols = [F.col("__decoded.tx_json"), F.col("__decoded.error")]
    if fused:
        cols.append(F.col(f"__decoded.{tier3_col}"))
    out = df.withColumn("__decoded", decode_udf(value_col))
    return out.select(*df.columns, *cols)
