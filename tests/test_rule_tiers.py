"""Rule tiers are chosen from the parse tree alone: classifying a rule
bank must neither need nor start a SparkContext."""

import json
import os
import subprocess
import sys

SCRIPT = """
import json, pyspark
from pyspark.sql import types as T
from kafka_processor_cosmos_tx_dispatch_spark.operators import dispatch as dsp
from kafka_processor_cosmos_tx_dispatch_spark.rules import DispatchRule

msg = T.StructType([T.StructField("@type", T.StringType())])
tx = T.StructType([T.StructField("messages", T.ArrayType(msg))])
bank = [DispatchRule(p, "t", p) for p in (
    "$.messages[?(@.@type == 'x')]", "$.a[0:2", "$.nop", "$.messages[-2:]", "$..@type"
)]
print(json.dumps([
    dsp.python_tier_paths(bank),
    dsp.python_tier_paths(bank, json_col="tx_json", struct_type=tx),
    pyspark.SparkContext._active_spark_context is None,
]))
"""


def test_python_tier_paths_needs_no_spark_context():
    """Without a struct every rule that parses runs in Python; with one,
    only the rule outside the native subset (a negative slice) does. The
    unparseable rule is in neither list."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT], cwd=root, capture_output=True, text=True,
        timeout=120, check=True,
    )
    wire, struct, no_spark = json.loads(out.stdout.strip().splitlines()[-1])
    assert wire == ["$.messages[?(@.@type == 'x')]", "$.nop", "$.messages[-2:]", "$..@type"]
    assert struct == ["$.messages[-2:]"]
    assert no_spark
