"""Dispatch-rule model + YAML loader.

Reproduces the reference's rule configuration surface
(/root/reference/src/main/kotlin/com/okp4/processor/cosmos/TxsDispatch.kt:15-52):
a YAML document ``rules: [{name, topic, predicate}, ...]`` loaded once at
startup; malformed shape raises ``RulesParseError`` (≅ ParseException,
TxsDispatch.kt:48-49). Rule order in the file is evaluation/tag order
(TopologyProducer.kt:214).

Rules are a tiny driver-side relation — at any scale they are broadcast
into the plan as literal predicate expressions, never shuffled.
"""

from __future__ import annotations

from dataclasses import dataclass

try:
    import yaml
except ImportError:  # pragma: no cover - yaml is baked into the target env
    yaml = None

# Sentinel tags (≅ TopologyProducer.kt:26-29).
ERROR = -1  # record failed to decode
UNFILTERED = -2  # record matched no rule → DLQ


class RulesParseError(ValueError):
    """Raised when the YAML does not have the required rules shape."""


@dataclass(frozen=True)
class DispatchRule:
    name: str
    topic: str
    predicate: str  # JsonPath expression evaluated against the record's JSON view


def _to_rules(obj: object) -> list[DispatchRule]:
    if not isinstance(obj, dict) or not isinstance(obj.get("rules"), list):
        raise RulesParseError("expected a mapping with a 'rules' list")
    rules = []
    for i, item in enumerate(obj["rules"]):
        if not isinstance(item, dict):
            raise RulesParseError(f"rule #{i} is not a mapping")
        fields = []
        for key in ("name", "topic", "predicate"):
            if key not in item:
                raise RulesParseError(f"rule #{i} missing required field {key!r}")
            v = item[key]
            # str() would turn null into the topic "None" and a list or
            # map into its Python repr
            if v is None or isinstance(v, (list, dict)):
                raise RulesParseError(f"rule #{i} field {key!r} must be a scalar, got {v!r}")
            fields.append(str(v))
        rules.append(DispatchRule(*fields))
    return rules


def load_rules(path: str) -> list[DispatchRule]:
    """Load rules from a YAML file (once, driver-side)."""
    with open(path, encoding="utf-8") as f:
        return loads_rules(f.read())


def loads_rules(text: str) -> list[DispatchRule]:
    """Load rules from a YAML string."""
    if yaml is None:  # pragma: no cover
        raise RulesParseError("pyyaml not available")
    try:
        obj = yaml.safe_load(text)
    except yaml.YAMLError as e:
        raise RulesParseError(str(e)) from e
    return _to_rules(obj)
