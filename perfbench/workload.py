"""Seeded workload generators and the routing oracle of the benchmark.

Each workload draws its records from a pool of *skeleton* transactions.  A
skeleton is the protobuf-JSON object a transaction stands for (camelCase
keys, ``@type`` on ``Any``, 64-bit integers and enums as strings, bytes as
base64), built from the seed.  Every field that makes a record unique —
coin amounts, memo digits, the public key and the 64-byte signature, an
opaque ``Any`` payload — has a fixed width, so a skeleton's encoding is a
byte template with those fields at fixed positions.  ``batch()`` copies
templates and fills the positions with fresh random digits and bytes, which
makes every payload unique at numpy speed.

The oracle decides a record's topics from its skeleton with plain-Python
predicates written next to each rule's JsonPath.  It never goes through
the package's decoder or JsonPath engine; the fields it reads (types,
addresses, denoms, vote options, memo presence, message count) are the
same in every record of a skeleton.

* ``WireGen`` — ``TxRaw`` bytes from this module's own encoder: 1 to 3 of
  MsgSend, MsgDelegate, MsgVote and MsgWithdrawDelegatorReward, a secp256k1
  ``PubKey`` signer, a fee and a signature.  One skeleton in ten is cut
  inside its signature field, so it cannot be decoded, and about one in a hundred
  carries an ``Any`` of an unregistered type.
* ``FanoutGen`` — protobuf-JSON text of MsgSend, MsgVote and
  MsgWithdrawDelegatorReward transactions, as an indexer topic carries it.
  About 30 % are quiet transfers that no rule matches.
"""

from __future__ import annotations

import base64
import copy
import json
import random
import zlib
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np

MSG_SEND = "/cosmos.bank.v1beta1.MsgSend"
MSG_DELEGATE = "/cosmos.staking.v1beta1.MsgDelegate"
MSG_VOTE = "/cosmos.gov.v1beta1.MsgVote"
MSG_WITHDRAW = "/cosmos.distribution.v1beta1.MsgWithdrawDelegatorReward"
SECP256K1_PUBKEY = "/cosmos.crypto.secp256k1.PubKey"
UNREGISTERED = "/perfbench.unregistered.v1.MsgOpaque"

VOTE_OPTIONS = {
    1: "VOTE_OPTION_YES",
    2: "VOTE_OPTION_ABSTAIN",
    3: "VOTE_OPTION_NO",
    4: "VOTE_OPTION_NO_WITH_VETO",
}
VOTE_NUMBERS = {name: n for n, name in VOTE_OPTIONS.items()}

DLQ_TOPIC = "dlq"
ERROR_TOPIC = "errors"
SKELETONS = 2048

_BECH32 = "qpzry9x8gf2tvdw0s3jn54khce6mua7l"
_B64_ALPHABET = np.frombuffer(
    b"ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/", np.uint8
)


def _address(rng: random.Random, hrp: str) -> str:
    return hrp + "1" + "".join(rng.choice(_BECH32) for _ in range(38))


def _b64(data: bytes) -> str:
    return base64.b64encode(data).decode()


# --------------------------------------------------------------------------
# wire encoder (independent of the package's protowire module)
# --------------------------------------------------------------------------

_ONE_BYTE = [bytes((n,)) for n in range(128)]


def _varint(n: int) -> bytes:
    if n < 128:
        return _ONE_BYTE[n]
    out = bytearray()
    while n > 0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _ld(field_no: int, data: bytes) -> bytes:
    return _ONE_BYTE[field_no << 3 | 2] + _varint(len(data)) + data


def _vf(field_no: int, n: int) -> bytes:
    return _ONE_BYTE[field_no << 3] + _varint(n)


def _s(field_no: int, text: str) -> bytes:
    return _ld(field_no, text.encode())


def _coin(c: dict) -> bytes:
    return _s(1, c["denom"]) + _s(2, c["amount"])


def message_payload(m: dict) -> bytes:
    """The ``Any.value`` bytes of one message."""
    t = m["@type"]
    if t == MSG_SEND:
        body = _s(1, m["fromAddress"]) + _s(2, m["toAddress"])
        body += b"".join(_ld(3, _coin(c)) for c in m["amount"])
    elif t == MSG_DELEGATE:
        body = _s(1, m["delegatorAddress"]) + _s(2, m["validatorAddress"])
        body += _ld(3, _coin(m["amount"]))
    elif t == MSG_VOTE:
        body = _vf(1, int(m["proposalId"])) + _s(2, m["voter"])
        body += _vf(3, VOTE_NUMBERS[m["option"]])
    elif t == MSG_WITHDRAW:
        body = _s(1, m["delegatorAddress"]) + _s(2, m["validatorAddress"])
    else:  # opaque Any: the JSON rendering carries the payload as base64
        body = base64.b64decode(m["value"])
    return body


def _msg(m: dict) -> bytes:
    return _s(1, m["@type"]) + _ld(2, message_payload(m))


def encode_tx(tx: dict) -> bytes:
    """TxRaw bytes for a protobuf-JSON tx object built by this module."""
    b = tx["body"]
    body = b"".join(_ld(1, _msg(m)) for m in b["messages"])
    if "memo" in b:
        body += _s(2, b["memo"])
    if "timeoutHeight" in b:
        body += _vf(3, int(b["timeoutHeight"]))
    signer = tx["authInfo"]["signerInfos"][0]
    pk = signer["publicKey"]
    pk_any = _s(1, pk["@type"]) + _ld(2, _ld(1, base64.b64decode(pk["key"])))
    si = _ld(1, pk_any) + _vf(3, int(signer["sequence"]))
    fee = tx["authInfo"]["fee"]
    fee_b = b"".join(_ld(1, _coin(c)) for c in fee["amount"])
    fee_b += _vf(2, int(fee["gasLimit"]))
    auth = _ld(1, si) + _ld(2, fee_b)
    return _ld(1, body) + _ld(2, auth) + _ld(3, base64.b64decode(tx["signatures"][0]))


# --------------------------------------------------------------------------
# skeleton templates
# --------------------------------------------------------------------------


def fill(tx: dict, digit: str, byte: int) -> dict:
    """A copy of ``tx`` with every per-record field set to one repeated
    digit or byte.  Two fills that differ mark the per-record positions of
    an encoding; ``fill(x, "0", 0)`` also normalizes a decoded record for
    comparison with its skeleton."""
    tx = copy.deepcopy(tx)
    for m in tx["body"]["messages"]:
        a = m.get("amount")
        for c in a if isinstance(a, list) else [a] if isinstance(a, dict) else []:
            c["amount"] = digit * len(c["amount"])
        if "value" in m:
            m["value"] = _b64(bytes([byte]) * len(base64.b64decode(m["value"])))
    if "memo" in tx["body"]:
        tx["body"]["memo"] = "ref:" + digit * 12
    pk = tx["authInfo"]["signerInfos"][0]["publicKey"]
    pk["key"] = _b64(base64.b64decode(pk["key"])[:1] + bytes([byte]) * 32)
    for c in tx["authInfo"]["fee"]["amount"]:
        c["amount"] = digit * len(c["amount"])
    tx["signatures"] = [_b64(bytes([byte]) * 64)]
    return tx


class Template:
    """One skeleton's encoding with its per-record positions: ``digits``
    take an ASCII digit, ``free`` any byte (wire) or base64 character
    (JSON text)."""

    def __init__(self, a: bytes, b: bytes, cut: int | None = None):
        base = np.frombuffer(a, np.uint8)
        pos = np.nonzero(base != np.frombuffer(b, np.uint8))[0]
        if cut is not None:
            base, pos = base[:cut], pos[pos < cut]
        self.base = base
        self.raw = base.tobytes()
        self.digits = pos[base[pos] == ord("1")]
        self.free = pos[base[pos] != ord("1")]


def wire_template(tx: dict, cut: int | None = None) -> Template:
    return Template(encode_tx(fill(tx, "1", 0)), encode_tx(fill(tx, "2", 255)), cut)


def _json(tx: dict) -> bytes:
    return json.dumps(tx, separators=(",", ":")).encode()


def json_template(tx: dict) -> Template:
    return Template(_json(fill(tx, "1", 0)), _json(fill(tx, "2", 255)))


def _spans(starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Concatenation of ``arange(s, s + c)`` for each (s, c) pair."""
    total = int(counts.sum())
    ends = np.cumsum(counts)
    return np.repeat(starts - (ends - counts), counts) + np.arange(total)


def _flat(parts: list[np.ndarray]) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(concatenation, start of each part in it, length of each part)."""
    counts = np.array([p.size for p in parts], np.int64)
    starts = np.cumsum(counts) - counts
    return np.concatenate(parts).astype(np.int64), starts, counts


def materialize(
    templates: list[Template], ids: np.ndarray, rng: np.random.Generator, text: bool
) -> tuple[np.ndarray, np.ndarray]:
    """(int32 offsets of length n + 1, uint8 data) of one fresh record per
    entry of ``ids``, in order — the layout of an Arrow binary column."""
    picked = [templates[i].raw for i in ids.tolist()]
    offsets = np.zeros(ids.size + 1, np.int64)
    np.cumsum([len(r) for r in picked], out=offsets[1:])
    data = np.frombuffer(b"".join(picked), np.uint8).copy()
    for kind in ("digits", "free"):
        pos, p_start, p_len = _flat([getattr(t, kind) for t in templates])
        counts = p_len[ids]
        at = np.repeat(offsets[:-1], counts) + pos[_spans(p_start[ids], counts)]
        if kind == "digits":
            data[at] = rng.integers(48, 58, at.size, dtype=np.uint8)
        elif text:
            data[at] = _B64_ALPHABET[rng.integers(0, 64, at.size)]
        else:
            data[at] = rng.integers(0, 256, at.size, dtype=np.uint8)
    return offsets.astype(np.int32), data


# --------------------------------------------------------------------------
# rule banks, each rule with its oracle predicate
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class Rule:
    name: str
    path: str
    oracle: Callable[[dict], bool]

    @property
    def topic(self) -> str:
        return self.name


def _msgs(tx: dict) -> list[dict]:
    return tx["body"]["messages"]


def _coins(tx: dict) -> list[dict]:
    """Every object ``$..amount`` reaches that can carry a denom."""
    out = []
    for m in _msgs(tx):
        a = m.get("amount")
        if isinstance(a, list):
            out.extend(a)
        elif isinstance(a, dict):
            out.append(a)
    out.extend(tx["authInfo"]["fee"]["amount"])
    return out


def _field_is(field: str, value: str) -> Callable[[dict], bool]:
    return lambda tx: any(m.get(field) == value for m in _msgs(tx))


def _has_denom(denom: str) -> Callable[[dict], bool]:
    return lambda tx: any(c["denom"] == denom for c in _coins(tx))


def rules_yaml(rules: list[Rule]) -> str:
    """The bank as the YAML rules document the package loads."""
    lines = ["rules:"]
    for r in rules:
        lines += [
            f"  - name: {r.name}",
            f"    topic: {r.topic}",
            f"    predicate: {json.dumps(r.path)}",
        ]
    return "\n".join(lines) + "\n"


def expected_topics(rules: list[Rule], tx: dict | None) -> list[str]:
    """Topics one record must reach: matching rules in bank order, else the
    DLQ; an undecodable record (``tx is None``) goes to the error topic."""
    if tx is None:
        return [ERROR_TOPIC]
    hits = [r.topic for r in rules if r.oracle(tx)]
    return hits or [DLQ_TOPIC]


def crc(key: str, topic: str) -> int:
    """Per-output check value; the engine side computes
    ``crc32(encode(concat_ws('|', key, topic), 'UTF-8'))``."""
    return zlib.crc32(f"{key}|{topic}".encode())


# --------------------------------------------------------------------------
# generators
# --------------------------------------------------------------------------


class _Gen:
    """Skeleton pool plus fresh records drawn from it.  ``txs[k]`` is
    skeleton ``k`` (None when undecodable); ``batch(start, n)`` depends only
    on ``(seed, start, n)``."""

    TEXT = False
    txs: list[dict | None]
    templates: list[Template]

    def __init__(self, seed: int):
        self.seed = seed

    def batch(
        self, start: int, n: int, ids: np.ndarray | None = None
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(skeleton ids, offsets, data) of records ``start .. start+n-1``;
        ``ids`` picks the skeletons instead of drawing them."""
        rng = np.random.default_rng([self.seed, start, n])
        if ids is None:
            ids = rng.integers(0, len(self.templates), n)
        return (ids, *materialize(self.templates, ids, rng, self.TEXT))

    def topics(self, rules: list[Rule]) -> list[list[str]]:
        """Expected topics per skeleton."""
        return [expected_topics(rules, tx) for tx in self.txs]


def _signed(rng: random.Random, body: dict, fee_denom: str) -> dict:
    """Wrap a body into a tx with one secp256k1 signer, a fee and a 64-byte
    signature."""
    return {
        "body": body,
        "authInfo": {
            "signerInfos": [
                {
                    "publicKey": {
                        "@type": SECP256K1_PUBKEY,
                        "key": _b64(bytes([rng.choice((2, 3))]) + rng.randbytes(32)),
                    },
                    "sequence": str(rng.randrange(1, 10**6)),
                }
            ],
            "fee": {
                "amount": [
                    {"denom": fee_denom, "amount": str(rng.randrange(10**5, 10**6))}
                ],
                "gasLimit": str(rng.randrange(80_000, 400_000)),
            },
        },
        "signatures": [_b64(rng.randbytes(64))],
    }


def _amount(rng: random.Random) -> str:
    return str(rng.randrange(10**8, 10**9))


def _memo(rng: random.Random) -> str:
    return f"ref:{rng.randrange(10**12):012d}"


DENOMS = ["uatom", "uatom", "uatom", "uosmo", "ujuno"]


class WireGen(_Gen):
    """``TxRaw`` records for ``drain_wire`` and ``live_tail``."""

    ERROR_EVERY = 10  # skeletons k ≡ 7 (mod 10) are truncated
    UNREGISTERED_EVERY = 97  # skeletons k ≡ 3 (mod 97) carry an opaque Any

    def __init__(self, seed: int):
        super().__init__(seed)
        rng = random.Random(f"wire-{seed}")
        self.accounts = [_address(rng, "cosmos") for _ in range(512)]
        self.validators = [_address(rng, "cosmosvaloper") for _ in range(24)]
        self.hot_validator = self.validators[0]
        self.txs, self.templates = [], []
        for k in range(SKELETONS):
            tx = self._skeleton(rng, k % self.UNREGISTERED_EVERY == 3)
            if k % self.ERROR_EVERY == 7:
                # cut inside the trailing signature field: its declared
                # length overruns the buffer, so no protobuf reader can
                # decode the record, while the public key keeps it unique
                self.txs.append(None)
                cut = len(encode_tx(tx)) - rng.randrange(1, 60)
                self.templates.append(wire_template(tx, cut))
            else:
                self.txs.append(tx)
                self.templates.append(wire_template(tx))

    def _skeleton(self, rng: random.Random, unregistered: bool) -> dict:
        msgs = []
        for _ in range(rng.choice((1, 1, 1, 2, 2, 3))):
            kind = rng.randrange(4)
            if kind == 0:
                msgs.append(
                    {
                        "@type": MSG_SEND,
                        "fromAddress": rng.choice(self.accounts),
                        "toAddress": rng.choice(self.accounts),
                        "amount": [{"denom": rng.choice(DENOMS), "amount": _amount(rng)}],
                    }
                )
            elif kind == 1:
                msgs.append(
                    {
                        "@type": MSG_DELEGATE,
                        "delegatorAddress": rng.choice(self.accounts),
                        "validatorAddress": self._validator(rng),
                        "amount": {"denom": rng.choice(DENOMS), "amount": _amount(rng)},
                    }
                )
            elif kind == 2:
                msgs.append(
                    {
                        "@type": MSG_VOTE,
                        "proposalId": str(rng.randrange(1, 900)),
                        "voter": rng.choice(self.accounts),
                        "option": VOTE_OPTIONS[rng.randrange(1, 5)],
                    }
                )
            else:
                msgs.append(
                    {
                        "@type": MSG_WITHDRAW,
                        "delegatorAddress": rng.choice(self.accounts),
                        "validatorAddress": self._validator(rng),
                    }
                )
        if unregistered:
            msgs.append(
                {"@type": UNREGISTERED, "value": _b64(rng.randbytes(rng.randrange(8, 48)))}
            )
        body: dict = {"messages": msgs}
        if rng.random() < 0.25:
            body["memo"] = _memo(rng)
        if rng.random() < 0.1:
            body["timeoutHeight"] = str(rng.randrange(10**7, 2 * 10**7))
        return _signed(rng, body, rng.choice(DENOMS))

    def _validator(self, rng: random.Random) -> str:
        return self.hot_validator if rng.random() < 0.2 else rng.choice(self.validators)


def wire_rules(gen: WireGen) -> list[Rule]:
    """Eight rules: five tier-3 filters (Python, fused into decode) and
    three tier-2 definite paths (``get_json_object``)."""
    hot = gen.hot_validator
    against = ("VOTE_OPTION_NO", "VOTE_OPTION_NO_WITH_VETO")
    return [
        Rule(
            "send",
            f"$.body.messages[?(@.@type == '{MSG_SEND}')]",
            _field_is("@type", MSG_SEND),
        ),
        Rule("osmo_coin", "$..amount[?(@.denom == 'uosmo')]", _has_denom("uosmo")),
        Rule(
            "vote_against",
            f"$.body.messages[?(@.option in ['{against[0]}', '{against[1]}'])]",
            lambda tx: any(m.get("option") in against for m in _msgs(tx)),
        ),
        Rule(
            "hot_validator",
            f"$..messages[?(@.validatorAddress == '{hot}')]",
            _field_is("validatorAddress", hot),
        ),
        Rule(
            "opaque_any",
            "$.body.messages[?(@.value)]",
            lambda tx: any("value" in m for m in _msgs(tx)),
        ),
        Rule("memo", "$.body.memo", lambda tx: "memo" in tx["body"]),
        Rule("multi_msg", "$.body.messages[1]", lambda tx: len(_msgs(tx)) > 1),
        Rule("timeout", "$.body.timeoutHeight", lambda tx: "timeoutHeight" in tx["body"]),
    ]


FANOUT_DENOMS = ["uatom", "uosmo", "ujuno", "ibc/27394FB092D2ECCD56123C74F36E4C1F9260"]


class FanoutGen(_Gen):
    """Protobuf-JSON text records for ``json_fanout``."""

    TEXT = True
    QUIET_SHARE = 0.3

    def __init__(self, seed: int):
        super().__init__(seed)
        rng = random.Random(f"fanout-{seed}")
        self.hot = [_address(rng, "cosmos") for _ in range(8)]
        self.cold = [_address(rng, "cosmos") for _ in range(256)]
        self.validators = [_address(rng, "cosmosvaloper") for _ in range(16)]
        self.txs = [self._skeleton(rng) for _ in range(SKELETONS)]
        self.templates = [json_template(tx) for tx in self.txs]

    def _skeleton(self, rng: random.Random) -> dict:
        if rng.random() < self.QUIET_SHARE:
            # a plain transfer between cold accounts in ``stake``: no rule of
            # the fan-out bank matches it, so it lands in the DLQ
            send = {
                "@type": MSG_SEND,
                "fromAddress": rng.choice(self.cold),
                "toAddress": rng.choice(self.cold),
                "amount": [{"denom": "stake", "amount": _amount(rng)}],
            }
            return _signed(rng, {"messages": [send]}, "stake")
        msgs = []
        for _ in range(rng.choice((1, 1, 1, 2, 2, 3))):
            kind = rng.randrange(3)
            if kind == 0:
                msgs.append(
                    {
                        "@type": MSG_SEND,
                        "fromAddress": self._addr(rng, 0.4),
                        "toAddress": self._addr(rng, 0.2),
                        "amount": [
                            {"denom": rng.choice(FANOUT_DENOMS), "amount": _amount(rng)}
                            for _ in range(rng.choice((1, 1, 2)))
                        ],
                    }
                )
            elif kind == 1:
                msgs.append(
                    {
                        "@type": MSG_VOTE,
                        "proposalId": str(rng.choice((42, 43, 44, 45))),
                        "voter": rng.choice(self.cold),
                        "option": VOTE_OPTIONS[rng.randrange(1, 5)],
                    }
                )
            else:
                msgs.append(
                    {
                        "@type": MSG_WITHDRAW,
                        "delegatorAddress": rng.choice(self.cold),
                        "validatorAddress": rng.choice(self.validators),
                    }
                )
        body: dict = {"messages": msgs}
        if rng.random() < 0.2:
            body["memo"] = _memo(rng)
        if rng.random() < 0.15:
            body["timeoutHeight"] = str(rng.randrange(10**7, 2 * 10**7))
        return _signed(rng, body, rng.choice(FANOUT_DENOMS))

    def _addr(self, rng: random.Random, hot_share: float) -> str:
        return rng.choice(self.hot if rng.random() < hot_share else self.cold)


def fanout_rules(gen: FanoutGen) -> list[Rule]:
    """32 rules that all compile to native Catalyst predicates on the
    parsed struct: type and vote-option filters, hot senders, receivers
    and validators, denoms anywhere in the tx, and definite paths."""
    rules = [
        Rule("vote", f"$.body.messages[?(@.@type == '{MSG_VOTE}')]", _field_is("@type", MSG_VOTE)),
        Rule(
            "withdraw",
            f"$.body.messages[?(@.@type == '{MSG_WITHDRAW}')]",
            _field_is("@type", MSG_WITHDRAW),
        ),
    ]
    for n, opt in VOTE_OPTIONS.items():
        rules.append(
            Rule(f"option_{n}", f"$.body.messages[?(@.option == '{opt}')]", _field_is("option", opt))
        )
    for k, a in enumerate(gen.hot):
        rules.append(
            Rule(
                f"from_hot_{k}",
                f"$.body.messages[?(@.fromAddress == '{a}')]",
                _field_is("fromAddress", a),
            )
        )
    for k, a in enumerate(gen.hot[:4]):
        rules.append(
            Rule(f"to_hot_{k}", f"$..messages[?(@.toAddress == '{a}')]", _field_is("toAddress", a))
        )
    for k, v in enumerate(gen.validators[:4]):
        rules.append(
            Rule(
                f"validator_{k}",
                f"$.body.messages[?(@.validatorAddress == '{v}')]",
                _field_is("validatorAddress", v),
            )
        )
    for k, d in enumerate(FANOUT_DENOMS):
        rules.append(Rule(f"denom_{k}", f"$..amount[?(@.denom == '{d}')]", _has_denom(d)))
    rules += [
        Rule(
            "fee_osmo",
            "$.authInfo.fee.amount[?(@.denom == 'uosmo')]",
            lambda tx: any(c["denom"] == "uosmo" for c in tx["authInfo"]["fee"]["amount"]),
        ),
        Rule("memo", "$.body.memo", lambda tx: "memo" in tx["body"]),
        Rule("timeout", "$.body.timeoutHeight", lambda tx: "timeoutHeight" in tx["body"]),
        Rule("multi_msg", "$.body.messages[1]", lambda tx: len(_msgs(tx)) > 1),
        Rule("triple_msg", "$.body.messages[2]", lambda tx: len(_msgs(tx)) > 2),
        Rule(
            "proposal_42",
            "$.body.messages[?(@.proposalId == '42')]",
            _field_is("proposalId", "42"),
        ),
    ]
    return rules


def fanout_schema():
    """The fixed tx schema ``from_json`` parses the fan-out records with."""
    from pyspark.sql import types as T

    s = T.StringType()
    coin = T.StructType([T.StructField("denom", s), T.StructField("amount", s)])
    msg_fields = ("@type", "fromAddress", "toAddress", "proposalId", "voter", "option",
                  "delegatorAddress", "validatorAddress")
    msg = T.StructType(
        [T.StructField(n, s) for n in msg_fields]
        + [T.StructField("amount", T.ArrayType(coin))]
    )
    pubkey = T.StructType([T.StructField("@type", s), T.StructField("key", s)])
    signer = T.StructType([T.StructField("publicKey", pubkey), T.StructField("sequence", s)])
    fee = T.StructType([T.StructField("amount", T.ArrayType(coin)), T.StructField("gasLimit", s)])
    body = T.StructType(
        [
            T.StructField("messages", T.ArrayType(msg)),
            T.StructField("memo", s),
            T.StructField("timeoutHeight", s),
        ]
    )
    auth = T.StructType(
        [T.StructField("signerInfos", T.ArrayType(signer)), T.StructField("fee", fee)]
    )
    return T.StructType(
        [
            T.StructField("body", body),
            T.StructField("authInfo", auth),
            T.StructField("signatures", T.ArrayType(s)),
        ]
    )
