"""Generate a protobuf FileDescriptorSet for the Cosmos tx types WITHOUT
protoc: a FileDescriptorSet is itself a protobuf message, so we encode it
directly with a minimal wire writer. The output
(kafka_processor_cosmos_tx_dispatch_spark/resources/cosmos_tx.desc) is
checked in; functions/descriptors.py generates the Python decoders of
the decode UDF from it. The reference decodes with compiled classes
(TopologyProducer.kt:86-96); this descriptor set stands in for them.

Schema source: the public cosmos-sdk protos (cosmos/tx/v1beta1/tx.proto,
cosmos/base/v1beta1/coin.proto, cosmos/bank/v1beta1/tx.proto, ...) and
google/protobuf/any.proto — field numbers mirrored in
functions/protowire.py.

Run:  python tools/gen_descriptor.py      # rewrites the .desc in place
"""

from __future__ import annotations

import os

# --- minimal wire writer ----------------------------------------------------


def varint(n: int) -> bytes:
    out = b""
    while True:
        b = n & 0x7F
        n >>= 7
        out += bytes([b | 0x80]) if n else bytes([b])
        if not n:
            return out


def ld(field_no: int, data: bytes) -> bytes:
    return varint(field_no << 3 | 2) + varint(len(data)) + data


def vi(field_no: int, value: int) -> bytes:
    return varint(field_no << 3 | 0) + varint(value)


def s(field_no: int, text: str) -> bytes:
    return ld(field_no, text.encode())


# --- FieldDescriptorProto ---------------------------------------------------
# labels
OPT, REP = 1, 3
# types
T_UINT64, T_STRING, T_MESSAGE, T_BYTES, T_ENUM = 4, 9, 11, 12, 14
T_INT64, T_INT32, T_BOOL, T_UINT32 = 3, 5, 8, 13


def field(
    name: str,
    number: int,
    ftype: int,
    label: int = OPT,
    type_name: str | None = None,
    json_name: str | None = None,
) -> bytes:
    """FieldDescriptorProto: name=1, number=3, label=4, type=5,
    type_name=6, json_name=10."""
    out = s(1, name) + vi(3, number) + vi(4, label) + vi(5, ftype)
    if type_name:
        out += s(6, type_name)
    if json_name is None:
        # protoc's default jsonName: lowerCamelCase of the field name
        parts = name.split("_")
        json_name = parts[0] + "".join(p.capitalize() for p in parts[1:])
    out += s(10, json_name)
    return out


def message(
    name: str,
    *fields: bytes,
    nested: tuple[bytes, ...] = (),
    msg_enums: tuple[bytes, ...] = (),
) -> bytes:
    """DescriptorProto: name=1, field=2, nested_type=3, enum_type=4."""
    out = s(1, name) + b"".join(ld(2, f) for f in fields)
    for n in nested:
        out += ld(3, n)
    for e in msg_enums:
        out += ld(4, e)
    return out


def enum_type(name: str, values: list[tuple[str, int]]) -> bytes:
    """EnumDescriptorProto: name=1, value=2 (EnumValueDescriptorProto:
    name=1, number=2)."""
    out = s(1, name)
    for vname, vnum in values:
        out += ld(2, s(1, vname) + vi(2, vnum))
    return out


def file_proto(
    name: str,
    package: str,
    deps: list[str],
    messages: list[bytes],
    enums: list[bytes] = (),
) -> bytes:
    """FileDescriptorProto: name=1, package=2, dependency=3,
    message_type=4, enum_type=5, syntax=12."""
    out = s(1, name) + s(2, package)
    for d in deps:
        out += s(3, d)
    for m in messages:
        out += ld(4, m)
    for e in enums:
        out += ld(5, e)
    out += s(12, "proto3")
    return out


# --- the Cosmos tx schema ---------------------------------------------------

ANY = ".google.protobuf.Any"
COIN = ".cosmos.base.v1beta1.Coin"

FILES = [
    file_proto(
        "google/protobuf/any.proto",
        "google.protobuf",
        [],
        [
            message(
                "Any",
                field("type_url", 1, T_STRING),
                field("value", 2, T_BYTES),
            )
        ],
    ),
    file_proto(
        # well-known types: JsonFormat renders these as RFC3339 / "Ns"
        # strings, not objects (descriptors.py:_render_timestamp/_duration)
        "google/protobuf/timestamp.proto",
        "google.protobuf",
        [],
        [
            message(
                "Timestamp",
                field("seconds", 1, T_INT64),
                field("nanos", 2, T_INT32),
            )
        ],
    ),
    file_proto(
        "google/protobuf/duration.proto",
        "google.protobuf",
        [],
        [
            message(
                "Duration",
                field("seconds", 1, T_INT64),
                field("nanos", 2, T_INT32),
            )
        ],
    ),
    file_proto(
        "cosmos/base/v1beta1/coin.proto",
        "cosmos.base.v1beta1",
        [],
        [
            message(
                "Coin",
                field("denom", 1, T_STRING),
                field("amount", 2, T_STRING),
            )
        ],
    ),
    file_proto(
        "cosmos/tx/v1beta1/tx.proto",
        "cosmos.tx.v1beta1",
        ["google/protobuf/any.proto", "cosmos/base/v1beta1/coin.proto"],
        [
            message(
                "TxRaw",
                field("body_bytes", 1, T_BYTES),
                field("auth_info_bytes", 2, T_BYTES),
                field("signatures", 3, T_BYTES, REP),
            ),
            message(
                "Tx",
                field("body", 1, T_MESSAGE, OPT, ".cosmos.tx.v1beta1.TxBody"),
                field(
                    "auth_info", 2, T_MESSAGE, OPT, ".cosmos.tx.v1beta1.AuthInfo"
                ),
                field("signatures", 3, T_BYTES, REP),
            ),
            message(
                "TxBody",
                field("messages", 1, T_MESSAGE, REP, ANY),
                field("memo", 2, T_STRING),
                field("timeout_height", 3, T_UINT64),
            ),
            message(
                "AuthInfo",
                field(
                    "signer_infos",
                    1,
                    T_MESSAGE,
                    REP,
                    ".cosmos.tx.v1beta1.SignerInfo",
                ),
                field("fee", 2, T_MESSAGE, OPT, ".cosmos.tx.v1beta1.Fee"),
            ),
            message(
                "SignerInfo",
                field("public_key", 1, T_MESSAGE, OPT, ANY),
                field("sequence", 3, T_UINT64),
            ),
            message(
                "Fee",
                field("amount", 1, T_MESSAGE, REP, COIN),
                field("gas_limit", 2, T_UINT64),
            ),
        ],
    ),
    file_proto(
        "cosmos/bank/v1beta1/tx.proto",
        "cosmos.bank.v1beta1",
        ["cosmos/base/v1beta1/coin.proto"],
        [
            message(
                "MsgSend",
                field("from_address", 1, T_STRING),
                field("to_address", 2, T_STRING),
                field("amount", 3, T_MESSAGE, REP, COIN),
            ),
            message(
                "Input",
                field("address", 1, T_STRING),
                field("coins", 2, T_MESSAGE, REP, COIN),
            ),
            message(
                "Output",
                field("address", 1, T_STRING),
                field("coins", 2, T_MESSAGE, REP, COIN),
            ),
            message(
                "MsgMultiSend",
                field("inputs", 1, T_MESSAGE, REP, ".cosmos.bank.v1beta1.Input"),
                field(
                    "outputs", 2, T_MESSAGE, REP, ".cosmos.bank.v1beta1.Output"
                ),
            ),
        ],
    ),
    file_proto(
        # upstream layout: Description/CommissionRates live in
        # staking.proto; tx.proto declares them as cross-file deps —
        # protobuf-java builds each file against DECLARED deps only, so
        # the split must match (ADVICE r11 gov.proto lesson)
        "cosmos/staking/v1beta1/staking.proto",
        "cosmos.staking.v1beta1",
        [],
        [
            message(
                "Description",
                field("moniker", 1, T_STRING),
                field("identity", 2, T_STRING),
                field("website", 3, T_STRING),
                field("security_contact", 4, T_STRING),
                field("details", 5, T_STRING),
            ),
            message(
                "CommissionRates",
                field("rate", 1, T_STRING),
                field("max_rate", 2, T_STRING),
                field("max_change_rate", 3, T_STRING),
            ),
        ],
    ),
    file_proto(
        "cosmos/staking/v1beta1/tx.proto",
        "cosmos.staking.v1beta1",
        [
            "google/protobuf/any.proto",
            "cosmos/base/v1beta1/coin.proto",
            "cosmos/staking/v1beta1/staking.proto",
        ],
        [
            # pubkey is an Any (ed25519/secp256k1 PubKey) — the second
            # nested-Any recursion shape after authz MsgExec
            message(
                "MsgCreateValidator",
                field(
                    "description",
                    1,
                    T_MESSAGE,
                    OPT,
                    ".cosmos.staking.v1beta1.Description",
                ),
                field(
                    "commission",
                    2,
                    T_MESSAGE,
                    OPT,
                    ".cosmos.staking.v1beta1.CommissionRates",
                ),
                field("min_self_delegation", 3, T_STRING),
                field("delegator_address", 4, T_STRING),
                field("validator_address", 5, T_STRING),
                field("pubkey", 6, T_MESSAGE, OPT, ANY),
                field("value", 7, T_MESSAGE, OPT, COIN),
            ),
            message(
                "MsgEditValidator",
                field(
                    "description",
                    1,
                    T_MESSAGE,
                    OPT,
                    ".cosmos.staking.v1beta1.Description",
                ),
                field("validator_address", 2, T_STRING),
                field("commission_rate", 3, T_STRING),
                field("min_self_delegation", 4, T_STRING),
            ),
            message(
                "MsgDelegate",
                field("delegator_address", 1, T_STRING),
                field("validator_address", 2, T_STRING),
                field("amount", 3, T_MESSAGE, OPT, COIN),
            ),
            message(
                "MsgUndelegate",
                field("delegator_address", 1, T_STRING),
                field("validator_address", 2, T_STRING),
                field("amount", 3, T_MESSAGE, OPT, COIN),
            ),
            message(
                "MsgBeginRedelegate",
                field("delegator_address", 1, T_STRING),
                field("validator_src_address", 2, T_STRING),
                field("validator_dst_address", 3, T_STRING),
                field("amount", 4, T_MESSAGE, OPT, COIN),
            ),
            # r13 wave 7: the unbonding cancel (sdk 0.46+) — pairs with
            # MsgUndelegate; creation_height is int64 (JSON string-64)
            message(
                "MsgCancelUnbondingDelegation",
                field("delegator_address", 1, T_STRING),
                field("validator_address", 2, T_STRING),
                field("amount", 3, T_MESSAGE, OPT, COIN),
                field("creation_height", 4, T_INT64),
            ),
        ],
    ),
    file_proto(
        # upstream layout: VoteOption and the proposal/content types live
        # in gov.proto; tx.proto DEPENDS on it (ADVICE r11: protobuf-java
        # resolves type_names against declared deps only — an enum
        # declared in tx.proto but referenced from gov.proto would fail
        # DescriptorValidationException under spark-protobuf)
        "cosmos/gov/v1beta1/gov.proto",
        "cosmos.gov.v1beta1",
        ["google/protobuf/any.proto", "cosmos/base/v1beta1/coin.proto"],
        [
            message(
                "TextProposal",
                field("title", 1, T_STRING),
                field("description", 2, T_STRING),
            ),
            message(
                "WeightedVoteOption",
                field(
                    "option", 1, T_ENUM, OPT, ".cosmos.gov.v1beta1.VoteOption"
                ),
                field("weight", 2, T_STRING),
            ),
        ],
        enums=[
            enum_type(
                "VoteOption",
                [
                    ("VOTE_OPTION_UNSPECIFIED", 0),
                    ("VOTE_OPTION_YES", 1),
                    ("VOTE_OPTION_ABSTAIN", 2),
                    ("VOTE_OPTION_NO", 3),
                    ("VOTE_OPTION_NO_WITH_VETO", 4),
                ],
            )
        ],
    ),
    file_proto(
        "cosmos/gov/v1beta1/tx.proto",
        "cosmos.gov.v1beta1",
        [
            "google/protobuf/any.proto",
            "cosmos/base/v1beta1/coin.proto",
            "cosmos/gov/v1beta1/gov.proto",
        ],
        [
            # content is Any (TextProposal & friends) — nested-Any shape
            message(
                "MsgSubmitProposal",
                field("content", 1, T_MESSAGE, OPT, ANY),
                field("initial_deposit", 2, T_MESSAGE, REP, COIN),
                field("proposer", 3, T_STRING),
            ),
            message(
                "MsgVoteWeighted",
                field("proposal_id", 1, T_UINT64),
                field("voter", 2, T_STRING),
                field(
                    "options",
                    3,
                    T_MESSAGE,
                    REP,
                    ".cosmos.gov.v1beta1.WeightedVoteOption",
                ),
            ),
            message(
                "MsgVote",
                field("proposal_id", 1, T_UINT64),
                field("voter", 2, T_STRING),
                field(
                    "option", 3, T_ENUM, OPT, ".cosmos.gov.v1beta1.VoteOption"
                ),
            ),
            message(
                "MsgDeposit",
                field("proposal_id", 1, T_UINT64),
                field("depositor", 2, T_STRING),
                field("amount", 3, T_MESSAGE, REP, COIN),
            ),
        ],
    ),
    file_proto(
        "cosmos/distribution/v1beta1/tx.proto",
        "cosmos.distribution.v1beta1",
        ["cosmos/base/v1beta1/coin.proto"],
        [
            message(
                "MsgWithdrawDelegatorReward",
                field("delegator_address", 1, T_STRING),
                field("validator_address", 2, T_STRING),
            ),
            message(
                "MsgSetWithdrawAddress",
                field("delegator_address", 1, T_STRING),
                field("withdraw_address", 2, T_STRING),
            ),
            message(
                "MsgWithdrawValidatorCommission",
                field("validator_address", 1, T_STRING),
            ),
            message(
                "MsgFundCommunityPool",
                field("amount", 1, T_MESSAGE, REP, COIN),
                field("depositor", 2, T_STRING),
            ),
        ],
    ),
    # --- round-11 widening toward the reference's scan-everything
    # registry (ProtoTypeRegistry.kt:16-31): the high-traffic message
    # families real Cosmos traffic routes on. Field numbers mirror the
    # public protos (wasmd proto/cosmwasm/wasm/v1/tx.proto, ibc-go
    # proto/ibc/..., cosmos-sdk proto/cosmos/...).
    file_proto(
        # AccessConfig/AccessType live in types.proto upstream (wasmd
        # proto/cosmwasm/wasm/v1/types.proto)
        "cosmwasm/wasm/v1/types.proto",
        "cosmwasm.wasm.v1",
        [],
        [
            message(
                "AccessConfig",
                field(
                    "permission", 1, T_ENUM, OPT, ".cosmwasm.wasm.v1.AccessType"
                ),
                field("address", 2, T_STRING),
                field("addresses", 3, T_STRING, REP),
            ),
        ],
        enums=[
            enum_type(
                "AccessType",
                [
                    ("ACCESS_TYPE_UNSPECIFIED", 0),
                    ("ACCESS_TYPE_NOBODY", 1),
                    ("ACCESS_TYPE_ONLY_ADDRESS", 2),
                    ("ACCESS_TYPE_EVERYBODY", 3),
                    ("ACCESS_TYPE_ANY_OF_ADDRESSES", 4),
                ],
            )
        ],
    ),
    file_proto(
        "cosmwasm/wasm/v1/tx.proto",
        "cosmwasm.wasm.v1",
        ["cosmos/base/v1beta1/coin.proto", "cosmwasm/wasm/v1/types.proto"],
        [
            # field 4 is reserved upstream (removed callback_sig) —
            # funds really is 5
            message(
                "MsgExecuteContract",
                field("sender", 1, T_STRING),
                field("contract", 2, T_STRING),
                field("msg", 3, T_BYTES),
                field("funds", 5, T_MESSAGE, REP, COIN),
            ),
            message(
                "MsgInstantiateContract",
                field("sender", 1, T_STRING),
                field("admin", 2, T_STRING),
                field("code_id", 3, T_UINT64),
                field("label", 4, T_STRING),
                field("msg", 5, T_BYTES),
                field("funds", 6, T_MESSAGE, REP, COIN),
            ),
            message(
                "MsgMigrateContract",
                field("sender", 1, T_STRING),
                field("contract", 2, T_STRING),
                field("code_id", 3, T_UINT64),
                field("msg", 4, T_BYTES),
            ),
            # fields 3/4 are reserved upstream (removed source/builder) —
            # instantiate_permission really is 5
            message(
                "MsgStoreCode",
                field("sender", 1, T_STRING),
                field("wasm_byte_code", 2, T_BYTES),
                field(
                    "instantiate_permission",
                    5,
                    T_MESSAGE,
                    OPT,
                    ".cosmwasm.wasm.v1.AccessConfig",
                ),
            ),
            message(
                "MsgUpdateAdmin",
                field("sender", 1, T_STRING),
                field("new_admin", 2, T_STRING),
                field("contract", 3, T_STRING),
            ),
            # field 2 is reserved upstream — contract really is 3
            message(
                "MsgClearAdmin",
                field("sender", 1, T_STRING),
                field("contract", 3, T_STRING),
            ),
        ],
    ),
    file_proto(
        "ibc/core/client/v1/client.proto",
        "ibc.core.client.v1",
        [],
        [
            message(
                "Height",
                field("revision_number", 1, T_UINT64),
                field("revision_height", 2, T_UINT64),
            )
        ],
    ),
    file_proto(
        "ibc/applications/transfer/v1/tx.proto",
        "ibc.applications.transfer.v1",
        ["cosmos/base/v1beta1/coin.proto", "ibc/core/client/v1/client.proto"],
        [
            message(
                "MsgTransfer",
                field("source_port", 1, T_STRING),
                field("source_channel", 2, T_STRING),
                field("token", 3, T_MESSAGE, OPT, COIN),
                field("sender", 4, T_STRING),
                field("receiver", 5, T_STRING),
                field(
                    "timeout_height",
                    6,
                    T_MESSAGE,
                    OPT,
                    ".ibc.core.client.v1.Height",
                ),
                field("timeout_timestamp", 7, T_UINT64),
                field("memo", 8, T_STRING),
            )
        ],
    ),
    file_proto(
        # Channel/Counterparty + State/Order enums live in channel.proto
        # upstream (ibc-go proto/ibc/core/channel/v1/channel.proto)
        "ibc/core/channel/v1/channel.proto",
        "ibc.core.channel.v1",
        [],
        [
            message(
                "Channel",
                field("state", 1, T_ENUM, OPT, ".ibc.core.channel.v1.State"),
                field(
                    "ordering", 2, T_ENUM, OPT, ".ibc.core.channel.v1.Order"
                ),
                field(
                    "counterparty",
                    3,
                    T_MESSAGE,
                    OPT,
                    ".ibc.core.channel.v1.Counterparty",
                ),
                field("connection_hops", 4, T_STRING, REP),
                field("version", 5, T_STRING),
            ),
            message(
                "Counterparty",
                field("port_id", 1, T_STRING),
                field("channel_id", 2, T_STRING),
            ),
        ],
        enums=[
            enum_type(
                "State",
                [
                    ("STATE_UNINITIALIZED_UNSPECIFIED", 0),
                    ("STATE_INIT", 1),
                    ("STATE_TRYOPEN", 2),
                    ("STATE_OPEN", 3),
                    ("STATE_CLOSED", 4),
                ],
            ),
            enum_type(
                "Order",
                [
                    ("ORDER_NONE_UNSPECIFIED", 0),
                    ("ORDER_UNORDERED", 1),
                    ("ORDER_ORDERED", 2),
                ],
            ),
        ],
    ),
    file_proto(
        "ibc/core/channel/v1/tx.proto",
        "ibc.core.channel.v1",
        [
            "ibc/core/client/v1/client.proto",
            "ibc/core/channel/v1/channel.proto",
        ],
        [
            message(
                "Packet",
                field("sequence", 1, T_UINT64),
                field("source_port", 2, T_STRING),
                field("source_channel", 3, T_STRING),
                field("destination_port", 4, T_STRING),
                field("destination_channel", 5, T_STRING),
                field("data", 6, T_BYTES),
                field(
                    "timeout_height",
                    7,
                    T_MESSAGE,
                    OPT,
                    ".ibc.core.client.v1.Height",
                ),
                field("timeout_timestamp", 8, T_UINT64),
            ),
            message(
                "MsgRecvPacket",
                field(
                    "packet", 1, T_MESSAGE, OPT, ".ibc.core.channel.v1.Packet"
                ),
                field("proof_commitment", 2, T_BYTES),
                field(
                    "proof_height",
                    3,
                    T_MESSAGE,
                    OPT,
                    ".ibc.core.client.v1.Height",
                ),
                field("signer", 4, T_STRING),
            ),
            # r12: the other two high-volume relayer messages — every
            # successful transfer closes with an MsgAcknowledgement,
            # every expired one with an MsgTimeout
            message(
                "MsgAcknowledgement",
                field(
                    "packet", 1, T_MESSAGE, OPT, ".ibc.core.channel.v1.Packet"
                ),
                field("acknowledgement", 2, T_BYTES),
                field("proof_acked", 3, T_BYTES),
                field(
                    "proof_height",
                    4,
                    T_MESSAGE,
                    OPT,
                    ".ibc.core.client.v1.Height",
                ),
                field("signer", 5, T_STRING),
            ),
            message(
                "MsgTimeout",
                field(
                    "packet", 1, T_MESSAGE, OPT, ".ibc.core.channel.v1.Packet"
                ),
                field("proof_unreceived", 2, T_BYTES),
                field(
                    "proof_height",
                    3,
                    T_MESSAGE,
                    OPT,
                    ".ibc.core.client.v1.Height",
                ),
                field("next_sequence_recv", 4, T_UINT64),
                field("signer", 5, T_STRING),
            ),
            # r12 wave 5: the channel-handshake lifecycle — what a
            # relayer emits before any packet flows and when a channel
            # winds down
            message(
                "MsgChannelOpenInit",
                field("port_id", 1, T_STRING),
                field(
                    "channel",
                    2,
                    T_MESSAGE,
                    OPT,
                    ".ibc.core.channel.v1.Channel",
                ),
                field("signer", 3, T_STRING),
            ),
            message(
                "MsgChannelOpenTry",
                field("port_id", 1, T_STRING),
                field("previous_channel_id", 2, T_STRING),
                field(
                    "channel",
                    3,
                    T_MESSAGE,
                    OPT,
                    ".ibc.core.channel.v1.Channel",
                ),
                field("counterparty_version", 4, T_STRING),
                field("proof_init", 5, T_BYTES),
                field(
                    "proof_height",
                    6,
                    T_MESSAGE,
                    OPT,
                    ".ibc.core.client.v1.Height",
                ),
                field("signer", 7, T_STRING),
            ),
            message(
                "MsgChannelOpenAck",
                field("port_id", 1, T_STRING),
                field("channel_id", 2, T_STRING),
                field("counterparty_channel_id", 3, T_STRING),
                field("counterparty_version", 4, T_STRING),
                field("proof_try", 5, T_BYTES),
                field(
                    "proof_height",
                    6,
                    T_MESSAGE,
                    OPT,
                    ".ibc.core.client.v1.Height",
                ),
                field("signer", 7, T_STRING),
            ),
            message(
                "MsgChannelOpenConfirm",
                field("port_id", 1, T_STRING),
                field("channel_id", 2, T_STRING),
                field("proof_ack", 3, T_BYTES),
                field(
                    "proof_height",
                    4,
                    T_MESSAGE,
                    OPT,
                    ".ibc.core.client.v1.Height",
                ),
                field("signer", 5, T_STRING),
            ),
            message(
                "MsgChannelCloseInit",
                field("port_id", 1, T_STRING),
                field("channel_id", 2, T_STRING),
                field("signer", 3, T_STRING),
            ),
            message(
                "MsgChannelCloseConfirm",
                field("port_id", 1, T_STRING),
                field("channel_id", 2, T_STRING),
                field("proof_init", 3, T_BYTES),
                field(
                    "proof_height",
                    4,
                    T_MESSAGE,
                    OPT,
                    ".ibc.core.client.v1.Height",
                ),
                field("signer", 5, T_STRING),
            ),
            # r13 wave 7: timeout variant for packets stranded on a
            # channel the counterparty closed — completes the packet
            # lifecycle (Recv/Ack/Timeout/TimeoutOnClose)
            message(
                "MsgTimeoutOnClose",
                field(
                    "packet", 1, T_MESSAGE, OPT, ".ibc.core.channel.v1.Packet"
                ),
                field("proof_unreceived", 2, T_BYTES),
                field("proof_close", 3, T_BYTES),
                field(
                    "proof_height",
                    4,
                    T_MESSAGE,
                    OPT,
                    ".ibc.core.client.v1.Height",
                ),
                field("next_sequence_recv", 5, T_UINT64),
                field("signer", 6, T_STRING),
            ),
        ],
    ),
    file_proto(
        # upstream layout: Grant lives in authz.proto, the Msg* in
        # tx.proto (which depends on it) — required for protobuf-java
        # per-file dependency validation (ADVICE r11 #1)
        "cosmos/authz/v1beta1/authz.proto",
        "cosmos.authz.v1beta1",
        ["google/protobuf/any.proto", "google/protobuf/timestamp.proto"],
        [
            # authorization is Any (GenericAuthorization & friends);
            # expiration exercises the Timestamp JSON string form
            message(
                "Grant",
                field("authorization", 1, T_MESSAGE, OPT, ANY),
                field(
                    "expiration",
                    2,
                    T_MESSAGE,
                    OPT,
                    ".google.protobuf.Timestamp",
                ),
            ),
        ],
    ),
    file_proto(
        "cosmos/authz/v1beta1/tx.proto",
        "cosmos.authz.v1beta1",
        ["google/protobuf/any.proto", "cosmos/authz/v1beta1/authz.proto"],
        [
            # msgs is repeated Any — the NESTED-Any recursion case
            # (an Any whose payload itself carries Anys)
            message(
                "MsgExec",
                field("grantee", 1, T_STRING),
                field("msgs", 2, T_MESSAGE, REP, ANY),
            ),
            message(
                "MsgGrant",
                field("granter", 1, T_STRING),
                field("grantee", 2, T_STRING),
                field(
                    "grant", 3, T_MESSAGE, OPT, ".cosmos.authz.v1beta1.Grant"
                ),
            ),
            message(
                "MsgRevoke",
                field("granter", 1, T_STRING),
                field("grantee", 2, T_STRING),
                field("msg_type_url", 3, T_STRING),
            ),
            message("GenericAuthorization", field("msg", 1, T_STRING)),
        ],
    ),
    file_proto(
        "cosmos/crypto/secp256k1/keys.proto",
        "cosmos.crypto.secp256k1",
        [],
        # registering the signer pubkey type makes SignerInfo.public_key
        # render fully instead of under the opaque-Any fallback
        [message("PubKey", field("key", 1, T_BYTES))],
    ),
    file_proto(
        "cosmos/slashing/v1beta1/tx.proto",
        "cosmos.slashing.v1beta1",
        [],
        [message("MsgUnjail", field("validator_addr", 1, T_STRING))],
    ),
    file_proto(
        # upstream layout: Period lives in vesting.proto
        "cosmos/vesting/v1beta1/vesting.proto",
        "cosmos.vesting.v1beta1",
        ["cosmos/base/v1beta1/coin.proto"],
        [
            message(
                "Period",
                field("length", 1, T_INT64),
                field("amount", 2, T_MESSAGE, REP, COIN),
            ),
        ],
    ),
    file_proto(
        "cosmos/vesting/v1beta1/tx.proto",
        "cosmos.vesting.v1beta1",
        [
            "cosmos/base/v1beta1/coin.proto",
            "cosmos/vesting/v1beta1/vesting.proto",
        ],
        [
            message(
                "MsgCreateVestingAccount",
                field("from_address", 1, T_STRING),
                field("to_address", 2, T_STRING),
                field("amount", 3, T_MESSAGE, REP, COIN),
                field("end_time", 4, T_INT64),
                field("delayed", 5, T_BOOL),
            ),
            message(
                "MsgCreatePermanentLockedAccount",
                field("from_address", 1, T_STRING),
                field("to_address", 2, T_STRING),
                field("amount", 3, T_MESSAGE, REP, COIN),
            ),
            message(
                "MsgCreatePeriodicVestingAccount",
                field("from_address", 1, T_STRING),
                field("to_address", 2, T_STRING),
                field("start_time", 3, T_INT64),
                field(
                    "vesting_periods",
                    4,
                    T_MESSAGE,
                    REP,
                    ".cosmos.vesting.v1beta1.Period",
                ),
            ),
        ],
    ),
    # --- round-12 widening: evidence / crisis / the modern gov v1
    # module (proposals carry arbitrary sdk.Msgs as repeated Any — the
    # same nested-Any recursion as authz MsgExec)
    file_proto(
        "cosmos/evidence/v1beta1/evidence.proto",
        "cosmos.evidence.v1beta1",
        ["google/protobuf/timestamp.proto"],
        [
            message(
                "Equivocation",
                field("height", 1, T_INT64),
                field(
                    "time", 2, T_MESSAGE, OPT, ".google.protobuf.Timestamp"
                ),
                field("power", 3, T_INT64),
                field("consensus_address", 4, T_STRING),
            ),
        ],
    ),
    file_proto(
        "cosmos/evidence/v1beta1/tx.proto",
        "cosmos.evidence.v1beta1",
        ["google/protobuf/any.proto"],
        [
            # evidence is Any (Equivocation) — nested-Any shape
            message(
                "MsgSubmitEvidence",
                field("submitter", 1, T_STRING),
                field("evidence", 2, T_MESSAGE, OPT, ANY),
            ),
        ],
    ),
    file_proto(
        "cosmos/crisis/v1beta1/tx.proto",
        "cosmos.crisis.v1beta1",
        [],
        [
            message(
                "MsgVerifyInvariant",
                field("sender", 1, T_STRING),
                field("invariant_module_name", 2, T_STRING),
                field("invariant_route", 3, T_STRING),
            ),
        ],
    ),
    file_proto(
        # upgrade: the msgs a gov-v1 proposal most commonly EMBEDS in
        # its messages Any list — Plan carries the Timestamp string form
        "cosmos/upgrade/v1beta1/upgrade.proto",
        "cosmos.upgrade.v1beta1",
        ["google/protobuf/timestamp.proto"],
        [
            message(
                "Plan",
                field("name", 1, T_STRING),
                field(
                    "time", 2, T_MESSAGE, OPT, ".google.protobuf.Timestamp"
                ),
                field("height", 3, T_INT64),
                field("info", 4, T_STRING),
            ),
        ],
    ),
    file_proto(
        "cosmos/upgrade/v1beta1/tx.proto",
        "cosmos.upgrade.v1beta1",
        ["cosmos/upgrade/v1beta1/upgrade.proto"],
        [
            message(
                "MsgSoftwareUpgrade",
                field("authority", 1, T_STRING),
                field(
                    "plan", 2, T_MESSAGE, OPT, ".cosmos.upgrade.v1beta1.Plan"
                ),
            ),
            message(
                "MsgCancelUpgrade",
                field("authority", 1, T_STRING),
            ),
        ],
    ),
    file_proto(
        "cosmos/gov/v1/gov.proto",
        "cosmos.gov.v1",
        [],
        [
            message(
                "WeightedVoteOption",
                field("option", 1, T_ENUM, OPT, ".cosmos.gov.v1.VoteOption"),
                field("weight", 2, T_STRING),
            ),
        ],
        enums=[
            enum_type(
                "VoteOption",
                [
                    ("VOTE_OPTION_UNSPECIFIED", 0),
                    ("VOTE_OPTION_YES", 1),
                    ("VOTE_OPTION_ABSTAIN", 2),
                    ("VOTE_OPTION_NO", 3),
                    ("VOTE_OPTION_NO_WITH_VETO", 4),
                ],
            )
        ],
    ),
    file_proto(
        "cosmos/gov/v1/tx.proto",
        "cosmos.gov.v1",
        [
            "google/protobuf/any.proto",
            "cosmos/base/v1beta1/coin.proto",
            "cosmos/gov/v1/gov.proto",
        ],
        [
            # messages is repeated Any: a gov-v1 proposal EMBEDS the
            # sdk.Msgs it will execute — nested-Any recursion again
            message(
                "MsgSubmitProposal",
                field("messages", 1, T_MESSAGE, REP, ANY),
                field("initial_deposit", 2, T_MESSAGE, REP, COIN),
                field("proposer", 3, T_STRING),
                field("metadata", 4, T_STRING),
                field("title", 5, T_STRING),
                field("summary", 6, T_STRING),
            ),
            message(
                "MsgExecLegacyContent",
                field("content", 1, T_MESSAGE, OPT, ANY),
                field("authority", 2, T_STRING),
            ),
            message(
                "MsgVote",
                field("proposal_id", 1, T_UINT64),
                field("voter", 2, T_STRING),
                field("option", 3, T_ENUM, OPT, ".cosmos.gov.v1.VoteOption"),
                field("metadata", 4, T_STRING),
            ),
            message(
                "MsgDeposit",
                field("proposal_id", 1, T_UINT64),
                field("depositor", 2, T_STRING),
                field("amount", 3, T_MESSAGE, REP, COIN),
            ),
        ],
    ),
    file_proto(
        # allowance payloads referenced by MsgGrantAllowance's Any field;
        # expiration/period exercise the well-known Timestamp/Duration
        # JSON string forms
        "cosmos/feegrant/v1beta1/feegrant.proto",
        "cosmos.feegrant.v1beta1",
        [
            "google/protobuf/any.proto",
            "google/protobuf/timestamp.proto",
            "google/protobuf/duration.proto",
            "cosmos/base/v1beta1/coin.proto",
        ],
        [
            message(
                "BasicAllowance",
                field("spend_limit", 1, T_MESSAGE, REP, COIN),
                field(
                    "expiration",
                    2,
                    T_MESSAGE,
                    OPT,
                    ".google.protobuf.Timestamp",
                ),
            ),
            message(
                "PeriodicAllowance",
                field(
                    "basic",
                    1,
                    T_MESSAGE,
                    OPT,
                    ".cosmos.feegrant.v1beta1.BasicAllowance",
                ),
                field(
                    "period", 2, T_MESSAGE, OPT, ".google.protobuf.Duration"
                ),
                field("period_spend_limit", 3, T_MESSAGE, REP, COIN),
                field("period_can_spend", 4, T_MESSAGE, REP, COIN),
                field(
                    "period_reset",
                    5,
                    T_MESSAGE,
                    OPT,
                    ".google.protobuf.Timestamp",
                ),
            ),
            # allowance is itself an Any (Basic/Periodic) — an allowance
            # WRAPPING an allowance, the fourth nested-Any recursion shape
            message(
                "AllowedMsgAllowance",
                field("allowance", 1, T_MESSAGE, OPT, ANY),
                field("allowed_messages", 2, T_STRING, REP),
            ),
        ],
    ),
    file_proto(
        "cosmos/feegrant/v1beta1/tx.proto",
        "cosmos.feegrant.v1beta1",
        ["google/protobuf/any.proto"],
        [
            # allowance is Any (BasicAllowance/PeriodicAllowance) —
            # third nested-Any shape
            message(
                "MsgGrantAllowance",
                field("granter", 1, T_STRING),
                field("grantee", 2, T_STRING),
                field("allowance", 3, T_MESSAGE, OPT, ANY),
            ),
            message(
                "MsgRevokeAllowance",
                field("granter", 1, T_STRING),
                field("grantee", 2, T_STRING),
            ),
        ],
    ),
    file_proto(
        # ibc-go v1 naming (header, not client_message) — matches the
        # SDK generation the reference's classpath would carry
        "ibc/core/client/v1/tx.proto",
        "ibc.core.client.v1",
        ["google/protobuf/any.proto"],
        [
            message(
                "MsgCreateClient",
                field("client_state", 1, T_MESSAGE, OPT, ANY),
                field("consensus_state", 2, T_MESSAGE, OPT, ANY),
                field("signer", 3, T_STRING),
            ),
            message(
                "MsgUpdateClient",
                field("client_id", 1, T_STRING),
                field("header", 2, T_MESSAGE, OPT, ANY),
                field("signer", 3, T_STRING),
            ),
            # r13 wave 7: the remaining client-lifecycle messages —
            # upgrade carries TWO Anys (new client + consensus state),
            # misbehaviour one (the light-client evidence)
            message(
                "MsgUpgradeClient",
                field("client_id", 1, T_STRING),
                field("client_state", 2, T_MESSAGE, OPT, ANY),
                field("consensus_state", 3, T_MESSAGE, OPT, ANY),
                field("proof_upgrade_client", 4, T_BYTES),
                field("proof_upgrade_consensus_state", 5, T_BYTES),
                field("signer", 6, T_STRING),
            ),
            message(
                "MsgSubmitMisbehaviour",
                field("client_id", 1, T_STRING),
                field("misbehaviour", 2, T_MESSAGE, OPT, ANY),
                field("signer", 3, T_STRING),
            ),
        ],
    ),
    # --- round-12 wave 4: gov proposal CONTENT types (the Anys inside
    # v1beta1 MsgSubmitProposal.content / v1 MsgExecLegacyContent),
    # authorization payloads (the Anys inside authz Grant), validator
    # pubkey variants (ed25519 + the repeated-Any amino multisig), and
    # wasm admin/store completion — continuing toward the reference's
    # scan-everything classpath registry (ProtoTypeRegistry.kt:16-31)
    file_proto(
        "cosmos/params/v1beta1/params.proto",
        "cosmos.params.v1beta1",
        [],
        [
            message(
                "ParameterChangeProposal",
                field("title", 1, T_STRING),
                field("description", 2, T_STRING),
                field(
                    "changes",
                    3,
                    T_MESSAGE,
                    REP,
                    ".cosmos.params.v1beta1.ParamChange",
                ),
            ),
            message(
                "ParamChange",
                field("subspace", 1, T_STRING),
                field("key", 2, T_STRING),
                field("value", 3, T_STRING),
            ),
        ],
    ),
    file_proto(
        # upstream layout: the proposal lives in distribution.proto,
        # not tx.proto
        "cosmos/distribution/v1beta1/distribution.proto",
        "cosmos.distribution.v1beta1",
        ["cosmos/base/v1beta1/coin.proto"],
        [
            message(
                "CommunityPoolSpendProposal",
                field("title", 1, T_STRING),
                field("description", 2, T_STRING),
                field("recipient", 3, T_STRING),
                field("amount", 4, T_MESSAGE, REP, COIN),
            ),
        ],
    ),
    file_proto(
        "cosmos/bank/v1beta1/authz.proto",
        "cosmos.bank.v1beta1",
        ["cosmos/base/v1beta1/coin.proto"],
        [
            message(
                "SendAuthorization",
                field("spend_limit", 1, T_MESSAGE, REP, COIN),
                field("allow_list", 2, T_STRING, REP),
            ),
        ],
    ),
    file_proto(
        # Validators is a NESTED message upstream; the oneof grouping of
        # allow_list/deny_list is erased here (wire + JSON identical —
        # oneofs are an encode-side constraint, not a decode-side one)
        "cosmos/staking/v1beta1/authz.proto",
        "cosmos.staking.v1beta1",
        ["cosmos/base/v1beta1/coin.proto"],
        [
            message(
                "StakeAuthorization",
                field("max_tokens", 1, T_MESSAGE, OPT, COIN),
                field(
                    "allow_list",
                    2,
                    T_MESSAGE,
                    OPT,
                    ".cosmos.staking.v1beta1.StakeAuthorization.Validators",
                ),
                field(
                    "deny_list",
                    3,
                    T_MESSAGE,
                    OPT,
                    ".cosmos.staking.v1beta1.StakeAuthorization.Validators",
                ),
                field(
                    "authorization_type",
                    4,
                    T_ENUM,
                    OPT,
                    ".cosmos.staking.v1beta1.AuthorizationType",
                ),
                nested=(
                    message("Validators", field("address", 1, T_STRING, REP)),
                ),
            ),
        ],
        enums=[
            enum_type(
                "AuthorizationType",
                [
                    ("AUTHORIZATION_TYPE_UNSPECIFIED", 0),
                    ("AUTHORIZATION_TYPE_DELEGATE", 1),
                    ("AUTHORIZATION_TYPE_UNDELEGATE", 2),
                    ("AUTHORIZATION_TYPE_REDELEGATE", 3),
                    ("AUTHORIZATION_TYPE_CANCEL_UNBONDING_DELEGATION", 4),
                ],
            )
        ],
    ),
    file_proto(
        "cosmos/crypto/ed25519/keys.proto",
        "cosmos.crypto.ed25519",
        [],
        # validator consensus keys are ed25519 — MsgCreateValidator's
        # pubkey Any resolves here instead of the opaque fallback
        [message("PubKey", field("key", 1, T_BYTES))],
    ),
    file_proto(
        # group-module governance: VoteOption lives in types.proto
        # upstream (a THIRD VoteOption enum package, after gov v1beta1
        # and gov v1 — name collisions across packages are exactly what
        # the fqn-keyed enum table exists for)
        "cosmos/group/v1/types.proto",
        "cosmos.group.v1",
        [],
        [],
        enums=[
            enum_type(
                "VoteOption",
                [
                    ("VOTE_OPTION_UNSPECIFIED", 0),
                    ("VOTE_OPTION_YES", 1),
                    ("VOTE_OPTION_ABSTAIN", 2),
                    ("VOTE_OPTION_NO", 3),
                    ("VOTE_OPTION_NO_WITH_VETO", 4),
                ],
            )
        ],
    ),
    file_proto(
        "cosmos/group/v1/tx.proto",
        "cosmos.group.v1",
        ["google/protobuf/any.proto", "cosmos/group/v1/types.proto"],
        [
            message(
                "MemberRequest",
                field("address", 1, T_STRING),
                field("weight", 2, T_STRING),
                field("metadata", 3, T_STRING),
            ),
            message(
                "MsgCreateGroup",
                field("admin", 1, T_STRING),
                field(
                    "members",
                    2,
                    T_MESSAGE,
                    REP,
                    ".cosmos.group.v1.MemberRequest",
                ),
                field("metadata", 3, T_STRING),
            ),
            # messages is repeated Any: a group proposal EMBEDS the
            # sdk.Msgs it will execute — the fifth nested-Any recursion
            # carrier (after authz MsgExec, gov v1, staking pubkey,
            # feegrant AllowedMsgAllowance)
            message(
                "MsgSubmitProposal",
                field("group_policy_address", 1, T_STRING),
                field("proposers", 2, T_STRING, REP),
                field("metadata", 3, T_STRING),
                field("messages", 4, T_MESSAGE, REP, ANY),
                field("exec", 5, T_ENUM, OPT, ".cosmos.group.v1.Exec"),
            ),
            message(
                "MsgVote",
                field("proposal_id", 1, T_UINT64),
                field("voter", 2, T_STRING),
                field(
                    "option", 3, T_ENUM, OPT, ".cosmos.group.v1.VoteOption"
                ),
                field("metadata", 4, T_STRING),
                field("exec", 5, T_ENUM, OPT, ".cosmos.group.v1.Exec"),
            ),
            message(
                "MsgExec",
                field("proposal_id", 1, T_UINT64),
                field("executor", 2, T_STRING),
            ),
        ],
        enums=[
            enum_type(
                "Exec",
                [("EXEC_UNSPECIFIED", 0), ("EXEC_TRY", 1)],
            )
        ],
    ),
    file_proto(
        "cosmos/crypto/multisig/keys.proto",
        "cosmos.crypto.multisig",
        ["google/protobuf/any.proto"],
        [
            # public_keys is repeated Any whose payloads are THEMSELVES
            # pubkey types — the pubkey-recursion shape (a multisig of
            # multisigs resolves arbitrarily deep)
            message(
                "LegacyAminoPubKey",
                field("threshold", 1, T_UINT32),
                field("public_keys", 2, T_MESSAGE, REP, ANY),
            ),
        ],
    ),
    # --- round-13 wave 7: connection handshake, interchain accounts,
    # transfer authorizations — the remaining high-traffic relayer and
    # authz families the r12 verdict named (ProtoTypeRegistry.kt:16-31)
    file_proto(
        "ibc/core/commitment/v1/commitment.proto",
        "ibc.core.commitment.v1",
        [],
        [message("MerklePrefix", field("key_prefix", 1, T_BYTES))],
    ),
    file_proto(
        "ibc/core/connection/v1/connection.proto",
        "ibc.core.connection.v1",
        ["ibc/core/commitment/v1/commitment.proto"],
        [
            # NOTE: fqn-distinct from ibc.core.channel.v1.Counterparty —
            # same short name, different shape; the registry is fqn-keyed
            message(
                "Counterparty",
                field("client_id", 1, T_STRING),
                field("connection_id", 2, T_STRING),
                field(
                    "prefix",
                    3,
                    T_MESSAGE,
                    OPT,
                    ".ibc.core.commitment.v1.MerklePrefix",
                ),
            ),
            message(
                "Version",
                field("identifier", 1, T_STRING),
                field("features", 2, T_STRING, REP),
            ),
        ],
    ),
    file_proto(
        "ibc/core/connection/v1/tx.proto",
        "ibc.core.connection.v1",
        [
            "google/protobuf/any.proto",
            "ibc/core/client/v1/client.proto",
            "ibc/core/connection/v1/connection.proto",
        ],
        [
            # Try/Ack carry the counterparty chain's light-client state
            # as an Any — the connection handshake's nested-Any shape
            message(
                "MsgConnectionOpenInit",
                field("client_id", 1, T_STRING),
                field(
                    "counterparty",
                    2,
                    T_MESSAGE,
                    OPT,
                    ".ibc.core.connection.v1.Counterparty",
                ),
                field(
                    "version",
                    3,
                    T_MESSAGE,
                    OPT,
                    ".ibc.core.connection.v1.Version",
                ),
                field("delay_period", 4, T_UINT64),
                field("signer", 5, T_STRING),
            ),
            message(
                "MsgConnectionOpenTry",
                field("client_id", 1, T_STRING),
                field("previous_connection_id", 2, T_STRING),
                field("client_state", 3, T_MESSAGE, OPT, ANY),
                field(
                    "counterparty",
                    4,
                    T_MESSAGE,
                    OPT,
                    ".ibc.core.connection.v1.Counterparty",
                ),
                field("delay_period", 5, T_UINT64),
                field(
                    "counterparty_versions",
                    6,
                    T_MESSAGE,
                    REP,
                    ".ibc.core.connection.v1.Version",
                ),
                field(
                    "proof_height",
                    7,
                    T_MESSAGE,
                    OPT,
                    ".ibc.core.client.v1.Height",
                ),
                field("proof_init", 8, T_BYTES),
                field("proof_client", 9, T_BYTES),
                field("proof_consensus", 10, T_BYTES),
                field(
                    "consensus_height",
                    11,
                    T_MESSAGE,
                    OPT,
                    ".ibc.core.client.v1.Height",
                ),
                field("signer", 12, T_STRING),
                field("host_consensus_state_proof", 13, T_BYTES),
            ),
            message(
                "MsgConnectionOpenAck",
                field("connection_id", 1, T_STRING),
                field("counterparty_connection_id", 2, T_STRING),
                field(
                    "version",
                    3,
                    T_MESSAGE,
                    OPT,
                    ".ibc.core.connection.v1.Version",
                ),
                field("client_state", 4, T_MESSAGE, OPT, ANY),
                field(
                    "proof_height",
                    5,
                    T_MESSAGE,
                    OPT,
                    ".ibc.core.client.v1.Height",
                ),
                field("proof_try", 6, T_BYTES),
                field("proof_client", 7, T_BYTES),
                field("proof_consensus", 8, T_BYTES),
                field(
                    "consensus_height",
                    9,
                    T_MESSAGE,
                    OPT,
                    ".ibc.core.client.v1.Height",
                ),
                field("signer", 10, T_STRING),
                field("host_consensus_state_proof", 11, T_BYTES),
            ),
            message(
                "MsgConnectionOpenConfirm",
                field("connection_id", 1, T_STRING),
                field("proof_ack", 2, T_BYTES),
                field(
                    "proof_height",
                    3,
                    T_MESSAGE,
                    OPT,
                    ".ibc.core.client.v1.Height",
                ),
                field("signer", 4, T_STRING),
            ),
        ],
    ),
    file_proto(
        "ibc/applications/interchain_accounts/v1/packet.proto",
        "ibc.applications.interchain_accounts.v1",
        ["google/protobuf/any.proto"],
        [
            # CosmosTx.messages is repeated Any — the SIXTH nested-Any
            # recursion carrier (an ICA packet embeds the sdk.Msgs the
            # host chain will execute). On the wire it travels inside
            # InterchainAccountPacketData.data as serialized BYTES (so
            # it renders base64 there, exactly as the reference's
            # protobuf-java printer would), but any rule targeting a
            # CosmosTx carried directly in an Any resolves through it.
            message(
                "InterchainAccountPacketData",
                field(
                    "type",
                    1,
                    T_ENUM,
                    OPT,
                    ".ibc.applications.interchain_accounts.v1.Type",
                ),
                field("data", 2, T_BYTES),
                field("memo", 3, T_STRING),
            ),
            message("CosmosTx", field("messages", 1, T_MESSAGE, REP, ANY)),
        ],
        enums=[
            enum_type(
                "Type",
                [("TYPE_UNSPECIFIED", 0), ("TYPE_EXECUTE_TX", 1)],
            )
        ],
    ),
    file_proto(
        "ibc/applications/interchain_accounts/v1/metadata.proto",
        "ibc.applications.interchain_accounts.v1",
        [],
        [
            message(
                "Metadata",
                field("version", 1, T_STRING),
                field("controller_connection_id", 2, T_STRING),
                field("host_connection_id", 3, T_STRING),
                field("address", 4, T_STRING),
                field("encoding", 5, T_STRING),
                field("tx_type", 6, T_STRING),
            ),
        ],
    ),
    file_proto(
        "ibc/applications/interchain_accounts/controller/v1/tx.proto",
        "ibc.applications.interchain_accounts.controller.v1",
        ["ibc/applications/interchain_accounts/v1/packet.proto"],
        [
            message(
                "MsgRegisterInterchainAccount",
                field("owner", 1, T_STRING),
                field("connection_id", 2, T_STRING),
                field("version", 3, T_STRING),
            ),
            message(
                "MsgSendTx",
                field("owner", 1, T_STRING),
                field("connection_id", 2, T_STRING),
                field(
                    "packet_data",
                    3,
                    T_MESSAGE,
                    OPT,
                    ".ibc.applications.interchain_accounts.v1"
                    ".InterchainAccountPacketData",
                ),
                field("relative_timeout", 4, T_UINT64),
            ),
        ],
    ),
    file_proto(
        # ibc-go transfer authz — the Any inside an authz Grant for
        # delegated IBC transfers (high-traffic on exchange flows)
        "ibc/applications/transfer/v1/authz.proto",
        "ibc.applications.transfer.v1",
        ["cosmos/base/v1beta1/coin.proto"],
        [
            message(
                "Allocation",
                field("source_port", 1, T_STRING),
                field("source_channel", 2, T_STRING),
                field("spend_limit", 3, T_MESSAGE, REP, COIN),
                field("allow_list", 4, T_STRING, REP),
            ),
            message(
                "TransferAuthorization",
                field(
                    "allocations",
                    1,
                    T_MESSAGE,
                    REP,
                    ".ibc.applications.transfer.v1.Allocation",
                ),
            ),
        ],
    ),
]


def descriptor_set() -> bytes:
    """FileDescriptorSet: file=1 (repeated FileDescriptorProto)."""
    return b"".join(ld(1, f) for f in FILES)


OUT_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "kafka_processor_cosmos_tx_dispatch_spark",
    "resources",
    "cosmos_tx.desc",
)

if __name__ == "__main__":
    data = descriptor_set()
    os.makedirs(os.path.dirname(OUT_PATH), exist_ok=True)
    with open(OUT_PATH, "wb") as fh:
        fh.write(data)
    print(f"wrote {OUT_PATH} ({len(data)} bytes, {len(FILES)} files)")
