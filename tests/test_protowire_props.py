"""Property-based tests (hypothesis) for the protobuf wire decoder:
random well-formed transactions encode → decode to the expected JSON
object, and arbitrary byte garbage either decodes or raises DecodeError
(never hangs, never returns junk silently). The reference declares a
property-testing library but never uses it (SURVEY.md §5); the decoder
here is the one component where malformed input is a ROUTINE code path
(the error topic), so it gets the property treatment."""

import base64

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from kafka_processor_cosmos_tx_dispatch_spark.functions import protowire

MSG_SEND_URL = "type.googleapis.com/cosmos.bank.v1beta1.MsgSend"


# --- wire encoder (tests only) ---------------------------------------------
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


ADDR = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz0123456789", min_size=0, max_size=24
)
AMOUNT = st.integers(min_value=0, max_value=10**12)


@st.composite
def tx_strategy(draw):
    msgs = draw(
        st.lists(
            st.tuples(ADDR, ADDR, st.lists(AMOUNT, max_size=3)), max_size=3
        )
    )
    sigs = draw(st.lists(st.binary(max_size=16), max_size=2))
    body = b""
    expected_msgs = []
    for frm, to, amounts in msgs:
        coins = b"".join(
            _ld(1, b"uknow") + _ld(2, str(a).encode()) for a in amounts
        )
        m = _ld(1, frm.encode()) + _ld(2, to.encode())
        m += b"".join(
            _ld(3, _ld(1, b"uknow") + _ld(2, str(a).encode())) for a in amounts
        )
        del coins
        body += _ld(1, _ld(1, MSG_SEND_URL.encode()) + _ld(2, m))
        exp = {"@type": MSG_SEND_URL}
        if frm:
            exp["fromAddress"] = frm
        if to:
            exp["toAddress"] = to
        if amounts:
            exp["amount"] = [
                {"denom": "uknow", "amount": str(a)} for a in amounts
            ]
        expected_msgs.append(exp)
    raw = _ld(1, body) + _ld(2, b"")
    for s in sigs:
        raw += _ld(3, s)
    expected = {"body": {}, "authInfo": {}}
    if expected_msgs:
        expected["body"]["messages"] = expected_msgs
    if sigs:
        expected["signatures"] = [base64.b64encode(s).decode() for s in sigs]
    return raw, expected


@settings(max_examples=200, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(tx_strategy())
def test_roundtrip_encode_decode(case):
    raw, expected = case
    assert protowire.decode_tx(raw) == expected


MSG_DELEGATE_URL = "type.googleapis.com/cosmos.staking.v1beta1.MsgDelegate"
MSG_VOTE_URL = "type.googleapis.com/cosmos.gov.v1beta1.MsgVote"
MSG_WITHDRAW_URL = (
    "type.googleapis.com/cosmos.distribution.v1beta1.MsgWithdrawDelegatorReward"
)
_VOTE_NAMES = {
    1: "VOTE_OPTION_YES",
    2: "VOTE_OPTION_ABSTAIN",
    3: "VOTE_OPTION_NO",
    4: "VOTE_OPTION_NO_WITH_VETO",
}


def _vi_field(field_no: int, n: int) -> bytes:
    return _varint(field_no << 3 | 0) + _varint(n)


@st.composite
def mixed_msg_strategy(draw):
    """Transactions mixing every registered Any type (plus unknowns) in
    one messages array — the heterogeneous-Any shape the registry must
    render without interference between decoders."""
    kinds = draw(
        st.lists(
            st.sampled_from(["send", "delegate", "vote", "withdraw", "unknown"]),
            min_size=1,
            max_size=4,
        )
    )
    body = b""
    expected_msgs = []
    for i, kind in enumerate(kinds):
        addr_a = draw(ADDR)
        addr_b = draw(ADDR)
        if kind == "send":
            m = _ld(1, addr_a.encode()) + _ld(2, addr_b.encode())
            body += _ld(1, _ld(1, MSG_SEND_URL.encode()) + _ld(2, m))
            exp = {"@type": MSG_SEND_URL}
            if addr_a:
                exp["fromAddress"] = addr_a
            if addr_b:
                exp["toAddress"] = addr_b
        elif kind == "delegate":
            amt = draw(AMOUNT)
            coin = _ld(1, b"uknow") + _ld(2, str(amt).encode())
            m = _ld(1, addr_a.encode()) + _ld(2, addr_b.encode()) + _ld(3, coin)
            body += _ld(1, _ld(1, MSG_DELEGATE_URL.encode()) + _ld(2, m))
            exp = {"@type": MSG_DELEGATE_URL}
            if addr_a:
                exp["delegatorAddress"] = addr_a
            if addr_b:
                exp["validatorAddress"] = addr_b
            exp["amount"] = {"denom": "uknow", "amount": str(amt)}
        elif kind == "vote":
            pid = draw(st.integers(min_value=0, max_value=2**40))
            opt = draw(st.integers(min_value=0, max_value=6))
            m = _vi_field(1, pid) + _ld(2, addr_a.encode()) + _vi_field(3, opt)
            body += _ld(1, _ld(1, MSG_VOTE_URL.encode()) + _ld(2, m))
            exp = {"@type": MSG_VOTE_URL}
            if pid:
                exp["proposalId"] = str(pid)
            if addr_a:
                exp["voter"] = addr_a
            if opt:
                exp["option"] = _VOTE_NAMES.get(opt, opt)
        elif kind == "withdraw":
            m = _ld(1, addr_a.encode()) + _ld(2, addr_b.encode())
            body += _ld(1, _ld(1, MSG_WITHDRAW_URL.encode()) + _ld(2, m))
            exp = {"@type": MSG_WITHDRAW_URL}
            if addr_a:
                exp["delegatorAddress"] = addr_a
            if addr_b:
                exp["validatorAddress"] = addr_b
        else:  # unknown type → opaque rendering (pinned policy)
            payload = draw(st.binary(max_size=8))
            url = f"type.googleapis.com/x.test.Msg{i}"
            body += _ld(1, _ld(1, url.encode()) + _ld(2, payload))
            exp = {
                "@type": url,
                "value": base64.b64encode(payload).decode(),
            }
        expected_msgs.append(exp)
    raw = _ld(1, body) + _ld(2, b"")
    expected = {"body": {"messages": expected_msgs}, "authInfo": {}}
    return raw, expected


@settings(max_examples=200, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(mixed_msg_strategy())
def test_mixed_registry_roundtrip(case):
    raw, expected = case
    assert protowire.decode_tx(raw) == expected


@settings(max_examples=300, deadline=None)
@given(st.binary(min_size=0, max_size=64))
def test_garbage_never_hangs_or_lies(data):
    """Arbitrary bytes: either a clean DecodeError (→ error topic) or a
    dict — the decoder must terminate and never raise anything else."""
    try:
        out = protowire.decode_tx(data)
    except protowire.DecodeError:
        return
    assert isinstance(out, dict)


# --- canonical re-serialization (reference: tx.toByteArray(), kt:155-159) ---

CANON_ADDR = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz0123456789", min_size=1, max_size=24
)


@st.composite
def canonical_tx_strategy(draw):
    """TxRaw bytes already in protobuf-java's writer form: fields in
    number order, minimal varints, no explicitly-present default scalars
    — the encodings reencode_tx must round-trip byte-identically."""
    msgs = draw(
        st.lists(
            st.tuples(CANON_ADDR, CANON_ADDR, st.lists(AMOUNT, max_size=3)),
            max_size=3,
        )
    )
    sigs = draw(st.lists(st.binary(min_size=1, max_size=16), max_size=2))
    body = b""
    for frm, to, amounts in msgs:
        m = _ld(1, frm.encode()) + _ld(2, to.encode())
        m += b"".join(
            _ld(3, _ld(1, b"uknow") + _ld(2, str(a).encode())) for a in amounts
        )
        body += _ld(1, _ld(1, MSG_SEND_URL.encode()) + _ld(2, m))
    raw = _ld(1, body) + _ld(2, b"") + b"".join(_ld(3, s) for s in sigs)
    return raw


@settings(max_examples=200, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(canonical_tx_strategy())
def test_reencode_canonical_roundtrip(raw):
    assert protowire.reencode_tx(raw) == raw


@settings(max_examples=200, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(tx_strategy())
def test_reencode_idempotent_and_json_preserving(case):
    """For any well-formed tx (canonical or not): re-encoding is
    idempotent (the first pass lands on the canonical form) and never
    changes the decoded JSON object."""
    raw, expected = case
    enc = protowire.reencode_tx(raw)
    assert protowire.reencode_tx(enc) == enc
    assert protowire.decode_tx(enc) == expected


class TestReencodeGoldens:
    def test_any_payload_survives_verbatim(self):
        # protobuf-java's TxRaw.parseFrom→toTx→toByteArray NEVER parses
        # the payload behind an Any — Any.value is an opaque bytes field
        # that round-trips verbatim. A non-minimal varint INSIDE the
        # payload (MsgVote.proposal_id = 1 as 81 00) must therefore
        # survive, even though the type is registered (r5 ADVICE: an
        # earlier revision canonicalized it, breaking byte parity).
        vote_url = b"type.googleapis.com/cosmos.gov.v1beta1.MsgVote"
        non_minimal = bytes([1 << 3 | 0, 0x81, 0x00])  # field 1 varint "1"
        msg = non_minimal + _ld(2, b"voter1")
        raw = _ld(1, _ld(1, _ld(1, vote_url) + _ld(2, msg))) + _ld(2, b"")
        assert protowire.reencode_tx(raw) == raw
        # out-of-order + explicit-default inside the payload survive too
        msg2 = _ld(2, b"dest") + _ld(1, b"")
        raw2 = (
            _ld(1, _ld(1, _ld(1, MSG_SEND_URL.encode()) + _ld(2, msg2)))
            + _ld(2, b"")
        )
        assert protowire.reencode_tx(raw2) == raw2

    def test_non_minimal_varint_normalized_at_parsed_level(self):
        # Fee.gas_limit IS parsed (AuthInfo → Fee are real message
        # fields), so a non-minimal varint there is re-emitted minimally
        fee = bytes([2 << 3 | 0, 0x81, 0x00])  # gas_limit=1 as 81 00
        raw = _ld(1, b"") + _ld(2, _ld(2, fee))
        enc = protowire.reencode_tx(raw)
        want_fee = bytes([2 << 3 | 0, 0x01])
        assert enc == _ld(1, b"") + _ld(2, _ld(2, want_fee))

    def test_out_of_order_fields_sorted_at_parsed_level(self):
        # the Any ENVELOPE is parsed: value(2) before type_url(1) sorts
        any_bytes = _ld(2, b"\x08\x01") + _ld(1, MSG_SEND_URL.encode())
        raw = _ld(1, _ld(1, any_bytes)) + _ld(2, b"")
        enc = protowire.reencode_tx(raw)
        want_any = _ld(1, MSG_SEND_URL.encode()) + _ld(2, b"\x08\x01")
        assert enc == _ld(1, _ld(1, want_any)) + _ld(2, b"")

    def test_explicit_default_scalar_dropped_at_parsed_level(self):
        # TxBody.memo explicitly present as "" — proto3 writers omit it
        body = _ld(2, b"")
        raw = _ld(1, body) + _ld(2, b"")
        enc = protowire.reencode_tx(raw)
        assert enc == _ld(1, b"") + _ld(2, b"")

    def test_unknown_fields_emit_after_known(self):
        # SignerInfo declares only public_key(1) and sequence(3) in the
        # descriptor set — field 2 (mode_info) lands in the unknown-field
        # section, which protobuf-java writes AFTER all known fields: an
        # input with field 2 before field 3 must re-emit as 3 then 2,
        # never interleaved ascending (r5 ADVICE)
        signer = _ld(2, b"\x0a\x00") + bytes([3 << 3 | 0, 0x07])  # seq=7
        raw = _ld(1, b"") + _ld(2, _ld(1, signer))
        enc = protowire.reencode_tx(raw)
        want_signer = bytes([3 << 3 | 0, 0x07]) + _ld(2, b"\x0a\x00")
        assert enc == _ld(1, b"") + _ld(2, _ld(1, want_signer))

    def test_empty_tx_emits_set_message_fields(self):
        # TxRaw.toTx() always SETS body/auth_info, and set-but-empty
        # message fields serialize as zero-length fields (0a00 1200)
        assert protowire.reencode_tx(b"") == _ld(1, b"") + _ld(2, b"")

    def test_unknown_any_type_passes_through_opaque(self):
        payload = b"\x08\x01"
        any_bytes = _ld(1, b"type.googleapis.com/x.Nope") + _ld(2, payload)
        raw = _ld(1, _ld(1, any_bytes)) + _ld(2, b"")
        assert protowire.reencode_tx(raw) == raw
