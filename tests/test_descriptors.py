"""Descriptor-driven `Any` rendering: types with NO hand-written decoder
anywhere in the engine (MsgDeposit, MsgBeginRedelegate) must render by
protobuf-JSON conventions purely from the checked-in FileDescriptorSet —
the round-2 verdict's generic-registry criterion. Plus unit coverage of
the walker's wire corners (packed repeated, zigzag, signed varints,
unknown enum numbers) that the Cosmos schema itself never exercises."""

import base64

from hypothesis import given, settings
from hypothesis import strategies as st

from kafka_processor_cosmos_tx_dispatch_spark.functions import protowire
from kafka_processor_cosmos_tx_dispatch_spark.functions.descriptors import (
    DecodeError,
    TypeRegistry,
    default_registry,
)


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


def _vi(field_no: int, n: int) -> bytes:
    return _varint(field_no << 3 | 0) + _varint(n)


def _any(url: str, payload: bytes) -> bytes:
    return _ld(1, url.encode()) + _ld(2, payload)


def _tx_raw(body: bytes) -> bytes:
    return _ld(1, body) + _ld(2, b"")


DEPOSIT_URL = "type.googleapis.com/cosmos.gov.v1beta1.MsgDeposit"
REDELEGATE_URL = "type.googleapis.com/cosmos.staking.v1beta1.MsgBeginRedelegate"


class TestNoHandDecoderTypes:
    def test_msg_deposit_renders_from_descriptor_alone(self):
        coin = _ld(1, b"uknow") + _ld(2, b"12")
        msg = _vi(1, 7) + _ld(2, b"okp41deposit") + _ld(3, coin) + _ld(3, coin)
        tx = protowire.decode_tx(_tx_raw(_ld(1, _any(DEPOSIT_URL, msg))))
        assert tx["body"]["messages"] == [
            {
                "@type": DEPOSIT_URL,
                "proposalId": "7",  # uint64 → string, camelCase json name
                "depositor": "okp41deposit",
                "amount": [
                    {"denom": "uknow", "amount": "12"},
                    {"denom": "uknow", "amount": "12"},
                ],
            }
        ]

    def test_msg_begin_redelegate(self):
        coin = _ld(1, b"uknow") + _ld(2, b"5")
        msg = (
            _ld(1, b"okp41del")
            + _ld(2, b"okp41valsrc")
            + _ld(3, b"okp41valdst")
            + _ld(4, coin)
        )
        tx = protowire.decode_tx(_tx_raw(_ld(1, _any(REDELEGATE_URL, msg))))
        assert tx["body"]["messages"] == [
            {
                "@type": REDELEGATE_URL,
                "delegatorAddress": "okp41del",
                "validatorSrcAddress": "okp41valsrc",
                "validatorDstAddress": "okp41valdst",
                "amount": {"denom": "uknow", "amount": "5"},
            }
        ]

    def test_deposit_default_omission(self):
        # proposal_id=0, depositor="", no coins → everything omitted
        msg = _vi(1, 0) + _ld(2, b"")
        tx = protowire.decode_tx(_tx_raw(_ld(1, _any(DEPOSIT_URL, msg))))
        assert tx["body"]["messages"] == [{"@type": DEPOSIT_URL}]

    @settings(max_examples=100, deadline=None)
    @given(
        pid=st.integers(min_value=0, max_value=2**63),
        dep=st.text(alphabet="abc123", max_size=12),
        amounts=st.lists(st.integers(min_value=0, max_value=10**9), max_size=3),
    )
    def test_deposit_property(self, pid, dep, amounts):
        msg = _vi(1, pid) + _ld(2, dep.encode())
        for a in amounts:
            msg += _ld(3, _ld(1, b"uknow") + _ld(2, str(a).encode()))
        tx = protowire.decode_tx(_tx_raw(_ld(1, _any(DEPOSIT_URL, msg))))
        exp = {"@type": DEPOSIT_URL}
        if pid:
            exp["proposalId"] = str(pid)
        if dep:
            exp["depositor"] = dep
        if amounts:
            exp["amount"] = [
                {"denom": "uknow", "amount": str(a)} for a in amounts
            ]
        assert tx["body"]["messages"] == [exp]


def _registry_with(test_fields: bytes) -> TypeRegistry:
    """Minimal one-message FileDescriptorSet for walker corner tests."""
    msg = _ld(1, b"T") + test_fields
    fdp = _ld(1, b"t.proto") + _ld(2, b"test") + _ld(4, msg) + _ld(12, b"proto3")
    return TypeRegistry.from_bytes(_ld(1, fdp))


def _fd(name: bytes, number: int, ftype: int, label: int = 1) -> bytes:
    return _ld(
        2, _ld(1, name) + _vi(3, number) + _vi(4, label) + _vi(5, ftype)
    )


class TestWalkerWireCorners:
    def test_packed_and_unpacked_repeated_varints_mix(self):
        reg = _registry_with(_fd(b"xs", 1, 3, label=3))  # repeated int64
        packed = _ld(1, _varint(3) + _varint(300) + _varint(7))
        unpacked = _vi(1, 11)
        out = reg.decode("test.T", packed + unpacked)
        assert out == {"xs": ["3", "300", "7", "11"]}

    def test_zigzag_sint(self):
        reg = _registry_with(_fd(b"z", 1, 18))  # sint64
        assert reg.decode("test.T", _vi(1, 5)) == {"z": "-3"}
        assert reg.decode("test.T", _vi(1, 4)) == {"z": "2"}

    def test_negative_int64_varint(self):
        reg = _registry_with(_fd(b"n", 1, 3))  # int64
        assert reg.decode("test.T", _vi(1, 0)) == {}  # default omitted
        enc = _varint((1 << 64) - 5)  # -5, two's complement on the wire
        assert reg.decode("test.T", _varint(1 << 3 | 0) + enc) == {"n": "-5"}

    def test_int32_stays_json_number(self):
        reg = _registry_with(_fd(b"i", 1, 5))  # int32
        assert reg.decode("test.T", _vi(1, 42)) == {"i": 42}

    def test_bool_and_bytes(self):
        reg = _registry_with(_fd(b"b", 1, 8) + _fd(b"d", 2, 12))
        out = reg.decode("test.T", _vi(1, 1) + _ld(2, b"\x01\x02"))
        assert out == {
            "b": True,
            "d": base64.b64encode(b"\x01\x02").decode(),
        }

    def test_unknown_field_numbers_ignored(self):
        reg = _registry_with(_fd(b"i", 1, 5))
        assert reg.decode("test.T", _vi(1, 1) + _vi(99, 7)) == {"i": 1}


class TestRegistryPolicy:
    def test_vote_unknown_enum_number_renders_as_int(self):
        url = "type.googleapis.com/cosmos.gov.v1beta1.MsgVote"
        msg = _vi(1, 1) + _ld(2, b"v") + _vi(3, 9)
        tx = protowire.decode_tx(_tx_raw(_ld(1, _any(url, msg))))
        assert tx["body"]["messages"][0]["option"] == 9

    def test_strict_any_propagates_through_nesting(self):
        # an unknown type inside the tx renders opaque (the one Any policy)
        unknown = _any("type.googleapis.com/x.Nope", b"")
        tx_bytes = _tx_raw(_ld(1, unknown))
        out = protowire.decode_tx(tx_bytes)
        assert out["body"]["messages"][0] == {
            "@type": "type.googleapis.com/x.Nope",
            "value": "",
        }

    def test_every_message_in_desc_is_decodable_empty(self):
        reg = default_registry()
        for fqn in reg._messages:
            assert reg.decode(fqn, b"") == {}


class TestWireTypeValidation:
    """Numeric-typed fields fed a length-delimited wire value must raise
    DecodeError (→ error-topic routing), never return raw bytes that
    would TypeError in json.dumps and kill the Spark task — the
    reference captures ALL deserialization failures (runCatching,
    TopologyProducer.kt:122)."""

    def _raises(self, reg, payload):
        try:
            reg.decode("test.T", payload)
        except protowire.DecodeError:
            return
        raise AssertionError("expected DecodeError")

    def test_enum_as_length_delimited(self):
        reg = _registry_with(_fd(b"e", 1, 14))  # enum
        self._raises(reg, _ld(1, b"junk"))

    def test_bool_as_length_delimited(self):
        reg = _registry_with(_fd(b"b", 1, 8))
        self._raises(reg, _ld(1, b"\x01"))

    def test_double_as_length_delimited(self):
        reg = _registry_with(_fd(b"d", 1, 1))
        self._raises(reg, _ld(1, b"\x00" * 8))

    def test_float_as_fixed64(self):
        # fixed64 value (up to 2**64-1) into a float field: must raise,
        # not OverflowError inside to_bytes(4)
        reg = _registry_with(_fd(b"f", 1, 2))
        payload = _varint(1 << 3 | 1) + (2**64 - 1).to_bytes(8, "little")
        self._raises(reg, payload)

    def test_int_as_length_delimited_unpacked_singular(self):
        reg = _registry_with(_fd(b"i", 1, 5))  # singular int32
        self._raises(reg, _ld(1, b"abc"))

    def test_msgvote_bad_enum_routes_to_error_not_crash(self):
        # the ADVICE repro: MsgVote.option as length-delimited — must
        # surface as the decode stage's error column end-to-end
        url = "type.googleapis.com/cosmos.gov.v1beta1.MsgVote"
        msg = _vi(1, 1) + _ld(2, b"v") + _ld(3, b"junk")
        raw = _tx_raw(_ld(1, _any(url, msg)))
        try:
            protowire.decode_tx(raw)
        except protowire.DecodeError:
            pass
        else:
            raise AssertionError("expected DecodeError")


class TestJsonNameAlgorithm:
    def test_camel_preserves_mixed_case(self):
        # protoc jsonName: foo_bAR → fooBAR (capitalize() would give fooBar)
        from kafka_processor_cosmos_tx_dispatch_spark.functions.descriptors import (
            _camel,
        )

        assert _camel("foo_bAR") == "fooBAR"
        assert _camel("from_address") == "fromAddress"
        assert _camel("a__b") == "aB"
        assert _camel("single") == "single"


class TestVarintMask:
    def test_ten_byte_varint_wraps_modulo_2_64(self):
        # full 10-byte varint with all payload bits set encodes a value
        # >= 2**64; wire semantics are modulo 2**64 → -1 for int64
        reg = _registry_with(_fd(b"n", 1, 3))  # int64
        ten = bytes([0xFF] * 9 + [0x7F])  # 2**70 - 1 untruncated
        out = reg.decode("test.T", _varint(1 << 3 | 0) + ten)
        assert out == {"n": "-1"}  # (2**70-1) mod 2**64 == 2**64-1 → -1


class TestWellKnownForms:
    """JsonFormat string forms for Timestamp/Duration fields
    (descriptors.py:_render_timestamp/_render_duration) — fraction-digit
    tiers (0/3/6/9), negative durations, and JsonFormat's range/sign
    errors mapping to DecodeError (→ error-topic routing)."""

    def test_timestamp_fraction_tiers(self):
        from kafka_processor_cosmos_tx_dispatch_spark.functions.descriptors import (
            _render_timestamp as ts,
        )

        def enc(secs, nanos=0):
            out = b""
            if secs:
                out += _varint(1 << 3) + _varint(secs & (2**64 - 1))
            if nanos:
                out += _varint(2 << 3) + _varint(nanos)
            return out

        assert ts(enc(0)) == "1970-01-01T00:00:00Z"
        assert ts(enc(1700000000)) == "2023-11-14T22:13:20Z"
        assert ts(enc(1700000000, 5_000_000)) == "2023-11-14T22:13:20.005Z"
        assert ts(enc(1700000000, 5_000)) == "2023-11-14T22:13:20.000005Z"
        assert ts(enc(1700000000, 5)) == "2023-11-14T22:13:20.000000005Z"
        # negative seconds (pre-epoch) and the year-1 lower bound,
        # zero-padded to 4 digits (strftime would print "1")
        assert ts(enc(-1)) == "1969-12-31T23:59:59Z"
        assert ts(enc(-62_135_596_800)) == "0001-01-01T00:00:00Z"
        assert ts(enc(253_402_300_799)) == "9999-12-31T23:59:59Z"
        for bad in (enc(253_402_300_800), enc(-62_135_596_801)):
            try:
                ts(bad)
                raise AssertionError("expected DecodeError")
            except DecodeError:
                pass

    def test_duration_forms_and_sign(self):
        from kafka_processor_cosmos_tx_dispatch_spark.functions.descriptors import (
            _render_duration as dur,
        )

        def enc(secs, nanos=0):
            out = b""
            if secs:
                out += _varint(1 << 3) + _varint(secs & (2**64 - 1))
            if nanos:
                out += _varint(2 << 3) + _varint(nanos & (2**64 - 1))
            return out

        assert dur(enc(0)) == "0s"
        assert dur(enc(3600)) == "3600s"
        assert dur(enc(1, 500_000_000)) == "1.500s"
        assert dur(enc(-1, -500_000_000)) == "-1.500s"
        assert dur(enc(0, -1)) == "-0.000000001s"
        assert dur(enc(315_576_000_000)) == "315576000000s"
        for bad in (enc(315_576_000_001), enc(1, -1), enc(-1, 1)):
            try:
                dur(bad)
                raise AssertionError("expected DecodeError")
            except DecodeError:
                pass
