"""Protobuf wire-format decoding for the Cosmos tx payload.

Re-implements the reference's tx-deserialization operator
(/root/reference/src/main/kotlin/com/okp4/processor/cosmos/
TopologyProducer.kt:86-96 and TxRaw.toTx() at :48-54) without compiled
protobuf classes: a minimal, pure-Python reader of the protobuf wire
format (varints, 64/32-bit, length-delimited — the full tag space),
shared with descriptors.py's descriptor-set parser and its generated
decoders. Decoding renders the tx and every
`Any` payload through the decoders functions/descriptors.py generates
from the checked-in descriptor set, by the protobuf-JSON conventions the
reference's predicates are written against (camelCase field names,
`Any` as an `@type` key, 64-bit ints as strings, bytes as base64 —
JsonFormat printer at TopologyProducer.kt:79-82).

The module reads only: rule topics carry the input bytes, never a
re-encoded tx (operators/dispatch.py:value_for_topic).

Production note: on a real cluster this step belongs in spark-protobuf
(`from_protobuf` with a descriptor set) so decode stays JVM-side; this
module keeps the engine dependency-free and the *semantics* testable —
notably Result-style failure capture (malformed bytes → error, original
bytes preserved; TopologyProducer.kt:122) and the `Any` registry
behavior (ProtoTypeRegistry.kt:13-32 — here descriptor-driven: the
checked-in FileDescriptorSet renders any contained type through
functions/descriptors.py, no per-type code).
"""

from __future__ import annotations

from typing import Any

__all__ = ["DecodeError", "decode_tx", "parse_group"]


class DecodeError(ValueError):
    """Malformed wire bytes — the analog of `Result.failure` in the
    reference's decode stage."""


# ---------------------------------------------------------------------------
# wire-level reader
# ---------------------------------------------------------------------------


_MASK64 = (1 << 64) - 1


def _vrest(buf: bytes, pos: int, b: int) -> tuple[int, int]:
    """The rest of a varint whose first byte ``b`` (≥ 0x80) is read;
    unmasked, so a length can never wrap to a small value."""
    result = b & 0x7F
    shift = 7
    size = len(buf)
    while True:
        if pos >= size:
            raise DecodeError("truncated varint")
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7
        if shift > 63:
            raise DecodeError("varint too long")


def _wire_value(buf: bytes, pos: int, key: int):
    """(value, pos) of one field of any wire type: int or bytes."""
    if key < 8:
        raise DecodeError("field number 0")
    wt = key & 7
    size = len(buf)
    if wt == 0:
        if pos >= size:
            raise DecodeError("truncated varint")
        b = buf[pos]
        if b < 0x80:
            return b, pos + 1
        v, pos = _vrest(buf, pos + 1, b)
        return v & _MASK64, pos
    if wt == 1:
        if pos + 8 > size:
            raise DecodeError("truncated fixed64")
        return int.from_bytes(buf[pos : pos + 8], "little"), pos + 8
    if wt == 2:
        if pos >= size:
            raise DecodeError("truncated varint")
        n = buf[pos]
        pos += 1
        if n >= 0x80:
            n, pos = _vrest(buf, pos, n)
        if pos + n > size:
            raise DecodeError("truncated bytes field")
        return buf[pos : pos + n], pos + n
    if wt == 5:
        if pos + 4 > size:
            raise DecodeError("truncated fixed32")
        return int.from_bytes(buf[pos : pos + 4], "little"), pos + 4
    raise DecodeError(f"unsupported wire type {wt}")


def _fields(buf: bytes):
    pos = 0
    size = len(buf)
    while pos < size:
        key = buf[pos]
        pos += 1
        if key > 127:
            key, pos = _vrest(buf, pos, key)
            key &= _MASK64
        val, pos = _wire_value(buf, pos, key)
        yield key >> 3, key & 7, val


def parse_group(buf: bytes) -> dict[int, list[Any]]:
    """field_no → [values in wire order]. Reads the descriptor set
    (decoding goes through the generated decoders,
    functions/descriptors.py)."""
    out: dict[int, list[Any]] = {}
    for no, _wt, val in _fields(buf):
        lst = out.get(no)
        if lst is None:
            out[no] = [val]
        else:
            lst.append(val)
    return out


_TX = "cosmos.tx.v1beta1.Tx"


_types: dict | None = None  # the default registry's decoder table, bound on first decode


def decode_tx(raw: bytes) -> dict:
    """bytes → Tx dict — exactly `TxRaw.toTx()` (TopologyProducer.kt:48-54).
    TxRaw{1: body_bytes, 2: auth_info_bytes, 3: repeated signatures} has
    Tx's wire layout, so the generated `cosmos.tx.v1beta1.Tx` decoder
    reads it directly; `body` and `authInfo` are always present, as
    `toTx()` always sets them. An `Any` of a type outside the descriptor
    set renders opaque (descriptors.py, ``_any_source``). The returned
    dict, serialized with json.dumps(separators=(',', ':')), is the
    reference's canonical protobuf-JSON. Raises DecodeError on any
    malformed input (the error-branch trigger); no other exception type
    escapes — the decode stage's failure-capture catches DecodeError
    only, so anything else would crash the job instead of routing the
    record to the error topic."""
    global _types
    if _types is None:
        from .descriptors import default_registry  # lazy: it imports this module

        _types = default_registry().decoders()
    decode = _types[_TX]
    try:
        return decode(raw, {"body": {}, "authInfo": {}})
    except DecodeError:
        raise
    except RecursionError as e:
        # CPython's wording depends on the call that hit the limit
        # ("... exceeded in comparison"); keep the reason stable per cause
        raise DecodeError("malformed tx: maximum recursion depth exceeded") from e
    except Exception as e:  # malformed in a shape we didn't enumerate
        raise DecodeError(f"malformed tx: {e}") from e
