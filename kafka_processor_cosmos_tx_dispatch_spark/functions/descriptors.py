"""Descriptor-driven protobuf-JSON rendering of transactions and their
`Any` payloads.

The reference resolves `Any` types by scanning the classpath for every
compiled protobuf class and folding their descriptors into a JsonFormat
TypeRegistry (/root/reference/src/main/kotlin/com/okp4/processor/cosmos/
ProtoTypeRegistry.kt:16-31) — i.e. it can render ANY type it was compiled
with, with zero per-type code. This module is the same idea for an engine
with no compiled classes: the checked-in FileDescriptorSet
(``load_descriptor_set``) carries the full schema, and ONE generated
decoder per message type renders it by the protobuf-JSON conventions
(camelCase/json_name keys, 64-bit ints as strings, bytes as base64,
enums by name with unknown numbers as ints, proto3 scalar
default-omission, `Any` nesting with `@type`).  The
decoders are straight-line Python source generated from the descriptor
tables, each compiled on its type's first decode (``TypeRegistry.decoders``);
the transaction itself (functions/protowire.py) decodes through the
generated `cosmos.tx.v1beta1.Tx` decoder.

A FileDescriptorSet is itself a protobuf message, so it is parsed with
the same pure-Python wire reader used for transactions
(functions/protowire.py) — no `protobuf` package dependency. Field and
type numbers below are from the public descriptor.proto.

Well-known types: `google.protobuf.Timestamp` and `Duration` fields
render as JsonFormat's string forms (RFC3339 "Z" / "Ns" with 0/3/6/9
fractional digits) — the feegrant allowance types carry both. The other
wrapper specials (Struct/Value/wrappers.proto) remain absent from the tx
schema; a hypothetical occurrence would render as a plain object, and
Timestamp/Duration wrapped DIRECTLY in an Any (never seen in Cosmos
traffic — they appear as fields) also take the object form.

Not implemented (absent from the tx schema): groups, proto2 extensions,
map fields; encountering one raises DecodeError, which the decode stage
converts to error-topic routing.
"""

from __future__ import annotations

import binascii
import os
import struct
from datetime import datetime, timedelta
from dataclasses import dataclass
from typing import Callable

from .protowire import (
    DecodeError,
    _vrest,
    _wire_value,
    encode_ld,
    encode_varint,
    parse_fields,
    parse_group,
)

__all__ = ["TypeRegistry", "default_registry", "load_descriptor_set"]

# FieldDescriptorProto.Type (descriptor.proto)
_T_DOUBLE = 1
_T_FLOAT = 2
_T_INT64 = 3
_T_UINT64 = 4
_T_INT32 = 5
_T_FIXED64 = 6
_T_FIXED32 = 7
_T_BOOL = 8
_T_STRING = 9
_T_GROUP = 10
_T_MESSAGE = 11
_T_BYTES = 12
_T_UINT32 = 13
_T_ENUM = 14
_T_SFIXED32 = 15
_T_SFIXED64 = 16
_T_SINT32 = 17
_T_SINT64 = 18

_LABEL_REPEATED = 3

# JsonFormat renders 64-bit integers as JSON strings (precision safety)
_AS_STRING_64 = {_T_INT64, _T_UINT64, _T_FIXED64, _T_SFIXED64, _T_SINT64}
_SIGNED_VARINT = {_T_INT64, _T_INT32}  # two's-complement varints
_ZIGZAG = {_T_SINT32, _T_SINT64}
# proto3 packed-by-default scalar types: a repeated field may arrive as
# one length-delimited blob of concatenated values
_PACKED_VARINT = {
    _T_INT64,
    _T_UINT64,
    _T_INT32,
    _T_UINT32,
    _T_BOOL,
    _T_ENUM,
    _T_SINT32,
    _T_SINT64,
}
_PACKED_FIXED64 = {_T_FIXED64, _T_SFIXED64, _T_DOUBLE}
_PACKED_FIXED32 = {_T_FIXED32, _T_SFIXED32, _T_FLOAT}

_ANY_FQN = "google.protobuf.Any"
_TIMESTAMP_FQN = "google.protobuf.Timestamp"
_DURATION_FQN = "google.protobuf.Duration"


@dataclass(frozen=True)
class _Field:
    json_name: str
    number: int
    ftype: int
    repeated: bool
    type_name: str  # fully-qualified (no leading dot) for message/enum


_g = parse_group  # fused parse+group (protowire.py)


def _utf8(v) -> str:
    if not isinstance(v, bytes):
        raise DecodeError("expected length-delimited field")
    try:
        return v.decode("utf-8")
    except UnicodeDecodeError as e:
        raise DecodeError("invalid utf-8 string") from e


def _camel(name: str) -> str:
    # protoc's jsonName: uppercase the first letter of each segment after
    # the first, PRESERVING the rest (capitalize() would lowercase it:
    # foo_bAR must give fooBAR, not fooBar)
    parts = name.split("_")
    return parts[0] + "".join(p[:1].upper() + p[1:] for p in parts[1:])


def _signed64(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


# -- well-known Timestamp/Duration string forms (JsonFormat parity) ----------

_EPOCH = datetime(1970, 1, 1)


def _wkt_parts(v) -> tuple[int, int]:
    """(seconds, nanos) of a wire-encoded Timestamp/Duration message —
    both are {int64 seconds=1; int32 nanos=2}. Singular numerics:
    last occurrence wins; negative int32 arrives sign-extended to 64
    bits (standard varint encoding), so _signed64 recovers both."""
    if not isinstance(v, bytes):
        raise DecodeError("expected length-delimited message")
    secs = nanos = 0
    for no, occ in _g(v).items():
        raw = occ[-1]
        if no == 1:
            if not isinstance(raw, int):
                raise DecodeError("expected varint seconds")
            secs = _signed64(raw)
        elif no == 2:
            if not isinstance(raw, int):
                raise DecodeError("expected varint nanos")
            nanos = _signed64(raw)
    return secs, nanos


def _frac(n: int) -> str:
    """JsonFormat fractional seconds: none / 3 / 6 / 9 digits."""
    if n == 0:
        return ""
    if n % 1_000_000 == 0:
        return f".{n // 1_000_000:03d}"
    if n % 1_000 == 0:
        return f".{n // 1_000:06d}"
    return f".{n:09d}"


def _render_timestamp(v) -> str:
    """RFC3339 UTC string, the form JsonFormat prints for a Timestamp
    field (range 0001-01-01..9999-12-31, nanos in [0, 1e9); out-of-range
    raises — JsonFormat throws there too, which the decode stage maps to
    error-topic routing)."""
    secs, nanos = _wkt_parts(v)
    if not -62_135_596_800 <= secs <= 253_402_300_799:
        raise DecodeError("timestamp seconds out of range")
    if not 0 <= nanos <= 999_999_999:
        raise DecodeError("timestamp nanos out of range")
    dt = _EPOCH + timedelta(seconds=secs)
    return (
        f"{dt.year:04d}-{dt.month:02d}-{dt.day:02d}"
        f"T{dt.hour:02d}:{dt.minute:02d}:{dt.second:02d}{_frac(nanos)}Z"
    )


def _render_duration(v) -> str:
    """JsonFormat Duration string: "<sign><seconds><.frac>s" (range
    ±315,576,000,000s ≈ ±10,000 years; seconds and nanos must agree in
    sign)."""
    secs, nanos = _wkt_parts(v)
    if abs(secs) > 315_576_000_000 or abs(nanos) > 999_999_999:
        raise DecodeError("duration out of range")
    if secs and nanos and (secs < 0) != (nanos < 0):
        raise DecodeError("duration seconds/nanos sign mismatch")
    sign = "-" if (secs < 0 or nanos < 0) else ""
    return f"{sign}{abs(secs)}{_frac(abs(nanos))}s"


# -- generated decoders --------------------------------------------------------
#
# Every message type in the set becomes one straight-line Python function
# ``_m<i>(buf, out) -> out``: a tag loop whose expected (field, wire type)
# keys read their value inline, then one block per field, in descriptor
# order, that converts the field's last (singular) or every (repeated)
# occurrence and applies proto3 default omission.  Fields arriving with
# another wire type take the generic reader and fail in conversion, as
# any wire-type mismatch must (DecodeError → error topic).

def _unpack(ftype: int, vals: list) -> list:
    """Expand packed encodings: any length-delimited occurrence of a
    packable scalar field is a concatenation of values."""
    flat: list = []
    for v in vals:
        if not isinstance(v, bytes):
            flat.append(v)
        elif ftype in _PACKED_VARINT:
            pos = 0
            while pos < len(v):
                # varints inside a packed blob
                item, shift = 0, 0
                while True:
                    if pos >= len(v):
                        raise DecodeError("truncated packed varint")
                    b = v[pos]
                    pos += 1
                    item |= (b & 0x7F) << shift
                    if not b & 0x80:
                        break
                    shift += 7
                    if shift > 63:
                        raise DecodeError("packed varint too long")
                flat.append(item)
        elif ftype in _PACKED_FIXED64:
            if len(v) % 8:
                raise DecodeError("truncated packed fixed64")
            flat.extend(int.from_bytes(v[i : i + 8], "little") for i in range(0, len(v), 8))
        elif ftype in _PACKED_FIXED32:
            if len(v) % 4:
                raise DecodeError("truncated packed fixed32")
            flat.extend(int.from_bytes(v[i : i + 4], "little") for i in range(0, len(v), 4))
        else:
            raise DecodeError(f"length-delimited value for scalar type {ftype}")
    return flat


def _double(v: int) -> float:
    if v >> 64:
        raise DecodeError("double value exceeds 64 bits")
    return struct.unpack("<d", v.to_bytes(8, "little"))[0]


def _float(v: int) -> float:
    if v >> 32:
        raise DecodeError("float value exceeds 32 bits")
    return struct.unpack("<f", v.to_bytes(4, "little"))[0]


def _b64(v: bytes) -> str:
    return binascii.b2a_base64(v, newline=False).decode()


_NOT_LD = {
    _T_MESSAGE: "expected length-delimited message",
    _T_STRING: "expected length-delimited field",
    _T_BYTES: "expected length-delimited bytes",
}
# scalar → JSON value of the raw wire integer ``s``
_XFORM = {
    _T_SINT32: "(s >> 1) ^ -(s & 1)",
    _T_SINT64: "(s >> 1) ^ -(s & 1)",
    _T_INT32: "s - 18446744073709551616 if s >= 9223372036854775808 else s",
    _T_INT64: "s - 18446744073709551616 if s >= 9223372036854775808 else s",
    _T_SFIXED64: "s - 18446744073709551616 if s >= 9223372036854775808 else s",
    _T_SFIXED32: "s - 4294967296 if s >= 2147483648 else s",
    _T_BOOL: "s != 0",
    _T_DOUBLE: "_double(s)",
    _T_FLOAT: "_float(s)",
}
# proto3 default omission of a singular field's converted value ``v``
_PRINTABLE = {_T_BOOL: "v is True", _T_ENUM: "s != 0", _T_STRING: "v", _T_BYTES: "v"}


def _conv(fd: _Field, names: dict[str, str]) -> list[str]:
    """Lines turning the raw occurrence ``s`` of field ``fd`` into ``v``."""
    t = fd.ftype
    if t == _T_GROUP:
        return ['raise DecodeError("proto2 groups are not supported")']
    if t in _NOT_LD:
        lines = [f"if s.__class__ is not bytes: raise DecodeError({_NOT_LD[t]!r})"]
        if t == _T_STRING:
            return lines + [
                "try: v = s.decode()",
                'except UnicodeDecodeError: raise DecodeError("invalid utf-8 string") from None',
            ]
        if t == _T_BYTES:
            return lines + ["v = _b64(s)"]
        if fd.type_name == _ANY_FQN:
            return lines + ["v = _any(s)"]
        if fd.type_name == _TIMESTAMP_FQN:
            return lines + ["v = _render_timestamp(s)"]
        if fd.type_name == _DURATION_FQN:
            return lines + ["v = _render_duration(s)"]
        fn = names.get(fd.type_name, "")
        if not fn.startswith("_m"):
            return lines + [f"raise DecodeError({f'type not in descriptor set: {fd.type_name!r}'!r})"]
        return lines + [f"v = {fn}(s, {{}})"]
    lines = [
        f"if s.__class__ is not int: raise DecodeError({f'expected numeric wire value for type {t}'!r})"
    ]
    if t == _T_ENUM:
        table = names.get(fd.type_name, "")
        return lines + [f"v = {table if table.startswith('_e') else '{}'}.get(s, s)"]
    expr = _XFORM.get(t, "s")
    return lines + [f"v = str({expr})" if t in _AS_STRING_64 else f"v = {expr}"]


def _fast_wire_type(fd: _Field) -> int | None:
    """The wire type a field's usual occurrence carries, when it has an
    inline reader: 2 (length-delimited) or 0 (varint)."""
    if fd.ftype in _NOT_LD:
        return 2
    if fd.ftype in _PACKED_VARINT:
        return 0
    return None


# inline readers of one value into ``s``; an index past the end of
# ``buf`` raises IndexError, which the loop turns into "truncated varint"
_READ = {
    2: [
        "n = buf[pos]",
        "if n < 128:",
        "    pos += 1",
        "else:",  # lengths up to 16 KiB take two bytes
        "    m = buf[pos + 1]",
        "    if m < 128:",
        "        n = (n & 127) | m << 7",
        "        pos += 2",
        "    else:",
        "        n, pos = _vrest(buf, pos + 1, n)",
        "stop = pos + n",
        'if stop > end: raise DecodeError("truncated bytes field")',
        "s = buf[pos:stop]",
        "pos = stop",
    ],
    0: [
        "s = buf[pos]",
        "pos += 1",
        "if s > 127:",
        "    s, pos = _vrest(buf, pos, s)",
        "    s &= 0xFFFFFFFFFFFFFFFF",
    ],
}


def _parse_lines(fields: list[_Field], slots: dict[int, str]) -> list[str]:
    """The body of a decoder up to its field blocks: the tag loop that
    leaves each field's raw occurrence (or list of them) in its slot.
    A field's usual key stores and continues; any other occurrence of a
    known field (a wrong wire type fails later, in conversion) takes the
    generic store, and unknown fields are read and dropped."""
    repeated = {fd.number for fd in fields if fd.repeated}

    def store(no: int) -> list[str]:
        f = slots[no]
        if no in repeated:
            return [f"if {f} is None: {f} = [s]", f"else: {f}.append(s)"]
        return [f"{f} = s"]

    src = ["    " + " = ".join(slots.values()) + " = None"] if slots else []
    src += [
        "    pos = 0",
        "    end = len(buf)",
        "    try:",
        "        while pos < end:",
        "            key = buf[pos]",
        "            pos += 1",
        "            if key > 127:",
        "                key, pos = _vrest(buf, pos, key)",
        "                key &= 0xFFFFFFFFFFFFFFFF",
    ]
    branch = "if"
    for wt in (2, 0):
        fast = [fd for fd in fields if _fast_wire_type(fd) == wt]
        if not fast:
            continue
        src.append(f"            {branch} key & 7 == {wt} and key > 7:")
        src += ["                " + line for line in _READ[wt]]
        for fd in fast:
            src.append(f"                if key == {fd.number << 3 | wt}:")
            src += ["                    " + line for line in store(fd.number) + ["continue"]]
        branch = "elif"
    read = "s, pos = _wire_value(buf, pos, key)"
    src += [f"            {read}"] if branch == "if" else ["            else:", f"                {read}"]
    if slots:
        src.append("            no = key >> 3")
        for k, no in enumerate(slots):
            src.append(f"            {'el' if k else ''}if no == {no}:")
            src += ["                " + line for line in store(no)]
    return src + ["    except IndexError:", '        raise DecodeError("truncated varint") from None']


def _message_source(name: str, fields: list[_Field], names: dict[str, str]) -> list[str]:
    """One message type's decoder: the tag loop, then one block per field
    in descriptor order (the JSON key order)."""
    slots = {fd.number: f"f{k}" for k, fd in enumerate(fields)}
    src = [f"def {name}(buf, out):"] + _parse_lines(fields, slots)
    for fd in fields:
        f = slots[fd.number]
        conv = _conv(fd, names)
        key = repr(fd.json_name)
        src.append(f"    if {f} is not None:")
        if not fd.repeated:
            src.append(f"        s = {f}")
            src += ["        " + line for line in conv]
            if fd.ftype == _T_MESSAGE:
                src.append(f"        out[{key}] = v")
            else:
                shown = _PRINTABLE.get(fd.ftype, 'v != "0"' if fd.ftype in _AS_STRING_64 else "v != 0")
                src += [f"        if {shown}:", f"            out[{key}] = v"]
            continue
        ind = "        "
        if fd.ftype not in _NOT_LD:
            src += [f"        {f} = _unpack({fd.ftype}, {f})", f"        if {f}:"]
            ind += "    "
        src += [f"{ind}lst = []", f"{ind}for s in {f}:"]
        src += [f"{ind}    " + line for line in conv]
        src += [f"{ind}    lst.append(v)", f"{ind}out[{key}] = lst"]
    return src + ["    return out"]


def _any_source(names: dict[str, str]) -> list[str]:
    """``_any(buf)``: an ``Any`` field's value rendered through the type
    its URL names, as ``{"@type": url, ...fields}``.

    UNKNOWN-TYPE POLICY (pinned in tests/test_decode.py): a type absent
    from the descriptor set renders opaque, ``{"@type": url, "value":
    base64}``, so decode stays total and predicates can still match on
    ``@type``. The reference's JsonFormat printer throws on such a type,
    and that call sits OUTSIDE the deserialization Result capture
    (TopologyProducer.kt:213-215 prints inside onSuccess with no
    runCatching) — an unknown type CRASHES the reference's stream task.
    A distributed engine must not die on one record."""
    url = _Field("typeUrl", 1, _T_STRING, False, "")
    value = _Field("value", 2, _T_BYTES, False, "")
    src = ["def _any(buf):"] + _parse_lines([url, value], {1: "f0", 2: "f1"})
    src += ['    url = ""', "    if f0 is not None:", "        s = f0"]
    src += ["        " + line for line in _conv(url, names)]
    return src + [
        "        url = v",
        "    if f1 is None:",
        '        f1 = b""',
        "    elif f1.__class__ is not bytes:",
        '        raise DecodeError("Any.value must be bytes")',
        '    dec = _TYPES.get(url[url.rfind("/") + 1 :])',
        "    if dec is not None:",
        '        return dec(f1, {"@type": url})',
        '    return {"@type": url, "value": _b64(f1)}',
    ]


def _compile(fqn: str, source: list[str]):
    return compile("\n".join(source) + "\n", f"<decoder {fqn}>", "exec")


_GEN_GLOBALS = {
    "DecodeError": DecodeError,
    "_vrest": _vrest,
    "_wire_value": _wire_value,
    "_unpack": _unpack,
    "_double": _double,
    "_float": _float,
    "_b64": _b64,
    "_render_timestamp": _render_timestamp,
    "_render_duration": _render_duration,
}


class TypeRegistry:
    """fqn → message/enum tables parsed from a FileDescriptorSet, plus
    the decoders generated from them."""

    def __init__(
        self,
        messages: dict[str, list[_Field]],
        enums: dict[str, dict[int, str]],
    ) -> None:
        self._messages = messages
        self._enums = enums
        # generated names: _m<k> per message type, _e<k> per enum table
        self._names = {fqn: f"_m{k}" for k, fqn in enumerate(messages)}
        self._names.update({fqn: f"_e{k}" for k, fqn in enumerate(enums)})
        self._table: dict[str, Callable[[bytes, dict], dict]] | None = None

    # -- construction --------------------------------------------------------

    @classmethod
    def from_bytes(cls, data: bytes) -> "TypeRegistry":
        messages: dict[str, list[_Field]] = {}
        enums: dict[str, dict[int, str]] = {}

        def add_enum(buf: bytes, scope: str) -> None:
            f = _g(buf)  # EnumDescriptorProto: name=1, value=2
            fqn = f"{scope}.{_utf8(f[1][-1])}"
            table: dict[int, str] = {}
            for ev in f.get(2, []):  # EnumValueDescriptorProto: name=1, number=2
                e = _g(ev)
                table[e.get(2, [0])[-1]] = _utf8(e[1][-1])
            enums[fqn] = table

        def add_message(buf: bytes, scope: str) -> None:
            # DescriptorProto: name=1, field=2, nested_type=3, enum_type=4
            f = _g(buf)
            fqn = f"{scope}.{_utf8(f[1][-1])}"
            fields = []
            for fd in f.get(2, []):
                # FieldDescriptorProto: name=1, number=3, label=4, type=5,
                # type_name=6, json_name=10
                d = _g(fd)
                name = _utf8(d[1][-1])
                fields.append(
                    _Field(
                        json_name=(
                            _utf8(d[10][-1]) if 10 in d else _camel(name)
                        ),
                        number=d[3][-1],
                        ftype=d[5][-1],
                        repeated=d.get(4, [0])[-1] == _LABEL_REPEATED,
                        type_name=(
                            _utf8(d[6][-1]).lstrip(".") if 6 in d else ""
                        ),
                    )
                )
            messages[fqn] = fields
            for nested in f.get(3, []):
                add_message(nested, fqn)
            for en in f.get(4, []):
                add_enum(en, fqn)

        # FileDescriptorSet: file=1; FileDescriptorProto: package=2,
        # message_type=4, enum_type=5
        for fdp in _g(data).get(1, []):
            f = _g(fdp)
            pkg = _utf8(f[2][-1]) if 2 in f else ""
            for m in f.get(4, []):
                add_message(m, pkg)
            for e in f.get(5, []):
                add_enum(e, pkg)
        return cls(messages, enums)

    # -- lookup --------------------------------------------------------------

    def has_message(self, fqn: str) -> bool:
        return fqn in self._messages

    # -- decoding ------------------------------------------------------------

    def decoders(self) -> dict[str, Callable[[bytes, dict], dict]]:
        """fqn → ``decode(buf, out) -> out``, which adds the message's
        protobuf-JSON fields to ``out``.  Each type's source is generated
        and compiled on its first decode, once per registry, so a process
        pays only for the types it meets."""
        if self._table is None:
            table: dict[str, Callable[[bytes, dict], dict]] = {}
            ns = dict(_GEN_GLOBALS, _TYPES=table)
            ns.update((self._names[fqn], t) for fqn, t in self._enums.items())
            exec(_compile("", _any_source(self._names)), ns)
            for fqn in self._messages:
                ns[self._names[fqn]] = table[fqn] = self._first_call(fqn, ns)
            self._table = table
        return self._table

    def _first_call(self, fqn: str, ns: dict) -> Callable[[bytes, dict], dict]:
        """A stand-in that compiles the type's decoder, puts it in its
        place (the namespace the generated code calls through, and the
        table), and decodes."""
        name = self._names[fqn]

        def first_call(buf: bytes, out: dict) -> dict:
            if ns[name] is first_call:
                exec(_compile(fqn, _message_source(name, self._messages[fqn], self._names)), ns)
                ns["_TYPES"][fqn] = ns[name]
            return ns[name](buf, out)

        return first_call

    def decode(self, fqn: str, buf: bytes) -> dict:
        """Render one message of type `fqn` as its protobuf-JSON object."""
        fn = self.decoders().get(fqn)
        if fn is None:
            raise DecodeError(f"type not in descriptor set: {fqn!r}")
        return fn(buf, {})

    # -- re-encoding ---------------------------------------------------------

    def reencode(self, fqn: str, buf: bytes) -> bytes:
        """Canonical re-serialization of one message: the bytes
        protobuf-java produces after parse→toByteArray() — known fields
        in ascending number order, minimal varints, proto3 default-valued
        singular scalars omitted, repeated packable scalars emitted
        packed, singular fields last-occurrence-wins, message fields
        emitted whenever present on the wire (even empty). Field numbers
        NOT in the descriptor go to the trailing unknown-field section —
        protobuf-java writes the UnknownFieldSet after all known fields
        (sorted by number among themselves; per number: varints, fixed32,
        fixed64, length-delimited), so an unknown number lower than a
        known one must NOT interleave. Wrong-wire-type occurrences raise
        DecodeError, mirroring the decoder's strictness."""
        try:
            known = {f.number: f for f in self._messages[fqn]}
        except KeyError:
            raise DecodeError(f"type not in descriptor set: {fqn!r}") from None
        occ: dict[int, list[tuple[int, object]]] = {}
        for no, wt, val in parse_fields(buf):
            occ.setdefault(no, []).append((wt, val))
        out = b""
        for no in sorted(occ):
            fd = known.get(no)
            if fd is not None:
                out += self._reenc_field(fd, occ[no])
        for no in sorted(occ):
            if no not in known:
                out += self._reenc_unknown(no, occ[no])
        return out

    def _reenc_field(self, fd: _Field, occ: list[tuple[int, object]]) -> bytes:
        t, no = fd.ftype, fd.number
        if t == _T_GROUP:
            raise DecodeError("proto2 groups are not supported")
        if t == _T_MESSAGE:
            vals = [v for _wt, v in occ]
            if not fd.repeated:
                vals = vals[-1:]
            out = b""
            for v in vals:
                if not isinstance(v, bytes):
                    raise DecodeError("expected length-delimited message")
                # an Any takes this branch too: its `value` is a BYTES
                # field, so the payload passes through VERBATIM, as in
                # protobuf-java (TxRaw.parseFrom→toTx→toByteArray never
                # parses the payload behind an Any), while the envelope
                # gets the canonical treatment
                out += encode_ld(no, self.reencode(fd.type_name, v))
            return out
        if t in (_T_STRING, _T_BYTES):
            vals = [v for _wt, v in occ]
            if not fd.repeated:
                vals = vals[-1:]
            out = b""
            for v in vals:
                if not isinstance(v, bytes):
                    raise DecodeError("expected length-delimited field")
                if v or fd.repeated:  # singular "" is the proto3 default
                    out += encode_ld(no, v)
            return out
        # numeric families: re-emit raw wire integers canonically.
        # Repeated fields unpack packed blobs and re-emit packed (proto3
        # writer default); SINGULAR fields require an int occurrence —
        # a length-delimited value on a singular scalar is the same
        # wrong-wire-type error the decoder raises.
        if t in _PACKED_VARINT:
            if fd.repeated:
                ints = [
                    self._canon_varint(t, v)
                    for v in _unpack(fd.ftype, [v for _wt, v in occ])
                ]
                payload = b"".join(encode_varint(v) for v in ints)
                return encode_ld(no, payload) if payload else b""
            v = self._canon_varint(t, occ[-1][1])
            return encode_varint(no << 3 | 0) + encode_varint(v) if v else b""
        if t in _PACKED_FIXED64:
            if fd.repeated:
                ints = _unpack(fd.ftype, [v for _wt, v in occ])
                self._require_ints(ints)
                payload = b"".join(v.to_bytes(8, "little") for v in ints)
                return encode_ld(no, payload) if payload else b""
            v = occ[-1][1]
            self._require_ints([v])
            return (
                encode_varint(no << 3 | 1) + v.to_bytes(8, "little") if v else b""
            )
        if t in _PACKED_FIXED32:
            if fd.repeated:
                ints = _unpack(fd.ftype, [v for _wt, v in occ])
                self._require_ints(ints)
                payload = b"".join(v.to_bytes(4, "little") for v in ints)
                return encode_ld(no, payload) if payload else b""
            v = occ[-1][1]
            self._require_ints([v])
            return (
                encode_varint(no << 3 | 5) + v.to_bytes(4, "little") if v else b""
            )
        raise DecodeError(f"unsupported field type {t}")

    @staticmethod
    def _require_ints(vals: list) -> None:
        for v in vals:
            if not isinstance(v, int):
                raise DecodeError("expected numeric wire value")

    @staticmethod
    def _canon_varint(t: int, v) -> int:
        """The 64-bit varint payload protobuf-java would re-emit for a
        parsed value: 32-bit types truncate then sign-extend (int32/enum)
        or zero-extend (uint32/sint32's zigzag), bool collapses to 0/1."""
        if not isinstance(v, int):
            raise DecodeError("expected numeric wire value")
        mask64 = (1 << 64) - 1
        v &= mask64
        if t == _T_BOOL:
            return 1 if v else 0
        if t in (_T_INT32, _T_ENUM):
            v &= 0xFFFFFFFF
            if v >= 1 << 31:  # negative int32 re-emits sign-extended
                v = (v - (1 << 32)) & mask64
            return v
        if t in (_T_UINT32, _T_SINT32):
            return v & 0xFFFFFFFF
        return v

    @staticmethod
    def _reenc_unknown(no: int, occ: list[tuple[int, object]]) -> bytes:
        out = b""
        for want_wt, emit in (
            (0, lambda v: encode_varint(no << 3 | 0) + encode_varint(v & ((1 << 64) - 1))),
            (5, lambda v: encode_varint(no << 3 | 5) + v.to_bytes(4, "little")),
            (1, lambda v: encode_varint(no << 3 | 1) + v.to_bytes(8, "little")),
            (2, lambda v: encode_ld(no, v)),
        ):
            for wt, val in occ:
                if wt == want_wt:
                    out += emit(val)
        return out


_DESC_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "resources",
    "cosmos_tx.desc",
)


def load_descriptor_set() -> bytes:
    """The checked-in FileDescriptorSet for cosmos.tx.v1beta1 (+ bank/
    staking/gov/distribution msgs), generated by tools/gen_descriptor.py
    without protoc — the Spark-native analog of the reference's compiled
    proto classes (TopologyProducer.kt:86-96)."""
    with open(_DESC_PATH, "rb") as fh:
        return fh.read()


_default: TypeRegistry | None = None


def default_registry() -> TypeRegistry:
    """Lazy singleton over the checked-in descriptor set — the analog of
    the reference's lazily-built classpath registry
    (ProtoTypeRegistry.kt:13-16): parsed once per process, shared by
    every decode call (and by every Arrow batch worker that imports this
    module)."""
    global _default
    if _default is None:
        _default = TypeRegistry.from_bytes(load_descriptor_set())
    return _default
