"""Minimal proto3 wire-format codec (encode + decode) driven by descriptor
tables.

Implements the subset of the protobuf encoding spec the market-data
messages need (re-authored from the public proto3 encoding documentation —
https://protobuf.dev/programming-guides/encoding/):

- wire type 0 (VARINT) for int64 / int32 / enum / bool;
- wire type 1 (I64, little-endian) for double;
- wire type 2 (LEN) for string / bytes / embedded messages / repeated
  messages.

Proto3 semantics honored:

- scalar fields equal to their default (0, 0.0, "", empty) are NOT
  serialized; decoding fills defaults back in;
- unknown fields are skipped by wire type (forward compatibility);
- repeated message fields concatenate one LEN record per element, order
  preserved.

A descriptor is a tuple of ``Field`` entries; messages are plain dicts.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass
from typing import Any

_MASK64 = (1 << 64) - 1
#: bit pattern of the proto3 double default (+0.0)
_D_ZERO = struct.pack("<d", 0.0)

#: expected wire type per field kind — decode() rejects tags whose wire
#: type contradicts the descriptor instead of misparsing foreign bytes
#: (e.g. 8 bytes silently consumed as a double for a varint field)
_WIRE_BY_KIND = {
    "double": 1,
    "int64": 0,
    "enum": 0,
    "bool": 0,
    "string": 2,
    "message": 2,
}


@dataclass(frozen=True)
class Field:
    number: int
    name: str
    kind: str  # 'double' | 'int64' | 'enum' | 'bool' | 'string' | 'message'
    repeated: bool = False
    message: tuple["Field", ...] | None = None


def _varint(n: int) -> bytes:
    """Base-128 varint; negative int64 values use 10-byte two's complement."""
    if 0 <= n < 0x80:  # one byte: every tag and every short length
        return bytes((n,))
    n &= _MASK64
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    result = 0
    n = len(buf)
    while True:
        if pos >= n:
            raise ValueError("truncated varint")
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
        if shift > 63:
            raise ValueError("varint too long")
    return result, pos


def _need(pos: int, count: int, n: int) -> None:
    if pos + count > n:
        raise ValueError(f"truncated field: need {count} bytes at {pos}, have {n}")


def _to_signed64(n: int) -> int:
    return n - (1 << 64) if n >= (1 << 63) else n


def encode(desc: tuple[Field, ...], obj: dict[str, Any]) -> bytes:
    """Canonical encode: fields in ``desc`` order, defaults elided.

    Canonical form is field-number order, so ``desc`` must be declared in
    ascending field number (every descriptor in ``market_proto`` is);
    encode does not re-sort it on each call."""
    out = bytearray()
    for f in desc:
        v = obj.get(f.name)
        if f.repeated:
            for item in v or ():
                body = encode(f.message, item)  # type: ignore[arg-type]
                out += _varint((f.number << 3) | 2) + _varint(len(body)) + body
            continue
        if f.kind == "double":
            # elide by BIT PATTERN, not truthiness: -0.0 is falsy but is not
            # the proto3 default's bits, so it must survive the round-trip
            packed = struct.pack("<d", float(v)) if v is not None else _D_ZERO
            if packed != _D_ZERO:
                out += _varint((f.number << 3) | 1) + packed
        elif f.kind in ("int64", "enum", "bool"):
            if v:
                out += _varint((f.number << 3) | 0) + _varint(int(v))
        elif f.kind == "string":
            if v:
                b = v.encode("utf-8")
                out += _varint((f.number << 3) | 2) + _varint(len(b)) + b
        elif f.kind == "message":
            if v is not None:
                body = encode(f.message, v)  # type: ignore[arg-type]
                out += _varint((f.number << 3) | 2) + _varint(len(body)) + body
        else:
            raise ValueError(f"unsupported kind {f.kind}")
    return bytes(out)


def _defaults(desc: tuple[Field, ...]) -> dict[str, Any]:
    d: dict[str, Any] = {}
    for f in desc:
        if f.repeated:
            d[f.name] = []
        elif f.kind == "double":
            d[f.name] = 0.0
        elif f.kind in ("int64", "enum"):
            d[f.name] = 0
        elif f.kind == "bool":
            d[f.name] = False
        elif f.kind == "string":
            d[f.name] = ""
        else:  # message
            d[f.name] = None
    return d


def decode(desc: tuple[Field, ...], data: bytes) -> dict[str, Any]:
    by_number = {f.number: f for f in desc}
    obj = _defaults(desc)
    pos = 0
    n = len(data)
    while pos < n:
        tag, pos = _read_varint(data, pos)
        number, wire = tag >> 3, tag & 0x7
        f = by_number.get(number)
        if f is None:  # unknown field: skip by wire type
            if wire == 0:
                _, pos = _read_varint(data, pos)
            elif wire == 1:
                _need(pos, 8, n)
                pos += 8
            elif wire == 2:
                ln, pos = _read_varint(data, pos)
                _need(pos, ln, n)
                pos += ln
            elif wire == 5:
                _need(pos, 4, n)
                pos += 4
            else:
                raise ValueError(f"cannot skip wire type {wire}")
            continue
        if wire != _WIRE_BY_KIND[f.kind]:
            raise ValueError(
                f"field {f.name} (#{number}): wire type {wire} contradicts "
                f"declared kind {f.kind!r} (expected {_WIRE_BY_KIND[f.kind]})"
            )
        if f.kind == "double":
            _need(pos, 8, n)
            (obj[f.name],) = struct.unpack_from("<d", data, pos)
            pos += 8
        elif f.kind in ("int64", "enum"):
            raw, pos = _read_varint(data, pos)
            obj[f.name] = _to_signed64(raw)
        elif f.kind == "bool":
            raw, pos = _read_varint(data, pos)
            obj[f.name] = bool(raw)
        elif f.kind == "string":
            ln, pos = _read_varint(data, pos)
            _need(pos, ln, n)
            obj[f.name] = data[pos : pos + ln].decode("utf-8")
            pos += ln
        elif f.kind == "message":
            ln, pos = _read_varint(data, pos)
            _need(pos, ln, n)
            sub = decode(f.message, data[pos : pos + ln])  # type: ignore[arg-type]
            pos += ln
            if f.repeated:
                obj[f.name].append(sub)
            else:
                obj[f.name] = sub
    return obj
