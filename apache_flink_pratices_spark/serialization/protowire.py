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

Compile once: the first ``encode``/``decode`` of a descriptor compiles it
(field names, op codes, tag bytes, defaults and a decode table keyed by
the whole tag) and caches the result by the descriptor's identity, so no
call rebuilds a table. The cache entry holds its descriptor and is checked
with ``is``, so an ``id()`` reused after a descriptor is freed can never
return another descriptor's codec.

Fixed layout: a message made only of non-repeated doubles with one-byte
tags (``ORDERBOOK_LEVEL``) has one canonical encoding when every value is
present and none is +0.0: each field's tag then its 8 bytes, in field
order (9 bytes a field). As a repeated field it is also handled a batch
at a time (:func:`encode_batch`, :func:`decode_batch`), column-wise in
Arrow list layout (values, offsets):

- encode packs every element of a batch with one numpy structured dtype
  (the field's tag, the length, then tag/value pairs) and slices the
  buffer per message by the offsets. A message with a +0.0 element value,
  which canonical form elides, takes the per-message encoder instead;
- decode parses every record as :func:`decode` does, but a record whose
  body is the canonical layout (its length and its tag bytes) is kept as
  an offset only; the doubles are gathered with numpy after the loop. Any
  other record (reordered or repeated fields, unknown fields, a missing
  field) goes through the general decoder, so both paths decode the same
  bytes to the same values, NaN payloads and -0.0 included.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass
from typing import Any

import numpy as np

_MASK64 = (1 << 64) - 1
_SIGN64 = 1 << 63
#: bit pattern of the proto3 double default (+0.0)
_D_ZERO = struct.pack("<d", 0.0)
_pack_d = struct.Struct("<d").pack
_unpack_d = struct.Struct("<d").unpack_from

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

# compiled op codes; the varint ones are the lowest
_INT, _BOOL, _DOUBLE, _STRING, _MESSAGE, _REPEATED, _FIXED = range(7)
_OP_BY_KIND = {
    "int64": _INT,
    "enum": _INT,
    "bool": _BOOL,
    "double": _DOUBLE,
    "string": _STRING,
    "message": _MESSAGE,
}
_DEFAULT_BY_KIND = {
    "int64": 0,
    "enum": 0,
    "bool": False,
    "double": 0.0,
    "string": "",
    "message": None,
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


class _Layout:
    """The canonical body of a fixed-layout message: ``k`` doubles, each
    its one-byte tag then 8 little-endian bytes."""

    __slots__ = ("names", "size", "tags")

    def __init__(self, desc: tuple[Field, ...]) -> None:
        self.names = tuple(f.name for f in desc)
        self.size = 9 * len(desc)
        self.tags = bytes((f.number << 3) | 1 for f in desc)

    def pack(self, head: bytes, values: np.ndarray) -> bytes:
        """One record (``head`` = field tag + length, then the body) per
        row of ``values`` (m, k), concatenated."""
        fields = [("head", f"V{len(head)}")]
        for i in range(len(self.tags)):
            fields += [(f"t{i}", "u1"), (f"v{i}", "<f8")]
        rec = np.empty(len(values), np.dtype(fields))
        rec["head"] = np.void(head)
        for i, tag in enumerate(self.tags):
            rec[f"t{i}"] = tag
            rec[f"v{i}"] = values[:, i]
        return rec.tobytes()

    def gather(self, buf: np.ndarray, starts: np.ndarray) -> np.ndarray:
        """The (m, k) doubles of the canonical bodies at ``starts`` in the
        uint8 array ``buf``, bit for bit."""
        k = len(self.tags)
        at = starts[:, None, None] + (1 + 9 * np.arange(k))[None, :, None] + np.arange(8)
        return buf[at].view("<f8").reshape(len(starts), k)


def _layout(desc: tuple[Field, ...]) -> _Layout | None:
    fixed = (
        0 < 9 * len(desc) < 0x80
        and all(f.kind == "double" and not f.repeated and 0 < f.number < 16 for f in desc)
        and [f.number for f in desc] == sorted({f.number for f in desc})
    )
    return _Layout(desc) if fixed else None


class _Codec:
    """A compiled descriptor: encode ops in field order, a decode table
    keyed by the whole tag, the defaults, and its fixed layout if any."""

    __slots__ = ("desc", "ops", "table", "by_number", "defaults", "lists", "fixed", "layout")

    def __init__(self, desc: tuple[Field, ...]) -> None:
        self.desc = desc
        self.ops: list[tuple[str, int, bytes, _Codec | None]] = []
        self.table: dict[int, tuple[str, int, _Codec | None]] = {}
        self.by_number = {f.number: f for f in desc}
        self.defaults: dict[str, Any] = {}
        self.lists: list[str] = []
        # repeated fixed-layout field -> (its tag bytes, the element layout)
        self.fixed: dict[str, tuple[bytes, _Layout]] = {}
        self.layout = _layout(desc)
        for f in desc:
            if f.kind not in _WIRE_BY_KIND:
                raise ValueError(f"unsupported kind {f.kind}")
            sub = _compiled(f.message) if f.message is not None else None
            wire = _WIRE_BY_KIND[f.kind]
            tag = (f.number << 3) | wire
            op = _OP_BY_KIND[f.kind]
            if f.repeated:
                op = _FIXED if sub is not None and sub.layout is not None else _REPEATED
                self.lists.append(f.name)
                if op == _FIXED:
                    self.fixed[f.name] = (_varint(tag), sub.layout)  # type: ignore[union-attr]
            self.ops.append((f.name, op, _varint(tag), sub))
            self.table[tag] = (f.name, op, sub)
            self.defaults[f.name] = [] if f.repeated else _DEFAULT_BY_KIND[f.kind]


_CODECS: dict[int, _Codec] = {}


def _compiled(desc: tuple[Field, ...]) -> _Codec:
    codec = _CODECS.get(id(desc))
    if codec is None or codec.desc is not desc:
        codec = _CODECS[id(desc)] = _Codec(desc)
    return codec


def encode(desc: tuple[Field, ...], obj: dict[str, Any]) -> bytes:
    """Canonical encode: fields in ``desc`` order, defaults elided.

    Canonical form is field-number order, so ``desc`` must be declared in
    ascending field number (every descriptor in ``market_proto`` is);
    encode does not re-sort it on each call."""
    return _encode(_compiled(desc), obj)


def _encode(c: _Codec, obj: dict[str, Any], packed: dict[str, bytes] | None = None) -> bytes:
    """``packed`` holds already-encoded records of fixed-layout repeated
    fields, written in place of the field's elements."""
    out = bytearray()
    get = obj.get
    for name, op, tag, sub in c.ops:
        v = get(name)
        if op == _DOUBLE:
            # elide by BIT PATTERN, not truthiness: -0.0 is falsy but is not
            # the proto3 default's bits, so it must survive the round-trip
            if v is not None:
                b = _pack_d(float(v))
                if b != _D_ZERO:
                    out += tag
                    out += b
        elif op <= _BOOL:
            if v:
                out += tag
                out += _varint(int(v))
        elif op == _STRING:
            if v:
                b = v.encode("utf-8")
                out += tag
                out += _varint(len(b))
                out += b
        elif op == _MESSAGE:
            if v is not None:
                body = _encode(sub, v)  # type: ignore[arg-type]
                out += tag
                out += _varint(len(body))
                out += body
        elif packed is not None and name in packed:
            out += packed[name]
        else:
            for item in v or ():
                body = _encode(sub, item)  # type: ignore[arg-type]
                out += tag
                out += _varint(len(body))
                out += body
    return bytes(out)


def decode(desc: tuple[Field, ...], data: bytes) -> dict[str, Any]:
    return _decode(_compiled(desc), data)


def _decode(
    c: _Codec,
    data: bytes,
    base: int = 0,
    sink: dict[str, tuple[list[int], list[tuple[float, ...]]]] | None = None,
) -> dict[str, Any]:
    """Decode one message. With ``sink``, a fixed-layout repeated field's
    elements are not built: a canonical record appends ``base`` + its body
    offset to the field's offset list, any other record appends its
    decoded values to the field's extra list and ``-len(extra)`` to its
    offsets."""
    obj = c.defaults.copy()
    for name in c.lists:
        obj[name] = []
    table = c.table
    pos = 0
    n = len(data)
    while pos < n:
        tag = data[pos]
        if tag < 0x80:
            pos += 1
        else:
            tag, pos = _read_varint(data, pos)
        entry = table.get(tag)
        if entry is None:
            pos = _skip(c, data, pos, tag)
            continue
        name, op, sub = entry
        if op == _DOUBLE:
            if pos + 8 > n:
                _need(pos, 8, n)
            obj[name] = _unpack_d(data, pos)[0]
            pos += 8
            continue
        if pos < n and data[pos] < 0x80:  # every other kind starts with a varint
            raw = data[pos]
            pos += 1
        else:
            raw, pos = _read_varint(data, pos)
        if op <= _BOOL:
            obj[name] = bool(raw) if op == _BOOL else raw - (1 << 64) if raw >= _SIGN64 else raw
            continue
        end = pos + raw
        if end > n:
            _need(pos, raw, n)
        if op == _STRING:
            obj[name] = data[pos:end].decode("utf-8")
        elif op == _MESSAGE:
            obj[name] = _decode(sub, data[pos:end])  # type: ignore[arg-type]
        elif op == _REPEATED or sink is None:
            obj[name].append(_decode(sub, data[pos:end]))  # type: ignore[arg-type]
        else:  # _FIXED, into the sink
            lay = sub.layout  # type: ignore[union-attr]
            offsets, extra = sink[name]
            if raw == lay.size and data[pos:end:9] == lay.tags:
                offsets.append(base + pos)
            else:
                rec = _decode(sub, data[pos:end])  # type: ignore[arg-type]
                extra.append(tuple(rec[k] for k in lay.names))
                offsets.append(-len(extra))
        pos = end
    return obj


def _skip(c: _Codec, data: bytes, pos: int, tag: int) -> int:
    """Skip an unknown field by its wire type; a known field number with
    the wrong wire type is an error."""
    number, wire = tag >> 3, tag & 0x7
    f = c.by_number.get(number)
    if f is not None:
        raise ValueError(
            f"field {f.name} (#{number}): wire type {wire} contradicts "
            f"declared kind {f.kind!r} (expected {_WIRE_BY_KIND[f.kind]})"
        )
    n = len(data)
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
    return pos


Columns = dict[str, tuple[np.ndarray, np.ndarray]]


def encode_batch(desc: tuple[Field, ...], objs: list[dict[str, Any]], columns: Columns) -> list[bytes]:
    """Encode one message per ``objs`` entry, its fixed-layout repeated
    fields given column-wise: ``columns[name] = (values, offsets)``, the
    (m, k) float64 element values in layout field order and the n + 1
    int64 Arrow list offsets. Equal to ``encode`` of each message with
    those elements as dicts."""
    c = _compiled(desc)
    per_message = np.zeros(len(objs), bool)
    chunks = {}
    for name, (values, offsets) in columns.items():
        tag, lay = c.fixed[name]
        zeros = np.concatenate(([0], np.cumsum((values.view(np.uint64) == 0).any(axis=1))))
        per_message |= zeros[offsets[1:]] > zeros[offsets[:-1]]
        head = tag + bytes((lay.size,))
        chunks[name] = (lay.pack(head, values), (offsets * (len(head) + lay.size)).tolist())
    out = []
    for r, (obj, slow) in enumerate(zip(objs, per_message.tolist())):
        if slow:
            obj = dict(obj)
            for name, (values, offsets) in columns.items():
                names = c.fixed[name][1].names
                obj[name] = [dict(zip(names, v)) for v in values[offsets[r] : offsets[r + 1]].tolist()]
            out.append(_encode(c, obj))
        else:
            out.append(_encode(c, obj, {name: buf[at[r] : at[r + 1]] for name, (buf, at) in chunks.items()}))
    return out


def decode_batch(desc: tuple[Field, ...], buffers: list[bytes]) -> tuple[list[dict[str, Any]], Columns]:
    """Decode each buffer; the fixed-layout repeated fields come back
    column-wise, as :func:`encode_batch` takes them, and are left out of
    the message dicts. Equal to ``decode`` of each buffer."""
    c = _compiled(desc)
    sink: dict[str, tuple[list[int], list[tuple[float, ...]]]] = {name: ([], []) for name in c.fixed}
    ends: dict[str, list[int]] = {name: [0] for name in c.fixed}
    objs = []
    base = 0
    for data in buffers:
        obj = _decode(c, data, base, sink)
        for name, (offsets, _) in sink.items():
            del obj[name]
            ends[name].append(len(offsets))
        objs.append(obj)
        base += len(data)
    buf = np.frombuffer(b"".join(buffers), np.uint8)
    columns = {}
    for name, (offsets, extra) in sink.items():
        lay = c.fixed[name][1]
        at = np.array(offsets, np.int64)
        values = np.empty((len(at), len(lay.names)))
        canonical = at >= 0
        values[canonical] = lay.gather(buf, at[canonical])
        if extra:
            values[~canonical] = np.array(extra, np.float64)[-at[~canonical] - 1]
        columns[name] = (values, np.array(ends[name], np.int64))
    return objs, columns
