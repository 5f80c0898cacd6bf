"""Minimal SSZ (SimpleSerialize) codec — the subset beacon blocks need.

Unlike the reference's hand-rolled per-field offset slicing
(era_parser/parsing/ssz_utils.py, parsing/forks/*.py), this is a declarative
type system: one schema drives the generic decode below (the oracle and the
`block` CLI path), the columnar decoder generated from it for era scans
(parsing/arrow_direct.py) and encode (test data generation), so round-trip
tests pin the byte layout.

Serialization rules (consensus-specs ssz/simple-serialize.md):
  * basic uintN: N/8 bytes little-endian
  * fixed-size composites: concatenation of parts
  * variable-size fields inside containers: 4-byte LE offsets in the fixed
    part, payloads appended in order; field i spans [offset_i, offset_{i+1})
  * List[fixed-size elem]: plain concatenation (count = len/elem_size)
  * List[variable-size elem]: leading offset table, count = first_offset/4
  * Bitvector[N]: ceil(N/8) bytes; Bitlist[N]: data bits + sentinel bit

Decode is defensive (an era archive may hold forks newer than the schema):
ragged fixed-size list tails are truncated, equal offsets produce empty
fields, and out-of-range offsets raise SSZError rather than mis-slicing.

Rendered values are JSON-ready: uint64- -> int, uint128+ -> decimal string
(Beacon API convention), bytes -> 0x-hex.
"""

from __future__ import annotations

import struct

_U32 = struct.Struct("<I").unpack_from


class SSZError(ValueError):
    pass


def read_u32(data: bytes, pos: int) -> int:
    if pos + 4 > len(data):
        raise SSZError(f"u32 read past end at {pos}")
    return _U32(data, pos)[0]


class SSZType:
    """fixed_size is None for variable-size types."""

    fixed_size: int | None = None

    def decode(self, data: bytes):
        raise NotImplementedError

    def encode(self, value) -> bytes:
        raise NotImplementedError


class Uint(SSZType):
    def __init__(self, bits: int):
        self.bits = bits
        self.fixed_size = bits // 8

    def decode(self, data: bytes):
        if len(data) != self.fixed_size:
            raise SSZError(f"uint{self.bits}: got {len(data)} bytes")
        n = int.from_bytes(data, "little")
        # Beacon API renders >64-bit ints (base_fee_per_gas) as dec strings.
        return n if self.bits <= 64 else str(n)

    def encode(self, value) -> bytes:
        return int(value).to_bytes(self.fixed_size, "little")


class ByteVector(SSZType):
    def __init__(self, length: int):
        self.fixed_size = length

    def decode(self, data: bytes):
        if len(data) != self.fixed_size:
            raise SSZError(f"bytes{self.fixed_size}: got {len(data)}")
        return "0x" + data.hex()

    def encode(self, value) -> bytes:
        raw = bytes.fromhex(value[2:] if isinstance(value, str) else value.hex())
        if len(raw) != self.fixed_size:
            raise SSZError(f"bytes{self.fixed_size}: encode got {len(raw)}")
        return raw


class ByteList(SSZType):
    def __init__(self, max_length: int):
        self.max_length = max_length

    def decode(self, data: bytes):
        return "0x" + data.hex()

    def encode(self, value) -> bytes:
        return bytes.fromhex(value[2:] if isinstance(value, str) else value.hex())


class Bitvector(SSZType):
    def __init__(self, bits: int):
        self.bits = bits
        self.fixed_size = (bits + 7) // 8

    def decode(self, data: bytes):
        if len(data) != self.fixed_size:
            raise SSZError(f"bitvector{self.bits}: got {len(data)} bytes")
        return "0x" + data.hex()

    def encode(self, value) -> bytes:
        raw = bytes.fromhex(value[2:])
        if len(raw) != self.fixed_size:
            raise SSZError("bitvector encode length mismatch")
        return raw


class Bitlist(SSZType):
    """Rendered as raw hex including the length-sentinel bit (Beacon API
    shows aggregation_bits exactly this way)."""

    def __init__(self, max_bits: int):
        self.max_bits = max_bits

    def decode(self, data: bytes):
        if not data:
            raise SSZError("bitlist must contain the sentinel bit")
        return "0x" + data.hex()

    def encode(self, value) -> bytes:
        return bytes.fromhex(value[2:])


class Vector(SSZType):
    def __init__(self, elem: SSZType, length: int):
        if elem.fixed_size is None:
            raise SSZError("variable-elem vectors not needed for blocks")
        self.elem = elem
        self.length = length
        self.fixed_size = elem.fixed_size * length

    def decode(self, data: bytes):
        es = self.elem.fixed_size
        if len(data) != self.fixed_size:
            raise SSZError(f"vector: got {len(data)}, want {self.fixed_size}")
        return [self.elem.decode(data[i * es : (i + 1) * es]) for i in range(self.length)]

    def encode(self, value) -> bytes:
        if len(value) != self.length:
            raise SSZError("vector encode length mismatch")
        return b"".join(self.elem.encode(v) for v in value)


class List(SSZType):
    def __init__(self, elem: SSZType, max_length: int):
        self.elem = elem
        self.max_length = max_length

    def decode(self, data: bytes):
        if not data:
            return []
        es = self.elem.fixed_size
        if es is not None:
            # truncate a ragged tail instead of failing the whole list
            count = len(data) // es
            return [self.elem.decode(data[i * es : (i + 1) * es]) for i in range(count)]
        if len(data) < 4:
            raise SSZError("list offset table truncated")
        first = _U32(data, 0)[0]
        if first % 4 != 0 or first > len(data):
            raise SSZError(f"bad list offset table head {first}")
        count = first // 4
        offsets = struct.unpack_from(f"<{count}I", data)
        n = len(data)
        prev = first
        for hi in offsets[1:]:
            if hi < prev or hi > n:
                raise SSZError("list item offsets out of order")
            prev = hi
        bounds = offsets[1:] + (n,)
        dec = self.elem.decode
        return [dec(data[offsets[i] : bounds[i]]) for i in range(count)]

    def encode(self, value) -> bytes:
        if self.elem.fixed_size is not None:
            return b"".join(self.elem.encode(v) for v in value)
        parts = [self.elem.encode(v) for v in value]
        offset = 4 * len(parts)
        head = bytearray()
        for p in parts:
            head += struct.pack("<I", offset)
            offset += len(p)
        return bytes(head) + b"".join(parts)


class Container(SSZType):
    def __init__(self, name: str, fields: list[tuple[str, SSZType]]):
        self.name = name
        self.fields = fields
        if all(t.fixed_size is not None for _, t in fields):
            self.fixed_size = sum(t.fixed_size for _, t in fields)
        else:
            self.fixed_size = None

    def decode(self, data: bytes, include: set[str] | None = None) -> dict:
        """Generic walk; with `include`, only those top-level fields are
        decoded (every offset is still read and checked — the skip saves
        the payload decode of big lists, which the reference cannot do: it
        always parses every field, era_parser/core/processor.py:401-404).

        This walk is the behavioral oracle for the generated columnar
        decoder the era scan runs (parsing/arrow_direct.py), and the
        decoder behind the `block` CLI command.
        """
        out: dict = {}
        variable: list[tuple[str, SSZType, int]] = []
        pos = 0
        for name, typ in self.fields:
            if typ.fixed_size is not None:
                chunk = data[pos : pos + typ.fixed_size]
                if len(chunk) != typ.fixed_size:
                    raise SSZError(f"{self.name}.{name}: fixed part truncated")
                if include is None or name in include:
                    out[name] = typ.decode(chunk)
                pos += typ.fixed_size
            else:
                variable.append((name, typ, read_u32(data, pos)))
                pos += 4
        bounds = [off for _, _, off in variable] + [len(data)]
        for i, (name, typ, off) in enumerate(variable):
            hi = bounds[i + 1]
            if off > hi or hi > len(data):
                raise SSZError(f"{self.name}.{name}: offsets out of order {off}..{hi}")
            if include is None or name in include:
                out[name] = typ.decode(data[off:hi])
        return out

    def encode(self, value: dict) -> bytes:
        fixed_parts: list[bytes | None] = []
        var_parts: list[bytes] = []
        fixed_len = 0
        for name, typ in self.fields:
            if typ.fixed_size is not None:
                part = typ.encode(value[name])
                fixed_parts.append(part)
                fixed_len += len(part)
            else:
                fixed_parts.append(None)
                var_parts.append(typ.encode(value[name]))
                fixed_len += 4
        out = bytearray()
        offset = fixed_len
        vi = 0
        for part in fixed_parts:
            if part is None:
                out += struct.pack("<I", offset)
                offset += len(var_parts[vi])
                vi += 1
            else:
                out += part
        for p in var_parts:
            out += p
        return bytes(out)
