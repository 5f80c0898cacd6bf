"""Columnar block decoder generated from the SSZ schema.

Every era scan, full or pruned, decodes through this module.  For each fork
in `BODY_SCHEMAS`, `_Gen` walks the fork's SignedBeaconBlock container beside
the Arrow block type (`BLOCK_SPARK_SCHEMA`, the electra superset) and emits
Python source: constant offsets inlined, one function per variable-size
type, every leaf appended straight into its own column list.  `flush()`
builds the block struct bottom-up, so no per-block dict is ever made.

* Fields a fork lacks (sync_aggregate before altair, committee_bits before
  electra, ...) become null rows; body fields pruned by `body_include` are
  never decoded and flush as `pa.nulls`.
* Error rules are the generic walk's (`Container.decode`, which stays the
  oracle and the `block` CLI path): fixed-part lengths, every top-level
  offset chain (pruned fields included), list offset tables, the bitlist
  sentinel.  One rule is added: a uint64 the int64 column cannot hold
  raises SSZError at `append`, where the Arrow build would otherwise fail
  the whole batch.
* `append` is atomic: on error every column is truncated back to the
  committed row count (a list child to its committed `offsets[-1]`).

Each fork's source is compiled once per process, on first use; a collector
binds the compiled code to its own column lists.  The reference decodes
every field into Python objects (era_parser/core/processor.py:401-404) and
has no columnar path; this is engine-side design, not reference behavior.
"""

from __future__ import annotations

import itertools
import struct

import pyarrow as pa

from era_parser_spark.parsing.beacon import BODY_SCHEMAS, block_schema
from era_parser_spark.parsing.ssz import (
    Bitlist, Bitvector, ByteList, ByteVector, Container, List, SSZError, SSZType, Uint, Vector,
)

_BASE_ENV = {
    "_u32": struct.Struct("<I").unpack_from,
    "_u64": struct.Struct("<Q").unpack_from,
    "_unpack_from": struct.unpack_from,
    "SSZError": SSZError,
}
_BODY_PATH = ("message", "body")
_RANGE_ERR = "SSZError('uint64 exceeds the int64 column range')"


# --- column tree: one node per Arrow type node; a pruned body field is None ---------


def _mask(nulls: list | None) -> pa.Array | None:
    """Validity mask (True = null) from a node's null flags, then cleared."""
    if nulls is None:
        return None
    mask = pa.array(nulls, pa.bool_()) if True in nulls else None
    nulls.clear()
    return mask


class _Leaf:
    def __init__(self, k: int, typ: pa.DataType, env: dict):
        self.k, self.type, self.values = k, typ, []
        env[f"_a{k}"], env[f"_x{k}"] = self.values.append, self.values.extend

    def truncate(self, n: int) -> None:
        del self.values[n:]

    def build(self, n: int) -> pa.Array:
        arr = pa.array(self.values, self.type)
        self.values.clear()
        return arr


class _Struct:
    def __init__(self, k: int, typ: pa.StructType, children: dict, nullable: bool, env: dict):
        self.k, self.type, self.children = k, typ, children
        self.nulls = [] if nullable else None
        if nullable:
            env[f"_n{k}"] = self.nulls.append

    def truncate(self, n: int) -> None:
        if self.nulls is not None:
            del self.nulls[n:]
        for c in self.children.values():
            if c is not None:
                c.truncate(n)

    def build(self, n: int) -> pa.Array:
        arrays = [
            pa.nulls(n, f.type) if c is None else c.build(n)
            for f, c in zip(self.type, self.children.values())
        ]
        return pa.StructArray.from_arrays(arrays, fields=list(self.type), mask=_mask(self.nulls))


class _ListNode:
    def __init__(self, k: int, typ: pa.ListType, child, nullable: bool, env: dict):
        self.k, self.type, self.child, self.offsets = k, typ, child, [0]
        self.nulls = [] if nullable else None
        env[f"_o{k}"], env[f"_p{k}"] = self.offsets, self.offsets.append
        if nullable:
            env[f"_n{k}"] = self.nulls.append

    def truncate(self, n: int) -> None:
        del self.offsets[n + 1:]
        if self.nulls is not None:
            del self.nulls[n:]
        self.child.truncate(self.offsets[-1])

    def build(self, n: int) -> pa.Array:
        offsets = pa.array(self.offsets, pa.int32())
        values = self.child.build(self.offsets[-1])
        del self.offsets[1:]
        return pa.ListArray.from_arrays(offsets, values, type=self.type, mask=_mask(self.nulls))


def _ssz_paths(typ: SSZType, path: tuple, out: set) -> set:
    out.add(path)
    if isinstance(typ, Container):
        for name, ft in typ.fields:
            _ssz_paths(ft, path + (name,), out)
    elif isinstance(typ, (List, Vector)):
        _ssz_paths(typ.elem, path + ("[]",), out)
    return out


#: type paths every fork has; any other node can be null for some rows
_ALWAYS = set.intersection(*(_ssz_paths(block_schema(f), (), set()) for f in BODY_SCHEMAS))


def _tree(block_type: pa.StructType, include: frozenset | None, env: dict) -> _Struct:
    """Column tree for `block_type`; binds each node's lists into `env`
    under names derived from its depth-first number (`_a3`, `_o7`, ...)."""
    ids = itertools.count()

    def node(typ: pa.DataType, path: tuple):
        k = next(ids)
        if pa.types.is_struct(typ):
            children = {
                f.name: None
                if path == _BODY_PATH and include is not None and f.name not in include
                else node(f.type, path + (f.name,))
                for f in typ
            }
            return _Struct(k, typ, children, path not in _ALWAYS, env)
        if pa.types.is_list(typ):
            child = node(typ.value_type, path + ("[]",))
            return _ListNode(k, typ, child, path not in _ALWAYS, env)
        return _Leaf(k, typ, env)

    return node(block_type, ())


# --- code generation ----------------------------------------------------------------


def _at(base: str | None, off: int) -> str:
    if base is None:
        return str(off)
    return f"{base} + {off}" if off else base


def _leaf_expr(typ: SSZType, base: str | None, off: int) -> str:
    """Value of a fixed-size leaf other than uint64 (that one is range-checked)."""
    span = f"d[{_at(base, off)}:{_at(base, off + typ.fixed_size)}]"
    if isinstance(typ, Uint):
        if typ.bits > 64:  # Beacon API renders wide ints as decimal strings
            return f"str(int.from_bytes({span}, 'little'))"
        return f"int.from_bytes({span}, 'little')"
    return f"'0x' + {span}.hex()"


def _is_u64(typ: SSZType) -> bool:
    return isinstance(typ, Uint) and typ.bits == 64


def _range_check(names: list[str], out: list[str], pad: str) -> None:
    if names:
        out.append(f"{pad}if ({' | '.join(names)}) >> 63: raise {_RANGE_ERR}")


class _Gen:
    """Emits one fork's decoder: `_block(d)` appends one SignedBeaconBlock.
    Each emitter appends the source lines for one row of one node to `out`."""

    def __init__(self):
        self.defs: list[str] = []
        self.fns: dict[tuple[int, int], str] = {}
        self.ids = itertools.count()

    def fresh(self, prefix: str) -> str:
        return f"{prefix}{next(self.ids)}"

    def source(self, block: Container, root: _Struct) -> str:
        top = self.function(block, root)
        return "\n\n".join(self.defs) + f"\n\n_block = {top}\n"

    @staticmethod
    def present(node, out: list[str], pad: str) -> None:
        if node.nulls is not None:
            out.append(f"{pad}_n{node.k}(False)")

    def null(self, node, out: list[str], pad: str) -> None:
        """A field this fork lacks: one null row down the whole subtree."""
        if isinstance(node, _Leaf):
            out.append(f"{pad}_a{node.k}(None)")
        elif node is not None:
            out.append(f"{pad}_n{node.k}(True)")
            if isinstance(node, _ListNode):
                out.append(f"{pad}_p{node.k}(_o{node.k}[-1])")
            else:
                for c in node.children.values():
                    self.null(c, out, pad)

    def absent(self, c: Container, node: _Struct, out: list[str], pad: str) -> None:
        have = {name for name, _ in c.fields}
        for name, child in node.children.items():
            if name not in have:
                self.null(child, out, pad)

    def fixed(self, typ, node, base, off, out, pad, u64s) -> None:
        """One fixed-size value at d[base + off]."""
        if _is_u64(typ):
            t = self.fresh("t")
            out += [f"{pad}{t} = _u64(d, {_at(base, off)})[0]", f"{pad}_a{node.k}({t})"]
            u64s.append(t)
        elif isinstance(typ, Container):
            self.present(node, out, pad)
            for name, ft in typ.fields:
                self.fixed(ft, node.children[name], base, off, out, pad, u64s)
                off += ft.fixed_size
            self.absent(typ, node, out, pad)
        elif isinstance(typ, Vector):
            self.present(node, out, pad)
            self.elements(typ.elem, node.child, _at(base, off), str(typ.length), out, pad)
            out.append(f"{pad}_p{node.k}(_o{node.k}[-1] + {typ.length})")
        else:
            out.append(f"{pad}_a{node.k}({_leaf_expr(typ, base, off)})")

    def elements(self, elem, node, start: str, count: str, out, pad) -> None:
        """`count` fixed-size elements packed from d[start]."""
        if _is_u64(elem):
            v = self.fresh("v")
            out += [
                f"{pad}{v} = _unpack_from(f'<{{{count}}}Q', d, {start})",
                f"{pad}if {v} and max({v}) >> 63: raise {_RANGE_ERR}",
                f"{pad}_x{node.k}({v})",
            ]
            return
        b, es = self.fresh("b"), elem.fixed_size
        stop = f"{count} * {es}" if start == "0" else f"{start} + {count} * {es}"
        if isinstance(elem, (Uint, ByteVector, Bitvector)):
            expr = _leaf_expr(elem, b, 0)
            out.append(f"{pad}_x{node.k}([{expr} for {b} in range({start}, {stop}, {es})])")
            return
        out.append(f"{pad}for {b} in range({start}, {stop}, {es}):")
        u64s: list[str] = []
        self.fixed(elem, node, b, 0, out, pad + "    ", u64s)
        _range_check(u64s, out, pad + "    ")

    def variable(self, typ, node, lo: str, hi: str, out, pad) -> None:
        """One variable-size value spanning d[lo:hi]."""
        if isinstance(typ, (ByteList, Bitlist)):
            if isinstance(typ, Bitlist):
                out.append(
                    f"{pad}if {lo} == {hi}: raise SSZError('bitlist must contain the sentinel bit')"
                )
            out.append(f"{pad}_a{node.k}('0x' + d[{lo}:{hi}].hex())")
        else:
            out.append(f"{pad}{self.function(typ, node)}(d[{lo}:{hi}])")

    def function(self, typ, node) -> str:
        """One function per (variable-size type, node), appending d as a row."""
        key = (id(typ), node.k)
        if key not in self.fns:
            name = self.fns[key] = self.fresh("_f")
            out = [f"def {name}(d):", "    L = len(d)"]
            if isinstance(typ, Container):
                self.container_body(typ, node, out)
            else:
                self.list_body(typ, node, out)
            self.defs.append("\n".join(out))
        return self.fns[key]

    def container_body(self, c: Container, node: _Struct, out: list[str]) -> None:
        pad = "    "
        fixed_len = sum(4 if t.fixed_size is None else t.fixed_size for _, t in c.fields)
        out.append(f"{pad}if L < {fixed_len}: raise SSZError('{c.name}: fixed part truncated')")
        pos, fixed, var = 0, [], []
        for name, typ in c.fields:
            if typ.fixed_size is None:
                o = f"o{len(var)}"
                var.append((name, typ, o))
                out.append(f"{pad}{o} = _u32(d, {pos})[0]")
                pos += 4
            else:
                fixed.append((name, typ, pos))
                pos += typ.fixed_size
        ends = [o for _, _, o in var[1:]] + ["L"]
        if var:
            chain = " <= ".join([var[0][2]] + ends)
            out.append(f"{pad}if not ({chain}): raise SSZError('{c.name}: offsets out of order')")
        self.present(node, out, pad)
        u64s: list[str] = []
        for name, typ, pos in fixed:
            if node.children[name] is not None:
                self.fixed(typ, node.children[name], None, pos, out, pad, u64s)
        for (name, typ, lo), hi in zip(var, ends):
            if node.children[name] is not None:
                self.variable(typ, node.children[name], lo, hi, out, pad)
        self.absent(c, node, out, pad)
        _range_check(u64s, out, pad)

    def list_body(self, lst: List, node: _ListNode, out: list[str]) -> None:
        pad, p2 = "    ", "        "
        self.present(node, out, pad)
        if lst.elem.fixed_size is not None:
            # a ragged tail is truncated, not an error
            out.append(f"{pad}n = L // {lst.elem.fixed_size}")
            self.elements(lst.elem, node.child, "0", "n", out, pad)
        else:
            out += [
                f"{pad}n = 0",
                f"{pad}if L:",
                f"{p2}if L < 4: raise SSZError('list offset table truncated')",
                f"{p2}n = _u32(d, 0)[0]",
                f"{p2}if n % 4 or n > L: raise SSZError('bad list offset table head')",
                f"{p2}n //= 4",
                f"{p2}offs = _unpack_from(f'<{{n}}I', d)",
                f"{p2}for a, b in zip(offs, offs[1:] + (L,)):",
                f"{p2}    if b < a: raise SSZError('list item offsets out of order')",
            ]
            self.variable(lst.elem, node.child, "a", "b", out, p2 + "    ")
        out.append(f"{pad}_p{node.k}(_o{node.k}[-1] + n)")


#: compiled decoder per (fork, block type, body_include), built on first use
_CODE: dict = {}


class ColumnarBlockCollector:
    """Accumulates decoded blocks column-wise; `flush()` emits them as one
    Arrow struct array of `block_type`.  `body_include=None` decodes every
    body field; a set decodes only those (the rest flush as nulls)."""

    def __init__(self, block_type: pa.StructType, body_include: set[str] | None = None):
        self.block_type = block_type
        self.include = None if body_include is None else frozenset(body_include)
        self._env = dict(_BASE_ENV)
        self._root = _tree(block_type, self.include, self._env)
        self._fns: dict = {}
        payload = self._root.children["message"].children["body"].children["execution_payload"]
        self._ts = None if payload is None else payload.children["timestamp"].values
        self.n = 0

    def __len__(self) -> int:
        return self.n

    def _decoder(self, fork: str):
        key = (fork, self.block_type, self.include)
        if key not in _CODE:
            src = _Gen().source(block_schema(fork), self._root)
            _CODE[key] = compile(src, f"<ssz-columnar:{fork}>", "exec")
        env = dict(self._env)
        exec(_CODE[key], env)
        return env["_block"]

    def append(self, raw: bytes, fork: str) -> int:
        """Decode one SignedBeaconBlock of `fork`.  Returns its execution
        payload timestamp, or 0 when it has none (pre-merge, pruned or
        zero), so callers keep `derive_timestamp`'s slot-math fallback."""
        fn = self._fns.get(fork)
        if fn is None:
            fn = self._fns[fork] = self._decoder(fork)
        try:
            fn(raw)
        except BaseException:
            self._root.truncate(self.n)
            raise
        self.n += 1
        return (self._ts[-1] or 0) if self._ts is not None else 0

    def flush(self) -> pa.StructArray:
        out = self._root.build(self.n)
        self.n = 0
        return out
