"""Fused decode→Avro-JSON codegen for record schemas.

For record schemas built from primitives/enums/fixed/nested records/
arrays/maps/unions (any branch count, nested anywhere) this module
generates ONE
Python function per schema — varint/zigzag decoding inlined (no per-field
call), JSON text emitted directly (no intermediate dict, no _UnionValue
allocations, field names and union labels escaped at compile time).
Truncated payloads raise (bounds check before every length-prefixed
slice) — EOF parity with the general reader and the JVM BinaryDecoder.

RECURSIVE record types (self-referential directly or through any
union/array/map/record path) fuse too: unbounded inlining is impossible,
so each record type on a cycle compiles to its own memoized function and
references emit calls — a per-type function graph mirroring the data
recursion, with everything off-cycle still inlined.  Decode-time recursion
depth equals data nesting depth, the same bound the general
closure-tree reader has.

A non-record top level returns None and the
engine falls back to the general compiled reader + compiled JSON writer —
same output bytes, pinned by the equality property test.

Output parity: byte-identical to
``json.dumps(to_avro_json(reader(payload)), separators=(",", ":"),
ensure_ascii=False)`` — the specification path in ``jsonenc.py``.
"""

from __future__ import annotations

import json
import struct
from json.encoder import encode_basestring as _esc

from byte_convert_avro_spark.avro.binary import TruncatedPayloadError
from byte_convert_avro_spark.avro.jsonenc import _write_float
from byte_convert_avro_spark.avro.schema import AvroSchema

_unpack_float = struct.Struct("<f").unpack_from
_unpack_double = struct.Struct("<d").unpack_from


def _trunc(pos: int, ln: int, blen: int) -> None:
    """EOF parity with the general reader (binary.py _need): slices would
    silently truncate, so every length-prefixed read checks first."""
    raise TruncatedPayloadError(
        f"payload truncated: need {ln} bytes at position {pos}, have {blen - pos}"
    )


def _bad_union(i: int) -> None:
    """Out-of-range union branch index: raise (like the general reader's
    branches[i] IndexError) instead of silently desyncing the decode."""
    raise ValueError(f"union branch index {i} out of range")

#: inline zigzag-varint decode; leaves `v{n}` holding the long and advances pos
_VARINT = """
    n = 0; shift = 0
    while True:
        b = buf[pos]; pos += 1
        n |= (b & 0x7F) << shift
        if not (b & 0x80): break
        shift += 7
    {out} = (n >> 1) ^ -(n & 1)
"""


def _primitive_snippet(name: str, out_var: str) -> str | None:
    """Code that decodes primitive `name` and appends its JSON text to `o`."""
    if name in ("int", "long"):
        return _VARINT.format(out="v") + f"    {out_var} += str(v)\n"
    if name == "boolean":
        return (
            "    b0 = buf[pos]; pos += 1\n"
            f"    {out_var} += 'true' if b0 == 1 else 'false'\n"
        )
    if name == "float":
        return (
            "    v = _unpack_float(buf, pos)[0]; pos += 4\n"
            f"    {out_var} += _wf(v)\n"
        )
    if name == "double":
        return (
            "    v = _unpack_double(buf, pos)[0]; pos += 8\n"
            f"    {out_var} += _wf(v)\n"
        )
    if name == "string":
        return (
            _VARINT.format(out="ln")
            + "    if ln < 0 or pos + ln > blen: _trunc(pos, ln, blen)\n"
            + "    v = str(buf[pos:pos+ln], 'utf-8'); pos += ln\n"
            + f"    {out_var} += _esc(v)\n"
        )
    if name == "bytes":
        return (
            _VARINT.format(out="ln")
            + "    if ln < 0 or pos + ln > blen: _trunc(pos, ln, blen)\n"
            + "    v = str(buf[pos:pos+ln], 'latin-1'); pos += ln\n"
            + f"    {out_var} += _esc(v)\n"
        )
    if name == "null":
        return f"    {out_var} += 'null'\n"
    return None


def _recursive_records(root: AvroSchema) -> set[int]:
    """ids of record nodes that lie on a reference cycle (direct or via
    union/array/map/record paths).  Named-type references are resolved to
    shared instances by ``parse_schema``, so object identity is the type
    identity."""
    cyclic: set[int] = set()
    stack: list[int] = []
    onstack: set[int] = set()
    done: set[int] = set()

    def walk(node: AvroSchema) -> None:
        if node.kind == "record":
            if id(node) in onstack:
                cyclic.update(stack[stack.index(id(node)):])
                return
            if id(node) in done:
                return
            stack.append(id(node))
            onstack.add(id(node))
            for f in node.fields or []:
                walk(f.type)
            stack.pop()
            onstack.discard(id(node))
            done.add(id(node))
        elif node.kind == "union":
            for b in node.fields or []:
                walk(b)
        elif node.kind == "array":
            walk(node.items)
        elif node.kind == "map":
            walk(node.values)

    walk(root)
    return cyclic


def compile_fused(schema: AvroSchema):
    """-> fn(buf: bytes|memoryview, pos: int) -> str (Avro-JSON text), or
    None when the schema is outside the fusable subset (non-record top
    level, empty unions)."""
    if schema.kind != "record":
        return None
    consts: dict[str, object] = {}
    counter = iter(range(1_000_000))
    cyclic = _recursive_records(schema)
    rec_fn_names: dict[int, str] = {}
    rec_fn_srcs: list[str] = []

    def rec_fn(rec: AvroSchema) -> str | None:
        """Memoized per-type decode function for a record on a cycle;
        registered before body generation so self-references emit calls."""
        if id(rec) in rec_fn_names:
            return rec_fn_names[id(rec)]
        name = f"_recf{next(counter)}"
        rec_fn_names[id(rec)] = name
        body = record_snippet(rec)
        if body is None:
            return None
        rec_fn_srcs.append(
            f"def {name}(buf, pos):\n    blen = len(buf)\n    o = ''\n"
            + body
            + "    return o, pos\n"
        )
        return name

    def field_snippet(ft: AvroSchema) -> str | None:
        """Decode one value of type ft and append its JSON text to o."""
        if ft.kind == "primitive":
            return _primitive_snippet(ft.name, "o")
        if ft.kind == "enum":
            # symbols escaped at compile time -> pure table lookup
            k = next(counter)
            consts[f"_sym{k}"] = tuple(_esc(sym) for sym in (ft.symbols or []))
            return _VARINT.format(out="si") + f"    o += _sym{k}[si]\n"
        if ft.kind == "fixed":
            return (
                f"    if pos + {ft.size} > blen: _trunc(pos, {ft.size}, blen)\n"
                f"    v = str(buf[pos:pos+{ft.size}], 'latin-1'); pos += {ft.size}\n"
                "    o += _esc(v)\n"
            )
        if ft.kind == "record":
            if id(ft) in cyclic:
                name = rec_fn(ft)
                if name is None:
                    return None
                return f"    _rs, pos = {name}(buf, pos)\n    o += _rs\n"
            return record_snippet(ft)
        if ft.kind == "union":
            # arbitrary branch count, any fusable branch type (so unions
            # nested inside arrays/maps fuse too); out-of-range index
            # raises instead of desyncing (general-reader parity)
            branches = ft.fields or []
            if not branches:
                return None
            k = next(counter)
            out = [_VARINT.format(out=f"bi{k}")]
            for j, b in enumerate(branches):
                kw = "if" if j == 0 else "elif"
                out.append(f"    {kw} bi{k} == {j}:\n")
                if b.union_label == "null":
                    out.append("        o += 'null'\n")
                    continue
                snip = field_snippet(b)
                if snip is None:
                    return None
                wrap_open = "{" + json.dumps(b.union_label) + ":"
                out.append(f"        o += {wrap_open!r}\n")
                out.append("".join("    " + line + "\n" for line in snip.splitlines()))
                out.append("        o += '}'\n")
            out.append(f"    else:\n        _bad_union(bi{k})\n")
            return "".join(out)
        if ft.kind in ("array", "map"):
            inner = field_snippet(ft.items if ft.kind == "array" else ft.values)
            if inner is None:
                return None
            k = next(counter)
            open_ch, close_ch = ("[", "]") if ft.kind == "array" else ("{", "}")
            lines = [f"    o += {open_ch!r}\n", f"    fa{k} = True\n", "    while True:\n"]
            block = [_VARINT.format(out=f"cnt{k}")]
            block.append(f"    if cnt{k} == 0: break\n")
            block.append(f"    if cnt{k} < 0:\n")
            block.append(f"        cnt{k} = -cnt{k}\n")
            block.append("".join("    " + ln + "\n" for ln in _VARINT.format(out="_bsz").splitlines()))
            block.append(f"    for _ in range(cnt{k}):\n")
            item = [f"    if fa{k}: fa{k} = False\n", "    else: o += ','\n"]
            if ft.kind == "map":
                item.append(_VARINT.format(out="kln"))
                item.append("    if kln < 0 or pos + kln > blen: _trunc(pos, kln, blen)\n")
                item.append("    o += _esc(str(buf[pos:pos+kln], 'utf-8')) + ':'; pos += kln\n")
            item.append(inner)
            block.append("".join("    " + ln + "\n" for ln in "".join(item).splitlines()))
            lines.append("".join("    " + ln + "\n" for ln in "".join(block).splitlines()))
            lines.append(f"    o += {close_ch!r}\n")
            return "".join(lines)
        return None

    def record_snippet(rec: AvroSchema) -> str | None:
        """Append the record's full '{...}' JSON to o (nested inline;
        cycle members referenced from fields go through rec_fn calls, so
        generation always terminates)."""
        out: list[str] = []
        first = True
        for f in rec.fields or []:
            prefix = ("{" if first else ",") + json.dumps(f.name, ensure_ascii=False) + ":"
            first = False
            out.append(f"    o += {prefix!r}\n")
            snip = field_snippet(f.type)
            if snip is None:
                return None
            out.append(snip)
        out.append("    o += '}'\n" if not first else "    o += '{}'\n")
        return "".join(out)

    body = record_snippet(schema)
    if body is None:
        return None
    src = "".join(rec_fn_srcs) + (
        "def _fused(buf, pos):\n    blen = len(buf)\n    o = ''\n"
        + body
        + "    return o, pos\n"
    )
    ns: dict[str, object] = {
        "_unpack_float": _unpack_float,
        "_unpack_double": _unpack_double,
        "_esc": _esc,
        "_wf": _write_float,  # one float formatter for both compiled paths
        "_trunc": _trunc,
        "_bad_union": _bad_union,
        **consts,
    }
    exec(src, ns)  # noqa: S102 — source is generated from the schema, no user input
    return ns["_fused"]
