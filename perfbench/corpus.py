"""Seeded inputs for the decode workloads.

Everything here is a function of the seed.  Values are generated in their
Avro-JSON form (union values wrapped as ``{label: value}``, bytes as
ISO-8859-1 strings), which is also what the engine must emit as
``originMessage``; a small Avro binary encoder written here, independent
of the engine's codec, turns them into wire payloads.

Doubles span 1e-8 to 1e17.  Their decimal exponents come from a
seed-shifted golden-ratio sequence rather than independent draws, so every
slice of a corpus covers the range evenly and the share of doubles the
Java encoder prints differently (ROADMAP 3(a)) does not swing from seed to
seed.
"""

from __future__ import annotations

import json
import math
import random
import struct
from dataclasses import dataclass

_PACK_FLOAT = struct.Struct("<f").pack
_PACK_DOUBLE = struct.Struct("<d").pack
_GOLDEN = (math.sqrt(5) - 1) / 2

MAGIC = 0
ERROR_CLASSES = ("short", "magic", "unknown_schema", "truncated", "bad_union")

#: the decode_flat schema: long, string, ["null","string"], double — the
#: record shape the engine's fused decoder covers
FLAT_SCHEMA = {
    "type": "record",
    "name": "Customer",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": "string"},
        {"name": "email", "type": ["null", "string"]},
        {"name": "balance", "type": "double"},
    ],
}
KEY_SCHEMA = {
    "type": "record",
    "name": "OrderKey",
    "fields": [
        {"name": "order_id", "type": "long"},
        {"name": "region", "type": "string"},
    ],
}

_WORDS = ("alpha", "beta", "gamma", "delta", "café", "Zürich", "東京", "tab\there", "x")


# -- Avro binary encoding (spec: "Binary Encoding") -------------------------
def _long(n: int, out: bytearray) -> None:
    n = (n << 1) ^ (n >> 63)
    while n & ~0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)


def _label(branch) -> str:
    if isinstance(branch, str):
        return branch
    return branch["name"] if branch["type"] in ("record", "enum", "fixed") else branch["type"]


def encode(schema, value, out: bytearray) -> None:
    """Append the Avro binary encoding of an Avro-JSON ``value``."""
    if isinstance(schema, list):
        if value is None:
            _long(schema.index("null"), out)
            return
        ((label, inner),) = value.items()
        idx = [_label(b) for b in schema].index(label)
        _long(idx, out)
        encode(schema[idx], inner, out)
        return
    t = schema if isinstance(schema, str) else schema["type"]
    if t == "null":
        return
    if t == "boolean":
        out.append(1 if value else 0)
    elif t in ("int", "long"):
        _long(value, out)
    elif t == "float":
        out += _PACK_FLOAT(value)
    elif t == "double":
        out += _PACK_DOUBLE(value)
    elif t in ("bytes", "string"):
        raw = value.encode("latin-1" if t == "bytes" else "utf-8")
        _long(len(raw), out)
        out += raw
    elif t == "record":
        for f in schema["fields"]:
            encode(f["type"], value[f["name"]], out)
    elif t == "enum":
        _long(schema["symbols"].index(value), out)
    elif t in ("array", "map"):
        if value:
            _long(len(value), out)
            for item in value.items() if t == "map" else value:
                if t == "map":
                    encode("string", item[0], out)
                    encode(schema["values"], item[1], out)
                else:
                    encode(schema["items"], item, out)
        _long(0, out)
    else:
        raise ValueError(f"unsupported type {t!r}")


def wire(schema_id: int, body: bytes) -> bytes:
    return bytes([MAGIC]) + schema_id.to_bytes(4, "big", signed=True) + body


def payload(schema_id: int, schema, value) -> bytes:
    out = bytearray()
    encode(schema, value, out)
    return wire(schema_id, bytes(out))


# -- value generation --------------------------------------------------------
class Doubles:
    """Doubles with magnitudes 1e-8..1e17, exponents evenly spread."""

    def __init__(self, rng: random.Random) -> None:
        self.rng = rng
        self.phase = rng.random()
        self.i = 0

    def __call__(self) -> float:
        self.i += 1
        e = -8 + int(25 * ((self.phase + self.i * _GOLDEN) % 1.0))
        digits = self.rng.choice((1, 2, 4, 9))
        mant = self.rng.randint(10 ** (digits - 1), 10**digits - 1)
        sign = "-" if self.rng.random() < 0.2 else ""
        return float(f"{sign}{mant}e{e - digits + 1}")


def _text(rng: random.Random) -> str:
    return f"{rng.choice(_WORDS)}_{rng.randrange(10**6)}"


def _latin1(rng: random.Random) -> str:
    return bytes(rng.randrange(256) for _ in range(rng.randrange(9))).decode("latin-1")


def template(t: int, sid: int):
    """Schema for template ``t`` (0-2 top-level records, which the engine's
    fused decoder covers; 3-5 other top-level types, which take its general
    reader/writer path).  ``sid`` keeps named types distinct per id."""
    if t == 0:
        return dict(FLAT_SCHEMA, name=f"Flat{sid}")
    if t == 1:
        return {
            "type": "record",
            "name": f"Nested{sid}",
            "fields": [
                {"name": "id", "type": "long"},
                {"name": "tags", "type": {"type": "array", "items": "string"}},
                {"name": "attrs", "type": {"type": "map", "values": "double"}},
                {"name": "status", "type": {"type": "enum", "name": f"Status{sid}",
                                            "symbols": ["NEW", "PAID", "VOID"]}},
                {"name": "point", "type": {"type": "record", "name": f"Point{sid}", "fields": [
                    {"name": "x", "type": "double"}, {"name": "y", "type": "double"}]}},
                {"name": "choice", "type": [
                    "null",
                    {"type": "record", "name": f"A{sid}", "fields": [{"name": "a", "type": "long"}]},
                    {"type": "record", "name": f"B{sid}", "fields": [{"name": "b", "type": "string"}]},
                ]},
            ],
        }
    if t == 2:
        return {
            "type": "record",
            "name": f"Prims{sid}",
            "fields": [
                {"name": "flag", "type": "boolean"},
                {"name": "n", "type": "int"},
                {"name": "f", "type": "float"},
                {"name": "raw", "type": "bytes"},
                {"name": "opt", "type": ["null", "double"]},
                {"name": "amount", "type": "double"},
            ],
        }
    if t == 3:
        return {"type": "array", "items": {"type": "record", "name": f"Item{sid}", "fields": [
            {"name": "sku", "type": "string"}, {"name": "price", "type": "double"}]}}
    if t == 4:
        return [
            {"type": "record", "name": f"X{sid}", "fields": [{"name": "x", "type": "double"}]},
            {"type": "record", "name": f"Y{sid}", "fields": [
                {"name": "y", "type": "string"}, {"name": "z", "type": "long"}]},
        ]
    return {"type": "map", "values": "double"}


N_TEMPLATES = 6
FUSED_TEMPLATES = (0, 1, 2)


def value_for(t: int, sid: int, i: int, rng: random.Random, dbl: Doubles):
    """The ``i``-th value of template ``t``.  Its shape (nulls, branches,
    collection sizes) cycles with ``i``, so the number of doubles per record
    does not vary with the seed."""
    if t == 0:
        return {
            "id": rng.randrange(-2**40, 2**62),
            "name": _text(rng),
            "email": None if i % 3 == 0 else {"string": f"u{rng.randrange(10**6)}@x.org"},
            "balance": dbl(),
        }
    if t == 1:
        return {
            "id": rng.randrange(2**31),
            "tags": [_text(rng) for _ in range(i % 4)],
            "attrs": {f"k{j}": dbl() for j in range(i % 3)},
            "status": rng.choice(["NEW", "PAID", "VOID"]),
            "point": {"x": dbl(), "y": dbl()},
            "choice": (None, {f"A{sid}": {"a": rng.randrange(-999, 999)}},
                       {f"B{sid}": {"b": _text(rng)}})[i % 3],
        }
    if t == 2:
        return {
            "flag": rng.random() < 0.5,
            "n": rng.randrange(-2**31, 2**31),
            "f": rng.randrange(-800, 800) / 8,
            "raw": _latin1(rng),
            "opt": None if i % 2 == 0 else {"double": dbl()},
            "amount": dbl(),
        }
    if t == 3:
        return [{"sku": _text(rng), "price": dbl()} for _ in range(1 + i % 3)]
    if t == 4:
        if i % 2 == 0:
            return {f"X{sid}": {"x": dbl()}}
        return {f"Y{sid}": {"y": _text(rng), "z": rng.randrange(-2**40, 2**40)}}
    return {f"m{j}": dbl() for j in range(1 + i % 3)}


def schema_text(schema) -> str:
    return json.dumps(schema, separators=(",", ":"), ensure_ascii=False)


# -- corpora -----------------------------------------------------------------
@dataclass
class Entry:
    """One distinct payload and what the engine must make of it."""

    payload: bytes
    sid: int | None = None  # schema id of a valid payload
    value: object = None  # its Avro-JSON value
    error: str | None = None  # expected error class, or None
    template: int = 0
    fused: bool = False


@dataclass
class FlatCorpus:
    schema_id: int
    schemas: dict[int, str]
    entries: list[Entry]  # distinct payloads; row i of the corpus holds entries[i % len]
    rows: int


def flat_corpus(seed: int, distinct: int, rows: int) -> FlatCorpus:
    rng = random.Random(seed)
    dbl = Doubles(rng)
    sid = rng.randrange(1000, 2**20)
    entries = []
    for i in range(distinct):
        v = {
            "id": i,
            "name": f"user_{i}" if rng.random() < 0.9 else _text(rng),
            "email": None if rng.random() < 0.3 else {"string": f"u{i}@x.com"},
            "balance": dbl(),
        }
        entries.append(Entry(payload(sid, FLAT_SCHEMA, v), sid, v, fused=True))
    return FlatCorpus(sid, {sid: schema_text(FLAT_SCHEMA)}, entries, rows)


@dataclass
class MixedCorpus:
    """stream_mixed's inputs: registered schemas, distinct value and key
    payloads, and a backlog of files.  A file is a list of
    ``(topic, key, value)`` rows: ``key >= 0`` indexes ``keys``, ``key < 0``
    indexes ``raw_keys`` as ``~key``; ``value >= 0`` indexes ``values`` and
    ``-1`` is a tombstone."""

    schemas: dict[int, str]
    key_id: int
    values: list[Entry]
    keys: list[Entry]
    files: list[list[tuple[str, int, int]]]
    raw_keys: list[bytes]


KEYED_TOPIC, PLAIN_TOPIC, DISABLED_TOPIC = "orders", "payments", "audit"
TOPICS = {KEYED_TOPIC: True, PLAIN_TOPIC: False}  # DISABLED_TOPIC is absent


def _hostile(cls: str, rng: random.Random, valid: list[Entry], flat_ids: list[int],
             unknown_ids: list[int]) -> bytes:
    if cls == "short":
        return bytes(rng.randrange(256) for _ in range(1 + rng.randrange(5)))
    base = rng.choice(valid)
    if cls == "magic":
        return bytes([1 + rng.randrange(255)]) + base.payload[1:]
    if cls == "unknown_schema":
        return wire(rng.choice(unknown_ids), base.payload[5:])
    if cls == "truncated":
        body = base.payload[5:]
        cut = rng.randrange(1, len(body))  # keeps >=1 body byte, drops >=1
        return base.payload[: 5 + cut]
    # bad_union: a flat record whose ["null","string"] index is out of range
    sid = rng.choice(flat_ids)
    out = bytearray()
    _long(rng.randrange(2**20), out)
    encode("string", _text(rng), out)
    _long(2 + rng.randrange(60), out)
    out += _PACK_DOUBLE(1.5)
    return wire(sid, bytes(out))


def mixed_corpus(seed: int, n_ids: int, n_values: int, n_keys: int, n_files: int,
                 rows_per_file: int) -> MixedCorpus:
    """Schemas: ``n_ids`` ids of six templates, rank r taking template r % 6,
    records drawn Zipf(1) over rank.  Each file holds the same mix: 20%
    disabled-topic rows, 3% tombstones, 2% hostile payloads split evenly over
    the five error classes, the rest split between the keyed and the plain
    topic.  Of these, only the 2% hostile share and the Zipf skew are given
    by the workload's definition; the other shares are assumptions, listed
    in README.md."""
    rng = random.Random(seed)
    dbls = [Doubles(rng) for _ in range(N_TEMPLATES)]  # one evenly spread sequence each
    made = [0] * N_TEMPLATES
    ids = rng.sample(range(100, 2**20), n_ids + 21)
    key_id, unknown_ids, ids = ids[0], ids[1:21], ids[21:]
    schemas_by_id = {sid: template(r % N_TEMPLATES, sid) for r, sid in enumerate(ids)}
    schemas = {sid: schema_text(s) for sid, s in schemas_by_id.items()}
    schemas[key_id] = schema_text(KEY_SCHEMA)
    weights = [1.0 / (r + 1) for r in range(n_ids)]

    values: list[Entry] = []
    for r in rng.choices(range(n_ids), weights=weights, k=n_values):
        sid, t = ids[r], r % N_TEMPLATES
        v = value_for(t, sid, made[t], rng, dbls[t])
        made[t] += 1
        values.append(Entry(payload(sid, schemas_by_id[sid], v), sid, v,
                            template=t, fused=t in FUSED_TEMPLATES))
    keys = []
    for _ in range(n_keys):
        v = {"order_id": rng.randrange(2**50), "region": rng.choice(_WORDS)}
        keys.append(Entry(payload(key_id, KEY_SCHEMA, v), key_id, v, fused=True))

    n_valid = len(values)
    flat_ids = [sid for r, sid in enumerate(ids) if r % N_TEMPLATES == 0]
    per_class = max(1, rows_per_file // 250)  # 5 classes x 0.4% = 2%
    hostile_index: dict[str, list[int]] = {}
    for cls in ERROR_CLASSES:
        hostile_index[cls] = []
        for _ in range(4 * per_class):
            p = _hostile(cls, rng, values[:n_valid], flat_ids, unknown_ids)
            hostile_index[cls].append(len(values))
            values.append(Entry(p, error=cls))
    raw_keys = [f"k{j}".encode() for j in range(64)]

    n_disabled = rows_per_file // 5
    n_tomb = max(1, rows_per_file * 3 // 100)
    n_valid_rows = rows_per_file - n_disabled - n_tomb - per_class * len(ERROR_CLASSES)
    files = []
    for _ in range(n_files):
        rows = [(KEYED_TOPIC if j % 2 else PLAIN_TOPIC, rng.randrange(n_valid))
                for j in range(n_valid_rows)]
        rows += [(KEYED_TOPIC if j % 2 else PLAIN_TOPIC, -1) for j in range(n_tomb)]
        rows += [(KEYED_TOPIC if j % 2 else PLAIN_TOPIC, rng.choice(hostile_index[cls]))
                 for cls in ERROR_CLASSES for j in range(per_class)]
        rows += [(DISABLED_TOPIC, rng.randrange(n_valid)) for _ in range(n_disabled)]
        rng.shuffle(rows)
        # keys are decoded on the keyed topic and raw bytes elsewhere
        files.append([
            (t, rng.randrange(len(keys)) if t == KEYED_TOPIC else ~rng.randrange(len(raw_keys)), v)
            for t, v in rows
        ])
    return MixedCorpus(schemas, key_id, values, keys, files, raw_keys)


def describe_flat(c: FlatCorpus) -> dict:
    mags = [abs(e.value["balance"]) for e in c.entries]
    return {
        "records": c.rows,
        "distinct_payloads": len(c.entries),
        "distinct_ids": 1,
        "fused_share": 1.0,
        "hostile": {cls: 0 for cls in ERROR_CLASSES},
        "tombstone_share": 0.0,
        "passthrough_share": 0.0,
        "double_range": [min(mags), max(mags)],
    }


def describe_mixed(c: MixedCorpus) -> dict:
    rows = [r for f in c.files for r in f]
    n = len(rows)
    enabled_values = [c.values[v] for t, _k, v in rows if t in TOPICS and v >= 0]
    valid = [e for e in enabled_values if e.error is None]
    hostile = {cls: sum(1 for e in enabled_values if e.error == cls) for cls in ERROR_CLASSES}
    mags: list[float] = []

    def walk(x):
        if isinstance(x, float):
            mags.append(abs(x))
        elif isinstance(x, dict):
            for v in x.values():
                walk(v)
        elif isinstance(x, list):
            for v in x:
                walk(v)

    for e in c.values:
        if e.error is None:
            walk(e.value)
    mags = [m for m in mags if m]
    return {
        "records": n,
        "files": len(c.files),
        "registered_ids": len(c.schemas),
        "distinct_ids": len({e.sid for e in valid}),
        "fused_share": sum(e.fused for e in valid) / max(1, len(valid)),
        "hostile": hostile,
        "hostile_share": sum(hostile.values()) / n,
        "tombstone_share": sum(1 for t, _k, v in rows if t in TOPICS and v < 0) / n,
        "passthrough_share": sum(1 for t, _k, _v in rows if t not in TOPICS) / n,
        "double_range": [min(mags), max(mags)],
    }
