"""Output checks: the semantic check behind ``failed`` and the Avro-Java
referee behind ``referee_match_share``.

- The semantic check parses each envelope with ``json.loads`` and compares
  it with the generator's own value, so it accepts any spelling of a number
  and fails only on a wrong value, a wrong schema or id, or an ``_error``
  that is missing, unexpected or of the wrong class.
- The referee runs Avro 1.12.1's own ``GenericDatumReader`` →
  ``GenericDatumWriter`` → ``JsonEncoder`` and ``Schema.toString()`` in the
  Spark JVM through Py4J and compares bytes.
"""

from __future__ import annotations

import json

from corpus import Entry

#: substrings of ``_error`` for each class, most specific first.  The
#: upper-case codes are the stable error codes ROADMAP item 4 plans; the
#: rest are today's messages.
_ERROR_PATTERNS = (
    ("short", ("WIRE_SHORT", "too small to contain")),
    ("magic", ("BAD_MAGIC", "magic byte")),
    ("unknown_schema", ("UNKNOWN_SCHEMA", "not found", "registry request")),
    ("bad_union", ("BAD_UNION", "union branch index")),
    ("truncated", ("TRUNCATED", "truncated", "out of bounds", "unpack_from requires")),
)


def error_class(err: str | None) -> str | None:
    """Class of an ``_error`` text, ``"other"`` when none matches."""
    if err is None:
        return None
    for cls, needles in _ERROR_PATTERNS:
        if any(n in err for n in needles):
            return cls
    return "other"


def value_ok(entry: Entry, out: bytes | None, err: str | None, schema_text: str | None) -> bool:
    """Does the value side of one record match the generator's expectation?"""
    if entry.error is not None:  # PERMISSIVE: original bytes + classed error
        return out == entry.payload and error_class(err) == entry.error
    if err is not None or out is None:
        return False
    try:
        env = json.loads(out)
        return (
            set(env) == {"originSchema", "originMessage", "originSchemaId"}
            and env["originSchemaId"] == entry.sid
            and json.loads(env["originSchema"]) == json.loads(schema_text)
            and json.loads(env["originMessage"]) == entry.value
        )
    except (ValueError, TypeError, KeyError):
        return False


def key_ok(entry: Entry, out: bytes | None, err: str | None, schema_text: str) -> bool:
    """Key side of a keyed-topic record: the decoded object plus originSchema."""
    if err is not None or out is None:
        return False
    try:
        env = json.loads(out)
        return json.loads(env.pop("originSchema")) == json.loads(schema_text) and env == entry.value
    except (ValueError, TypeError, KeyError, AttributeError):
        return False


class Referee:
    """Avro 1.12.1 (Java) as the byte-level referee for envelopes."""

    def __init__(self, spark) -> None:
        self.jvm = spark._jvm
        avro = self.jvm.org.apache.avro
        self._avro = avro
        self._dec = avro.io.DecoderFactory.get()
        self._enc = avro.io.EncoderFactory.get()

    def messages(self, schema_text: str, bodies: list[bytes]) -> tuple[str, list[str]]:
        """Java ``Schema.toString()`` and one ``JsonEncoder`` text per body.
        The bodies share one decoder and one encoder; the encoder separates
        top-level values with a newline, which JSON text never contains."""
        avro = self._avro
        schema = avro.Schema.Parser().parse(schema_text)
        reader = avro.generic.GenericDatumReader(schema)
        writer = avro.generic.GenericDatumWriter(schema)
        decoder = self._dec.binaryDecoder(b"".join(bodies), None)
        buf = self.jvm.java.io.ByteArrayOutputStream()
        enc = self._enc.jsonEncoder(schema, buf)
        for _ in bodies:
            writer.write(reader.read(None, decoder), enc)
        enc.flush()
        text = buf.toString("UTF-8")
        return schema.toString(), text.split("\n") if bodies else []

    def mismatches(self, samples: list[tuple[str, bytes, bytes]]) -> tuple[int, list[dict]]:
        """``samples``: (schema text, wire payload, engine value envelope).
        Returns the number whose originMessage or originSchema bytes differ
        from Java's, and a few examples."""
        by_schema: dict[str, list[tuple[bytes, bytes]]] = {}
        for text, payload, env in samples:
            by_schema.setdefault(text, []).append((payload, env))
        bad, examples = 0, []
        for text, items in by_schema.items():
            java_schema, java_msgs = self.messages(text, [p[5:] for p, _ in items])
            for (_p, env), java_msg in zip(items, java_msgs):
                obj = json.loads(env)
                if obj["originMessage"] != java_msg or obj["originSchema"] != java_schema:
                    bad += 1
                    if len(examples) < 3:
                        examples.append({"engine": obj["originMessage"], "java": java_msg})
        return bad, examples
