"""Per-layer measurements, each timed from outside by calling into the
layer's own functions.

- Spark jobs over a cached corpus, each written to the noop sink: the scan
  alone, the scan plus the native wire-gate columns, the scan plus an
  identity Arrow pandas UDF with the decode UDF's input and output shape,
  and the full ``Engine.transform``.  Differences between them split one
  transform job into scan, gate, JVM↔Python boundary and in-UDF work.
- Single-threaded loops, no Spark, over the corpus's valid payloads:
  ``_decode_one``, the fused decoder, the general reader and JSON writer,
  and cold ``CachedParser.get``.
"""

from __future__ import annotations

import statistics
import time
from typing import Iterator

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from byte_convert_avro_spark import wire
from byte_convert_avro_spark.decoder import _decode_one
from byte_convert_avro_spark.schema_store import CachedParser, LocalSchemaStore
from harness import noop_write, per_record_us

_OUT = T.StructType([
    T.StructField("key_out", T.BinaryType()),
    T.StructField("value_out", T.BinaryType()),
    T.StructField("error", T.StringType()),
])


def _identity(it: Iterator[tuple[pd.Series, pd.Series, pd.Series]]) -> Iterator[pd.DataFrame]:
    for _topic, key, value in it:
        yield pd.DataFrame({"key_out": key, "value_out": value,
                            "error": pd.Series([None] * len(value), dtype=object)})


def identity_projection(df):
    """``df`` through an Arrow pandas UDF that returns its key and value
    unchanged, projected the way ``decode_records`` projects the decode UDF."""
    udf = F.pandas_udf(_identity, _OUT)
    dec = df.withColumn("_dec", udf(F.col("topic"), F.col("key"), F.col("value")))
    cols = [F.col(f"_dec.{c}_out").alias(c) if c in ("key", "value") else F.col(c)
            for c in df.columns]
    return dec.select(*cols, F.col("_dec.error").alias("_error"))


def spark_layers(tracer, df, transformed, reps: int = 3) -> dict:
    """Interleaved rounds of the four jobs; medians of their spans."""
    v = F.col("value")
    jobs = {
        "wire.scan_job": df,
        "wire.gate_job": df.select(wire.is_valid_wire(v), wire.schema_id(v), wire.body(v)),
        "decoder.identity_udf_job": identity_projection(df),
        "engine.transform_job": transformed,
    }
    for _ in range(reps):
        for name, job in jobs.items():
            with tracer.span(name):
                noop_write(job)
    scan, gate, ident, full = (tracer.median_s(n) for n in jobs)
    return {
        "wire.scan_s": scan,
        "wire.gate_s": gate - scan,
        "decoder.boundary_s": ident - scan,
        "decoder.udf_s": full - ident,
        "layers.split_s": full,
    }


def python_layers(tracer, schemas: dict[int, str], entries: list, compile_ids: list[int]) -> dict:
    """``entries``: valid corpus entries (payload, sid, fused flag)."""
    store = LocalSchemaStore(schemas)
    parser = CachedParser(store)
    for e in entries:  # warm: compile every schema once
        _decode_one(e.payload, parser, False)
    fused = [e for e in entries if e.fused]
    general = [e for e in entries if not e.fused] or entries  # all-fused corpus: time them anyway
    fused_fn = {e.sid: parser.get(e.sid)[5] for e in fused}
    out = {}
    with tracer.span("decoder.decode_one_loop"):
        out["decoder.decode_one_us"] = per_record_us(
            lambda p: _decode_one(p, parser, False), [e.payload for e in entries])
        fused_decode_one = per_record_us(
            lambda p: _decode_one(p, parser, False), [e.payload for e in fused])
    with tracer.span("avro.fused_loop"):
        # the same per-record lookup and memoryview as _decode_one pays, so
        # the difference is the wire checks and the envelope
        out["avro.fused_us"] = per_record_us(
            lambda e: fused_fn[e.sid](memoryview(e.payload), 5), fused)
    out["decoder.envelope_us"] = fused_decode_one - out["avro.fused_us"]
    readers = [(parser.get(e.sid)[1], memoryview(e.payload)) for e in general]
    with tracer.span("avro.reader_loop"):
        out["avro.reader_us"] = per_record_us(lambda it: it[0](it[1], 5), readers)
    writes = [(parser.get(e.sid)[4], r(mv, 5)[0]) for (r, mv), e in zip(readers, general)]
    with tracer.span("avro.json_writer_loop"):
        out["avro.json_writer_us"] = per_record_us(lambda it: it[0](it[1]), writes)
    cold = []
    with tracer.span("avro.compile_loop"):
        for sid in compile_ids:
            p = CachedParser(store)
            t0 = time.perf_counter()
            p.get(sid)
            cold.append((time.perf_counter() - t0) * 1e3)
    out["avro.compile_ms"] = statistics.mean(cold)
    out["avro.fused_share"] = len(fused) / len(entries)
    return out
