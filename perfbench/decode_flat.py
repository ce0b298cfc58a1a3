"""``decode_flat``: batch ``Engine.transform`` over a cached, Kafka-shaped
DataFrame written to the noop sink.

One topic, keys off, one flat record schema (the fused path), every record
valid.  This is the reference's steady state: one hot schema per topic, so
per-record cost dominates and schema resolution is one lookup per task.

Not declared in ``BENCHMARK.json`` (the repeated runs of three workloads do
not fit the benchmark's time budget); run it by hand, and
``test_guard.py`` builds on it.  The 90% ``user_<i>`` names and 30% null
emails are assumed shares, not taken from a source.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from byte_convert_avro_spark.engine import KAFKA_RECORD_SCHEMA, Engine, EngineConfig
from checks import Referee, value_ok
from corpus import describe_flat, flat_corpus
from harness import (SETUP_REPS, Registry, cpu_s, geomean, noop_write, registry_metrics, tail,
                     task_metrics, timed_until)
from layers import python_layers, spark_layers

DISTINCT = 20_000  # distinct payloads; row i holds payload i % DISTINCT
ROWS = 600_000
REFEREE_SAMPLE = 2_000
RSS_PASSES = 3  # timed passes inside the peak-RSS window
TOPIC = "t"


def kafka_table(values: pa.Array, topic: str, keys: pa.Array | None = None,
                offsets: np.ndarray | None = None) -> pa.Table:
    """Arrow table in the engine's ``KAFKA_RECORD_SCHEMA`` shape."""
    n = len(values)
    return pa.table({
        "key": keys if keys is not None else pa.nulls(n, pa.binary()),
        "value": values,
        "topic": topic if isinstance(topic, pa.Array) else pa.array([topic] * n),
        "partition": pa.array(np.zeros(n, dtype=np.int32)),
        "offset": pa.array(offsets if offsets is not None else np.arange(n, dtype=np.int64)),
        "timestamp": pa.nulls(n, pa.timestamp("us", tz="UTC")),
        "timestampType": pa.array(np.zeros(n, dtype=np.int32)),
    })


def _setup(ctx, previous, rows: int = ROWS):
    """Corpus, registry process and cached DataFrame of ``rows`` rows; tears
    down ``previous``."""
    if previous is not None:
        previous["df"].unpersist(blocking=True)
        previous["registry"].close()
    corpus = flat_corpus(ctx.seed, DISTINCT, rows)
    registry = Registry(corpus.schemas, ctx.work)
    distinct = pa.array([e.payload for e in corpus.entries], pa.binary())
    path = os.path.join(ctx.work, "flat.parquet")
    pq.write_table(kafka_table(distinct.take(np.arange(rows) % DISTINCT), TOPIC), path)
    # one task per core: more, smaller tasks measured slower and noisier
    df = (ctx.spark.read.schema(KAFKA_RECORD_SCHEMA).parquet(path)
          .repartition(ctx.cpus).cache())
    df.count()
    return {"corpus": corpus, "registry": registry, "df": df}


def run(ctx) -> dict:
    state, setups = None, []
    try:
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            state = _setup(ctx, state)
            setups.append(time.perf_counter() - t0)
        return _measure(ctx, state, setups)
    finally:
        if state is not None:
            state["registry"].close()


def _measure(ctx, state, setups) -> dict:
    corpus, registry, df = state["corpus"], state["registry"], state["df"]
    spark, tracer = ctx.spark, ctx.tracer
    eng = Engine(EngineConfig(avro_topics=f"{TOPIC}:false", schema_registry_urls=[registry.url]))
    with tracer.span("engine.transform_call"):
        out = eng.transform(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    in_plan = "ArrowEvalPython" in plan

    noop_write(out)  # warm: Python workers, codegen
    registry.reset()
    w0, cpu0 = time.time(), cpu_s([ctx.jvm_pid])
    with tracer.span("timed_region"):
        # the peak-RSS window closes after a fixed amount of work
        times = timed_until(0, lambda: noop_write(out), minimum=RSS_PASSES)
        ctx.stop_rss()
        times += timed_until(ctx.seconds - sum(times), lambda: noop_write(out), minimum=0)
    window = (w0, time.time())
    pass_cpu_s = (cpu_s([ctx.jvm_pid]) - cpu0) / len(times)
    rates = [corpus.rows / t for t in times]
    reg = registry_metrics(registry.stats(), len(times))

    t0 = time.perf_counter()
    out.count()  # the legacy bench_decode figure: Catalyst prunes the UDF here
    legacy_rec_s = corpus.rows / (time.perf_counter() - t0)

    pass_s = statistics.median(times)
    layers = {"trace.pass_s": pass_s}
    report = {}
    if ctx.traced:
        layers.update(task_metrics(spark, ctx.events_dir, [window], len(times))[0])
        report.update(spark_layers(tracer, df, out))
        layers.update(python_layers(tracer, corpus.schemas, corpus.entries, [corpus.schema_id] * 20))

    # correctness: every row, grouped by (payload, output, error)
    groups = (out.groupBy((F.col("offset") % len(corpus.entries)).alias("pid"), "value", "_error")
              .count().collect())
    text = corpus.schemas[corpus.schema_id]
    seen = sum(g["count"] for g in groups)
    failed = sum(g["count"] for g in groups
                 if not value_ok(corpus.entries[g["pid"]], g["value"], g["_error"], text))
    failed += abs(corpus.rows - seen)
    envelope = {g["pid"]: g["value"] for g in groups if g["_error"] is None}
    # consecutive payloads: their doubles cover the exponent range evenly
    pids = [p for p in range(REFEREE_SAMPLE) if p in envelope]
    bad, examples = Referee(spark).mismatches(
        [(text, corpus.entries[p].payload, envelope[p]) for p in pids])

    report.update({
        "composition": describe_flat(corpus),
        "passes_s": [round(t, 3) for t in times],
        "decode_rec_s": statistics.median(rates),
        "microbatch_tail_ms": tail([t * 1e3 for t in times]),
        "referee_mismatch_share": bad / len(pids),
        "referee_sample": len(pids),
        "referee_examples": examples,
        "pruning_guard.arrow_eval_python_in_plan": in_plan,
        "legacy.count_rec_s": legacy_rec_s,
        **reg,
    })
    return {
        "setups": setups,
        "e2e": {
            "pass_s": pass_s,
            "op_geomean_ms": geomean(times) * 1e3,
            "pass_cpu_s": pass_cpu_s,
            "referee_match_share": 1 - bad / len(pids),
        },
        "layers": layers,
        "attempted": corpus.rows,
        "failed": failed,
        "correct": failed == 0 and in_plan,
        "report": report,
    }
