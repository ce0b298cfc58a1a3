"""``stream_mixed``: a closed-loop Structured Streaming drain of a
pre-written backlog of Kafka-shaped parquet files.

``stream_records`` → ``decode_stream`` (``Engine.transform``) →
``foreachBatch`` noop, with ``availableNow`` and a fixed number of files per
trigger, the way a consumer catches up a lag under
``maxOffsetsPerTrigger``.  Topics: one with keys decoded, one keys-off, one
disabled.  About 3x ``schema.capacity`` schema ids drawn Zipf-skewed, half
of the templates outside the fused decoder, tombstones and 2% hostile
payloads, all served by the local registry process through
``HttpSchemaRegistry``.  Schema resolution, the general reader/writer, the
error paths and per-batch fixed costs do most of the work here.
``pass_s`` is the median wall time of the timed drains of the whole
backlog, ``pass_cpu_s`` the CPU time the JVM and its Python workers spent
per drain.

Correctness has two halves.  Every distinct payload goes once through a
batch ``Engine.transform`` and is checked against the generator.  The
stream itself carries an ``observe`` of row, error-class and passthrough
counts and CRC32 sums of the output key and value bytes; each drain must
match the counts and sums the checked outputs predict for the backlog.
"""

from __future__ import annotations

import os
import random
import statistics
import time
import zlib

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from byte_convert_avro_spark.engine import KAFKA_RECORD_SCHEMA, Engine, EngineConfig
from byte_convert_avro_spark.streaming import decode_stream, stream_records
from checks import _ERROR_PATTERNS, Referee, key_ok, value_ok
from corpus import (ERROR_CLASSES, KEYED_TOPIC, N_TEMPLATES, PLAIN_TOPIC, TOPICS, describe_mixed,
                    mixed_corpus)
from decode_flat import kafka_table
from harness import (SETUP_REPS, Registry, cpu_s, geomean, noop_write, registry_metrics, tail,
                     task_metrics)
from layers import python_layers, spark_layers

N_IDS = 300  # 3x the engine's default schema.capacity
N_VALUES = 6_000
N_KEYS = 500
FILES_PER_TRIGGER = 4
ROWS_PER_FILE = 2_500
BATCHES_PER_DRAIN = 4
MIN_DRAINS = 3  # pass_s is their median
REFEREE_PER_TEMPLATE = 300


def _file_table(corpus, rows) -> pa.Table:
    keys = [corpus.keys[k].payload if k >= 0 else corpus.raw_keys[~k] for _t, k, _v in rows]
    values = [corpus.values[v].payload if v >= 0 else None for _t, _k, v in rows]
    return kafka_table(pa.array(values, pa.binary()), pa.array([t for t, _k, _v in rows]),
                       keys=pa.array(keys, pa.binary()))


def _write_backlog(corpus, directory: str, files) -> None:
    """One parquet file per corpus file, modification times in file order
    so each trigger takes the next files."""
    os.makedirs(directory)
    t0 = time.time() - len(files)
    for i, rows in enumerate(files):
        path = os.path.join(directory, f"part-{i:05d}.parquet")
        pq.write_table(_file_table(corpus, rows), path)
        os.utime(path, (t0 + i, t0 + i))


def _corpus(seed: int):
    return mixed_corpus(seed, N_IDS, N_VALUES, N_KEYS, FILES_PER_TRIGGER * BATCHES_PER_DRAIN,
                        ROWS_PER_FILE)


def codec_layers(ctx, corpus=None, bad_values=frozenset()) -> dict:
    """The Spark-free decoder and avro loops (``layers.python_layers``) over
    this workload's valid values; every traced run reports them."""
    corpus = corpus or _corpus(ctx.seed)
    entries = [e for i, e in enumerate(corpus.values) if e.error is None and i not in bad_values]
    ids = sorted({e.sid for e in entries})
    return python_layers(ctx.tracer, corpus.schemas, entries,
                         random.Random(ctx.seed).sample(ids, min(100, len(ids))))


def _setup(ctx, previous, rep: int):
    if previous is not None:
        previous["registry"].close()
    corpus = _corpus(ctx.seed)
    registry = Registry(corpus.schemas, ctx.work)
    backlog = os.path.join(ctx.work, f"backlog{rep}")
    _write_backlog(corpus, backlog, corpus.files)
    return {"corpus": corpus, "registry": registry, "backlog": backlog}


def run(ctx) -> dict:
    state, setups = None, []
    try:
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            state = _setup(ctx, state, rep)
            setups.append(time.perf_counter() - t0)
        return _measure(ctx, state, setups)
    finally:
        if state is not None:
            state["registry"].close()


def _error_class_col():
    """``checks.error_class`` as a Spark column (same pattern table)."""
    err = F.col("_error")
    expr = F.when(err.isNull(), F.lit(None))
    for cls, needles in _ERROR_PATTERNS:
        cond = err.contains(needles[0])
        for n in needles[1:]:
            cond = cond | err.contains(n)
        expr = expr.when(cond, F.lit(cls))
    return expr.otherwise(F.lit("other"))


def _observed(df):
    cls = _error_class_col()
    counts = [F.count(F.when(cls == c, 1)).alias(c) for c in ERROR_CLASSES + ("other",)]
    return df.observe(
        "perfbench",
        F.count(F.lit(1)).alias("rows"),
        F.count(F.when(~F.col("topic").isin(*TOPICS) | F.col("value").isNull(), 1)).alias("passthrough"),
        F.coalesce(F.sum(F.crc32("value")), F.lit(0)).alias("value_crc"),
        F.coalesce(F.sum(F.crc32("key")), F.lit(0)).alias("key_crc"),
        *counts,
    )


def _drain(ctx, eng, path: str, checkpoint: str):
    """One availableNow drain; returns (wall seconds, epoch-second window,
    progress list)."""
    stream = stream_records(ctx.spark, path, max_files_per_trigger=FILES_PER_TRIGGER)
    with ctx.tracer.span("streaming.decode_stream_call"):
        decoded = decode_stream(eng, stream)
    q = (_observed(decoded).writeStream
         .foreachBatch(lambda df, _epoch: noop_write(df))
         .option("checkpointLocation", checkpoint)
         .trigger(availableNow=True))
    w0, t0 = time.time(), time.perf_counter()
    with ctx.tracer.span("streaming.drain"):
        query = q.start()
        query.awaitTermination()
    wall = time.perf_counter() - t0
    if query.exception() is not None:
        raise RuntimeError(f"stream failed: {query.exception()}")
    return wall, (w0, time.time()), [p for p in query.recentProgress if p.numInputRows > 0]


def _pool_check(ctx, eng, corpus):
    """Every distinct value (plain topic) and key (keyed topic, tombstone
    value) once through the batch transform; returns the outputs and the
    indices that failed the check."""
    nv, nk = len(corpus.values), len(corpus.keys)
    topics = [PLAIN_TOPIC] * nv + [KEYED_TOPIC] * nk
    table = kafka_table(
        pa.array([e.payload for e in corpus.values] + [None] * nk, pa.binary()),
        pa.array(topics),
        keys=pa.array([None] * nv + [e.payload for e in corpus.keys], pa.binary()))
    df = ctx.spark.createDataFrame(table.to_pandas(), KAFKA_RECORD_SCHEMA)
    out = eng.transform(df)
    # the pruning guard: the decode UDF is in the transform's plan, which
    # the stream applies to each micro-batch
    in_plan = "ArrowEvalPython" in out._jdf.queryExecution().executedPlan().toString()
    rows = out.select("offset", "key", "value", "_error").collect()
    value_out, key_out, bad_values, bad_keys = {}, {}, set(), set()
    key_text = corpus.schemas[corpus.key_id]
    for r in rows:
        i = r["offset"]
        if i < nv:
            e = corpus.values[i]
            value_out[i] = r["value"]
            if not value_ok(e, r["value"], r["_error"], corpus.schemas.get(e.sid)):
                bad_values.add(i)
        else:
            j = i - nv
            key_out[j] = r["key"]
            if not key_ok(corpus.keys[j], r["key"], r["_error"], key_text):
                bad_keys.add(j)
    return value_out, key_out, bad_values, bad_keys, in_plan


def _expected(corpus, value_out, key_out, bad_values, bad_keys):
    """Counts and CRC sums one drain of the whole backlog must observe, and
    the number of its rows whose distinct payload failed the pool check."""
    exp = {c: 0 for c in ERROR_CLASSES + ("other",)}
    exp.update(rows=0, passthrough=0, value_crc=0, key_crc=0)
    failed = 0
    for rows in corpus.files:
        for topic, k, v in rows:
            exp["rows"] += 1
            enabled = topic in TOPICS
            if k >= 0:  # keyed topic
                kout = key_out[k]
                failed += k in bad_keys
            else:
                kout = corpus.raw_keys[~k]
            exp["key_crc"] += zlib.crc32(kout)
            if v < 0 or not enabled:
                exp["passthrough"] += 1
                vout = corpus.values[v].payload if v >= 0 else None
            else:
                vout = value_out[v]
                failed += v in bad_values
                if corpus.values[v].error is not None:
                    exp[corpus.values[v].error] += 1
            if vout is not None:
                exp["value_crc"] += zlib.crc32(vout)
    return exp, failed


def _measure(ctx, state, setups) -> dict:
    corpus, registry = state["corpus"], state["registry"]
    spark, tracer = ctx.spark, ctx.tracer
    eng = Engine(EngineConfig(avro_topics=dict(TOPICS), schema_registry_urls=[registry.url]))
    ckpt = os.path.join(ctx.work, "checkpoints")

    # the batch check of every distinct payload and one untimed drain warm
    # the session: drains keep speeding up for a while after the first
    value_out, key_out, bad_values, bad_keys, in_plan = _pool_check(ctx, eng, corpus)
    _drain(ctx, eng, state["backlog"], os.path.join(ckpt, "warm"))
    registry.reset()
    walls, windows, drains, t_end = [], [], [], time.perf_counter() + ctx.seconds
    cpu0 = cpu_s([ctx.jvm_pid])
    while len(walls) < MIN_DRAINS or time.perf_counter() < t_end:
        with tracer.span("timed_region"):
            wall, window, prog = _drain(ctx, eng, state["backlog"],
                                        os.path.join(ckpt, str(len(walls))))
        walls.append(wall)
        windows.append(window)
        drains.append(prog)
        ctx.stop_rss()  # the peak-RSS window closes after the first drain
    pass_cpu_s = (cpu_s([ctx.jvm_pid]) - cpu0) / len(walls)
    progress = [p for prog in drains for p in prog]
    reg = registry_metrics(registry.stats(), len(walls))

    exp, failed_per_drain = _expected(corpus, value_out, key_out, bad_values, bad_keys)
    attempted = failed = 0
    mismatched, observed = [], []
    for prog in drains:
        obs = {k: 0 for k in exp}
        for p in prog:
            for k, v in p.observedMetrics["perfbench"].asDict().items():
                obs[k] += v
        observed.append(obs)
        attempted += exp["rows"]
        diffs = {k: obs[k] - exp[k] for k in exp if obs[k] != exp[k]}
        if diffs.keys() & {"rows", "value_crc", "key_crc"}:
            failed += exp["rows"]  # outputs differ from the checked ones: all unverified
        else:
            failed += failed_per_drain + sum(abs(d) for d in diffs.values())
        if diffs:
            mismatched.append(diffs)
    failed = min(failed, attempted)

    valid = [i for i, e in enumerate(corpus.values) if e.error is None and i not in bad_values]
    # the first values of each template: the same mix for every seed, with
    # consecutive doubles that cover the exponent range evenly
    sample = [i for t in range(N_TEMPLATES)
              for i in [i for i in valid if corpus.values[i].template == t][:REFEREE_PER_TEMPLATE]]
    bad, examples = Referee(spark).mismatches(
        [(corpus.schemas[corpus.values[i].sid], corpus.values[i].payload, value_out[i])
         for i in sample])

    trig = [p.durationMs["triggerExecution"] for p in progress]
    pass_s = statistics.median(walls)
    layers = {"trace.pass_s": pass_s}
    report = {}
    if ctx.traced:
        layers.update(task_metrics(spark, ctx.events_dir, windows)[0])
        df = spark.read.schema(KAFKA_RECORD_SCHEMA).parquet(state["backlog"]).cache()
        df.count()
        with tracer.span("engine.transform_call"):
            transformed = eng.transform(df)
        report.update(spark_layers(tracer, df, transformed))
        df.unpersist()
        layers.update(codec_layers(ctx, corpus, bad_values))

    def p50(key):
        return statistics.median(p.durationMs.get(key, 0) for p in progress)

    rows_per_drain = sum(p.numInputRows for p in drains[0])
    # counts read from _error by the stream's observe, first drain
    classes = {f"decoder.errors.{c}": observed[0][c] for c in ERROR_CLASSES + ("other",)}
    report.update({
        "composition": describe_mixed(corpus),
        "drains": len(walls),
        "drain_s": [round(w, 3) for w in walls],
        "decode_rec_s": rows_per_drain / pass_s,
        "microbatch_p50_ms": statistics.median(trig),
        "microbatch_tail_ms": tail(trig),
        "streaming.batches": len(progress),
        "streaming.add_batch_ms_p50": p50("addBatch"),
        "streaming.planning_ms_p50": p50("queryPlanning"),
        "streaming.get_batch_ms_p50": p50("getBatch"),
        "streaming.commit_ms_p50": p50("commitOffsets"),
        **classes,
        "decoder.passthrough": observed[0]["passthrough"],
        "observed_mismatches": mismatched[:3],
        "pool_failures": len(bad_values) + len(bad_keys),
        "pruning_guard.arrow_eval_python_in_plan": in_plan,
        "referee_mismatch_share": bad / len(sample),
        "referee_sample": len(sample),
        "referee_examples": examples,
        **reg,
    })
    return {
        "setups": setups,
        "e2e": {
            "pass_s": pass_s,
            "op_geomean_ms": geomean(trig),
            "pass_cpu_s": pass_cpu_s,
            "referee_match_share": 1 - bad / len(sample),
        },
        "layers": layers,
        "attempted": attempted,
        "failed": failed,
        "correct": failed == 0 and not mismatched and in_plan,
        "report": report,
    }
