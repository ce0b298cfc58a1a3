"""The repository's benchmark: one command, run from the repository root.

    python3 perfbench/run.py --workload stream_mixed --seed 1 --seconds 15 --trace 0

Workloads (``BENCHMARK.json`` declares the first two):

- ``stream_mixed`` a Structured Streaming drain of a mixed, hostile backlog
  served by a local schema-registry process
- ``analytics_headline`` the 27 headline analytics queries over seeded
  tables
- ``decode_flat`` batch ``Engine.transform`` over one hot flat schema; run
  by hand and by ``test_guard.py``

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` runs the same
workload with spans recorded around calls into each layer and Spark's event
log on, plus extra jobs and loops that split the work by layer, and prints
the per-layer metrics; its spans go to ``.perfbench_run/spans/``.  Its
``trace.pass_s`` against ``pass_s`` of an untraced run with the same seed
is the tracing overhead.  Every run checks the engine's outputs; the last
stdout line is one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``, and the lines before it show every figure the run
measured, by name and unit.

Everything the run writes stays under ``.perfbench_run/`` in the current
directory, and is removed at the end except the spans.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()

#: units of the figures only the report lines show
REPORT_UNITS = {
    "decode_rec_s": "rec/s", "legacy.count_rec_s": "rec/s", "microbatch_p50_ms": "ms",
    "microbatch_tail_ms": "ms", "referee_mismatch_share": "share", "passes_s": "s",
    "drain_s": "s", "engine.transform_call_ms": "ms", "schema_store.fetches": "count",
    "schema_store.fetches_per_distinct_id": "ratio", "schema_store.not_found": "count",
    "schema_store.fetch_ms_p50": "ms", "streaming.add_batch_ms_p50": "ms",
    "streaming.planning_ms_p50": "ms", "streaming.get_batch_ms_p50": "ms",
    "streaming.commit_ms_p50": "ms", "host.steal_share": "share",
}
WORKLOADS = {"stream_mixed": "stream_mixed", "analytics_headline": "analytics",
             "decode_flat": "decode_flat"}


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    traced: bool
    cpus: int
    work: str
    tracer: object
    rss: object
    jvm_pid: int
    events_dir: str | None = None
    peak_rss_mb: float = 0.0

    def stop_rss(self) -> None:
        """End RSS sampling: the peak covers set-up and the timed region."""
        if self.rss is not None:
            self.peak_rss_mb = self.rss.stop()
            self.rss = None


def _prepare_env(work: str, events_dir: str | None = None) -> None:
    """Keep Spark, the JVM and Python workers writing under ``work``, let
    the workers import the engine and this directory's modules, and turn on
    Spark's event log when ``events_dir`` is given."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # spark-submit's launcher JVM runs before the driver's options apply
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    events = ""
    if events_dir:
        os.makedirs(events_dir, exist_ok=True)
        events = (f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir=file://{events_dir} "
                  "--conf spark.eventLog.compress=false ")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        f"--conf spark.ui.showConsoleProgress=false {events}pyspark-shell"
    )
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def _declared(kind: str) -> dict[str, str]:
    """Metric names and units BENCHMARK.json declares under ``kind``."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _unit(name: str, units: dict[str, str]) -> str:
    if name in units:
        return units[name]
    return "B" if name.endswith("_bytes") else "s" if name.endswith("_s") else ""


def _fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, float) else json.dumps(v, default=str)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "byte_convert_avro_spark")):
        print("perfbench: run from the repository root; byte_convert_avro_spark/ "
              "is not in the current directory", file=sys.stderr)
        return 2
    end_to_end, per_layer = _declared("end_to_end"), _declared("per_layer")
    units = {**end_to_end, **per_layer, **REPORT_UNITS}
    sys.path[:0] = [ROOT, HERE]
    runs = os.path.join(ROOT, ".perfbench_run")
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(runs, run_id)
    events_dir = os.path.join(work, "events") if args.trace else None
    _prepare_env(work, events_dir)

    from byte_convert_avro_spark.session import get_spark
    from harness import RssSampler, Tracer, cpu_jiffies, stop_session

    tracer = Tracer(bool(args.trace), run_id)
    spark = None
    try:
        with tracer.span("session.get_spark"):
            spark = get_spark("perfbench", cpus=min(4, len(os.sched_getaffinity(0))))
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - T_START
        jvm_pid = spark._jvm.ProcessHandle.current().pid()
        rss = RssSampler(jvm_pid).start()
        ctx = Ctx(spark, args.seed, args.seconds, bool(args.trace),
                  spark.sparkContext.defaultParallelism, work, tracer, rss, jvm_pid, events_dir)
        module = __import__(WORKLOADS[args.workload])
        steal0, total0 = cpu_jiffies()
        res = module.run(ctx)
        steal1, total1 = cpu_jiffies()
        ctx.stop_rss()
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    e2e = {"setup_s": session_s + statistics.median(res["setups"]), **res["e2e"]}
    layers = {"session.start_s": session_s, **res["layers"], "peak_rss_mb": ctx.peak_rss_mb}
    report = res["report"]
    # hypervisor steal over the workload: wall-clock figures read slower when high
    report["host.steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
    if args.trace:
        if tracer.seconds("engine.transform_call"):
            report["engine.transform_call_ms"] = tracer.median_s("engine.transform_call") * 1e3
        os.makedirs(os.path.join(runs, "spans"), exist_ok=True)
        tracer.write(os.path.join(runs, "spans", f"{run_id}.jsonl"))

    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"setup_reps={[round(s, 3) for s in res['setups']]} session_s={session_s:.3f}")
    for name, v in e2e.items():
        print(f"{name} {_fmt(v)} {units[name]}")
    print(f"failed_share {_fmt(res['failed'] / res['attempted'])} share "
          f"({res['failed']}/{res['attempted']})")
    for name, v in sorted(report.items()):
        print(f"{name} {_fmt(v)} {_unit(name, units)}".rstrip())
    if args.trace:
        for name in sorted(layers):
            print(f"{name} {_fmt(layers[name])} {_unit(name, units)}".rstrip())

    measured = {**e2e, **layers}
    declared = per_layer if args.trace else end_to_end
    missing = declared.keys() - measured.keys()
    if missing:
        print(f"perfbench: {args.workload} did not measure {sorted(missing)}", file=sys.stderr)
        return 3
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {n: {"value": float(measured[n]), "unit": u} for n, u in declared.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
