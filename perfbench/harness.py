"""Shared plumbing: spans, the RSS sampler, the registry process, and
summary statistics."""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
import subprocess
import sys
import threading
import time
import urllib.request
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
#: set-ups per run; ``setup_s`` takes their median
SETUP_REPS = 3


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out once
    at the end.  A disabled tracer records nothing."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def seconds(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def median_s(self, name: str) -> float:
        return statistics.median(self.seconds(name))

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _descendants(root: int) -> list[int]:
    """``root`` and every process below it, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                total += int(f.read().split()[1])
        except OSError:
            continue
    return total * os.sysconf("SC_PAGE_SIZE")


def cpu_s(roots: list[int]) -> float:
    """User plus system CPU seconds of ``roots`` and every process below
    them, counting the children they have reaped.  Steal time is not
    charged to a process, so this reads steadier than wall time on a busy
    host."""
    ticks = 0
    for pid in {p for r in roots for p in _descendants(r)}:
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(b")") + 2:].split()
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Samples the summed RSS of the Spark driver JVM and its Python workers
    every 100 ms on a background thread; ``peak_mb`` is the highest sample.
    The process tree is re-read once a second: scanning all of /proc on
    every sample would take CPU from the run being measured."""

    def __init__(self, jvm_pid: int, period: float = 0.1, rescan_every: int = 10) -> None:
        self.jvm_pid = jvm_pid
        self.period = period
        self.rescan_every = rescan_every
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pids: list[int] = []
        n = 0
        while not self._stop.wait(self.period):
            if n % self.rescan_every == 0:
                pids = _descendants(self.jvm_pid)
            n += 1
            self.peak = max(self.peak, _rss_bytes(pids))

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak / 2**20


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far, from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop the Spark session, then its JVM, and wait until the JVM and every
    process below it (the Python workers) have ended."""
    gateway = spark.sparkContext._gateway
    pids = _descendants(spark._jvm.ProcessHandle.current().pid())
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    while any(os.path.exists(f"/proc/{p}") for p in pids):
        if time.monotonic() > deadline:
            raise RuntimeError("Spark's Python workers did not exit")
        time.sleep(0.1)


class Registry:
    """The local schema registry (``registry.py``) as a child process."""

    def __init__(self, schemas: dict[int, str], work: str) -> None:
        path = os.path.join(work, "schemas.json")
        with open(path, "w", encoding="utf-8") as f:
            json.dump({str(k): v for k, v in schemas.items()}, f)
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "registry.py"), path],
            stdout=subprocess.PIPE, text=True,
        )
        line = self.proc.stdout.readline()
        if not line.startswith("PORT "):
            self.close()
            raise RuntimeError(f"schema registry did not start: {line!r}")
        self.url = f"http://127.0.0.1:{int(line.split()[1])}"

    def _call(self, path: str, data: bytes | None = None) -> dict:
        with urllib.request.urlopen(urllib.request.Request(self.url + path, data=data), timeout=10) as r:
            return json.loads(r.read())

    def reset(self) -> None:
        self._call("/_reset", b"")

    def stats(self) -> dict:
        return self._call("/_stats")

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.terminate()
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.proc.stdout.close()


def registry_metrics(stats: dict, passes: int) -> dict:
    """What the registry counted, per timed pass: the counters cover all
    ``passes`` of the timed region, so a faster engine that fits more passes
    in does not report more fetches."""
    fetches = sum(stats["fetches"].values())
    return {
        "schema_store.fetches": fetches / passes,
        "schema_store.fetches_per_distinct_id": fetches / max(1, len(stats["fetches"])) / passes,
        "schema_store.not_found": stats["not_found"] / passes,
        "schema_store.fetch_ms_p50": statistics.median(stats["fetch_ms"]) if stats["fetch_ms"] else 0.0,
    }


def tail(samples: list[float]) -> tuple[float, int] | None:
    """Highest percentile with at least ten samples above it, as
    (value, percentile); None with fewer than eleven samples."""
    n = len(samples)
    if n < 11:
        return None
    return sorted(samples)[n - 11], (100 * (n - 10)) // n


def geomean(xs: list[float]) -> float:
    return math.exp(statistics.mean(math.log(x) for x in xs))


def task_metrics(spark, events_dir: str, windows: list[tuple[float, float]],
                 passes: int | None = None) -> tuple[dict, dict[str, float]]:
    """Spark task metrics per timed pass, from the event log: the tasks
    launched inside ``windows`` (epoch-second (start, end) pairs), summed
    and divided by ``passes`` (default: one pass per window).  Also returns
    shuffle bytes per job group, per pass."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    group_of_stage: dict[int, str | None] = {}
    totals = {"cpu_s": 0.0, "gc_ms": 0.0, "shuffle_bytes": 0, "spill_bytes": 0, "tasks": 0}
    by_group: dict[str, int] = {}
    paths = [p for p in glob.glob(os.path.join(events_dir, "**"), recursive=True) if os.path.isfile(p)]
    for path in sorted(paths):
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev["Stage IDs"]:
                        group_of_stage[sid] = group
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    launch = ev["Task Info"]["Launch Time"] / 1e3
                    if not any(a <= launch <= b for a, b in windows):
                        continue
                    m = ev["Task Metrics"]
                    shuffle = m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    totals["cpu_s"] += m["Executor CPU Time"] / 1e9
                    totals["gc_ms"] += m["JVM GC Time"]
                    totals["shuffle_bytes"] += shuffle
                    totals["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                    totals["tasks"] += 1
                    group = group_of_stage.get(ev["Stage ID"])
                    if group is not None:
                        by_group[group] = by_group.get(group, 0) + shuffle
    n = passes or len(windows)
    return ({f"spark.{k}": v / n for k, v in totals.items()},
            {g: b / n for g, b in by_group.items()})


def timed_until(seconds: float, fn, minimum: int) -> list[float]:
    """Call ``fn`` until ``seconds`` have passed and at least ``minimum``
    times; returns each call's wall time."""
    times: list[float] = []
    t_end = time.perf_counter() + seconds
    while len(times) < minimum or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return times


def per_record_us(fn, items: list, reps: int = 5) -> float:
    """Median over ``reps`` passes of one single-threaded loop, per item."""
    runs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for x in items:
            fn(x)
        runs.append((time.perf_counter() - t0) / len(items) * 1e6)
    return statistics.median(runs)


def noop_write(df) -> None:
    """Materialize every column of ``df`` through Spark's noop sink."""
    df.write.format("noop").mode("overwrite").save()
