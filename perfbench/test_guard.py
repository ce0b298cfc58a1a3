"""The benchmark's guard against measuring nothing.

Run from the repository root: ``python3 -m pytest perfbench/test_guard.py``.

- The decode UDF is in the plan ``decode_flat`` times, and it is not in the
  plan of ``count()``, which is what the old ``spark_rec_s`` figure timed.
- ``decode_rec_s`` falls when ``_decode_one`` is slowed on purpose.  The
  slowdown is patched in here only, never in the package: the patched
  function rides to the Python workers inside the pickled decode UDF.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

ROWS = 300_000


@pytest.fixture(scope="module")
def flat():
    import run

    work = os.path.join(ROOT, ".perfbench_run", f"guard-{os.getpid()}")
    run._prepare_env(work)
    from byte_convert_avro_spark.session import get_spark
    import decode_flat
    from harness import stop_session

    spark = get_spark("perfbench-guard", cpus=min(4, len(os.sched_getaffinity(0))))
    spark.sparkContext.setLogLevel("ERROR")
    ctx = types.SimpleNamespace(spark=spark, seed=7, work=work,
                                cpus=spark.sparkContext.defaultParallelism)
    state = decode_flat._setup(ctx, None, ROWS)
    try:
        yield state
    finally:
        state["registry"].close()
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def _engine(state):
    from byte_convert_avro_spark.engine import Engine, EngineConfig

    return Engine(EngineConfig(avro_topics="t:false",
                               schema_registry_urls=[state["registry"].url]))


def _rate(state) -> float:
    """Median of three noop-write passes of a freshly built transform."""
    from harness import noop_write, timed_until

    out = _engine(state).transform(state["df"])
    noop_write(out)
    return ROWS / statistics.median(timed_until(0, lambda: noop_write(out), minimum=3))


def _slow_decode_one(payload, parser, is_key):
    """``_decode_one`` three times.  It runs in the Python workers, which
    unpickle it by reference and whose own ``decoder`` module is not
    patched."""
    from byte_convert_avro_spark import decoder

    decoder._decode_one(payload, parser, is_key)
    decoder._decode_one(payload, parser, is_key)
    return decoder._decode_one(payload, parser, is_key)


def test_decode_udf_is_in_the_timed_plan(flat):
    out = _engine(flat).transform(flat["df"])
    timed = out._jdf.queryExecution().executedPlan().toString()
    counted = out.groupBy().count()._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in timed
    assert "ArrowEvalPython" not in counted  # why count() measured the scan


def test_slowed_decode_lowers_decode_rec_s(flat, monkeypatch):
    from byte_convert_avro_spark import decoder

    rates = {"normal": [], "slowed": []}
    for _ in range(3):  # interleaved, so host drift hits both sides
        rates["normal"].append(_rate(flat))
        with monkeypatch.context() as m:
            m.setattr(decoder, "_decode_one", _slow_decode_one)
            rates["slowed"].append(_rate(flat))
    normal, slowed = statistics.median(rates["normal"]), statistics.median(rates["slowed"])
    print(f"decode_rec_s normal {rates['normal']} slowed {rates['slowed']}")
    assert slowed < 0.8 * normal, rates
