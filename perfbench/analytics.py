"""``analytics_headline``: the 27 headline queries of the analytics
registry, each materialized through the noop sink.

The tables are generated from the seed (``tables.py``) at scale factor
0.01, under the run's own directory.  The first pass runs each query cold
and collects its result, which is compared with the query's DuckDB oracle
on the same tables, using the parity tool's own canonical form; it is the
warm pass and the correctness check in one, and it lies outside the timed
region.  The timed passes then write each query, one at a time, to the
noop sink.
"""

from __future__ import annotations

import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

from harness import SETUP_REPS, cpu_s, geomean, noop_write, task_metrics
from stream_mixed import codec_layers
from tables import write_tables

SF = 0.01
#: queries the untimed checked pass runs at once: a query's first run costs
#: about twice a warm one, mostly on the driver, and overlapping them cuts
#: the pass from about 50 s to about 37 s on 4 cores
CHECK_THREADS = 3

#: pinned copy of bench.HEADLINE, so editing bench.py cannot move the workload
HEADLINE = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue", "q10_returned_items", "q18_large_volume_orders",
    "customer_running_total", "events_hourly_tumbling", "events_sessionization",
    "events_asof_purchase_view", "minhash_signatures", "knn_cosine_top5",
    "dedup_exact_groups", "avro_roundtrip_customers", "decontamination_ngram_overlap",
    "events_asof_tolerance_30m", "jaccard_verified_candidates", "dedup_cluster_assignment",
    "corpus_after_dedup", "lsh_banded_near_dup", "corpus_strip_repeated_chunks",
    "ivf_search_top3", "winnowing_pairs_capped", "corpus_stripped_text",
    "kmeans_minibatch_k8", "avro_ocf_roundtrip_customers", "copurchase_triangle_count",
)


def _checked_pass(ctx, reg, sf_dir: str) -> dict[str, str]:
    """Each query collected once, CHECK_THREADS at a time, and compared with
    its DuckDB oracle; returns the queries that raised or differ, with why."""
    import duckdb

    from byte_convert_avro_spark.queries import oracle_sql
    from byte_convert_avro_spark.session import TABLES
    from tools.driver_parity import _table  # applies the tool's _canon per cell

    def collect(name):
        try:
            return reg[name](ctx.spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001 — one query's failure is a result
            return e

    with ctx.tracer.span("queries.checked_pass"), ThreadPoolExecutor(CHECK_THREADS) as pool:
        results = dict(zip(HEADLINE, pool.map(collect, HEADLINE)))
    oracles = oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    bad = {}
    for name, sdf in results.items():
        if isinstance(sdf, Exception):
            bad[name] = repr(sdf)[:200]
        elif name not in oracles:
            bad[name] = "no oracle"
        else:
            odf = con.execute(oracles[name]).df()
            if sorted(sdf.columns) != sorted(odf.columns) or _table(sdf) != _table(odf):
                bad[name] = f"differs from oracle ({len(sdf)} vs {len(odf)} rows)"
    con.close()
    return bad


def run(ctx) -> dict:
    from byte_convert_avro_spark.queries import queries

    reg = queries()
    missing = [n for n in HEADLINE if n not in reg]
    if missing:
        raise SystemExit(f"headline queries missing from the registry: {missing}")
    spark, sc = ctx.spark, ctx.spark.sparkContext

    gens = []
    for rep in range(SETUP_REPS):
        sf_dir = os.path.join(ctx.work, f"tables{rep}")
        t0 = time.perf_counter()
        rows = write_tables(ctx.seed, SF, sf_dir)
        gens.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wrong = _checked_pass(ctx, reg, sf_dir)
    check_s = time.perf_counter() - t0
    # set-up ends at the first timed pass: tables, then the checked warm pass
    setups = [g + check_s for g in gens]

    walls: dict[str, list[float]] = {n: [] for n in HEADLINE}
    windows: list[tuple[float, float]] = []
    raised: set[str] = set()
    t_end = time.perf_counter() + ctx.seconds
    cpu0 = cpu_s([ctx.jvm_pid])
    while not windows or time.perf_counter() < t_end:
        w0 = time.time()
        with ctx.tracer.span("timed_region"):
            for name in HEADLINE:
                sc.setJobGroup(name, name)
                t0 = time.perf_counter()
                with ctx.tracer.span(f"queries.{name}"):
                    try:
                        noop_write(reg[name](spark, sf_dir))
                    except Exception:  # noqa: BLE001 — counted in failed
                        raised.add(name)
                walls[name].append(time.perf_counter() - t0)
        windows.append((w0, time.time()))
        ctx.stop_rss()  # the peak-RSS window closes after the first pass
    pass_cpu_s = (cpu_s([ctx.jvm_pid]) - cpu0) / len(windows)
    sc.setLocalProperty("spark.jobGroup.id", None)

    med = {n: statistics.median(walls[n]) for n in HEADLINE}
    total = sum(med.values())
    failed = raised | set(wrong)
    report = {
        "tables": rows,
        "passes": len(windows),
        "setup.tables_s": statistics.median(gens),
        "setup.checked_pass_s": check_s,
        "analytics_total_s": total,
        "analytics_geomean_s": geomean(list(med.values())),
        "failed_queries": {n: wrong.get(n, "raised") for n in sorted(failed)},
        **{f"queries.{n}.wall_s": m for n, m in med.items()},
    }
    layers = {"trace.pass_s": total}
    if ctx.traced:
        tm, by_group = task_metrics(spark, ctx.events_dir, windows)
        layers.update(tm)
        layers.update(codec_layers(ctx))
        report.update({f"queries.{n}.shuffle_bytes": by_group.get(n, 0) for n in HEADLINE})
    return {
        "setups": setups,
        "e2e": {
            "pass_s": total,
            "op_geomean_ms": geomean(list(med.values())) * 1e3,
            "pass_cpu_s": pass_cpu_s,
            "referee_match_share": 1 - len(wrong) / len(HEADLINE),
        },
        "layers": layers,
        "attempted": len(HEADLINE),
        "failed": len(failed),
        "correct": not failed,
        "report": report,
    }
