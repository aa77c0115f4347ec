"""``query_suite``: driver entries from ``build_registry()``, one cold pass.

Tables come from ``tables.py`` with the run's seed, at sf0.01 (the
self-test's smoke: sf0.001), written by a child process so that the
generator's memory stays out of the worker. After a warmup
entry (``q10_hash_agg``, as ``bench.py`` does) and ``bench.py``'s
shared-cache reset, each entry of ``ENTRIES`` runs once in sorted order:
``QUERIES[name](spark, dir)`` (plan construction) then a noop-sink write
(Catalyst planning and execution). ``work_s`` is the sum of the entry
wall times and ``latency_ms`` their geometric mean: the entries differ
in cost by up to 10x, so their median is the time of the one or two
middle entries alone, while the geometric mean weighs each entry's
time alike. Every entry's result is
then compared with its DuckDB oracle through ``oracle.compare``,
outside the timed pass; an entry that raises or mismatches is a failure.
The timed pass is the measured phase for ``memory.peak_rss_mb``.

``ENTRIES`` is a fixed 8-entry subset of the 50 that a cold pass and
its oracle check can run inside one benchmark run. Measured on 4 cores:
at sf0.01 a run takes ~41 s (set-up ~15 s, cold pass ~14 s, oracle
check ~8 s); at sf0.1 it takes 60-70 s (cold pass 21-25 s, oracle check
12-19 s), which with the ``ingest`` workload is too long for 22 runs of
each in under an hour on a host whose speed halves at times. A full
cold pass of all 50 takes ~176 s at
sf0.1. It spans the batch layers: filters, a multi-way join with
aggregates, a distinct aggregate, a running-sum window, JSON functions,
a correlated subquery, pandas UDFs (q55_56), and an entry whose plan
construction writes a bucketed table (q72); among entries covering the
same layer it takes the cheaper one to time and check.
``--all-entries`` runs all 50 instead, for an on-demand full oracle
check; it takes longer than one benchmark run may.

A traced run also times ``queryExecution().executedPlan()`` between
build and write (``catalyst.plan_s``), and counts Spark jobs per entry
and per phase from the status stores; the per-entry job counts are
written to the report.
"""

from __future__ import annotations

import subprocess
import sys
import time

from . import tables
from .common import Context, Outcome, geomean, percentile
from .probes import SparkCounters, exec_layers, settle, start_session

WARMUP = "q10_hash_agg"
ENTRIES = [
    "q02_compound_predicates",
    "q06_multiway_join_agg",
    "q11_distinct_agg",
    "q16_running_sum",
    "q19_json_extract",
    "q48_correlated_subquery",
    "q55_56_udf",
    "q72_bucketed_join",
]
# the benchmark self-test's smoke subset: plain SQL, a pandas UDF, and an
# entry that writes a bucketed table while its plan is built
SMOKE_ENTRIES = ["q02_compound_predicates", "q55_56_udf", "q72_bucketed_join"]


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run(ctx: Context) -> Outcome:
    out = Outcome()
    tr = ctx.tracer
    data = ctx.dir("data")
    scale = tables.SMOKE_SCALE if ctx.options.get("smoke") else tables.SCALE
    t = time.time()
    subprocess.run([sys.executable, tables.__file__, data, str(ctx.seed),
                    str(scale)], check=True)
    gen_s = time.time() - t
    with tr.span("setup"):
        spark, session_s = start_session("perfbench-query-suite", tr)
        from dataingestiontohana_spark.plans.bundles import build_registry

        queries, oracles = build_registry()
        with tr.span("warmup"):
            _materialize(queries[WARMUP](spark, data))
    setup_s = time.time() - ctx.spawn_t - gen_s

    from bench import clear_shared_caches

    clear_shared_caches()
    names = (sorted(queries) if ctx.options.get("all_entries")
             else SMOKE_ENTRIES if ctx.options.get("smoke") else ENTRIES)
    counters = SparkCounters(spark) if ctx.trace else None
    entry_s: dict[str, float] = {}
    per_entry: dict[str, dict] = {}
    layers = {"plans.build_s": 0.0, "catalyst.plan_s": 0.0, "exec.s": 0.0,
              "plans.build_jobs": 0.0}
    exec_total: dict[str, float] = {}
    out.attempted = len(names)
    settle(spark)
    ctx.measure("start")
    for name in names:
        try:
            with tr.span(f"entry:{name}"):
                m0 = counters.mark() if counters else None
                t0 = time.perf_counter()
                with tr.span("plans.build"):
                    df = queries[name](spark, data)
                build_s = time.perf_counter() - t0
                if counters:
                    m1 = counters.mark()
                    build = counters.since(m0)
                t1 = time.perf_counter()
                if counters:
                    with tr.span("catalyst.plan"):
                        df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                with tr.span("exec"):
                    _materialize(df)
                t3 = time.perf_counter()
        except Exception as ex:  # noqa: BLE001 — one entry, one failure
            out.fail(f"{name}: {type(ex).__name__}: {str(ex)[:200]}")
            continue
        entry_s[name] = build_s + (t3 - t1)
        if counters:
            ex_counts = counters.since(m1)
            layers["plans.build_s"] += build_s
            layers["catalyst.plan_s"] += t2 - t1
            layers["exec.s"] += t3 - t2
            layers["plans.build_jobs"] += build["jobs"]
            for k, v in ex_counts.items():
                exec_total[k] = exec_total.get(k, 0.0) + v + build[k]
            per_entry[name] = {"s": round(entry_s[name], 3),
                               "build_jobs": int(build["jobs"]),
                               "exec_jobs": int(ex_counts["jobs"]),
                               "exec_stages": int(ex_counts["stages"])}

    ctx.measure("end")

    # correctness, untimed: every entry that ran, against its oracle
    from dataingestiontohana_spark.oracle import compare, duckdb_connection

    with tr.span("oracle"):
        con = duckdb_connection(data)
        matched = 0
        for name in entry_s:
            try:
                df = queries[name](spark, data)
                if name in oracles:
                    want = con.execute(oracles[name]).fetch_arrow_table()
                    ok, msg = compare(df, want.to_pandas())
                else:
                    df.count()
                    ok, msg = True, "no oracle"
            except Exception as ex:  # noqa: BLE001
                ok, msg = False, f"{type(ex).__name__}: {str(ex)[:200]}"
            if ok:
                matched += 1
            else:
                out.fail(f"{name}: oracle mismatch: {msg[:300]}")
        con.close()

    times = list(entry_s.values())
    out.end_to_end = {"setup_s": setup_s}
    if times:
        out.end_to_end.update({
            "work_s": sum(times),
            "latency_ms": geomean(times) * 1e3,
        })
        out.report.update({
            "suite_s": sum(times),
            "entry_p50_s": percentile(times, 50),
            "oracle_matches": f"{matched}/{len(names)}",
            "entry_s": {k: round(v, 3) for k, v in entry_s.items()},
        })
    if counters:
        layers["session.start_s"] = session_s
        layers.update(exec_layers(exec_total))
        out.layers = layers
        out.report["jobs_per_entry"] = per_entry
    spark.stop()
    return out
