"""Benchmark: run the declared query surface at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line: {"metric", "value", "unit", "queries", "sf"}.

Each query is materialized with the noop sink (full execution, no
driver collect overhead). A warmup query absorbs JVM/codegen startup.

``--write-baseline [path]`` additionally writes a committed per-entry
baseline artifact (default BENCH_BASELINE.json): entry -> {sec,
fine_queries}, plus host class, scale factor and the shared-cost
groups whose per-entry numbers must be adjudicated as a unit. The
next round's judge compares a fresh BENCH_r{N}.json against it
mechanically with tools/check_bench.py instead of parsing prose bands.

Every run also writes its COMPLETE output object to a sidecar file
(``BENCH_LAST.json`` next to this script, override with
``$SPARK_GRAFT_BENCH_SIDECAR``; empty disables). The driver records
only a 2000-char stdout tail in BENCH_r{N}.json, and at 226 fine
queries the one-line output outgrew that window (r9 verdict item 1 —
the judge had to reconstruct the tail by hand); tools/check_bench.py
completes a head-truncated tail from this sidecar after fingerprint-
matching the recoverable cells.

``--runs N`` (r7 verdict item 2) collects N samples and reports the
per-entry MEDIAN (each cell becomes {"sec": median, "min", "max",
"runs"}), shrinking this host class's documented ±20% single-run
band. Each sample is a FRESH SUBPROCESS running this script once:
in-process repetition would sample a warmer distribution than the
driver's single cold run — the JVM reuses whole-stage-codegen classes
across identical plans (measured 8.3 s -> 1.2 s on a codegen-heavy
entry), which no cache-clearing undoes — and a too-fast baseline
turns the 2x gate into a false-failure machine. Streaming runs in
sample 0 only (its cold/warm split is internal already).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

# Each suite pass starts cold: this empties the shared-frame registry,
# load_table's relations included, so no entry inherits a frame an
# earlier caller built and the shared_cost_groups attribution holds.
from dataingestiontohana_spark.catalog import (
    clear_shared_frames as clear_shared_caches,
)
from dataingestiontohana_spark.plans.bundles import build_registry
from dataingestiontohana_spark.session import get_spark

# Bench the DRIVER-FACING registry (singles + bundles) — the same
# entries the correctness gate adjudicates, so BENCH_r{N}.json and
# CORRECTNESS_r{N}.json share keys. Each fine query still executes in
# full inside its bundle (a bundle is the union of its parts).
QUERIES, _ = build_registry()


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_suite(spark, sf_dir: str) -> tuple[dict[str, float], dict[str, str]]:
    """One full pass over the registry with per-query fault isolation:
    a single failing plan must cost ONE cell, not the whole round's
    numbers (round 3's bench died at plan time on one query and
    recorded nothing)."""
    clear_shared_caches()
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in sorted(QUERIES):
        t0 = time.perf_counter()
        try:
            materialize(QUERIES[name](spark, sf_dir))
        except Exception as ex:  # noqa: BLE001 — report, keep benching
            errors[name] = f"{type(ex).__name__}: {ex}"[:300]
            continue
        timings[name] = round(time.perf_counter() - t0, 3)
    return timings, errors


def _median(vals: list[float]) -> float:
    s = sorted(vals)
    n = len(s)
    mid = n // 2
    return s[mid] if n % 2 else round((s[mid - 1] + s[mid]) / 2, 3)


def run_median_of(runs: int) -> dict:
    """N cold samples, each a fresh subprocess of this script (see
    module docstring for why in-process repetition is the wrong
    distribution), merged per-entry by median."""
    import subprocess

    samples: list[dict] = []
    for i in range(runs):
        env = dict(os.environ)
        if i:
            env["SPARK_GRAFT_STREAM_SKIP"] = "1"
        res = subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            env=env,
            capture_output=True,
            text=True,
            check=False,
        )
        line = res.stdout.strip().splitlines()[-1] if res.stdout.strip() else ""
        try:
            samples.append(json.loads(line))
        except json.JSONDecodeError:
            raise SystemExit(
                f"--runs sample {i} produced no JSON line "
                f"(rc={res.returncode}): {res.stderr[-500:]}"
            )
        print(
            f"sample {i}: {samples[-1]['value']} s", file=sys.stderr
        )

    names = sorted(set().union(*(s["queries"] for s in samples)))
    queries = {}
    for name in names:
        vals = [s["queries"][name] for s in samples if name in s["queries"]]
        queries[name] = {
            "sec": _median(vals),
            "min": min(vals),
            "max": max(vals),
            "runs": len(vals),
        }
    out = {
        "metric": "declared_query_suite_sec",
        "value": round(sum(c["sec"] for c in queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": samples[0]["sf"],
        "runs": runs,
    }
    errors = {}
    for s in samples:
        for k, v in s.get("errors", {}).items():
            errors.setdefault(k, v)
    if errors:
        out["errors"] = errors
    if "streaming" in samples[0]:
        out["streaming"] = samples[0]["streaming"]
    if "streaming_error" in samples[0]:
        out["streaming_error"] = samples[0]["streaming_error"]
    return out


def write_sidecar(out: dict) -> None:
    """Persist the complete output object beside this script so the
    gate never depends on the driver's 2000-char stdout window (r9
    verdict item 1). Written atomically (rename) so a killed bench run
    can't leave a half-JSON sidecar for check_bench to choke on."""
    path = os.environ.get(
        "SPARK_GRAFT_BENCH_SIDECAR",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH_LAST.json"),
    )
    if not path:
        return
    tmp = path + ".tmp"
    try:
        with open(tmp, "w") as fh:
            json.dump(out, fh)
            fh.write("\n")
        os.replace(tmp, path)
    except OSError as ex:
        print(f"sidecar write failed: {ex}", file=sys.stderr)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    runs = 1
    if "--runs" in sys.argv:
        runs = max(1, int(sys.argv[sys.argv.index("--runs") + 1]))
    if runs > 1:
        out = run_median_of(runs)
        if "--write-baseline" in sys.argv:
            i = sys.argv.index("--write-baseline")
            path = (
                sys.argv[i + 1]
                if len(sys.argv) > i + 1
                and not sys.argv[i + 1].startswith("-")
                else "BENCH_BASELINE.json"
            )
            write_baseline(out, path)
            print(f"baseline written: {path}", file=sys.stderr)
        write_sidecar(out)
        _print_line(out)
        return
    spark = get_spark("bench")

    # warmup: session + codegen + parquet footer reads
    materialize(QUERIES["q10_hash_agg"](spark, sf_dir))

    timings, errors = run_suite(spark, sf_dir)
    total = round(sum(timings.values()), 3)
    out = {
        "metric": "declared_query_suite_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    if errors:
        out["errors"] = errors

    # Streaming-ingestion throughput (SURVEY §6): exactly-once
    # IngestionPipeline rows/s with no artificial pacing — the
    # reference's actual workload, reported alongside the batch suite.
    # Fault-isolated like the per-query loop: a streaming failure costs
    # this sub-object, not the round's batch numbers. SKIP env: the
    # --runs parent sets it on samples 1..N-1 (streaming measures its
    # own cold/warm internally; once is enough).
    if not os.environ.get("SPARK_GRAFT_STREAM_SKIP"):
        try:
            from bench_streaming import run_streaming_bench, settle_session

            # the batch suite above leaves ~200 s of broadcast/shuffle
            # garbage draining asynchronously; settle so the leg
            # measures the pipeline, not the suite's cleanup (r10
            # verdict item 1 — the driver artifact's 0.71 s/batch)
            settle_session(spark)
            out["streaming"] = run_streaming_bench(
                spark,
                n_rows=int(os.environ.get("SPARK_GRAFT_STREAM_ROWS", 50_000)),
                n_files=int(os.environ.get("SPARK_GRAFT_STREAM_FILES", 10)),
            )
        except Exception as ex:  # noqa: BLE001 — report, keep batch line
            out["streaming_error"] = f"{type(ex).__name__}: {ex}"[:300]
    if "--write-baseline" in sys.argv:
        i = sys.argv.index("--write-baseline")
        path = (
            sys.argv[i + 1]
            if len(sys.argv) > i + 1 and not sys.argv[i + 1].startswith("-")
            else "BENCH_BASELINE.json"
        )
        write_baseline(out, path)
        print(f"baseline written: {path}", file=sys.stderr)
    write_sidecar(out)
    _print_line(out)
    spark.stop()


# Entries that share lazily-checkpointed frames within one bench
# process (the exact-PPJoin edge set and the LSH candidate frame):
# the materialization cost lands on whichever entry runs FIRST, so a
# per-entry <=2x test must compare these as a GROUP SUM, never cell
# by cell.
SHARED_COST_GROUPS = [
    [
        "q22_29_exact_dedup",  # q203's leakage audit touches the edge cache
        "q30_31_lsh_neardup",
        "q32_70_shingle_exact",
        "q66_141_graph",
    ],
]


def _graph_warm(s: dict) -> dict:
    """The graph leg's warm cell: nested shape (r12) or the legacy
    flat duplicate."""
    g = s["graph_pipeline"]
    return g.get("warm") or g


def _print_line(out: dict) -> None:
    """Emit THE one JSON line, compact separators (r11 verdict: the
    driver keeps only a 2000-char stdout tail — a pretty-printed line
    at 50 entries overflows it and the artifact stops parsing
    standalone; compact + no duplicated streaming cell fits)."""
    line = json.dumps(out, separators=(",", ":"))
    if len(line) > 1990:
        print(
            f"WARNING: bench line {len(line)} chars exceeds the "
            "driver's 2000-char window; sidecar recovery will engage",
            file=sys.stderr,
        )
    print(line)


def write_baseline(out: dict, path: str) -> None:
    """Commit the per-entry numbers of a clean run as the next round's
    mechanical baseline (r6 verdict item 3)."""
    from dataingestiontohana_spark.plans.bundles import BUNDLES, SINGLES

    fine = {n: 1 for n in SINGLES}
    fine.update({n: len(p) for n, p in BUNDLES.items()})
    entries = {}
    for n, s in sorted(out["queries"].items()):
        if isinstance(s, dict):  # median-of-N cell
            entries[n] = {
                "sec": s["sec"],
                "min": s["min"],
                "max": s["max"],
                "runs": s["runs"],
                "fine_queries": fine.get(n, 1),
            }
        else:
            entries[n] = {"sec": s, "fine_queries": fine.get(n, 1)}
    doc = {
        "note": (
            "Per-entry bench baseline from a clean run of bench.py "
            "--write-baseline. Adjudicate a new BENCH_r{N}.json with "
            "tools/check_bench.py: per-entry sec <= factor * baseline "
            "sec (default 2x), shared_cost_groups compared as group "
            "sums. Host noise band on this VM class is wide (±20%, "
            "see BASELINE.md) — single-cell readings are not verdicts."
        ),
        "host_class": (
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}] "
            "single-JVM VM"
        ),
        "sf": out["sf"],
        "runs_per_entry": out.get("runs", 1),
        "total_sec": out["value"],
        "surface": {
            "entries": len(entries),
            "fine_queries": sum(e["fine_queries"] for e in entries.values()),
        },
        "shared_cost_groups": SHARED_COST_GROUPS,
        "entries": entries,
    }
    s = out.get("streaming")
    if s:
        # commit the warm SPREAD too (r10 verdict item 1): the batch
        # cells gate on max(median, committed max); the streaming
        # floor symmetrically gates on min(median, committed min) so
        # a host-pressure band the baseline ITSELF sampled can't trip
        # the gate as a false regression.
        doc["streaming"] = {
            "warm_rows_per_sec": s["warm"]["rows_per_sec"],
            "warm_min_rows_per_sec": s["warm"].get(
                "min_rows_per_sec", s["warm"]["rows_per_sec"]
            ),
            "graph_rows_per_sec": _graph_warm(s)["rows_per_sec"],
            "graph_min_rows_per_sec": _graph_warm(s).get(
                "min_rows_per_sec", _graph_warm(s)["rows_per_sec"]
            ),
        }
    with open(path, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=False)
        fh.write("\n")


if __name__ == "__main__":
    main()
