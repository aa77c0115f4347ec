"""Repository benchmark: one run of one workload, end to end.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see ``BENCHMARK.json`` and the modules in ``harness/``):

- ``ingest``: ``IngestionPipeline`` exactly-once into SQLite, a backlog
  catch-up and then an open-loop live feed from a separate generator
  process; then, in the same session, the producer and consumer
  operator graphs over the fake Kafka topic, with three injected
  consumer crashes and checkpoint restarts.
- ``query_suite``: a fixed set of driver entries from
  ``build_registry()`` over seeded tables, one cold pass, each result
  checked against its DuckDB oracle.

Each run spawns one fresh worker process (``worker.py``) in its own
session, with Spark at ``local[<cpus available>]``, a 2 GB driver, and
every scratch file (Spark local dirs, warehouse, temp files, inputs,
sinks) under ``.perfbench_tmp/`` in the checkout, removed afterwards.
``memory.peak_rss_mb`` (traced runs) covers the measured phase only,
which the worker marks (``Context.measure``) so that input generation,
the correctness checks and the live load generator are not counted: at
its start this process resets the JVM's peak resident memory (the
kernel's high-water mark), and at its end it adds that peak to the
peak, sampled every 100 ms, of the proportional set size of the Python
processes (driver, workers, source runners); every traced run prints
the two parts. Untraced runs take no memory samples. Afterwards it
stops every process left in the session.

Output: a readable report, then as the last line one JSON object
``{"correct", "attempted", "failed", "metrics"}``. Untraced runs
(``--trace 0``) report the end-to-end metrics; traced runs report the
per-layer metrics, write the spans to ``.perfbench_out/``, and print the
tracing overhead against the latest untraced run of the same workload,
seed, ``--seconds`` and size flags in this checkout. A run with any failed operation reports no
timings and exits 1; a run that cannot run at all prints no result.

``--corrupt-sink`` (``ingest``, self-test only) duplicates one landed
row in each sink before its audit, which must then fail.
``--all-entries`` (query_suite) runs all 50 driver entries instead of
the fixed subset: the full oracle check, about 3 minutes on 4 cores.
``--smoke`` shrinks every workload to a few seconds of work, for the
self-test in ``perfbench/tests``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from harness.common import END_TO_END, PER_LAYER  # noqa: E402

WORKLOADS = ("ingest", "query_suite")
WORKER_TIMEOUT_S = 165.0
ALL_ENTRIES_TIMEOUT_S = 900.0
DRIVER_MEM = "2g"
SAMPLE_S = 0.1
# the open-loop generator of the ingest workload: load, not program
LOADGEN = os.path.join(HERE, "loadgen.py")


def _session_pids(sid: int) -> list[int]:
    """The processes in session ``sid``."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:
            pids.append(int(name))
    return pids


def _is_loadgen(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            args = fh.read().split(b"\0")
    except OSError:
        return False
    return LOADGEN.encode() in args


def _reset_jvm_peak(pids: list[int]) -> None:
    """Reset the JVM's resident high-water mark to its current size."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                if not fh.read().startswith("Name:\tjava\n"):
                    continue
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            continue


def _memory(pids: list[int]) -> tuple[int, int]:
    """(JVM peak resident bytes, Python processes' proportional set
    size) of ``pids``. The JVM's peak is the kernel's own high-water
    mark, exact between samples; reading the JVM's PSS would walk its
    page tables under its memory-map lock (~15 ms on a 2 GB heap). The
    Python processes (driver, daemon-forked workers that share most of
    their pages, source runners) are small: their PSS counts each
    shared page once."""
    jvm = py = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                status = fh.read()
            if status.startswith("Name:\tjava\n"):
                jvm += int(re.search(r"VmHWM:\s+(\d+)", status).group(1)) * 1024
                continue
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                py += next(int(line.split()[1]) * 1024 for line in fh
                           if line.startswith("Pss:"))
        except (OSError, StopIteration):
            continue
    return jvm, py


def _stop_session(sid: int) -> None:
    """SIGKILL every process left in the session and wait until none is
    alive. Nothing left there holds state the run needs: the outcome is
    written, and the scratch directory is removed afterwards anyway."""
    end = time.time() + 10.0
    while time.time() < end:
        pids = _session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.02)


def _worker_env(work: str) -> dict:
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, env.get("PYTHONPATH")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYTHONHASHSEED": "0",
        "PERFBENCH_SPAWN_T": repr(time.time()),
    })
    return env


def _ack(mark: str) -> None:
    with open(mark + ".ack", "w"):
        pass


def run_worker(args, work: str) -> tuple[dict | None, tuple[float, float], str]:
    """Run the worker; returns (its outcome or None, (JVM, Python) peak
    memory MB of its measured phase, log tail)."""
    out_path = os.path.join(work, "outcome.json")
    log_path = os.path.join(work, "worker.log")
    start_mark = os.path.join(work, "measure.start")
    end_mark = os.path.join(work, "measure.end")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), args.workload,
           str(args.seed), str(args.seconds), str(args.trace), work, out_path]
    for flag in ("corrupt_sink", "all_entries", "smoke"):
        if getattr(args, flag):
            cmd.append("--" + flag.replace("_", "-"))
    jvm_peak = py_peak = 0
    state = "before"  # -> "measuring" -> "after"
    with open(log_path, "w") as log:
        env = _worker_env(work)
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        deadline = time.time() + (
            ALL_ENTRIES_TIMEOUT_S if args.all_entries else WORKER_TIMEOUT_S)
        try:
            while proc.poll() is None and time.time() < deadline:
                if state == "before" and os.path.exists(start_mark):
                    _reset_jvm_peak(_session_pids(proc.pid))
                    state = "measuring"
                    _ack(start_mark)
                elif state == "measuring":
                    # the worker waits at the end mark until it is taken,
                    # so this last sample still sees the measured phase;
                    # untraced runs report no memory and take no samples,
                    # which would compete with the timed work for the CPUs
                    ended = os.path.exists(end_mark)
                    if args.trace:
                        pids = [p for p in _session_pids(proc.pid)
                                if not _is_loadgen(p)]
                        jvm, py = _memory(pids)
                        jvm_peak = max(jvm_peak, jvm)
                        py_peak = max(py_peak, py)
                    if ended:
                        state = "after"
                        _ack(end_mark)
                time.sleep(SAMPLE_S)
        finally:
            _stop_session(proc.pid)
            proc.wait()
    with open(log_path, errors="replace") as fh:
        tail = fh.read()[-3000:]
    outcome = None
    if proc.returncode == 0 and os.path.exists(out_path) and state == "after":
        with open(out_path) as fh:
            outcome = json.load(fh)
    return outcome, (jvm_peak / 2**20, py_peak / 2**20), tail


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-sink", action="store_true")
    ap.add_argument("--all-entries", action="store_true")
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    # a terminated run still stops its worker session and removes its
    # scratch directory (the finally blocks below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    # runs of other sizes must not share a tracing-overhead baseline
    tag = f"{args.workload}-s{args.seed}-t{args.seconds}" + "".join(
        f"-{flag}" for flag in ("smoke", "all_entries") if getattr(args, flag))
    work = os.path.join(ROOT, ".perfbench_tmp", f"{tag}-{os.getpid()}")
    outdir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(work)
    os.makedirs(outdir, exist_ok=True)
    try:
        outcome, (jvm_mb, py_mb), tail = run_worker(args, work)
        spans_src = os.path.join(work, "spans.json")
        if outcome is not None and os.path.exists(spans_src):
            shutil.copy(spans_src, os.path.join(outdir, f"trace-{tag}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    if outcome is None:
        print(tail, file=sys.stderr)
        print(f"{args.workload}: the run did not complete", file=sys.stderr)
        return 2

    failures = outcome["failures"]
    attempted = outcome["attempted"]
    correct = not failures
    metrics: dict[str, dict] = {}
    if correct and not args.trace:
        e2e = outcome["end_to_end"]
        metrics = {k: _metric(e2e[k], u) for k, u in END_TO_END.items()}
        with open(os.path.join(outdir, f"e2e-{tag}.json"), "w") as fh:
            json.dump(e2e, fh)
    elif correct:
        layers = {**outcome["layers"], "memory.peak_rss_mb": jvm_mb + py_mb}
        metrics = {k: _metric(layers.get(k, 0.0), u)
                   for k, u in PER_LAYER.items()}

    print(f"== {args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} local[{len(os.sched_getaffinity(0))}]")
    for name, m in metrics.items():
        print(f"  {name:<36} {m['value']:>14.4f} {m['unit']}")
    report = dict(outcome["report"])
    if args.trace:
        report.update(peak_rss_jvm_mb=round(jvm_mb, 1),
                      peak_pss_python_mb=round(py_mb, 1))
    for k, v in report.items():
        print(f"  {k:<36} {v}")
    print(f"  {'failed_frac':<36} {len(failures)}/{attempted}")
    for f in failures[:20]:
        print(f"  FAILED: {f}")
    if args.trace and correct:
        _print_overhead(outdir, tag, outcome)
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": min(len(failures), attempted),
        "metrics": metrics,
    }))
    return 0 if correct else 1


def _print_overhead(outdir: str, tag: str, outcome: dict) -> None:
    """Tracing overhead: traced minus untraced work time, against the
    latest untraced run of the same workload, seed and size in this
    checkout."""
    path = os.path.join(outdir, f"e2e-{tag}.json")
    traced = outcome["layers"].get("trace.work_s", 0.0)
    if not os.path.exists(path):
        print("  tracing overhead: no untraced run of this workload, seed "
              "and size to compare with")
        return
    with open(path) as fh:
        plain = json.load(fh)["work_s"]
    print(f"  tracing overhead: work_s traced {traced:.4f} s - untraced "
          f"{plain:.4f} s = {traced - plain:+.4f} s "
          f"({(traced - plain) / plain:+.1%})")


if __name__ == "__main__":
    sys.exit(main())
