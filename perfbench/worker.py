"""One benchmark run in a fresh process: ``perfbench/run.py`` spawns it.

    python3 perfbench/worker.py WORKLOAD SEED SECONDS TRACE WORK OUT_JSON
        [--corrupt-sink] [--all-entries] [--smoke]

Runs the workload, writes its outcome to OUT_JSON and, in a traced run,
its spans to ``WORK/spans.json``. Exits non-zero if the workload raised.
"""

from __future__ import annotations

import importlib
import json
import os
import sys
import time

from harness.common import Context, Tracer


def main() -> None:
    workload, seed, seconds, trace, work, out_path = sys.argv[1:7]
    tracer = Tracer(trace == "1", run_id=f"{workload}-{seed}-{os.getpid()}")
    ctx = Context(
        seed=int(seed), seconds=int(seconds), trace=trace == "1", work=work,
        spawn_t=float(os.environ["PERFBENCH_SPAWN_T"]), tracer=tracer,
        options={flag[2:].replace("-", "_"): True for flag in sys.argv[7:]},
    )
    t0 = time.time()
    outcome = importlib.import_module(f"harness.{workload}").run(ctx)
    if ctx.trace:
        outcome.layers["trace.spans"] = float(len(tracer.spans))
        outcome.layers["trace.work_s"] = outcome.end_to_end.get("work_s", 0.0)
        tracer.dump(os.path.join(work, "spans.json"))
    with open(out_path, "w") as fh:
        json.dump({
            "attempted": outcome.attempted,
            "failures": outcome.failures,
            "end_to_end": outcome.end_to_end,
            "layers": outcome.layers,
            "report": outcome.report,
            "worker_s": time.time() - t0,
        }, fh)


if __name__ == "__main__":
    main()
