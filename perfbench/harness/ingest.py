"""``ingest``: the streaming side of the program in one session, in two
phases that run back to back in one measured stretch:

1. files (``file_feed.py``): the paper's exactly-once file-to-upsert
   pipeline, a backlog catch-up and then an open-loop live feed;
2. kafka (``kafka_faults.py``): the reference's producer and consumer
   graphs over the fake Kafka topic, with 3 injected consumer crashes
   and checkpoint restarts, whose replays hit the upsert sink's update
   path.

Set-up is the session's start and both phases' warmups; the inputs are
generated after it. ``work_s`` is the file catch-up time plus the Kafka
produce and consume time; ``latency_ms`` is the median live-file
latency (due -> sink write returned). The Kafka phase's median consumer
batch turnaround is the per-layer ``kafka.batch_ms``. Every run audits
both sinks (exactly-once on the key, and a value checksum); any failed
operation withholds all timings. The measured stretch, for
``memory.peak_rss_mb``, is both phases; the live load generator is not
counted.
"""

from __future__ import annotations

import time

from .common import Context, Outcome
from .file_feed import FileFeed
from .kafka_faults import KafkaFaults
from .probes import (
    SparkCounters,
    exec_layers,
    make_progress_probe,
    settle,
    start_session,
    stream_layers,
)


def run(ctx: Context) -> Outcome:
    out = Outcome()
    tr = ctx.tracer
    with tr.span("setup"):
        spark, session_s = start_session("perfbench-ingest", tr)
        files, kafka = FileFeed(ctx, spark), KafkaFaults(ctx, spark)
        with tr.span("warmup"):
            files.warmup()
            kafka.warmup()
    setup_s = time.time() - ctx.spawn_t

    out.attempted = files.prepare() + kafka.prepare()
    counters = SparkCounters(spark) if ctx.trace else None
    mark = counters.mark() if counters else None
    progress = make_progress_probe() if ctx.trace else None
    if progress:
        spark.streams.addListener(progress)
    settle(spark)
    ctx.measure("start")
    files.run(out)
    kafka.run(out)
    ctx.measure("end")

    f, k = files.check(out), kafka.check(out)
    out.end_to_end = {"setup_s": setup_s}
    if "catch_up_s" in f:
        out.end_to_end.update({
            "work_s": f["catch_up_s"] + k["kafka_s"],
            "latency_ms": f["latency_ms"],
        })
    out.report.update({
        "files_catch_up_s": f.get("catch_up_s"),
        "files_rows_per_s": f.get("rows_per_s"),
        "live_files": f.get("live_files"),
        "kafka_s": k["kafka_s"],
        "kafka_rows_per_s": k["rows_per_s"],
        "kafka_batch_ms": k["batch_ms"],
        "kafka_steady_batches": k["steady_batches"],
        "fault_at_batches": k["fault_at_batches"],
        "files_audit": f["audit"],
        "kafka_audit": k["audit"],
    })

    if ctx.trace:
        spark.streams.removeListener(progress)
        layers = {"session.start_s": session_s}
        layers.update(exec_layers(counters.since(mark)))
        layers.update(stream_layers(progress.progress,
                                    [files.t_start] + kafka.starts, tr))
        sink = files.probe.layers(files.audit["uniq"])
        for name, v in kafka.probe.layers(kafka.audit["uniq"]).items():
            sink[name] += v
        layers.update(sink)
        layers.update(kafka.layers())
        layers.update(files.loadgen_layers())
        out.layers = layers
    spark.stop()
    return out
