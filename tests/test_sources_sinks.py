"""Connector-layer tests: multiplexer fan-out with its wiretap trace,
the binaryFile media edge, and the executor-side upsert sink."""

from __future__ import annotations

from pyspark.sql import functions as F

from dataingestiontohana_spark.sources.generator import write_sensor_csv_files
from dataingestiontohana_spark.streaming.graph_pipeline import PipelineGraph


def test_multiplex_fans_out_to_two_sinks(spark, tmp_path):
    src = str(tmp_path / "src")
    write_sensor_csv_files(spark, src, 60, files=3)
    g = PipelineGraph()
    g.node("gen", "data_generator", source_dir=src, max_files_per_trigger=1)
    g.node("mux", "multiplexer")
    g.connect("gen", "mux")
    for branch in ("a", "b"):
        g.node(branch, "wiretap")
        g.node(f"{branch}_out", "terminal")
        g.connect("mux", branch)
        g.connect(branch, f"{branch}_out")
    c = g.compile(spark, str(tmp_path / "ck"))
    assert c.run_to_completion() is None

    seen_a = [e.n_rows for e in c.wiretaps["a"].entries]
    seen_b = [e.n_rows for e in c.wiretaps["b"].entries]
    # both branches saw every message exactly once, batch-for-batch
    assert sum(seen_a) == sum(seen_b) == 60
    assert seen_a == seen_b
    assert all(e.wall_clock > 0 for e in c.wiretaps["a"].entries)
    assert all(e.wall_clock > 0 for e in c.wiretaps["b"].entries)


def test_binary_files_feed_media_decode(spark, tmp_path):
    """binaryFile is the multimodal ingestion edge: files on disk ->
    (path, content) rows -> the decode_media pipeline, with
    pathGlobFilter pruning non-matching files at listing time."""
    from dataingestiontohana_spark.operators.multimodal import (
        KIND_IMAGE,
        decode_media,
        synth_media_bytes,
    )

    d = tmp_path / "media"
    d.mkdir()
    payload = synth_media_bytes(7, KIND_IMAGE, 8, 4)
    (d / "img7.bin").write_bytes(payload)
    (d / "ignore.txt").write_text("not media")

    bf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(str(d))
    )
    assert bf.count() == 1  # glob pruned the .txt at listing time
    row = bf.select("path", "length", "content").collect()[0]
    assert row["path"].endswith("img7.bin") and row["length"] == len(payload)

    media = bf.select(
        F.lit(7).cast("long").alias("media_id"),
        F.lit(KIND_IMAGE).alias("kind"),
        "content",
    )
    dec = decode_media(media).collect()[0]
    assert (dec["width"], dec["height"]) == (8, 4)


def test_upsert_sink_partition_write_mode_executor_side(spark, tmp_path):
    """write_mode='partition' — the real-cluster shape: one DBAPI
    connection PER SPARK PARTITION, opened on the executor (the
    connection factory and SQL text must survive pickling into the
    foreachPartition closure). SQLite serializes concurrent writers
    via file locking (timeout bounds the wait), so the result must
    still be exactly the keyed-upsert outcome: re-writing the same
    batch converges, no duplicates."""
    import functools
    import sqlite3

    from dataingestiontohana_spark.operators.upsert_sink import (
        SQLiteDialect,
        UpsertSink,
    )
    from dataingestiontohana_spark.sources.generator import sensor_rows

    db = str(tmp_path / "sink.db")
    sink = UpsertSink(
        table="sensor_sink",
        key_cols=["counter"],
        dialect=SQLiteDialect(),
        connection_factory=functools.partial(
            sqlite3.connect, db, timeout=30
        ),
        write_mode="partition",
        batch_size=50,
    )
    from dataingestiontohana_spark.streaming.pipeline import (
        SENSOR_SQL_COLUMNS,
    )

    sink.ensure_table(SENSOR_SQL_COLUMNS, with_pk=True)
    rows = sensor_rows(spark, 200).repartition(4)
    sink.write(rows, upsert=True)
    sink.write(rows, upsert=True)  # idempotent replay converges

    con = sqlite3.connect(db)
    n, uniq, lo, hi = con.execute(
        'SELECT COUNT(*), COUNT(DISTINCT "counter"), MIN("counter"), '
        'MAX("counter") FROM "sensor_sink"'
    ).fetchone()
    con.close()
    assert n == uniq == (hi - lo + 1) == 200
