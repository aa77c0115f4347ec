"""Kafka builder tests (no broker/jar in the container: option logic
and the body parse are testable; the wire protocol is not)."""

from __future__ import annotations

from pyspark.sql import functions as F

from dataingestiontohana_spark.streaming.kafka import (
    kafka_sink_options,
    kafka_source_options,
    parse_sensor_kafka,
)
from dataingestiontohana_spark.sources.generator import sensor_csv_lines


def test_source_options_map_reference_config():
    opts = kafka_source_options(
        "broker:9092", "my_sensor_data", max_offsets_per_trigger=1000
    )
    assert opts["startingOffsets"] == "earliest"  # Offset = oldest
    assert opts["kafkaConsumer.pollTimeoutMs"] == "500"  # max wait
    assert opts["maxOffsetsPerTrigger"] == "1000"  # max messages
    assert opts["subscribe"] == "my_sensor_data"
    assert kafka_sink_options("b:9092", "t")["topic"] == "t"


def test_envelope_and_parse_on_kafka_shaped_batch(spark):
    # a batch frame with the exact Kafka source schema stands in for
    # the wire: the CSV parse must round-trip
    lines = sensor_csv_lines(spark, 5)
    kafka_shaped = lines.select(
        F.encode("value", "utf-8").alias("value"),
        F.lit("my_sensor_data").alias("topic"),
        F.lit(0).alias("partition"),
        F.col("counter").cast("long").alias("offset"),
        F.current_timestamp().alias("timestamp"),
    )
    parsed = parse_sensor_kafka(kafka_shaped)
    assert sorted(r["counter"] for r in parsed.collect()) == [0, 1, 2, 3, 4]
    assert dict(parsed.dtypes)["temperature"] == "double"
