"""Kafka source/sink: reference operators R3/R4 (`/root/reference/
README.md:16-25`, consumer config in `images/kafkaConsumerConfig.png`).

Option mapping from the reference's consumer panel:

| Reference config        | Spark option                               |
|-------------------------|--------------------------------------------|
| Offset = oldest         | startingOffsets = earliest                 |
| Max messages (bytes)    | maxOffsetsPerTrigger (count-based analogue)|
| Max wait time = 500ms   | kafkaConsumer.pollTimeoutMs                |
| Group ID                | checkpoint location (consumer identity —   |
|                         | "new Group ID re-reads from beginning" ==  |
|                         | "new checkpoint dir re-reads from          |
|                         | startingOffsets", README.md:118)           |
| Auto commit             | none: offsets commit to the checkpoint     |
|                         | after sink success (at-least-once native)  |

Requires the spark-sql-kafka connector jar on the classpath
(`spark.jars.packages=org.apache.spark:spark-sql-kafka-0-10_2.13:<ver>`);
absent in this container, so `.load()`/`.start()` raise. The builders
and option logic are unit-tested, and everything DOWNSTREAM of the
connector (typed parse, offset replay, the
producer->consumer->upsert graph) runs end-to-end against
`sources/kafkafake.py` — a Python Data Source with the connector's
exact schema and per-partition offset semantics
(tests/test_kafka_integration.py); only the wire protocol itself
needs the jar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataingestiontohana_spark.sources.generator import SENSOR_DDL


def kafka_source_options(
    brokers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
    poll_timeout_ms: int = 500,
) -> dict[str, str]:
    opts = {
        "kafka.bootstrap.servers": brokers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        "kafkaConsumer.pollTimeoutMs": str(poll_timeout_ms),
        "failOnDataLoss": "true",
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def kafka_source(spark: SparkSession, **kwargs) -> DataFrame:
    """readStream over a topic; schema = the envelope of §1.1 (key,
    value, topic, partition, offset, timestamp, timestampType) — a 1:1
    match for the reference's message attributes."""
    reader = spark.readStream.format("kafka")
    for k, v in kafka_source_options(**kwargs).items():
        reader = reader.option(k, v)
    return reader.load()


def kafka_sink_options(brokers: str, topic: str) -> dict[str, str]:
    return {"kafka.bootstrap.servers": brokers, "topic": topic}


def write_batch_to_kafka(df: DataFrame, brokers: str, topic: str) -> None:
    """Batch-mode produce — the executor-side path a foreachBatch body
    takes to a REAL topic (each task runs its own KafkaProducer; no
    driver hop). `df` must carry `value` (string/binary) and optionally
    `key`. At-least-once, like every Spark Kafka write. Needs the
    spark-sql-kafka jar (absent in this sandbox — the compiled graph
    routes here only when a node names real brokers)."""
    writer = df.write.format("kafka")
    for k, v in kafka_sink_options(brokers, topic).items():
        writer = writer.option(k, v)
    writer.save()


def parse_sensor_kafka(kafka_df: DataFrame) -> DataFrame:
    """Kafka envelope -> typed sensor rows (CSV body parse)."""
    return kafka_df.select(
        F.from_csv(F.col("value").cast("string"), F.lit(SENSOR_DDL)).alias("_row")
    ).select("_row.*")
