"""The ingestion pipeline: the reference's consumer graph re-expressed
as Structured Streaming (`/root/reference/README.md:27-65`):

    Kafka Consumer -> Processing Data -> HANA Client (-> ack loop)
       =>  data_generator -> process(parse_sensor_csv) -> hana_client

a fixed wiring of `streaming/graph_pipeline.py::PipelineGraph`, which
runs it and owns the three delivery guarantees (`DeliveryMode`, see
that module's docstring).

The 5-second "Processing Data" sleep (operator R5, `README.md:30-43`)
exists in the reference only to widen the failure window; its engine
counterparts are trigger pacing (`trigger(processingTime=...)`) and
`maxFilesPerTrigger`/`maxOffsetsPerTrigger` batch sizing.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from dataingestiontohana_spark.operators.upsert_sink import UpsertSink
from dataingestiontohana_spark.sources.csv_envelope import parse_sensor_csv
from dataingestiontohana_spark.streaming.fault import FaultInjector
from dataingestiontohana_spark.streaming.graph_pipeline import (  # noqa: F401
    SENSOR_SQL_COLUMNS,
    CompiledGraph,
    DeliveryMode,
    PipelineGraph,
)


@dataclass
class IngestionPipeline:
    """CSV-line stream -> typed sensor rows -> relational sink."""

    spark: SparkSession
    source_dir: str  # directory of CSV text files (the durable log)
    checkpoint_dir: str  # consumer identity (the reference's Group ID)
    sink: UpsertSink
    mode: DeliveryMode = DeliveryMode.EXACTLY_ONCE
    max_files_per_trigger: int = 1
    fault: FaultInjector | None = None

    def _compile(self) -> CompiledGraph:
        """Wire the graph and compile it, which creates the sink table
        (with a primary key only under EXACTLY_ONCE)."""
        g = PipelineGraph()
        g.node("source", "data_generator", source_dir=self.source_dir,
               max_files_per_trigger=self.max_files_per_trigger)
        g.node("parse", "process", fn=parse_sensor_csv)
        g.node("hana", "hana_client", sink=self.sink, fault=self.fault,
               mode=self.mode)
        g.connect("source", "parse")
        g.connect("parse", "hana")
        return g.compile(self.spark, self.checkpoint_dir)

    def start(self) -> StreamingQuery:
        return self._compile().start()

    def run_to_completion(self) -> Exception | None:
        return self._compile().run_to_completion()
