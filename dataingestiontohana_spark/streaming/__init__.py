"""Streaming: the operator-graph runner (graph_pipeline) with its
delivery guarantees, the fixed ingestion wiring (pipeline), fault
injection, the Kafka builders and the sink audit."""

from dataingestiontohana_spark.streaming.pipeline import (  # noqa: F401
    DeliveryMode,
    IngestionPipeline,
)
from dataingestiontohana_spark.streaming.fault import FaultInjector  # noqa: F401
from dataingestiontohana_spark.streaming.audit import audit_sink  # noqa: F401
