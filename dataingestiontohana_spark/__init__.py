"""PySpark-native analytics/ingestion engine.

A brand-new, Spark-first engine covering the capability surface of the
reference repo ``Andyyh2005/DataIngestionToHANA`` (a fault-tolerant
streaming-ETL tutorial: generator -> Kafka -> transform -> relational
sink under at-most/at-least/exactly-once delivery; see
``/root/reference/README.md:1-168``), extended with a batch relational
query surface and large-scale LLM-data-pipeline operators (dedup,
similarity search, text analysis) per SURVEY.md.

Design: DataFrame/SQL everywhere, Catalyst does the optimizing, custom
code only where Spark has no primitive (keyed JDBC upsert sink,
delivery-mode harness, minhash/simhash helpers).
"""

__version__ = "0.1.0"

from dataingestiontohana_spark.session import get_spark  # noqa: F401
from dataingestiontohana_spark.catalog import TABLES  # noqa: F401
