"""Sources: deterministic sensor generator + CSV message-envelope parse."""

from dataingestiontohana_spark.sources.generator import (  # noqa: F401
    SENSOR_SCHEMA,
    sensor_rows,
    sensor_csv_lines,
    sensor_rate_stream,
    write_sensor_csv_files,
)
from dataingestiontohana_spark.sources.csv_envelope import (  # noqa: F401
    parse_sensor_csv,
)
from dataingestiontohana_spark.sources.kafkafake import (  # noqa: F401
    FakeKafkaBroker,
    fake_kafka_source,
    read_fake_topic,
    register_fake_kafka,
)
