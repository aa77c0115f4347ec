"""Batch-form ingestion checks: generator determinism + CSV roundtrip."""

from __future__ import annotations

from dataingestiontohana_spark.plans.ingestion import (
    N,
    q39_sensor_generate,
    q40_sensor_csv_roundtrip,
)

SF = "/root/testdata/sf0.001"  # unused by these plans, part of the contract


def test_generator_is_deterministic(spark):
    a = q39_sensor_generate(spark, SF).collect()
    b = q39_sensor_generate(spark, SF).repartition(7).orderBy("counter").collect()
    assert a == b
    assert [r["counter"] for r in a] == list(range(N))
    assert all(2 <= r["deviceid"] <= 6 for r in a[:50])
    assert all(25.0 <= r["temperature"] <= 26.0 for r in a[:50])


def test_csv_roundtrip_lossless(spark):
    row = q40_sensor_csv_roundtrip(spark, SF).head()
    assert (row["total"], row["matched"], row["uniq"], row["span"]) == (N, N, N, N)
