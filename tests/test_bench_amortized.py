"""bench.py's amortization record: a headline key that only reads a
relation an earlier key persisted is reported as amortized."""

from __future__ import annotations

import bench
from big_data_project_spark.caching import release_caches
from big_data_project_spark.registry import QUERIES
from tests.conftest import SF_DIR


def test_reader_of_an_earlier_keys_tier_is_amortized(spark):
    release_caches()

    def run_once(name):
        df = QUERIES[name](spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        return df

    cold, built, read = bench._cold_pass(
        spark, ["kpi_hourly", "headway_hourly"], run_once
    )
    assert set(cold) == {"kpi_hourly", "headway_hourly"}
    assert "kpi_hourly" in built and "headway_hourly" not in built
    assert read == ["headway_hourly"]
