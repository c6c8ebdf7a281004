"""The session memo tier (caching.memoized) and the one conf scope
(session.scoped_conf)."""

from __future__ import annotations

import threading
import time

import pytest

from big_data_project_spark.caching import release_caches
from big_data_project_spark.catalog import load_table_spread
from big_data_project_spark.rollups import shared_rollup
from big_data_project_spark.session import scoped_conf

from tests.conftest import SF_DIR


def test_scoped_conf_unsets_and_restores(spark):
    unset_key = "spark.big_data_project_spark.test.never_set"
    with scoped_conf(spark, unset_key, "x"):
        assert spark.conf.get(unset_key) == "x"
    assert spark.conf.get(unset_key, None) is None

    key = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(key)
    with pytest.raises(RuntimeError):
        with scoped_conf(spark, key, "7"):
            assert spark.conf.get(key) == "7"
            raise RuntimeError("body failed")
    assert spark.conf.get(key) == prior


def _repartitioned(df) -> bool:
    return "RepartitionByExpression" in df._jdf.queryExecution().logical().toString()


def test_load_table_spread_rekeys_on_split_conf(spark):
    """The repartition decision depends on maxPartitionBytes; a changed
    conf must not be served the plan decided under the old one."""
    if spark.sparkContext.defaultParallelism < 2:
        pytest.skip("one task slot: the spread guard never repartitions")
    assert _repartitioned(load_table_spread(spark, SF_DIR, "documents", "doc_id"))
    with scoped_conf(spark, "spark.sql.files.maxPartitionBytes", "1"):
        df = load_table_spread(spark, SF_DIR, "documents", "doc_id")
    assert not _repartitioned(df)


def test_shared_rollup_builds_a_cold_key_once(spark):
    calls = []
    barrier = threading.Barrier(2)
    got = [None, None]

    def build(sp, sd):
        calls.append(1)
        time.sleep(0.2)
        return sp.range(3)

    def lookup(i):
        barrier.wait()
        got[i] = shared_rollup(spark, SF_DIR, "concurrency_probe", build)

    threads = [threading.Thread(target=lookup, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(60)
    assert len(calls) == 1
    assert got[0] is not None and got[0] is got[1]

    # Builds nest (kpi_hourly -> demand_hourly -> vehicle_hour_base ->
    # load_table), so a cold construction re-enters the tier's lock.
    from big_data_project_spark.operators.kpi import kpi_hourly

    release_caches()
    built = []
    t = threading.Thread(
        target=lambda: built.append(kpi_hourly(spark, SF_DIR)), daemon=True
    )
    t.start()
    t.join(120)
    assert built, "cold kpi_hourly construction did not complete"
    release_caches()
