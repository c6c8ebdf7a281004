"""The session memo tier (caching.memoized) and the one conf scope
(session.scoped_conf)."""

from __future__ import annotations

import threading
import time

import pytest

from big_data_project_spark.caching import persisted, release_caches
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


def test_persisted_tier_is_right_sized_by_aqe(spark, tmp_path):
    """AQE coalesces a persisted relation's output: the KB-sized
    (route, hour) tier neither keeps every shuffle partition nor writes
    one part file per partition."""
    from big_data_project_spark.operators.kpi import kpi_hourly
    from big_data_project_spark.registry import QUERIES

    release_caches()
    slots = spark.sparkContext.defaultParallelism
    out = tmp_path / "kpi_hourly"
    # the way plans.dag._write_query materializes a registry key
    QUERIES["kpi_hourly"](spark, SF_DIR).write.mode("overwrite").parquet(str(out))
    assert kpi_hourly(spark, SF_DIR).rdd.getNumPartitions() <= slots
    assert len(list(out.glob("part-*.parquet"))) <= slots


def _shuffles_above_cache(node) -> int:
    """Shuffle exchanges in a physical plan, not descending into cached
    relations."""
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return _shuffles_above_cache(node.initialPlan())
    if name == "InMemoryTableScan":
        return 0
    children = node.children()
    return (name == "Exchange") + sum(
        _shuffles_above_cache(children.apply(i)) for i in range(children.size())
    )


def test_pinned_layout_survives_persist(spark):
    """repartition(n, key) before persisted() keeps n hash partitions,
    so grouping or self-joining on key plans no shuffle exchange above
    the cached scan (the layout nmf_topic_rounds and load_table_spread
    rely on)."""
    n = 32
    df = persisted(
        spark.range(1000).selectExpr("id % 97 AS k", "id AS v").repartition(n, "k")
    )
    try:
        df.count()
        assert df.rdd.getNumPartitions() == n
        # no broadcast: the self-join must be a co-partitioned join
        with scoped_conf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"):
            for q in (df.groupBy("k").count(), df.alias("a").join(df.alias("b"), "k")):
                plan = q._jdf.queryExecution().executedPlan()
                assert "InMemoryTableScan" in plan.toString()
                assert _shuffles_above_cache(plan) == 0, plan.toString()
    finally:
        release_caches()


def test_hourly_dag_builds_each_tier_once(spark, monkeypatch):
    """The hourly DAG's registry keys in DAG order — weather_job,
    build_kpi_job, ml_job — build and persist each rollup tier once,
    and the weather relation weather_job writes is the one ml_job
    reads."""
    from big_data_project_spark import rollups
    from big_data_project_spark.registry import QUERIES

    real = rollups.memoized
    built: dict[str, list] = {}

    def counting(spark_, sf_dir, name, build):
        def counted():
            df = build()
            built.setdefault(name, []).append(df)
            return df

        return real(spark_, sf_dir, name, counted)

    monkeypatch.setattr(rollups, "memoized", counting)
    release_caches()
    try:
        written = {}
        for key in ("weather_hourly", "kpi_hourly", "rf_demand_predictions"):
            written[key] = QUERIES[key](spark, SF_DIR)
            written[key].write.format("noop").mode("overwrite").save()
        tiers = {
            "vehicle_hour_base", "route_hour_stats", "demand_hourly",
            "headway_hourly", "weather_hourly", "kpi_hourly",
        }
        assert tiers <= set(built)
        assert {n: len(dfs) for n, dfs in built.items() if len(dfs) != 1} == {}
        assert all(dfs[0].is_cached for dfs in built.values())
        assert written["weather_hourly"] is built["weather_hourly"][0]
    finally:
        release_caches()
