"""Shared materialized rollup tier for the composite family.

The reference materializes its KPI layer once per pipeline run as views
(/root/reference/src/optimization/kpi_views.sql) and every export reads
those views. This module is the Spark analog of that view tier: each base
rollup and the joined kpi frame is computed ONCE per (application,
sf_dir), persisted, and every downstream query (kpi_hourly ->
suggestions -> latest/top/summary/needs_data -> peak_hours_summary) reads
the materialized frame. The memo and its release live in ``caching``.

Scale: the cached relations are (route, hour)-grained — many orders of
magnitude smaller than the 100 TB feed — so the persistence cost is
trivial while saving whole passes over the fact table per query. On a
real cluster this tier would be a Delta/parquet materialization updated
incrementally; in-process persist() keeps the same dataflow shape.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .caching import memoized, persisted


def shared_rollup(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    build: Callable[[SparkSession, str], DataFrame],
) -> DataFrame:
    """Memoized, persisted rollup keyed by (application, sf_dir, name)."""
    return memoized(spark, sf_dir, name, lambda: persisted(build(spark, sf_dir)))
