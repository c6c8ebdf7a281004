"""The (route, hour) rollup tier: the one implementation of every hourly
KPI view over the realtime feed (``events`` table).

Parity targets (reference views, re-expressed Spark-first):
- ``kpi_active_vehicles_hourly``  src/optimization/kpi_views.sql:19-26
- ``kpi_headway_hourly``          src/optimization/kpi_views.sql:29-57
- ``vehicle_hourly``              initdb/init-postgis.sql:205-211
- ``delay_hourly``                initdb/init-postgis.sql:196-203
- ``passenger_demand_hourly``     initdb/init-postgis.sql:187-194
- ``weather_hourly``              initdb/init-postgis.sql:213-220
- ``stop_base_demand`` init       initdb/init-postgis.sql:170-176

Feed mapping (documented in SURVEY.md §1): events.user_id ≈ vehicle/stop
id, events.event_type ≈ route_id, events.value ≈ delay-seconds /
passenger-count / weather metric, events.ts ≈ observed_at.

The reference builds these views once per pipeline run and every export
reads them; here each is a relation built once per (application,
sf_dir) through ``rollups.shared_rollup``, persisted, and handed to every
consumer (kpi.py, trend.py, timeseries.py, relational.py, ml/demand.py):

- ``vehicle_hour_base``: one scan and one shuffle of the feed into
  (route, hour, vehicle) partials — row count, non-NULL value count,
  DECIMAL(28,6) value sum, first-seen time. Every other tier but
  weather re-aggregates it instead of scanning the feed again.
- ``route_hour_stats``: the base summed to (route, hour): event count,
  average delay, active vehicles. ``events_hourly``, ``delay_hourly``
  and ``active_users_hourly`` are projections of it.
- ``demand_hourly``: the flow events (a second, map-side scan) joined to
  the stop→route mapping, which is the base's distinct (vehicle, route)
  pairs.
- ``headway_hourly``: the gaps between the base's first-seen times.
- ``weather_hourly``: an hour-grain profile that needs ``props``, so it
  scans the feed itself.

The partials re-aggregate exactly: a DECIMAL(28,6) sum is associative
and commutative, so summing per-vehicle sums gives bit-for-bit the
decimal a single pass over the raw rows gives (see functions/portable.py
``davg``), and the one double division and ``pround`` happen after it.

NULLs follow the oracles. A NULL route (``event_type``) is a group of
the base and of ``route_hour_stats``: ``events_hourly`` keeps it, as
``vehicle_hourly`` does, while ``delay_hourly``, ``active_users_hourly``
and ``headway_hourly`` leave it out, as their views' ``WHERE event_type
IS NOT NULL`` does. A NULL vehicle (``user_id``) is a group of the base
too: it counts its events and delays, gives a first-seen time to the
headway walk (``GROUP BY user_id`` keeps it), joins no stop in demand,
and is not an active vehicle (``count(DISTINCT user_id)`` skips it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions.portable import davg, dsum, pround, sql_davg, sql_dsum, sql_pround
from ..functions.time import hour_trunc
from ..rollups import shared_rollup


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def _vehicle_hour_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _events(spark, sf_dir).groupBy(
        F.col("event_type").alias("route_id"),
        hour_trunc("ts").alias("hour_ts"),
        F.col("user_id").alias("vehicle_id"),
    ).agg(
        F.count(F.lit(1)).alias("cnt_all"),
        F.count("value").alias("cnt_val"),
        F.sum(F.col("value").cast("decimal(28,6)")).alias("sum_val"),
        F.min("ts").alias("first_seen"),
    )


def _base(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shared_rollup(spark, sf_dir, "vehicle_hour_base", _vehicle_hour_base)


def _route_hour_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _base(spark, sf_dir).groupBy("route_id", "hour_ts").agg(
        F.sum("cnt_all").alias("n_events"),
        pround(F.sum("sum_val").cast("double") / F.sum("cnt_val"), 4).alias(
            "avg_delay_seconds"
        ),
        F.count("vehicle_id").alias("active_vehicles"),
    )


def _stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shared_rollup(spark, sf_dir, "route_hour_stats", _route_hour_stats)


def _routed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _stats(spark, sf_dir).filter(F.col("route_id").isNotNull())


def active_users_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT vehicle) per route/hour (kpi_active_vehicles_hourly)."""
    return _routed_stats(spark, sf_dir).select(
        "route_id", "hour_ts", "active_vehicles"
    )


def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw event count per route/hour, NULL route kept (vehicle_hourly)."""
    return _stats(spark, sf_dir).select(
        "route_id", "hour_ts", F.col("n_events").alias("vehicle_events")
    )


def delay_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event count + average delay per route/hour (delay_hourly)."""
    return _routed_stats(spark, sf_dir).select(
        "route_id",
        "hour_ts",
        F.col("n_events").alias("trip_update_events"),
        "avg_delay_seconds",
    )


def _demand_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    mapping = (
        _base(spark, sf_dir)
        .select(F.col("vehicle_id").alias("stop_id"), "route_id")
        .distinct()
    )
    flow = _events(spark, sf_dir).select(
        F.col("user_id").alias("stop_id"),
        F.col("ts"),
        F.col("value").alias("estimated_passengers"),
    )
    return (
        flow.join(F.broadcast(mapping), "stop_id")
        .groupBy("route_id", hour_trunc("ts").alias("hour_ts"))
        .agg(dsum("estimated_passengers", 2).alias("passengers"))
    )


def demand_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passenger demand per route/hour: flow events keyed by stop joined
    through the distinct stop→route mapping, then summed
    (passenger_demand_hourly ⋈ stop_to_route)."""
    return shared_rollup(spark, sf_dir, "demand_hourly", _demand_hourly)


def _weather_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = F.get_json_object("props", "$.k").cast("double")
    return _events(spark, sf_dir).groupBy(hour_trunc("ts").alias("hour_ts")).agg(
        davg("value", 4).alias("temperature_c"),
        pround(
            F.sum(k.cast("decimal(28,6)")).cast("double")
            / F.count(k)
            / 10.0,
            4,
        ).alias("precipitation_mm"),
        F.round(F.max("value") / 10.0, 4).alias("wind_speed_mps"),
    )


def weather_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly weather profile; the JSON props extraction mirrors the
    reference's REST-payload normalization (weather-job.py:53-68)."""
    return shared_rollup(spark, sf_dir, "weather_hourly", _weather_hourly)


def _headway_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    # gaps in integer microseconds, so both engines get the same doubles
    w = Window.partitionBy("route_id", "hour_ts").orderBy("first_seen")
    gaps = (
        _base(spark, sf_dir)
        .filter(F.col("route_id").isNotNull())
        .select(
            "route_id",
            "hour_ts",
            (
                (
                    F.unix_micros("first_seen")
                    - F.unix_micros(F.lag("first_seen").over(w))
                )
                / F.lit(60_000_000.0)
            ).alias("headway_min"),
        )
    )
    valid = F.when(F.col("headway_min").between(0.5, 60.0), F.col("headway_min"))
    return gaps.groupBy("route_id", "hour_ts").agg(
        pround(
            F.sum(valid.cast("decimal(28,6)")).cast("double") / F.count(valid), 4
        ).alias("avg_headway_min")
    )


def headway_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean first-seen gap per route/hour (kpi_headway_hourly).

    The gaps between vehicles' first appearance within a route/hour,
    averaged in minutes over the gaps between 0.5 and 60."""
    return shared_rollup(spark, sf_dir, "headway_hourly", _headway_hourly)


def stop_base_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clamped per-key base weight: LEAST(50, GREATEST(5, cnt*3))."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_partkey").alias("stop_id")).agg(
        F.least(F.lit(50), F.greatest(F.lit(5), F.count(F.lit(1)) * 3))
        .cast("int")
        .alias("base_weight")
    )


QUERIES = {
    "active_users_hourly": active_users_hourly,
    "events_hourly": events_hourly,
    "delay_hourly": delay_hourly,
    "demand_hourly": demand_hourly,
    "weather_hourly": weather_hourly,
    "stop_base_demand": stop_base_demand,
    "headway_hourly": headway_hourly,
}

# Shared CTE snippets so composite oracles (kpi.py) reuse the exact text.
SQL_DEMAND = f"""
    SELECT m.route_id,
           date_trunc('hour', f.ts) AS hour_ts,
           {sql_dsum('f.value', 2)} AS passengers
    FROM events f
    JOIN (SELECT DISTINCT user_id, event_type AS route_id FROM events) m
      ON m.user_id = f.user_id
    GROUP BY m.route_id, date_trunc('hour', f.ts)
"""

SQL_DELAY = f"""
    SELECT event_type AS route_id,
           date_trunc('hour', ts) AS hour_ts,
           count(*)               AS trip_update_events,
           {sql_davg('value', 4)} AS avg_delay_seconds
    FROM events
    WHERE event_type IS NOT NULL
    GROUP BY event_type, date_trunc('hour', ts)
"""

SQL_VEHICLE = """
    SELECT event_type AS route_id,
           date_trunc('hour', ts) AS hour_ts,
           count(*)               AS vehicle_events
    FROM events
    GROUP BY event_type, date_trunc('hour', ts)
"""

SQL_WEATHER = f"""
    SELECT date_trunc('hour', ts) AS hour_ts,
           {sql_davg('value', 4)} AS temperature_c,
           {sql_pround(
               "(sum((CAST(json_extract_string(props, '$.k') AS DOUBLE))::DECIMAL(28,6)))::DOUBLE"
               " / count(CAST(json_extract_string(props, '$.k') AS DOUBLE)) / 10.0",
               4,
           )}
               AS precipitation_mm,
           round(max(value) / 10.0, 4) AS wind_speed_mps
    FROM events
    GROUP BY date_trunc('hour', ts)
"""

SQL_ACTIVE = """
    SELECT event_type AS route_id,
           date_trunc('hour', ts)  AS hour_ts,
           count(DISTINCT user_id) AS active_vehicles
    FROM events
    WHERE event_type IS NOT NULL
    GROUP BY event_type, date_trunc('hour', ts)
"""

SQL_HEADWAY = """
    SELECT route_id, hour_ts,
           floor(((sum((headway_min)::DECIMAL(28,6)) FILTER (
                     WHERE headway_min BETWEEN 0.5 AND 60
                   ))::DOUBLE
                  / count(headway_min) FILTER (
                     WHERE headway_min BETWEEN 0.5 AND 60
                  )) * 10000.0 + 0.5) / 10000.0 AS avg_headway_min
    FROM (
      SELECT route_id, hour_ts, first_seen,
             (epoch_us(first_seen) - epoch_us(LAG(first_seen) OVER (
                PARTITION BY route_id, hour_ts ORDER BY first_seen
             ))) / 60000000.0 AS headway_min
      FROM (
        SELECT event_type AS route_id,
               date_trunc('hour', ts) AS hour_ts,
               user_id AS vehicle_id,
               MIN(ts) AS first_seen
        FROM events
        WHERE event_type IS NOT NULL
        GROUP BY event_type, date_trunc('hour', ts), user_id
      ) vehicle_first_seen
    ) ordered
    GROUP BY route_id, hour_ts
"""

ORACLES = {
    "active_users_hourly": SQL_ACTIVE,
    "events_hourly": SQL_VEHICLE,
    "delay_hourly": SQL_DELAY,
    "demand_hourly": SQL_DEMAND,
    "weather_hourly": SQL_WEATHER,
    "stop_base_demand": """
        SELECT l_partkey AS stop_id,
               CAST(least(50, greatest(5, count(*) * 3)) AS INT) AS base_weight
        FROM lineitem
        GROUP BY l_partkey
    """,
    "headway_hourly": SQL_HEADWAY,
}
