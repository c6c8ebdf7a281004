"""Composite KPI / ML-dataset views: multi-way left joins of the hourly
rollups plus calendar features, the deterministic persistence forecast,
and the peak-hour profile.

Parity targets:
- ``ml_dataset_hourly``   /root/reference/initdb/init-postgis.sql:222-246,
                          /root/reference/src/dag/ml-job.py:36-64
- ``kpi_hourly``          /root/reference/src/optimization/kpi_views.sql:71-98
- next-hour label shift   /root/reference/src/ml/train_predict.py:149-150
                          (re-expressed as a per-route LAG window so the
                          "prediction" is deterministic and oracle-able)
- ``SQL_PEAK_HOURS_LATEST`` /root/reference/src/optimization/export_suggestions_json.py:122-143

Scale: every join input is already aggregated to (route, hour) — tiny
relative to the raw feed — so all joined sides are broadcast; the raw
100 TB feed is only touched by the single-shuffle rollups in hourly.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.portable import davg, pround, sql_davg
from ..functions.time import day_of_week, hour_of_day, is_peak_hour
from ..rollups import shared_rollup
from .hourly import (
    SQL_ACTIVE,
    SQL_DELAY,
    SQL_DEMAND,
    SQL_HEADWAY,
    SQL_VEHICLE,
    SQL_WEATHER,
    active_users_hourly,
    delay_hourly,
    demand_hourly,
    headway_hourly,
    weather_hourly,
)


def ml_dataset_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    # a left join on route_id matches only non-NULL routes, where
    # events_hourly's vehicle_events equals trip_update_events
    pd_ = demand_hourly(spark, sf_dir)
    dl = delay_hourly(spark, sf_dir)
    wh = weather_hourly(spark, sf_dir)
    return (
        pd_.join(F.broadcast(dl), ["route_id", "hour_ts"], "left")
        .join(F.broadcast(wh), ["hour_ts"], "left")
        .select(
            "route_id",
            "hour_ts",
            F.col("passengers").cast("double").alias("passengers"),
            F.coalesce("trip_update_events", F.lit(0)).alias("trip_update_events"),
            F.coalesce("avg_delay_seconds", F.lit(0.0)).alias("avg_delay_seconds"),
            F.coalesce("trip_update_events", F.lit(0)).alias("vehicle_events"),
            F.coalesce("temperature_c", F.lit(0.0)).alias("temperature_c"),
            F.coalesce("precipitation_mm", F.lit(0.0)).alias("precipitation_mm"),
            F.coalesce("wind_speed_mps", F.lit(0.0)).alias("wind_speed_mps"),
            hour_of_day("hour_ts").alias("hour"),
            day_of_week("hour_ts").alias("day_of_week"),
            is_peak_hour("hour_ts").alias("is_peak"),
        )
    )


def prediction_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persistence forecast: previous hour's demand predicts this hour.

    Deterministic stand-in for the reference's RandomForest predictions
    table (demand_predictions); the pyspark.ml model lives in
    ml/demand.py and is benchmarked separately (not SQL-expressible).
    """
    pd_ = demand_hourly(spark, sf_dir)
    w = Window.partitionBy("route_id").orderBy("hour_ts")
    return (
        pd_.select(
            "route_id",
            "hour_ts",
            F.col("passengers").cast("double").alias("y_true"),
            F.lag("passengers").over(w).cast("double").alias("y_pred"),
        )
        .filter(F.col("y_pred").isNotNull())
    )


def kpi_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized once per run (shared_rollup); six downstream queries
    (suggestions family + peak_hours_summary) read the persisted frame."""
    return shared_rollup(spark, sf_dir, "kpi_hourly", _kpi_hourly_build)


def _kpi_hourly_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    kpi = prediction_baseline(spark, sf_dir)
    for side in (active_users_hourly, headway_hourly, delay_hourly):
        kpi = kpi.join(
            F.broadcast(side(spark, sf_dir)), ["route_id", "hour_ts"], "left"
        )
    return kpi.select(
        "route_id",
        "hour_ts",
        F.col("y_pred").alias("predicted_passengers"),
        F.col("y_true").alias("observed_passengers"),
        F.coalesce("active_vehicles", F.lit(0)).alias("active_vehicles"),
        "avg_headway_min",
        F.coalesce("trip_update_events", F.lit(0)).alias("trip_update_events"),
        F.coalesce("avg_delay_seconds", F.lit(0.0)).alias("avg_delay_seconds"),
        hour_of_day("hour_ts").alias("hour_of_day"),
        is_peak_hour("hour_ts").alias("is_peak_hour"),
    )


def peak_hours_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day profile over the 24 h window ending at the latest hour."""
    kpi = kpi_hourly(spark, sf_dir)
    latest = kpi.agg(F.max("hour_ts").alias("max_ts"))
    win = kpi.join(F.broadcast(latest)).filter(
        F.col("hour_ts") >= F.col("max_ts") - F.expr("INTERVAL 24 HOURS")
    )
    active_pos = F.when(
        F.col("active_vehicles") > 0, F.col("active_vehicles")
    )
    return win.groupBy("hour_of_day").agg(
        F.count(F.lit(1)).cast("int").alias("n_routes"),
        davg("predicted_passengers", 4).alias("avg_predicted_passengers"),
        davg("observed_passengers", 4).alias("avg_observed_passengers"),
        pround(
            F.sum(active_pos.cast("decimal(28,6)")).cast("double")
            / F.count(active_pos),
            4,
        ).alias("avg_active_vehicles"),
        davg("avg_headway_min", 4).alias("avg_headway_min"),
        F.sum(F.when(F.col("is_peak_hour") == 1, 1).otherwise(0))
        .cast("int")
        .alias("peak_routes"),
    )


QUERIES = {
    "ml_dataset_hourly": ml_dataset_hourly,
    "prediction_baseline": prediction_baseline,
    "kpi_hourly": kpi_hourly,
    "peak_hours_summary": peak_hours_summary,
}

SQL_ML_DATASET = f"""
    SELECT pd.route_id,
           pd.hour_ts,
           CAST(pd.passengers AS DOUBLE)         AS passengers,
           COALESCE(dh.trip_update_events, 0)    AS trip_update_events,
           COALESCE(dh.avg_delay_seconds, 0.0)   AS avg_delay_seconds,
           COALESCE(vh.vehicle_events, 0)        AS vehicle_events,
           COALESCE(wh.temperature_c, 0.0)       AS temperature_c,
           COALESCE(wh.precipitation_mm, 0.0)    AS precipitation_mm,
           COALESCE(wh.wind_speed_mps, 0.0)      AS wind_speed_mps,
           EXTRACT(HOUR FROM pd.hour_ts)::int    AS hour,
           EXTRACT(DOW  FROM pd.hour_ts)::int    AS day_of_week,
           ((EXTRACT(HOUR FROM pd.hour_ts) BETWEEN 7 AND 9)
            OR (EXTRACT(HOUR FROM pd.hour_ts) BETWEEN 16 AND 18))::int AS is_peak
    FROM ({SQL_DEMAND}) pd
    LEFT JOIN ({SQL_DELAY}) dh
      ON pd.route_id = dh.route_id AND pd.hour_ts = dh.hour_ts
    LEFT JOIN ({SQL_VEHICLE}) vh
      ON pd.route_id = vh.route_id AND pd.hour_ts = vh.hour_ts
    LEFT JOIN ({SQL_WEATHER}) wh
      ON pd.hour_ts = wh.hour_ts
"""

SQL_PREDICTION_BASELINE = f"""
    SELECT route_id, hour_ts, y_true, y_pred FROM (
      SELECT route_id, hour_ts,
             CAST(passengers AS DOUBLE) AS y_true,
             CAST(LAG(passengers) OVER (
               PARTITION BY route_id ORDER BY hour_ts
             ) AS DOUBLE) AS y_pred
      FROM ({SQL_DEMAND}) pd
    ) t WHERE y_pred IS NOT NULL
"""

SQL_KPI_HOURLY = f"""
    SELECT d.route_id,
           d.hour_ts,
           d.y_pred AS predicted_passengers,
           d.y_true AS observed_passengers,
           COALESCE(av.active_vehicles, 0)     AS active_vehicles,
           h.avg_headway_min,
           COALESCE(dl.trip_update_events, 0)  AS trip_update_events,
           COALESCE(dl.avg_delay_seconds, 0.0) AS avg_delay_seconds,
           EXTRACT(HOUR FROM d.hour_ts)::int   AS hour_of_day,
           ((EXTRACT(HOUR FROM d.hour_ts) BETWEEN 7 AND 9)
            OR (EXTRACT(HOUR FROM d.hour_ts) BETWEEN 16 AND 18))::int AS is_peak_hour
    FROM ({SQL_PREDICTION_BASELINE}) d
    LEFT JOIN ({SQL_ACTIVE}) av
      ON d.route_id = av.route_id AND d.hour_ts = av.hour_ts
    LEFT JOIN ({SQL_HEADWAY}) h
      ON d.route_id = h.route_id AND d.hour_ts = h.hour_ts
    LEFT JOIN ({SQL_DELAY}) dl
      ON d.route_id = dl.route_id AND d.hour_ts = dl.hour_ts
"""

SQL_PEAK_HOURS = f"""
    WITH kpi AS ({SQL_KPI_HOURLY}),
    latest AS (SELECT MAX(hour_ts) AS max_ts FROM kpi),
    win AS (
      SELECT * FROM kpi
      WHERE hour_ts >= (SELECT max_ts FROM latest) - INTERVAL '24 hours'
    )
    SELECT hour_of_day,
           count(*)::int AS n_routes,
           {sql_davg('predicted_passengers', 4)} AS avg_predicted_passengers,
           {sql_davg('observed_passengers', 4)}  AS avg_observed_passengers,
           floor(((sum((CASE WHEN active_vehicles > 0
                             THEN active_vehicles END)::DECIMAL(28,6)))::DOUBLE
                  / count(CASE WHEN active_vehicles > 0
                               THEN active_vehicles END)) * 10000.0 + 0.5)
             / 10000.0 AS avg_active_vehicles,
           {sql_davg('avg_headway_min', 4)} AS avg_headway_min,
           sum(CASE WHEN is_peak_hour = 1 THEN 1 ELSE 0 END)::int AS peak_routes
    FROM win
    GROUP BY hour_of_day
"""

ORACLES = {
    "ml_dataset_hourly": SQL_ML_DATASET,
    "prediction_baseline": SQL_PREDICTION_BASELINE,
    "kpi_hourly": SQL_KPI_HOURLY,
    "peak_hours_summary": SQL_PEAK_HOURS,
}
