"""Route-frequency suggestion engine and its export-family queries.

Parity targets:
- decide()/compute_headway rules
  /root/reference/src/optimization/generate_suggestions.py:25-207
  (tunables VEH_CAPACITY=60, TARGET_LOAD=0.75, LOW_LOAD=0.40,
  MIN/MAX_HEADWAY=3/30, DEFAULT_HEADWAY_MIN=12; priority score
  0.6*overload + 0.2*peak + 0.2*delay_norm; SAVE_ONLY_CHANGES drops
  'keep' rows)
- DISTINCT ON latest view   /root/reference/src/optimization/kpi_views.sql:136-148
- export payload/top-N/summary/needs_data
  /root/reference/src/optimization/export_suggestions_json.py:88-296

The reference evaluates these rules row-at-a-time in pandas on the
driver; here they are pure Column expressions, so the whole rule engine
runs inside whole-stage codegen with zero Python in the loop — the same
plan scales to any number of route-hours.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.portable import pround, sql_pround
from .kpi import SQL_KPI_HOURLY, kpi_hourly

VEH_CAPACITY = 60.0
TARGET_LOAD = 0.75
LOW_LOAD = 0.40
MAX_HEADWAY = 30.0
MIN_HEADWAY = 3.0
DEFAULT_HEADWAY_MIN = 12.0
CAP_TARGET = VEH_CAPACITY * TARGET_LOAD  # 45.0
CAP_LOW = VEH_CAPACITY * LOW_LOAD  # 24.0


def _clamp(c: Column, lo: float, hi: float) -> Column:
    return F.least(F.lit(hi), F.greatest(F.lit(lo), c))


def _suggestions_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All route-hours with the full rule evaluation (including 'keep')."""
    return _apply_rules(kpi_hourly(spark, sf_dir))


def _apply_rules(kpi: DataFrame) -> DataFrame:
    """The decide() rule cascade (reference
    src/optimization/generate_suggestions.py:106-203) as pure Column
    expressions over any frame with the kpi_hourly schema — no Python in
    the per-row path, so throughput scales with codegen, not rows."""
    hw_valid = F.col("avg_headway_min").isNotNull() & F.col(
        "avg_headway_min"
    ).between(0.5, 60.0)
    headway = (
        F.when(hw_valid, F.col("avg_headway_min"))
        .when(
            F.col("active_vehicles") > 0,
            _clamp(F.lit(60.0) / F.col("active_vehicles"), MIN_HEADWAY, MAX_HEADWAY),
        )
        .otherwise(F.lit(DEFAULT_HEADWAY_MIN))
    )

    df = kpi.withColumn("current_headway_min", headway)
    tphr = F.lit(60.0) / F.col("current_headway_min")
    df = df.withColumn("trips_per_hour_est", tphr)
    df = df.withColumn(
        "capacity_est", F.lit(VEH_CAPACITY) * F.col("trips_per_hour_est")
    )
    df = df.withColumn(
        "load_factor",
        F.when(
            F.col("capacity_est") > 0,
            F.col("predicted_passengers") / F.col("capacity_est"),
        ),
    )
    df = df.withColumn(
        "passengers_per_trip_est",
        F.when(
            F.col("trips_per_hour_est") > 0,
            F.col("predicted_passengers") / F.col("trips_per_hour_est"),
        ),
    )
    df = df.withColumn(
        "confidence",
        F.when(F.col("load_factor").isNull(), F.lit(0.70)).otherwise(
            _clamp(
                F.lit(1.0) - F.abs(F.col("load_factor") - 1.0) * 0.35,
                0.55,
                1.0,
            )
        ),
    )

    ppt = F.col("passengers_per_trip_est")
    pred = F.coalesce(F.col("predicted_passengers"), F.lit(0.0))
    hw = F.col("current_headway_min")
    conf = F.col("confidence")
    peak = F.col("is_peak_hour")

    action = (
        F.when(ppt.isNull(), F.lit("keep"))
        .when(ppt > CAP_TARGET, F.lit("increase_frequency"))
        .when((ppt < CAP_LOW) & (peak == 0), F.lit("decrease_frequency"))
        .otherwise(F.lit("keep"))
    )
    tphr_target = pred / F.lit(CAP_TARGET)
    raw_rec_inc = F.when(
        tphr_target > 0, F.lit(60.0) / tphr_target
    ).otherwise(hw * 0.85)
    raw_rec_dec = F.when(
        tphr_target > 0, F.lit(60.0) / tphr_target
    ).otherwise(hw * 1.15)
    rec = (
        F.when(ppt.isNull(), hw)
        .when(
            ppt > CAP_TARGET,
            _clamp(
                hw * (1.0 - 0.35 * conf)
                + _clamp(raw_rec_inc, MIN_HEADWAY, MAX_HEADWAY) * (0.35 * conf),
                MIN_HEADWAY,
                MAX_HEADWAY,
            ),
        )
        .when(
            (ppt < CAP_LOW) & (peak == 0),
            _clamp(
                hw * (1.0 - 0.30 * conf)
                + _clamp(raw_rec_dec, MIN_HEADWAY, MAX_HEADWAY) * (0.30 * conf),
                MIN_HEADWAY,
                MAX_HEADWAY,
            ),
        )
        .otherwise(hw)
    )
    over = F.when(ppt.isNull(), F.lit(0.0)).otherwise(
        _clamp((ppt - CAP_TARGET) / CAP_TARGET, 0.0, 1.0)
    )
    delay_norm = _clamp(
        F.coalesce(F.col("avg_delay_seconds"), F.lit(0.0)) / 600.0, 0.0, 1.0
    )
    score = _clamp(
        0.60 * over + 0.20 * peak + 0.20 * delay_norm, 0.0, 1.0
    )

    # Reason-payload fields (generate_suggestions.py:128-185): the rule
    # string plus the rule-conditional targets. Only the JSON exporter
    # reads these; the registry keys project them away.
    rule = (
        F.when(ppt.isNull(), F.lit("missing trip estimate"))
        .when(ppt > CAP_TARGET, F.lit("ppt > cap_target"))
        .when(
            (ppt < CAP_LOW) & (peak == 0),
            F.lit("ppt < cap_low and off-peak"),
        )
        .otherwise(F.lit("within normal range"))
    )
    acted = ~ppt.isNull() & (
        (ppt > CAP_TARGET) | ((ppt < CAP_LOW) & (peak == 0))
    )
    raw_rec = F.when(
        ppt > CAP_TARGET, _clamp(raw_rec_inc, MIN_HEADWAY, MAX_HEADWAY)
    ).when(
        (ppt < CAP_LOW) & (peak == 0),
        _clamp(raw_rec_dec, MIN_HEADWAY, MAX_HEADWAY),
    )

    return df.select(
        "route_id",
        "hour_ts",
        action.alias("action"),
        pround("current_headway_min").alias("current_headway_min"),
        pround(rec).alias("recommended_headway_min"),
        pround(score).alias("priority_score"),
        pround(conf).alias("confidence"),
        "is_peak_hour",
        "active_vehicles",
        "avg_headway_min",
        # --- reason fields (export payload only) ---
        rule.alias("rule"),
        "predicted_passengers",
        "observed_passengers",
        "avg_delay_seconds",
        F.col("trips_per_hour_est"),
        F.col("capacity_est").alias("capacity_est_per_hour"),
        F.col("load_factor").alias("load_factor_per_hour"),
        "passengers_per_trip_est",
        F.when(acted, tphr_target).alias("trips_per_hour_target"),
        raw_rec.alias("raw_recommended_headway_min"),
    )


def suggestions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAVE_ONLY_CHANGES: only route-hours whose action is not 'keep'."""
    return _suggestions_full(spark, sf_dir).filter(
        F.col("action") != "keep"
    ).select(
        "route_id",
        "hour_ts",
        "action",
        "current_headway_min",
        "recommended_headway_min",
        "priority_score",
        "confidence",
    )


def suggestions_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest suggestion per route (DISTINCT ON semantics via row_number)."""
    s = suggestions(spark, sf_dir)
    w = Window.partitionBy("route_id").orderBy(F.desc("hour_ts"))
    return (
        s.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def top_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 20 suggestions by priority score (export_suggestions top-N)."""
    return suggestions(spark, sf_dir).orderBy(
        F.desc("priority_score"), F.asc("route_id"), F.asc("hour_ts")
    ).limit(20)


def summary_actions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Action counts over the latest hour, 'needs_data' when no suggestion."""
    rows = route_export_rows(spark, sf_dir)
    return rows.groupBy("action").agg(F.count(F.lit(1)).alias("n"))


def route_export_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-hour payload WITH the reason fields — the flat relation
    the JSON exporter (plans/exports.py) nests into the reference's
    ``route_suggestions_latest.json`` item shape
    (export_suggestions_json.py:88-146 SQL_LATEST_ROWS + the stored
    ``reasons`` JSONB from generate_suggestions.py:128-185). All rule
    math runs here, in codegen; the exporter only arranges the
    routes-sized collected result into nested dicts."""
    kpi = kpi_hourly(spark, sf_dir)
    latest = kpi.agg(F.max("hour_ts").alias("max_ts"))
    k = kpi.join(F.broadcast(latest)).filter(
        F.col("hour_ts") == F.col("max_ts")
    )
    # filter the suggestion relation to the latest hour BEFORE the
    # broadcast — unfiltered it is routes×hours-sized, and every
    # non-latest row would ship to all executors just to be dropped
    # by the join (round-8 review)
    s = (
        _suggestions_full(spark, sf_dir)
        .join(F.broadcast(latest))
        .filter(
            (F.col("hour_ts") == F.col("max_ts"))
            & (F.col("action") != "keep")
        )
        .drop("max_ts")
    ).select(
        "route_id",
        "hour_ts",
        F.col("action").alias("s_action"),
        F.col("current_headway_min").alias("s_cur_hw"),
        F.col("recommended_headway_min").alias("s_rec_hw"),
        F.col("priority_score").alias("s_score"),
        F.col("confidence").alias("s_confidence"),
        F.col("rule").alias("s_rule"),
        F.col("trips_per_hour_est").alias("s_tphr"),
        F.col("capacity_est_per_hour").alias("s_cap_est"),
        F.col("load_factor_per_hour").alias("s_load_factor"),
        F.col("passengers_per_trip_est").alias("s_ppt"),
        F.col("trips_per_hour_target").alias("s_tphr_target"),
        F.col("raw_recommended_headway_min").alias("s_raw_rec"),
    )
    return k.join(F.broadcast(s), ["route_id", "hour_ts"], "left").select(
        "route_id",
        "hour_ts",
        "predicted_passengers",
        "observed_passengers",
        "active_vehicles",
        "avg_headway_min",
        "avg_delay_seconds",
        "is_peak_hour",
        F.coalesce("s_action", F.lit("needs_data")).alias("action"),
        F.col("s_cur_hw").alias("current_headway_min"),
        F.col("s_rec_hw").alias("recommended_headway_min"),
        F.coalesce("s_score", F.lit(0.0)).alias("priority_score"),
        F.col("s_confidence").alias("confidence"),
        F.col("s_rule").alias("rule"),
        F.col("s_tphr").alias("trips_per_hour_est"),
        F.col("s_cap_est").alias("capacity_est_per_hour"),
        F.col("s_load_factor").alias("load_factor_per_hour"),
        F.col("s_ppt").alias("passengers_per_trip_est"),
        F.col("s_tphr_target").alias("trips_per_hour_target"),
        F.col("s_raw_rec").alias("raw_recommended_headway_min"),
    )


def needs_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Status/message classification of the latest-hour payload
    (compute_status/compute_message in export_suggestions_json.py:149-168)
    plus headway deltas (build_route_rows:218-225)."""
    rows = route_export_rows(spark, sf_dir)
    has_veh = F.col("active_vehicles") > 0
    has_hw = F.col("avg_headway_min").isNotNull()
    status = (
        F.when(has_veh & has_hw, F.lit("ok"))
        .when(~has_veh & ~has_hw, F.lit("missing_both"))
        .when(~has_veh, F.lit("missing_vehicles"))
        .otherwise(F.lit("missing_headway"))
    )
    message = (
        F.when(
            (status != "ok") & (F.col("action") == "needs_data"),
            F.lit("Needs data (no vehicles/headway for this route-hour)"),
        )
        .when(
            F.col("action") == "increase_frequency",
            F.lit("Increase frequency (over capacity target)"),
        )
        .when(
            F.col("action") == "decrease_frequency",
            F.lit("Decrease frequency (under-utilized, off-peak)"),
        )
        .otherwise(F.lit("Keep current frequency"))
    )
    delta = F.when(
        F.col("current_headway_min").isNotNull()
        & F.col("recommended_headway_min").isNotNull()
        & (F.col("current_headway_min") > 0),
        F.col("recommended_headway_min") - F.col("current_headway_min"),
    )
    delta_pct = F.when(
        F.col("current_headway_min").isNotNull()
        & F.col("recommended_headway_min").isNotNull()
        & (F.col("current_headway_min") > 0),
        (F.col("recommended_headway_min") / F.col("current_headway_min") - 1.0)
        * 100.0,
    )
    return rows.select(
        "route_id",
        "hour_ts",
        "action",
        status.alias("status"),
        message.alias("message"),
        pround(delta).alias("delta_headway_min"),
        pround(delta_pct).alias("delta_headway_pct"),
        "priority_score",
    )


QUERIES = {
    "suggestions": suggestions,
    "suggestions_latest": suggestions_latest,
    "top_priority": top_priority,
    "summary_actions": summary_actions,
    "needs_data": needs_data,
}

# Rule expressions once, as SQL text, shared by all suggestion oracles.
_SQL_FULL = f"""
    WITH kpi AS ({SQL_KPI_HOURLY}),
    hw AS (
      SELECT *,
        CASE
          WHEN avg_headway_min IS NOT NULL
               AND avg_headway_min BETWEEN 0.5 AND 60.0 THEN avg_headway_min
          WHEN active_vehicles > 0
               THEN least(30.0, greatest(3.0, 60.0 / active_vehicles))
          ELSE 12.0
        END AS current_headway_min
      FROM kpi
    ),
    feat AS (
      SELECT *,
        60.0 / current_headway_min AS trips_per_hour_est,
        60.0 * (60.0 / current_headway_min) AS capacity_est,
        CASE WHEN 60.0 * (60.0 / current_headway_min) > 0
             THEN predicted_passengers / (60.0 * (60.0 / current_headway_min))
        END AS load_factor,
        CASE WHEN (60.0 / current_headway_min) > 0
             THEN predicted_passengers / (60.0 / current_headway_min)
        END AS passengers_per_trip_est
      FROM hw
    ),
    conf AS (
      SELECT *,
        CASE WHEN load_factor IS NULL THEN 0.70
             ELSE least(1.0, greatest(0.55, 1.0 - abs(load_factor - 1.0) * 0.35))
        END AS confidence
      FROM feat
    ),
    decided AS (
      SELECT *,
        CASE
          WHEN passengers_per_trip_est IS NULL THEN 'keep'
          WHEN passengers_per_trip_est > 45.0 THEN 'increase_frequency'
          WHEN passengers_per_trip_est < 24.0 AND is_peak_hour = 0
               THEN 'decrease_frequency'
          ELSE 'keep'
        END AS action,
        CASE
          WHEN passengers_per_trip_est IS NULL THEN current_headway_min
          WHEN passengers_per_trip_est > 45.0 THEN
            least(30.0, greatest(3.0,
              current_headway_min * (1.0 - 0.35 * confidence)
              + least(30.0, greatest(3.0,
                  CASE WHEN coalesce(predicted_passengers, 0.0) / 45.0 > 0
                       THEN 60.0 / (coalesce(predicted_passengers, 0.0) / 45.0)
                       ELSE current_headway_min * 0.85 END
                )) * (0.35 * confidence)))
          WHEN passengers_per_trip_est < 24.0 AND is_peak_hour = 0 THEN
            least(30.0, greatest(3.0,
              current_headway_min * (1.0 - 0.30 * confidence)
              + least(30.0, greatest(3.0,
                  CASE WHEN coalesce(predicted_passengers, 0.0) / 45.0 > 0
                       THEN 60.0 / (coalesce(predicted_passengers, 0.0) / 45.0)
                       ELSE current_headway_min * 1.15 END
                )) * (0.30 * confidence)))
          ELSE current_headway_min
        END AS recommended_headway_min,
        least(1.0, greatest(0.0,
          0.60 * (CASE WHEN passengers_per_trip_est IS NULL THEN 0.0
                       ELSE least(1.0, greatest(0.0,
                            (passengers_per_trip_est - 45.0) / 45.0)) END)
          + 0.20 * is_peak_hour
          + 0.20 * least(1.0, greatest(0.0,
                     coalesce(avg_delay_seconds, 0.0) / 600.0))
        )) AS priority_score
      FROM conf
    )
    SELECT route_id, hour_ts, action,
           {sql_pround('current_headway_min')}     AS current_headway_min,
           {sql_pround('recommended_headway_min')} AS recommended_headway_min,
           {sql_pround('priority_score')}          AS priority_score,
           {sql_pround('confidence')}              AS confidence
    FROM decided
"""

SQL_SUGGESTIONS = f"""
    SELECT * FROM ({_SQL_FULL}) s WHERE action <> 'keep'
"""

_SQL_ROUTE_ROWS_LATEST = f"""
    WITH kpi AS ({SQL_KPI_HOURLY}),
    latest AS (SELECT max(hour_ts) AS max_ts FROM kpi),
    s AS ({SQL_SUGGESTIONS})
    SELECT k.route_id, k.hour_ts,
           k.predicted_passengers, k.observed_passengers,
           k.active_vehicles, k.avg_headway_min, k.is_peak_hour,
           coalesce(s.action, 'needs_data') AS action,
           s.current_headway_min,
           s.recommended_headway_min,
           coalesce(s.priority_score, 0.0) AS priority_score
    FROM kpi k
    JOIN latest l ON k.hour_ts = l.max_ts
    LEFT JOIN s ON s.route_id = k.route_id AND s.hour_ts = k.hour_ts
"""

ORACLES = {
    "suggestions": SQL_SUGGESTIONS,
    "suggestions_latest": f"""
        SELECT route_id, hour_ts, action, current_headway_min,
               recommended_headway_min, priority_score, confidence
        FROM (
          SELECT *, row_number() OVER (
            PARTITION BY route_id ORDER BY hour_ts DESC
          ) AS rn
          FROM ({SQL_SUGGESTIONS}) s
        ) t WHERE rn = 1
    """,
    "top_priority": f"""
        SELECT * FROM ({SQL_SUGGESTIONS}) s
        ORDER BY priority_score DESC, route_id, hour_ts
        LIMIT 20
    """,
    "summary_actions": f"""
        SELECT action, count(*) AS n
        FROM ({_SQL_ROUTE_ROWS_LATEST}) r
        GROUP BY action
    """,
    "needs_data": f"""
        SELECT route_id, hour_ts, action,
          CASE
            WHEN active_vehicles > 0 AND avg_headway_min IS NOT NULL THEN 'ok'
            WHEN NOT (active_vehicles > 0) AND avg_headway_min IS NULL
                 THEN 'missing_both'
            WHEN NOT (active_vehicles > 0) THEN 'missing_vehicles'
            ELSE 'missing_headway'
          END AS status,
          CASE
            WHEN NOT (active_vehicles > 0 AND avg_headway_min IS NOT NULL)
                 AND action = 'needs_data'
                 THEN 'Needs data (no vehicles/headway for this route-hour)'
            WHEN action = 'increase_frequency'
                 THEN 'Increase frequency (over capacity target)'
            WHEN action = 'decrease_frequency'
                 THEN 'Decrease frequency (under-utilized, off-peak)'
            ELSE 'Keep current frequency'
          END AS message,
          {sql_pround('''CASE WHEN current_headway_min IS NOT NULL
                      AND recommended_headway_min IS NOT NULL
                      AND current_headway_min > 0
                     THEN recommended_headway_min - current_headway_min
                END''')} AS delta_headway_min,
          {sql_pround('''CASE WHEN current_headway_min IS NOT NULL
                      AND recommended_headway_min IS NOT NULL
                      AND current_headway_min > 0
                     THEN (recommended_headway_min / current_headway_min - 1.0)
                          * 100.0
                END''')} AS delta_headway_pct,
          priority_score
        FROM ({_SQL_ROUTE_ROWS_LATEST}) r
    """,
}


def suggestion_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operational thrash metric on the suggestion engine: per route,
    how often the recommended action FLIPS between consecutive hours
    (flips / transitions) and the share of hours spent in each action.
    A route whose suggestion oscillates hour-to-hour needs hysteresis
    before an operator will trust it — this is the number that decision
    gets made on.

    Scale: one lag window + one aggregate over the (route x hour)
    suggestions relation — rollup-sized, the fact table is only
    scanned by the underlying KPI tier."""
    s = suggestions(spark, sf_dir).select(
        "route_id", "hour_ts", "action"
    )
    w = Window.partitionBy("route_id").orderBy("hour_ts")
    flagged = s.select(
        "route_id",
        "action",
        F.when(
            F.lag("action").over(w).isNotNull()
            & (F.col("action") != F.lag("action").over(w)),
            1,
        )
        .otherwise(0)
        .alias("flip"),
        F.when(F.lag("action").over(w).isNotNull(), 1)
        .otherwise(0)
        .alias("trans"),
    )
    return (
        flagged.groupBy("route_id")
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.sum("flip").alias("n_flips"),
            F.sum(
                F.when(F.col("action") == "increase_frequency", 1)
                .otherwise(0)
            ).alias("n_increase"),
            F.sum(
                F.when(F.col("action") == "decrease_frequency", 1)
                .otherwise(0)
            ).alias("n_decrease"),
            pround(
                F.sum("flip")
                / F.nullif(F.sum("trans"), F.lit(0)),
                6,
            ).alias("flip_rate"),
        )
        .orderBy("route_id")
    )


QUERIES["suggestion_stability"] = suggestion_stability

ORACLES["suggestion_stability"] = f"""
    WITH s AS ({SQL_SUGGESTIONS}),
    flagged AS (
      SELECT route_id, action,
             CASE WHEN lag(action) OVER (
                    PARTITION BY route_id ORDER BY hour_ts
                  ) IS NOT NULL
                   AND action != lag(action) OVER (
                     PARTITION BY route_id ORDER BY hour_ts
                   ) THEN 1 ELSE 0 END AS flip,
             CASE WHEN lag(action) OVER (
                    PARTITION BY route_id ORDER BY hour_ts
                  ) IS NOT NULL THEN 1 ELSE 0 END AS trans
      FROM s
    )
    SELECT route_id,
           count(*) AS n_hours,
           CAST(sum(flip) AS BIGINT) AS n_flips,
           CAST(sum(CASE WHEN action = 'increase_frequency'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_increase,
           CAST(sum(CASE WHEN action = 'decrease_frequency'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_decrease,
           {sql_pround(
               'sum(flip)::DOUBLE / nullif(sum(trans), 0)', 6)}
             AS flip_rate
    FROM flagged
    GROUP BY route_id
    ORDER BY route_id
"""
