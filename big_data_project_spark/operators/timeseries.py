"""Time-series operators over the realtime feed: bounded as-of join,
rolling-window aggregates, per-group top-k.

The reference correlates feeds by hour-bucket equality (its ml dataset
joins weather_hourly ON the truncated hour — init-postgis.sql:222-246);
an as-of join is the general form a training pipeline needs when the
right side is irregular. Spark has no ASOF JOIN operator, so it is
composed from bounded bucket candidates (SURVEY §2's "custom operator as
a composition of existing DataFrame ops"); DuckDB *does* have ASOF JOIN,
and the oracle uses it — the two formulations agreeing IS the test.

Scale: the naive as-of (global sort or per-key union+carry-forward)
would shuffle the entire fact; the bounded form explodes each event to
ASOF_LOOKBACK_H candidate hour keys (map-side), equi-joins the
broadcast hourly dimension, and reduces with one max per event — no
global ordering anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.portable import davg, pround, sql_davg, sql_pround
from .hourly import (
    SQL_DELAY,
    SQL_DEMAND,
    SQL_WEATHER,
    delay_hourly,
    demand_hourly,
    weather_hourly,
)

ASOF_LOOKBACK_H = 3
ROLLING_HOURS = 3
TOP_STOPS_K = 3
P90 = 0.9


def asof_join_weather(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest weather observation at-or-before each event, per event.

    Lookback bound: strictly less than ASOF_LOOKBACK_H hours — the
    candidate hour keys are trunc(ts) - {0..H-1}h, so an observation
    exactly H hours old is out of reach, and the oracle's post-filter
    uses `<` to encode the same bound."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", F.col("event_type").alias("route_id")
    )
    wh = weather_hourly(spark, sf_dir)
    offsets = F.sequence(F.lit(0), F.lit(ASOF_LOOKBACK_H - 1))
    cand = ev.select(
        "event_id", "ts", "route_id", F.explode(offsets).alias("off")
    ).select(
        "event_id",
        "ts",
        "route_id",
        (
            F.date_trunc("hour", F.col("ts"))
            - F.make_interval(hours=F.col("off"))
        ).alias("hour_key"),
    )
    joined = cand.join(
        F.broadcast(wh), cand.hour_key == wh.hour_ts
    ).filter(F.col("hour_ts") <= F.col("ts"))
    w = Window.partitionBy("event_id").orderBy(F.desc("hour_ts"))
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_id",
            "ts",
            "route_id",
            F.col("hour_ts").alias("weather_ts"),
            "temperature_c",
            "precipitation_mm",
        )
    )


def demand_rolling_3h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 3-hour demand per route (ROWS frame over the hourly
    rollup — the frame is tiny and already aggregated, so the window
    shuffles routes x hours rows only)."""
    d = demand_hourly(spark, sf_dir)
    w = (
        Window.partitionBy("route_id")
        .orderBy("hour_ts")
        .rowsBetween(-(ROLLING_HOURS - 1), Window.currentRow)
    )
    return d.select(
        "route_id",
        "hour_ts",
        "passengers",
        pround(
            F.sum(F.col("passengers").cast("decimal(28,6)"))
            .over(w)
            .cast("double"),
            2,
        ).alias("rolling_3h_passengers"),
        F.count(F.lit(1)).over(w).alias("rolling_n"),
    )


def top_stops_per_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K busiest stops per route by event count (per-group top-k:
    aggregate then rank inside each group; ties broken by stop id)."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy(
        F.col("event_type").alias("route_id"),
        F.col("user_id").alias("stop_id"),
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy("route_id").orderBy(
        F.desc("n_events"), F.asc("stop_id")
    )
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_STOPS_K)
    )


def delay_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style gap fill: the full (route x hour) spine from the
    feed's global hour bounds, missing route-hours filled with a zero
    count and flagged.

    The spine is routes x explode(sequence(min_hour, max_hour)) — a
    map-side explode of a broadcast 1-row bounds aggregate; the fill is
    a left join at (route, hour) grain. Cost is spine-sized (tiny), the
    raw feed is only scanned by the hourly rollup itself.
    """
    d = delay_hourly(spark, sf_dir)
    bounds = d.agg(
        F.min("hour_ts").alias("h0"), F.max("hour_ts").alias("h1")
    )
    routes = d.select("route_id").distinct()
    spine = routes.crossJoin(F.broadcast(bounds)).select(
        "route_id",
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour_ts"),
    )
    return spine.join(d, ["route_id", "hour_ts"], "left").select(
        "route_id",
        "hour_ts",
        F.coalesce("trip_update_events", F.lit(0)).alias("n_events"),
        "avg_delay_seconds",
        F.col("trip_update_events").isNull().cast("int").alias("gap_filled"),
    )


def delay_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill over the gap-filled spine: each missing route-hour
    carries the last observed avg delay (cumulative last-non-null
    window; hours before a route's first observation stay NULL)."""
    filled = delay_gap_fill(spark, sf_dir)
    w = (
        Window.partitionBy("route_id")
        .orderBy("hour_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return filled.select(
        "route_id",
        "hour_ts",
        "gap_filled",
        F.last("avg_delay_seconds", ignorenulls=True)
        .over(w)
        .alias("avg_delay_ffill"),
    )


def route_delay_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-route median + p90 of the delay metric, computed from
    rank arithmetic (row_number + conditional agg) instead of an engine
    quantile function — both engines run the identical integer ranks and
    the identical (lo+hi)/2 double op, so the result hash-matches where
    native percentile_cont/quantile_cont interpolation could differ in
    the last ulp.

    Scale: one sort per route partition — the exact-quantile cost by
    nature. The streaming-friendly scale path is the GK sketch
    (operators/sketches.py::delay_quantile_sketch); this operator is the
    exact reference for it.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    wr = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = ev.select(
        F.col("event_type").alias("route_id"),
        F.col("value"),
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    lo_rank = F.expr("(n + 1) div 2")
    hi_rank = F.expr("(n + 2) div 2")
    # ceil(9n/10) in pure integer arithmetic. (The float form
    # ceil(0.9 * n) happens to agree for every feasible n — fl(0.9)'s
    # relative error is under half an ulp, so the product rounds back
    # exactly — but the integer form needs no such analysis.)
    p90_rank = F.expr("(9 * n + 9) div 10")
    return (
        ranked.groupBy("route_id")
        .agg(
            F.max(F.when(F.col("rn") == lo_rank, F.col("value"))).alias("lo"),
            F.max(F.when(F.col("rn") == hi_rank, F.col("value"))).alias("hi"),
            F.max(F.when(F.col("rn") == p90_rank, F.col("value"))).alias(
                "p90"
            ),
            F.max("n").alias("n_values"),
        )
        .select(
            "route_id",
            pround((F.col("lo") + F.col("hi")) / 2, 4).alias("median_value"),
            pround("p90", 4).alias("p90_value"),
            "n_values",
        )
    )


ANOMALY_Z = 2.0
ANOMALY_MIN_HOURS = 5
_VAR_FLOOR = 1e-12


def route_delay_stats(hourly_delay: DataFrame) -> DataFrame:
    """Per-route (n_hours, sum x, sum x²) over the hourly delay rollup —
    the decimal-exact sufficient statistics the z-score derives from.
    Shared by the batch operator below and the streaming twin
    (streaming/pipeline.py::stream_delay_anomaly uses the BATCH stats
    as the stream-static reference model, the reference's live-alerting
    shape)."""
    x = F.col("avg_delay_seconds")
    return (
        hourly_delay.filter(x.isNotNull())
        .groupBy("route_id")
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.sum(x.cast("decimal(28,6)")).cast("double").alias("sx"),
            F.sum((x * x).cast("decimal(28,6)")).cast("double").alias("sxx"),
        )
    )


def apply_delay_anomaly(d: DataFrame, stats: DataFrame) -> DataFrame:
    """Join the (route-sized, broadcast) stats back onto the hourly
    rollup and keep the |z| >= ANOMALY_Z hours. Works identically on a
    batch rollup and a streaming one (no batch-only expressions)."""
    x = F.col("avg_delay_seconds")
    mean = F.col("sx") / F.col("n_hours")
    var = F.col("sxx") / F.col("n_hours") - mean * mean
    # greatest() floor: rows with var <= _VAR_FLOOR are filtered out
    # anyway, but sqrt must never see a numerically-negative variance
    # (DuckDB's sqrt raises on negatives; projections may evaluate
    # before the filter prunes)
    z = pround((x - mean) / F.sqrt(F.greatest(var, F.lit(_VAR_FLOOR))), 4)
    return (
        d.filter(x.isNotNull())
        .join(F.broadcast(stats), "route_id")
        .filter(
            (F.col("n_hours") >= ANOMALY_MIN_HOURS) & (var > _VAR_FLOOR)
        )
        .select(
            "route_id",
            "hour_ts",
            "avg_delay_seconds",
            pround(mean, 4).alias("route_mean_delay"),
            z.alias("z_score"),
        )
        .filter(F.abs(F.col("z_score")) >= ANOMALY_Z)
    )


def delay_anomaly_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-route anomalous hours: z-score of the hourly average delay
    against the route's own mean/std, keeping |z| >= ANOMALY_Z — the
    alerting precursor (which hours deviate from this route's norm,
    rather than crossing a global threshold like service_alerts).

    Determinism: mean and variance come from decimal-exact folds
    (sum x, sum x² as DECIMAL(28,6)), so they are order-independent;
    z is rounded before the threshold so the boundary is engine-
    portable. Routes need ANOMALY_MIN_HOURS observed hours and
    variance above a floor for a meaningful score.

    Scale: one (route, hour) rollup shuffle (shared shape with
    delay_hourly), one route-sized stats aggregate broadcast back —
    the fact table is never joined to itself."""
    d = delay_hourly(spark, sf_dir)
    return apply_delay_anomaly(d, route_delay_stats(d)).orderBy(
        "route_id", "hour_ts"
    )


def delay_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonal decomposition of per-route delay: for each
    (route, hour-of-day) the seasonal mean over the hourly rollup, the
    route's overall mean, and the seasonal index (their difference) —
    the additive-seasonality profile an anomaly detector subtracts
    before z-scoring (delay_anomaly_hours treats all hours as one
    population; this is its seasonal refinement).

    Scale: ONE consumption of the (route x hour)-sized rollup — the
    bucket aggregate keeps its decimal partial sums, so the route mean
    re-derives from the (route x 24)-sized bucket relation instead of
    a second pass over the rollup (and a second events scan). The
    route-mean relation is route-sized and broadcast. Decimal-exact
    folds keep the means engine-portable."""
    x = F.col("avg_delay_seconds")
    base = delay_hourly(spark, sf_dir).filter(x.isNotNull())
    buckets = base.groupBy(
        "route_id", F.hour("hour_ts").alias("hour_of_day")
    ).agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum(x.cast("decimal(28,6)")).alias("sx"),
    )
    wroute = Window.partitionBy("route_id")
    return (
        buckets.withColumn(
            "seasonal_mean",
            pround(F.col("sx").cast("double") / F.col("n_hours"), 6),
        )
        .withColumn(
            "route_mean",
            pround(
                F.sum("sx").over(wroute).cast("double")
                / F.sum("n_hours").over(wroute),
                6,
            ),
        )
        .withColumn(
            "seasonal_index",
            pround(F.col("seasonal_mean") - F.col("route_mean"), 6),
        )
        .select(
            "route_id", "hour_of_day", "n_hours", "seasonal_mean",
            "route_mean", "seasonal_index",
        )
        .orderBy("route_id", "hour_of_day")
    )


QUERIES = {
    "asof_join_weather": asof_join_weather,
    "delay_anomaly_hours": delay_anomaly_hours,
    "delay_seasonal_profile": delay_seasonal_profile,
    "demand_rolling_3h": demand_rolling_3h,
    "top_stops_per_route": top_stops_per_route,
    "delay_gap_fill": delay_gap_fill,
    "delay_ffill": delay_ffill,
    "route_delay_quantiles": route_delay_quantiles,
}

ORACLES = {
    "delay_seasonal_profile": f"""
        WITH d AS (
          SELECT * FROM ({SQL_DELAY}) t WHERE avg_delay_seconds IS NOT NULL
        ),
        seas AS (
          SELECT route_id, hour(hour_ts) AS hour_of_day,
                 count(*) AS n_hours,
                 {sql_davg('avg_delay_seconds', 6)} AS seasonal_mean
          FROM d GROUP BY route_id, hour(hour_ts)
        ),
        rm AS (
          SELECT route_id,
                 {sql_davg('avg_delay_seconds', 6)} AS route_mean
          FROM d GROUP BY route_id
        )
        SELECT s.route_id, s.hour_of_day, s.n_hours, s.seasonal_mean,
               rm.route_mean,
               {sql_pround('s.seasonal_mean - rm.route_mean', 6)}
                 AS seasonal_index
        FROM seas s JOIN rm ON s.route_id = rm.route_id
        ORDER BY s.route_id, s.hour_of_day
    """,
    "delay_anomaly_hours": f"""
        WITH d AS (
          SELECT * FROM ({SQL_DELAY}) t WHERE avg_delay_seconds IS NOT NULL
        ),
        s AS (
          SELECT route_id, count(*) AS n_hours,
                 (sum((avg_delay_seconds)::DECIMAL(28,6)))::DOUBLE AS sx,
                 (sum((avg_delay_seconds * avg_delay_seconds)
                      ::DECIMAL(28,6)))::DOUBLE AS sxx
          FROM d GROUP BY route_id
        )
        SELECT route_id, hour_ts, avg_delay_seconds,
               route_mean_delay, z_score
        FROM (
          SELECT d.route_id, hour_ts, avg_delay_seconds, n_hours,
                 sxx / n_hours - (sx / n_hours) * (sx / n_hours) AS var,
                 {sql_pround('sx / n_hours', 4)} AS route_mean_delay,
                 {sql_pround(
                     '(avg_delay_seconds - sx / n_hours) '
                     f'/ sqrt(greatest(sxx / n_hours '
                     f'- (sx / n_hours) * (sx / n_hours), {_VAR_FLOOR}))',
                     4)} AS z_score
          FROM d JOIN s USING (route_id)
        ) x
        WHERE n_hours >= {ANOMALY_MIN_HOURS} AND var > {_VAR_FLOOR}
          AND abs(z_score) >= {ANOMALY_Z}
        ORDER BY route_id, hour_ts
    """,
    # DuckDB's native ASOF JOIN is the oracle for the composed Spark
    # form; the lookback bound is applied as a post-filter on both sides
    # of the contract.
    "asof_join_weather": f"""
        WITH wh AS ({SQL_WEATHER})
        SELECT e.event_id, e.ts, e.event_type AS route_id,
               wh.hour_ts AS weather_ts,
               wh.temperature_c, wh.precipitation_mm
        FROM events e
        ASOF JOIN wh ON e.ts >= wh.hour_ts
        WHERE e.ts - wh.hour_ts < INTERVAL {ASOF_LOOKBACK_H} HOURS
    """,
    "demand_rolling_3h": f"""
        WITH d AS ({SQL_DEMAND})
        SELECT route_id, hour_ts, passengers,
               {sql_pround(
                   "(sum((passengers)::DECIMAL(28,6)) OVER w)::DOUBLE", 2)}
                 AS rolling_3h_passengers,
               count(*) OVER w AS rolling_n
        FROM d
        WINDOW w AS (PARTITION BY route_id ORDER BY hour_ts
                     ROWS BETWEEN {ROLLING_HOURS - 1} PRECEDING
                          AND CURRENT ROW)
    """,
    "top_stops_per_route": f"""
        SELECT route_id, stop_id, n_events, rnk
        FROM (
          SELECT route_id, stop_id, n_events,
                 row_number() OVER (
                   PARTITION BY route_id
                   ORDER BY n_events DESC, stop_id ASC
                 ) AS rnk
          FROM (
            SELECT event_type AS route_id, user_id AS stop_id,
                   count(*) AS n_events
            FROM events
            GROUP BY event_type, user_id
          ) c
        ) r
        WHERE rnk <= {TOP_STOPS_K}
    """,
    "delay_gap_fill": f"""
        WITH d AS ({SQL_DELAY}),
        bounds AS (SELECT min(hour_ts) AS h0, max(hour_ts) AS h1 FROM d),
        spine AS (
          SELECT r.route_id,
                 unnest(generate_series(b.h0, b.h1, INTERVAL 1 HOUR))
                   AS hour_ts
          FROM (SELECT DISTINCT route_id FROM d) r, bounds b
        )
        SELECT s.route_id, s.hour_ts,
               coalesce(d.trip_update_events, 0) AS n_events,
               d.avg_delay_seconds,
               (d.trip_update_events IS NULL)::int AS gap_filled
        FROM spine s
        LEFT JOIN d ON d.route_id = s.route_id AND d.hour_ts = s.hour_ts
    """,
    "delay_ffill": f"""
        WITH d AS ({SQL_DELAY}),
        bounds AS (SELECT min(hour_ts) AS h0, max(hour_ts) AS h1 FROM d),
        spine AS (
          SELECT r.route_id,
                 unnest(generate_series(b.h0, b.h1, INTERVAL 1 HOUR))
                   AS hour_ts
          FROM (SELECT DISTINCT route_id FROM d) r, bounds b
        ),
        filled AS (
          SELECT s.route_id, s.hour_ts,
                 d.avg_delay_seconds,
                 (d.trip_update_events IS NULL)::int AS gap_filled
          FROM spine s
          LEFT JOIN d ON d.route_id = s.route_id AND d.hour_ts = s.hour_ts
        )
        SELECT route_id, hour_ts, gap_filled,
               last_value(avg_delay_seconds IGNORE NULLS) OVER (
                 PARTITION BY route_id ORDER BY hour_ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS avg_delay_ffill
        FROM filled
    """,
    "route_delay_quantiles": f"""
        WITH ranked AS (
          SELECT event_type AS route_id, value,
                 row_number() OVER (
                   PARTITION BY event_type ORDER BY value, event_id
                 ) AS rn,
                 count(*) OVER (PARTITION BY event_type) AS n
          FROM events
          WHERE value IS NOT NULL AND event_type IS NOT NULL
        )
        SELECT route_id,
               {sql_pround("(lo + hi) / 2", 4)} AS median_value,
               {sql_pround("p90", 4)} AS p90_value,
               n_values
        FROM (
          SELECT route_id,
                 max(CASE WHEN rn = (n + 1) // 2 THEN value END) AS lo,
                 max(CASE WHEN rn = (n + 2) // 2 THEN value END) AS hi,
                 max(CASE WHEN rn = (9 * n + 9) // 10
                          THEN value END) AS p90,
                 max(n) AS n_values
          FROM ranked
          GROUP BY route_id
        ) q
    """,
}


def route_service_availability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Service-availability SLA per route: the fraction of hours in the
    route's observed span (first to last active hour, inclusive) that
    actually have events — the scalar summary of delay_gap_fill's
    missing-hour flags that an operations dashboard tracks over time.

    Scale: one aggregate over the shared (route x hour) rollup; the
    span arithmetic is integer hour math (exact epoch-hour division,
    both engines)."""
    d = delay_hourly(spark, sf_dir)
    hour_idx = (F.unix_micros("hour_ts") / F.lit(3_600_000_000)).cast(
        "long"
    )
    agg = d.groupBy("route_id").agg(
        F.count(F.lit(1)).alias("observed_hours"),
        F.min(hour_idx).alias("h0"),
        F.max(hour_idx).alias("h1"),
    )
    span = F.col("h1") - F.col("h0") + 1
    return agg.select(
        "route_id",
        "observed_hours",
        span.alias("span_hours"),
        (span - F.col("observed_hours")).alias("missing_hours"),
        pround(F.col("observed_hours") / span, 6).alias("availability"),
    ).orderBy("route_id")


QUERIES["route_service_availability"] = route_service_availability

ORACLES["route_service_availability"] = f"""
    WITH d AS ({SQL_DELAY}),
    a AS (
      SELECT route_id, count(*) AS observed_hours,
             min(epoch_us(hour_ts) // 3600000000) AS h0,
             max(epoch_us(hour_ts) // 3600000000) AS h1
      FROM d GROUP BY route_id
    )
    SELECT route_id, observed_hours,
           h1 - h0 + 1 AS span_hours,
           h1 - h0 + 1 - observed_hours AS missing_hours,
           {sql_pround('observed_hours::DOUBLE / (h1 - h0 + 1)', 6)}
             AS availability
    FROM a
    ORDER BY route_id
"""


WINSOR_LO_PCT = 5   # clamp below the p05 ...
WINSOR_HI_PCT = 95  # ... and above the p95


def delay_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-route delay average: winsorize the raw delay metric
    at the exact p05/p95 (rank arithmetic — route_delay_quantiles'
    recipe, so the cut points are engine-identical), clamp, and compare
    the winsorized mean against the raw mean. A large trim_effect says
    the plain AVG feeding delay_hourly is outlier-driven and the
    alerting thresholds should read this column instead.

    Scale: ONE ranked pass per route (the exact-quantile sort) reused
    by both the cut-point aggregate and the clamped mean — the bounds
    are routes-sized and broadcast back onto the ranked relation."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    wr = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = ev.select(
        F.col("event_type").alias("route_id"),
        F.col("value"),
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    from ..caching import persisted

    ranked = persisted(ranked)
    lo_rank = F.expr(f"({WINSOR_LO_PCT} * n + 99) div 100")   # ceil(p*n)
    hi_rank = F.expr(f"({WINSOR_HI_PCT} * n + 99) div 100")
    bounds = ranked.groupBy("route_id").agg(
        F.max(F.when(F.col("rn") == lo_rank, F.col("value"))).alias("p_lo"),
        F.max(F.when(F.col("rn") == hi_rank, F.col("value"))).alias("p_hi"),
        F.max("n").alias("n_values"),
    )
    clamped = F.least(F.greatest(F.col("value"), F.col("p_lo")), F.col("p_hi"))
    return (
        ranked.join(F.broadcast(bounds), "route_id")
        .groupBy("route_id")
        .agg(
            F.max("n_values").alias("n_values"),
            pround(F.max("p_lo"), 4).alias("p05"),
            pround(F.max("p_hi"), 4).alias("p95"),
            davg(F.col("value"), 4).alias("raw_mean"),
            davg(clamped, 4).alias("winsorized_mean"),
        )
        .select(
            "route_id",
            "n_values",
            "p05",
            "p95",
            "raw_mean",
            "winsorized_mean",
            pround(
                F.col("raw_mean") - F.col("winsorized_mean"), 4
            ).alias("trim_effect"),
        )
        .orderBy("route_id")
    )


QUERIES["delay_winsorized_mean"] = delay_winsorized_mean

ORACLES["delay_winsorized_mean"] = f"""
    WITH ranked AS (
      SELECT event_type AS route_id, value,
             row_number() OVER (
               PARTITION BY event_type ORDER BY value, event_id
             ) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events
      WHERE value IS NOT NULL AND event_type IS NOT NULL
    ),
    bounds AS (
      SELECT route_id,
             max(CASE WHEN rn = ({WINSOR_LO_PCT} * n + 99) // 100
                      THEN value END) AS p_lo,
             max(CASE WHEN rn = ({WINSOR_HI_PCT} * n + 99) // 100
                      THEN value END) AS p_hi,
             CAST(max(n) AS BIGINT) AS n_values
      FROM ranked GROUP BY route_id
    )
    SELECT r.route_id, b.n_values,
           {sql_pround('max(b.p_lo)', 4)} AS p05,
           {sql_pround('max(b.p_hi)', 4)} AS p95,
           {sql_davg('r.value', 4)} AS raw_mean,
           {sql_davg('least(greatest(r.value, b.p_lo), b.p_hi)', 4)}
             AS winsorized_mean,
           {sql_pround(
               sql_davg('r.value', 4)
               + ' - ' + sql_davg(
                   'least(greatest(r.value, b.p_lo), b.p_hi)', 4),
               4,
           )} AS trim_effect
    FROM ranked r JOIN bounds b USING (route_id)
    GROUP BY r.route_id, b.n_values
    ORDER BY r.route_id
"""


def seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-explained seasonality score per route: the fraction of
    hourly-delay variance captured by the hour-of-day profile,
    strength = SS_between / SS_total over the 24 hour-of-day buckets
    (the ANOVA decomposition SS_total = SS_within + SS_between). This
    is the scalar that decides whether delay_seasonal_profile's
    adjustment is worth applying per route (Hyndman's seasonal-strength
    measure, computed on the additive bucket decomposition).

    Determinism: bucket moments (n, sum x, sum x^2) fold through
    DECIMAL(28,6); the per-bucket quadratic terms sx^2/n are doubles
    computed from identical inputs on both engines and re-folded
    through DECIMAL(28,6) (cast never lands on a representable decimal
    half-way), so the route combine is order-independent.

    Scale: ONE consumption of the (route x hour)-sized hourly rollup;
    the bucket and route aggregates are 24x|routes|- and
    |routes|-sized."""
    x = F.col("avg_delay_seconds")
    base = delay_hourly(spark, sf_dir).filter(x.isNotNull())
    buckets = base.groupBy(
        "route_id", F.hour("hour_ts").alias("hod")
    ).agg(
        F.count(F.lit(1)).alias("n_b"),
        F.sum(x.cast("decimal(28,6)")).cast("double").alias("sx"),
        F.sum((x * x).cast("decimal(28,6)")).cast("double").alias("sxx"),
    )
    per_route = buckets.groupBy("route_id").agg(
        F.sum("n_b").alias("n_hours"),
        F.sum(F.col("sx").cast("decimal(28,6)")).cast("double").alias("SX"),
        F.sum(F.col("sxx").cast("decimal(28,6)"))
        .cast("double")
        .alias("SXX"),
        F.sum(
            (F.col("sx") * F.col("sx") / F.col("n_b")).cast(
                "decimal(28,6)"
            )
        )
        .cast("double")
        .alias("SWB"),
    )
    ss_total = F.col("SXX") - F.col("SX") * F.col("SX") / F.col("n_hours")
    ss_between = F.col("SWB") - F.col("SX") * F.col("SX") / F.col("n_hours")
    return per_route.select(
        "route_id",
        "n_hours",
        pround(ss_total / F.col("n_hours"), 6).alias("route_var"),
        F.when(ss_total > 0, pround(ss_between / ss_total, 6)).alias(
            "strength"
        ),
    ).orderBy("route_id")


QUERIES["seasonality_strength"] = seasonality_strength

ORACLES["seasonality_strength"] = f"""
    WITH d AS (
      SELECT * FROM ({SQL_DELAY}) t WHERE avg_delay_seconds IS NOT NULL
    ),
    b AS (
      SELECT route_id, hour(hour_ts) AS hod, count(*) AS n_b,
             (sum((avg_delay_seconds)::DECIMAL(28,6)))::DOUBLE AS sx,
             (sum((avg_delay_seconds * avg_delay_seconds)
                  ::DECIMAL(28,6)))::DOUBLE AS sxx
      FROM d GROUP BY route_id, hour(hour_ts)
    ),
    r AS (
      SELECT route_id, (sum(n_b))::BIGINT AS n_hours,
             (sum((sx)::DECIMAL(28,6)))::DOUBLE AS sx_r,
             (sum((sxx)::DECIMAL(28,6)))::DOUBLE AS sxx_r,
             (sum((sx * sx / n_b)::DECIMAL(28,6)))::DOUBLE AS swb_r
      FROM b GROUP BY route_id
    )
    SELECT route_id, n_hours,
           {sql_pround(
               '(sxx_r - sx_r * sx_r / n_hours) / n_hours', 6
           )} AS route_var,
           CASE WHEN sxx_r - sx_r * sx_r / n_hours > 0 THEN
             {sql_pround(
                 '(swb_r - sx_r * sx_r / n_hours)'
                 ' / (sxx_r - sx_r * sx_r / n_hours)', 6
             )} END AS strength
    FROM r ORDER BY route_id
"""


def delay_anomaly_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-anomaly runs per route (gaps-and-islands): the
    anomalous hours from delay_anomaly_hours grouped into maximal runs
    of CONSECUTIVE hours via the hour-index-minus-row-number island
    key — a 3-hour sustained excursion is an incident, three isolated
    spikes are noise, and the hourly table can't tell them apart.
    Output: one row per run with its span, length, and peak |z|.

    Scale: the runs computation is entirely on the (already
    route/hour-sized, anomaly-filtered) output of the z-score pass —
    one route-partitioned window + one island aggregate. No new scan
    of the fact table."""
    anom = delay_anomaly_hours(spark, sf_dir)
    rn = F.row_number().over(
        Window.partitionBy("route_id").orderBy("hour_ts")
    )
    hour_idx = F.expr("unix_timestamp(hour_ts) div 3600")
    islands = anom.select(
        "route_id",
        "hour_ts",
        F.abs(F.col("z_score")).alias("abs_z"),
        (hour_idx - rn).alias("island"),
    )
    return (
        islands.groupBy("route_id", "island")
        .agg(
            F.min("hour_ts").alias("run_start"),
            F.max("hour_ts").alias("run_end"),
            F.count(F.lit(1)).alias("run_hours"),
            pround(F.max("abs_z"), 4).alias("peak_abs_z"),
        )
        .drop("island")
        .orderBy("route_id", "run_start")
    )


QUERIES["delay_anomaly_runs"] = delay_anomaly_runs

ORACLES["delay_anomaly_runs"] = f"""
    WITH anom AS ({ORACLES["delay_anomaly_hours"]}),
    islands AS (
      SELECT route_id, hour_ts, abs(z_score) AS abs_z,
             (epoch(hour_ts)::BIGINT // 3600)
               - row_number() OVER (PARTITION BY route_id
                                    ORDER BY hour_ts) AS island
      FROM anom
    )
    SELECT route_id,
           min(hour_ts) AS run_start,
           max(hour_ts) AS run_end,
           count(*)::BIGINT AS run_hours,
           {sql_pround("max(abs_z)", 4)} AS peak_abs_z
    FROM islands
    GROUP BY route_id, island
    ORDER BY route_id, run_start
"""
