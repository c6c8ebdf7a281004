"""Round-4 trend diagnostics over the hourly rollups: CUSUM
change-point detection on delay (did this route's delay regime SHIFT,
vs delay_anomaly_hours' which single hours spiked) and headway
regularity (coefficient of variation of service gaps — the
schedule-adherence metric transit agencies publish).

Parity: the reference's alerting reads the hourly views and flags
threshold crossings (poller.py:158-188 feeding service_alerts;
kpi_views.sql hourly rollups); these are the two standard next steps a
monitoring stack layers on the same rollups, re-expressed as Spark
plans over the shared delay_hourly / headway_hourly tiers.

Scale: both run entirely on the (route × hour)-sized rollup relations —
one corpus-scale shuffle inherited from the underlying rollup, then
route-partitioned windows / route-sized aggregates. The fact table is
never re-scanned or self-joined.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.portable import (
    davg,
    dsum_exact,
    pround,
    sql_davg,
    sql_pround,
    sql_uniform01,
)
from .hourly import (
    SQL_DELAY,
    SQL_DEMAND,
    SQL_HEADWAY,
    SQL_WEATHER,
    delay_hourly,
    demand_hourly,
    headway_hourly,
    weather_hourly,
)

CUSUM_MIN_HOURS = 5
REGULAR_MIN_HOURS = 5
CORR_MIN_HOURS = 5
TREND_MIN_HOURS = 5
EWMA_WINDOW = 24  # trailing observed hours in the truncated EWMA
_VAR_FLOOR = 1e-12


def delay_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-route CUSUM change-point: cumulative sum of
    (hourly delay − route mean) over the hour sequence; the hour where
    |CUSUM| peaks is the most likely regime-shift point (Page's
    cumulative-sum test, the standard sequential change detector).
    Routes with a real shift show a large peak; flat routes hover near
    zero.

    Determinism: the route mean comes from a decimal-exact fold rounded
    to 6 dp, deviations are then ≤6-dp doubles accumulated as
    DECIMAL(28,6) over the SAME (hour-ordered) sequence in both
    engines; the peak is picked on the ROUNDED |CUSUM| with the hour as
    tie-break, so the argmax is engine-portable."""
    d = delay_hourly(spark, sf_dir).filter(
        F.col("avg_delay_seconds").isNotNull()
    )
    x = F.col("avg_delay_seconds")
    stats = d.groupBy("route_id").agg(
        F.count(F.lit(1)).alias("n_hours"),
        pround(
            F.sum(x.cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("route_mean"),
    )
    wseq = (
        Window.partitionBy("route_id")
        .orderBy("hour_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cusum = (
        F.sum((x - F.col("route_mean")).cast("decimal(28,6)"))
        .over(wseq)
        .cast("double")
    )
    scored = (
        d.join(F.broadcast(stats), "route_id")
        .filter(F.col("n_hours") >= CUSUM_MIN_HOURS)
        .withColumn("cusum", cusum)
        .withColumn("abs_cusum", pround(F.abs(F.col("cusum")), 6))
    )
    wpick = Window.partitionBy("route_id").orderBy(
        F.desc("abs_cusum"), F.col("hour_ts")
    )
    return (
        scored.withColumn("rn", F.row_number().over(wpick))
        .filter(F.col("rn") == 1)
        .select(
            "route_id",
            F.col("hour_ts").alias("changepoint_hour"),
            pround("cusum", 4).alias("cusum_peak"),
            "route_mean",
            "n_hours",
        )
        .orderBy("route_id")
    )


def headway_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-route headway regularity: coefficient of variation
    (std/mean) of the hourly average headway — the industry
    wait-time-reliability metric (CV < 0.3 ≈ regular service, > 0.75 ≈
    effectively unscheduled). Decimal-exact folds as in
    delay_anomaly_hours; routes need REGULAR_MIN_HOURS observed hours
    and a positive mean."""
    h = headway_hourly(spark, sf_dir).filter(
        F.col("avg_headway_min").isNotNull()
    )
    x = F.col("avg_headway_min")
    agg = h.groupBy("route_id").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum(x.cast("decimal(28,6)")).cast("double").alias("sx"),
        F.sum((x * x).cast("decimal(28,6)")).cast("double").alias("sxx"),
    )
    mean = F.col("sx") / F.col("n_hours")
    var = F.col("sxx") / F.col("n_hours") - mean * mean
    std = F.sqrt(F.greatest(var, F.lit(_VAR_FLOOR)))
    return (
        agg.filter(
            (F.col("n_hours") >= REGULAR_MIN_HOURS) & (mean > 0)
        )
        .select(
            "route_id",
            "n_hours",
            pround(mean, 4).alias("mean_headway_min"),
            pround(std, 4).alias("std_headway_min"),
            pround(std / mean, 4).alias("cv_headway"),
        )
        .orderBy("route_id")
    )


def delay_headway_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-route Pearson correlation between hourly average delay and
    hourly average headway — the cross-KPI diagnostic behind the
    suggestion engine's intuition (delays stretch gaps between
    vehicles; a route where the two do NOT correlate has a different
    problem than congestion). Runs on the two shared (route x hour)
    rollups joined by key; routes need CORR_MIN_HOURS joint hours and
    nonzero variance on both axes (else corr is NULL).

    Determinism: x and y are already 4-dp rounded rollup values; the
    five moment sums are decimal-exact folds and the closed-form corr
    is one fixed double expression over them."""
    d = delay_hourly(spark, sf_dir).filter(
        F.col("avg_delay_seconds").isNotNull()
    )
    h = headway_hourly(spark, sf_dir).filter(
        F.col("avg_headway_min").isNotNull()
    )
    j = d.join(h, ["route_id", "hour_ts"])
    x = F.col("avg_delay_seconds")
    y = F.col("avg_headway_min")

    agg = j.groupBy("route_id").agg(
        F.count(F.lit(1)).alias("n_hours"),
        dsum_exact(x).alias("sx"),
        dsum_exact(y).alias("sy"),
        dsum_exact(x * x).alias("sxx"),
        dsum_exact(y * y).alias("syy"),
        dsum_exact(x * y).alias("sxy"),
    )
    n = F.col("n_hours")
    cov_n = n * F.col("sxy") - F.col("sx") * F.col("sy")
    varx_n = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vary_n = n * F.col("syy") - F.col("sy") * F.col("sy")
    corr = F.when(
        (varx_n > 0) & (vary_n > 0),
        cov_n / F.sqrt(varx_n * vary_n),
    )
    return (
        agg.filter(n >= CORR_MIN_HOURS)
        .select(
            "route_id",
            "n_hours",
            pround(corr, 6).alias("delay_headway_corr"),
        )
        .orderBy("route_id")
    )


def delay_ewma_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of the hourly delay per
    route, truncated to the trailing EWMA_WINDOW observed hours with
    half-life weights w_j = 2^-j (adjusted normalization: Σw_j·x /
    Σw_j) — the smoothed signal an alerting threshold is compared
    against instead of the raw hourly value.

    Portability: 2^-j is EXACTLY representable, computed as
    1.0 / (1 << j) from integer row-offset j on both engines — no
    libm pow(), whose last-ulp behavior differs across platforms. The
    weighted sums are decimal-exact folds at DECIMAL(28,6) (identical
    on both engines), which quantizes each weighted term to 1e-6: a
    weight 2^-j for row offset j >= 21 rounds to zero, so the
    documented 2^-j tail is effectively truncated at ~20 terms. With
    EWMA_WINDOW = 24 that drops at most the last 3 terms' <= 2^-21
    relative contribution — below the 1e-4 output rounding — but a
    caller widening EWMA_WINDOW should also widen the fold scale on
    BOTH engines.

    Scale: runs on the (route x hour) rollup; the trailing window is a
    self-equi-join on route_id with a row-offset band (fan-out <=
    EWMA_WINDOW x rollup rows — rollup-sized, never the fact table)."""
    d = delay_hourly(spark, sf_dir).filter(
        F.col("avg_delay_seconds").isNotNull()
    )
    rn = F.row_number().over(
        Window.partitionBy("route_id").orderBy("hour_ts")
    )
    base = d.select(
        "route_id", "hour_ts", "avg_delay_seconds", rn.alias("rn")
    )
    cur = base.select(
        "route_id",
        "hour_ts",
        "avg_delay_seconds",
        F.col("rn").alias("rn_c"),
    )
    past = base.select(
        "route_id",
        F.col("avg_delay_seconds").alias("x_p"),
        F.col("rn").alias("rn_p"),
    )
    j = F.col("rn_c") - F.col("rn_p")

    joined = (
        cur.join(past, "route_id")
        .filter((j >= 0) & (j < EWMA_WINDOW))
        .withColumn("j", j)
    )
    # 2^-j exactly: integer shift + double division (the Python-API
    # shiftleft only takes a literal bit count, so use the SQL form)
    w = F.lit(1.0) / F.expr(
        "CAST(shiftleft(CAST(1 AS BIGINT), CAST(j AS INT)) AS DOUBLE)"
    )
    agg = joined.groupBy("route_id", "hour_ts").agg(
        F.max("avg_delay_seconds").alias("avg_delay_seconds"),
        F.count(F.lit(1)).alias("n_terms"),
        dsum_exact(w * F.col("x_p")).alias("num"),
        dsum_exact(w).alias("den"),
    )
    return agg.select(
        "route_id",
        "hour_ts",
        "avg_delay_seconds",
        "n_terms",
        pround(F.col("num") / F.col("den"), 4).alias("ewma_delay"),
    ).orderBy("route_id", "hour_ts")


def seasonal_naive_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-baseline shoot-out per route: persistence (previous
    hour) vs seasonal-naive (same hour yesterday) MAE over the demand
    rollup, evaluated on exactly the hours where BOTH baselines have an
    observation — the honest comparison that decides whether
    prediction_baseline should lag 1 h or 24 h (the reference's
    validation harness, validate_predictions.py, grades a single
    baseline; this picks between them). Winner compares the ROUNDED
    MAEs so the verdict is engine-portable.

    Scale: three aligned copies of the (route x hour) rollup joined by
    exact shifted timestamps — hash equi-joins on (route, hour),
    rollup-sized."""
    from ..caching import persisted

    d = persisted(
        demand_hourly(spark, sf_dir).select(
            "route_id", "hour_ts", "passengers"
        )
    )
    p1 = d.select(
        "route_id",
        (F.col("hour_ts") + F.expr("INTERVAL 1 HOUR")).alias("hour_ts"),
        F.col("passengers").alias("yhat_persist"),
    )
    p24 = d.select(
        "route_id",
        (F.col("hour_ts") + F.expr("INTERVAL 24 HOURS")).alias(
            "hour_ts"
        ),
        F.col("passengers").alias("yhat_seasonal"),
    )
    ev = d.join(p1, ["route_id", "hour_ts"]).join(
        p24, ["route_id", "hour_ts"]
    )
    mae_p = davg(
        F.abs(F.col("passengers") - F.col("yhat_persist")), 4
    )
    mae_s = davg(
        F.abs(F.col("passengers") - F.col("yhat_seasonal")), 4
    )
    agg = ev.groupBy("route_id").agg(
        F.count(F.lit(1)).alias("n_hours"),
        mae_p.alias("mae_persistence"),
        mae_s.alias("mae_seasonal"),
    )
    winner = (
        F.when(
            F.col("mae_seasonal") < F.col("mae_persistence"), "seasonal"
        )
        .when(
            F.col("mae_persistence") < F.col("mae_seasonal"),
            "persistence",
        )
        .otherwise("tie")
    )
    return agg.select(
        "route_id",
        "n_hours",
        "mae_persistence",
        "mae_seasonal",
        winner.alias("winner"),
    ).orderBy("route_id")


def demand_trend_line(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-route least-squares demand trend: passengers regressed on
    hours-since-first-observation (slope = structural growth/decay per
    hour, plus intercept and R²) — the closed-form regression behind a
    capacity-planning dashboard's trend arrow, and an oracle-checkable
    linear companion to the rows-only RandomForest model (ml/demand.py).

    Determinism: x is an INTEGER hour offset centered on each route's
    first observed hour (centering keeps the normal-equation
    subtractions far from catastrophic cancellation), y is the 2-dp
    rollup value; all five moment sums are decimal-exact folds and
    slope/intercept/R² are fixed double expressions over them."""
    d = demand_hourly(spark, sf_dir)
    start = Window.partitionBy("route_id")
    x = (
        (
            F.unix_micros("hour_ts")
            - F.unix_micros(F.min("hour_ts").over(start))
        )
        / F.lit(3_600_000_000)
    ).cast("long")
    base = d.select(
        "route_id", F.col("passengers").alias("y"), x.alias("x")
    )

    xd = F.col("x").cast("double")
    agg = base.groupBy("route_id").agg(
        F.count(F.lit(1)).alias("n_hours"),
        dsum_exact(xd).alias("sx"),
        dsum_exact(F.col("y")).alias("sy"),
        dsum_exact(xd * xd).alias("sxx"),
        dsum_exact(F.col("y") * F.col("y")).alias("syy"),
        dsum_exact(xd * F.col("y")).alias("sxy"),
    )
    n = F.col("n_hours")
    cov_n = n * F.col("sxy") - F.col("sx") * F.col("sy")
    varx_n = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vary_n = n * F.col("syy") - F.col("sy") * F.col("sy")
    slope = cov_n / varx_n
    intercept = (F.col("sy") - slope * F.col("sx")) / n
    r2 = F.when(
        (varx_n > 0) & (vary_n > 0), cov_n * cov_n / (varx_n * vary_n)
    )
    return (
        agg.filter((n >= TREND_MIN_HOURS) & (varx_n > 0))
        .select(
            "route_id",
            "n_hours",
            pround(slope, 6).alias("slope_per_hour"),
            pround(intercept, 4).alias("intercept"),
            pround(r2, 6).alias("r2"),
        )
        .orderBy("route_id")
    )


ACF_LAGS = [1, 2, 3, 6, 12, 24]  # observed-hour offsets for the ACF


def delay_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-route autocorrelation function of the hourly delay at
    ACF_LAGS observed-hour offsets — the diagnostic that picks a
    forecast baseline's lag (a strong lag-24 ACF says seasonal-naive,
    a strong lag-1 says persistence; trend.seasonal_naive_eval then
    confirms on MAE) and flags routes whose delays are white noise
    (nothing forecastable). Lags are in OBSERVED hours (row offsets per
    route, the EWMA convention), so gaps in service don't create
    phantom decorrelation.

    Determinism: x/y are the 4-dp rollup values; the five moment sums
    are decimal-exact folds; the Pearson closed form is one fixed
    double expression (delay_headway_corr's recipe per lag).

    Scale: the lag alignment is an EXPLODE-to-target-row equi-join on
    (route_id, rn) — the past side fans out |ACF_LAGS|x over the
    rollup-sized relation, hash-joins back, and aggregates to
    |routes| x |lags| rows. No range join, no fact re-scan."""
    d = delay_hourly(spark, sf_dir).filter(
        F.col("avg_delay_seconds").isNotNull()
    )
    rn = F.row_number().over(
        Window.partitionBy("route_id").orderBy("hour_ts")
    )
    base = d.select(
        "route_id", F.col("avg_delay_seconds").alias("x"), rn.alias("rn")
    )
    past = base.select(
        "route_id",
        F.col("x").alias("x_past"),
        F.explode(
            F.array(*[F.lit(k) for k in ACF_LAGS])
        ).alias("lag_hours"),
        F.col("rn").alias("rn_p"),
    ).withColumn("rn", F.col("rn_p") + F.col("lag_hours"))
    j = base.join(past.drop("rn_p"), ["route_id", "rn"])
    x, y = F.col("x"), F.col("x_past")
    agg = j.groupBy("route_id", "lag_hours").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        dsum_exact(x).alias("sx"),
        dsum_exact(y).alias("sy"),
        dsum_exact(x * x).alias("sxx"),
        dsum_exact(y * y).alias("syy"),
        dsum_exact(x * y).alias("sxy"),
    )
    n = F.col("n_pairs")
    cov_n = n * F.col("sxy") - F.col("sx") * F.col("sy")
    varx_n = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vary_n = n * F.col("syy") - F.col("sy") * F.col("sy")
    acf = F.when(
        (varx_n > 0) & (vary_n > 0), cov_n / F.sqrt(varx_n * vary_n)
    )
    return (
        agg.filter(n >= CORR_MIN_HOURS)
        .select(
            "route_id",
            "lag_hours",
            "n_pairs",
            pround(acf, 6).alias("acf"),
        )
        .orderBy("route_id", "lag_hours")
    )


def weather_delay_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-route Pearson correlation of hourly delay against the two
    hourly weather signals (temperature, precipitation) — the
    cross-feed diagnostic behind the suggestion engine's storm rule
    (reference generate_suggestions.py conditions on weather rows; this
    measures whether the conditioning is warranted per route). Weather
    is a global hourly profile, so the join key is the hour alone.

    Scale: delay rollup ⋈ broadcast hours-sized weather profile, then
    a routes-sized moment aggregate — the delay_headway_corr shape with
    a broadcast dimension instead of a second rollup."""
    d = delay_hourly(spark, sf_dir).filter(
        F.col("avg_delay_seconds").isNotNull()
    )
    w = weather_hourly(spark, sf_dir)
    j = d.join(F.broadcast(w), "hour_ts")
    x = F.col("avg_delay_seconds")

    def _corr_cols(y, out_name):
        # moment-sum aliases namespaced per axis so one aggregate
        # carries both correlations
        return [
            dsum_exact(y).alias(f"sy_{out_name}"),
            dsum_exact(y * y).alias(f"syy_{out_name}"),
            dsum_exact(x * y).alias(f"sxy_{out_name}"),
        ]

    agg = j.groupBy("route_id").agg(
        F.count(F.lit(1)).alias("n_hours"),
        dsum_exact(x).alias("sx"),
        dsum_exact(x * x).alias("sxx"),
        *_corr_cols(F.col("temperature_c"), "t"),
        *_corr_cols(F.col("precipitation_mm"), "p"),
    )
    n = F.col("n_hours")
    varx_n = n * F.col("sxx") - F.col("sx") * F.col("sx")

    def _corr(tag):
        cov_n = n * F.col(f"sxy_{tag}") - F.col("sx") * F.col(f"sy_{tag}")
        vary_n = (
            n * F.col(f"syy_{tag}") - F.col(f"sy_{tag}") * F.col(f"sy_{tag}")
        )
        return F.when(
            (varx_n > 0) & (vary_n > 0), cov_n / F.sqrt(varx_n * vary_n)
        )

    return (
        agg.filter(n >= CORR_MIN_HOURS)
        .select(
            "route_id",
            "n_hours",
            pround(_corr("t"), 6).alias("corr_temperature"),
            pround(_corr("p"), 6).alias("corr_precipitation"),
        )
        .orderBy("route_id")
    )


QUERIES = {
    "delay_cusum_changepoint": delay_cusum_changepoint,
    "headway_regularity": headway_regularity,
    "delay_headway_corr": delay_headway_corr,
    "delay_ewma_24h": delay_ewma_24h,
    "seasonal_naive_eval": seasonal_naive_eval,
    "demand_trend_line": demand_trend_line,
    "delay_autocorrelation": delay_autocorrelation,
    "weather_delay_corr": weather_delay_corr,
}

ORACLES = {
    "delay_cusum_changepoint": f"""
        WITH d AS (
          SELECT * FROM ({SQL_DELAY}) t WHERE avg_delay_seconds IS NOT NULL
        ),
        s AS (
          SELECT route_id, count(*) AS n_hours,
                 {sql_pround(
                     '(sum((avg_delay_seconds)::DECIMAL(28,6)))::DOUBLE '
                     '/ count(*)', 6)} AS route_mean
          FROM d GROUP BY route_id
        ),
        c AS (
          SELECT d.route_id, hour_ts, route_mean, n_hours,
                 (sum(((avg_delay_seconds - route_mean))::DECIMAL(28,6))
                    OVER (PARTITION BY d.route_id ORDER BY hour_ts
                          ROWS UNBOUNDED PRECEDING))::DOUBLE AS cusum
          FROM d JOIN s USING (route_id)
          WHERE n_hours >= {CUSUM_MIN_HOURS}
        ),
        picked AS (
          SELECT route_id, hour_ts, cusum, route_mean, n_hours,
                 row_number() OVER (
                   PARTITION BY route_id
                   ORDER BY {sql_pround('abs(cusum)', 6)} DESC, hour_ts
                 ) AS rn
          FROM c
        )
        SELECT route_id, hour_ts AS changepoint_hour,
               {sql_pround('cusum', 4)} AS cusum_peak,
               route_mean, n_hours
        FROM picked WHERE rn = 1
        ORDER BY route_id
    """,
    "headway_regularity": f"""
        WITH h AS (
          SELECT * FROM ({SQL_HEADWAY}) t WHERE avg_headway_min IS NOT NULL
        ),
        s AS (
          SELECT route_id, count(*) AS n_hours,
                 (sum((avg_headway_min)::DECIMAL(28,6)))::DOUBLE AS sx,
                 (sum((avg_headway_min * avg_headway_min)
                      ::DECIMAL(28,6)))::DOUBLE AS sxx
          FROM h GROUP BY route_id
        )
        SELECT route_id, n_hours,
               {sql_pround('sx / n_hours', 4)} AS mean_headway_min,
               {sql_pround(
                   'sqrt(greatest(sxx / n_hours '
                   f'- (sx / n_hours) * (sx / n_hours), {_VAR_FLOOR}))',
                   4)} AS std_headway_min,
               {sql_pround(
                   'sqrt(greatest(sxx / n_hours '
                   f'- (sx / n_hours) * (sx / n_hours), {_VAR_FLOOR})) '
                   '/ (sx / n_hours)', 4)} AS cv_headway
        FROM s
        WHERE n_hours >= {REGULAR_MIN_HOURS} AND sx / n_hours > 0
        ORDER BY route_id
    """,
    "delay_headway_corr": f"""
        WITH d AS (
          SELECT * FROM ({SQL_DELAY}) t
          WHERE avg_delay_seconds IS NOT NULL
        ),
        h AS (
          SELECT * FROM ({SQL_HEADWAY}) t
          WHERE avg_headway_min IS NOT NULL
        ),
        j AS (
          SELECT d.route_id,
                 avg_delay_seconds AS x, avg_headway_min AS y
          FROM d JOIN h USING (route_id, hour_ts)
        ),
        s AS (
          SELECT route_id, count(*) AS n_hours,
                 (sum((x)::DECIMAL(28,6)))::DOUBLE AS sx,
                 (sum((y)::DECIMAL(28,6)))::DOUBLE AS sy,
                 (sum((x * x)::DECIMAL(28,6)))::DOUBLE AS sxx,
                 (sum((y * y)::DECIMAL(28,6)))::DOUBLE AS syy,
                 (sum((x * y)::DECIMAL(28,6)))::DOUBLE AS sxy
          FROM j GROUP BY route_id
        )
        SELECT route_id, n_hours,
               CASE WHEN n_hours * sxx - sx * sx > 0
                     AND n_hours * syy - sy * sy > 0 THEN
                 {sql_pround(
                     '(n_hours * sxy - sx * sy) '
                     '/ sqrt((n_hours * sxx - sx * sx) '
                     '* (n_hours * syy - sy * sy))', 6)}
               END AS delay_headway_corr
        FROM s
        WHERE n_hours >= {CORR_MIN_HOURS}
        ORDER BY route_id
    """,
    "delay_ewma_24h": f"""
        WITH d AS (
          SELECT * FROM ({SQL_DELAY}) t
          WHERE avg_delay_seconds IS NOT NULL
        ),
        r AS (
          SELECT route_id, hour_ts, avg_delay_seconds,
                 row_number() OVER (
                   PARTITION BY route_id ORDER BY hour_ts
                 ) AS rn
          FROM d
        ),
        j AS (
          SELECT c.route_id, c.hour_ts, c.avg_delay_seconds,
                 p.avg_delay_seconds AS x_p, c.rn - p.rn AS j
          FROM r c JOIN r p ON c.route_id = p.route_id
          WHERE c.rn - p.rn BETWEEN 0 AND {EWMA_WINDOW - 1}
        ),
        a AS (
          SELECT route_id, hour_ts,
                 max(avg_delay_seconds) AS avg_delay_seconds,
                 count(*) AS n_terms,
                 (sum(((1.0 / (1::BIGINT << j)) * x_p)
                      ::DECIMAL(28,6)))::DOUBLE AS num,
                 (sum((1.0 / (1::BIGINT << j))
                      ::DECIMAL(28,6)))::DOUBLE AS den
          FROM j GROUP BY route_id, hour_ts
        )
        SELECT route_id, hour_ts, avg_delay_seconds, n_terms,
               {sql_pround('num / den', 4)} AS ewma_delay
        FROM a
        ORDER BY route_id, hour_ts
    """,
    "seasonal_naive_eval": f"""
        WITH d AS ({SQL_DEMAND}),
        p1 AS (
          SELECT route_id, hour_ts + INTERVAL 1 HOUR AS hour_ts,
                 passengers AS yhat_persist
          FROM d
        ),
        p24 AS (
          SELECT route_id, hour_ts + INTERVAL 24 HOUR AS hour_ts,
                 passengers AS yhat_seasonal
          FROM d
        ),
        ev AS (
          SELECT d.route_id, d.passengers, yhat_persist, yhat_seasonal
          FROM d
          JOIN p1 USING (route_id, hour_ts)
          JOIN p24 USING (route_id, hour_ts)
        ),
        a AS (
          SELECT route_id, count(*) AS n_hours,
                 {sql_davg('abs(passengers - yhat_persist)', 4)}
                   AS mae_persistence,
                 {sql_davg('abs(passengers - yhat_seasonal)', 4)}
                   AS mae_seasonal
          FROM ev GROUP BY route_id
        )
        SELECT route_id, n_hours, mae_persistence, mae_seasonal,
               CASE WHEN mae_seasonal < mae_persistence THEN 'seasonal'
                    WHEN mae_persistence < mae_seasonal
                      THEN 'persistence'
                    ELSE 'tie' END AS winner
        FROM a
        ORDER BY route_id
    """,
    "demand_trend_line": f"""
        WITH d AS ({SQL_DEMAND}),
        b AS (
          SELECT route_id, passengers AS y,
                 (epoch_us(hour_ts)
                  - epoch_us(min(hour_ts) OVER (PARTITION BY route_id)))
                 // 3600000000 AS x
          FROM d
        ),
        s AS (
          SELECT route_id, count(*) AS n_hours,
                 (sum((x::DOUBLE)::DECIMAL(28,6)))::DOUBLE AS sx,
                 (sum((y)::DECIMAL(28,6)))::DOUBLE AS sy,
                 (sum((x::DOUBLE * x::DOUBLE)::DECIMAL(28,6)))::DOUBLE
                   AS sxx,
                 (sum((y * y)::DECIMAL(28,6)))::DOUBLE AS syy,
                 (sum((x::DOUBLE * y)::DECIMAL(28,6)))::DOUBLE AS sxy
          FROM b GROUP BY route_id
        )
        SELECT route_id, n_hours,
               {sql_pround(
                   '(n_hours * sxy - sx * sy) '
                   '/ (n_hours * sxx - sx * sx)', 6)} AS slope_per_hour,
               {sql_pround(
                   '(sy - ((n_hours * sxy - sx * sy) '
                   '/ (n_hours * sxx - sx * sx)) * sx) / n_hours',
                   4)} AS intercept,
               CASE WHEN n_hours * sxx - sx * sx > 0
                     AND n_hours * syy - sy * sy > 0 THEN
                 {sql_pround(
                     '(n_hours * sxy - sx * sy) '
                     '* (n_hours * sxy - sx * sy) '
                     '/ ((n_hours * sxx - sx * sx) '
                     '* (n_hours * syy - sy * sy))', 6)}
               END AS r2
        FROM s
        WHERE n_hours >= {TREND_MIN_HOURS}
          AND n_hours * sxx - sx * sx > 0
        ORDER BY route_id
    """,
}


_SQL_DSUM_EXACT = "(sum(({e})::DECIMAL(28,6)))::DOUBLE"
_ACF_VALUES = ", ".join(f"({k})" for k in ACF_LAGS)

ORACLES["delay_autocorrelation"] = f"""
    WITH d AS (
      SELECT * FROM ({SQL_DELAY}) t WHERE avg_delay_seconds IS NOT NULL
    ),
    r AS (
      SELECT route_id, avg_delay_seconds AS x,
             row_number() OVER (
               PARTITION BY route_id ORDER BY hour_ts
             ) AS rn
      FROM d
    ),
    lags(lag_hours) AS (VALUES {_ACF_VALUES}),
    p AS (
      SELECT c.route_id, l.lag_hours, c.x AS x, pp.x AS x_past
      FROM r c
      CROSS JOIN lags l
      JOIN r pp ON pp.route_id = c.route_id
               AND pp.rn + l.lag_hours = c.rn
    ),
    a AS (
      SELECT route_id, lag_hours, count(*) AS n_pairs,
             {_SQL_DSUM_EXACT.format(e='x')} AS sx,
             {_SQL_DSUM_EXACT.format(e='x_past')} AS sy,
             {_SQL_DSUM_EXACT.format(e='x * x')} AS sxx,
             {_SQL_DSUM_EXACT.format(e='x_past * x_past')} AS syy,
             {_SQL_DSUM_EXACT.format(e='x * x_past')} AS sxy
      FROM p GROUP BY route_id, lag_hours
    )
    SELECT route_id, lag_hours, n_pairs,
           CASE WHEN n_pairs * sxx - sx * sx > 0
                 AND n_pairs * syy - sy * sy > 0
                THEN {sql_pround(
                    '(n_pairs * sxy - sx * sy) '
                    '/ sqrt((n_pairs * sxx - sx * sx) '
                    '* (n_pairs * syy - sy * sy))', 6)}
           END AS acf
    FROM a
    WHERE n_pairs >= {CORR_MIN_HOURS}
    ORDER BY route_id, lag_hours
"""

ORACLES["weather_delay_corr"] = f"""
    WITH d AS (
      SELECT * FROM ({SQL_DELAY}) t WHERE avg_delay_seconds IS NOT NULL
    ),
    w AS ({SQL_WEATHER}),
    j AS (
      SELECT d.route_id, d.avg_delay_seconds AS x,
             w.temperature_c AS yt, w.precipitation_mm AS yp
      FROM d JOIN w USING (hour_ts)
    ),
    a AS (
      SELECT route_id, count(*) AS n_hours,
             {_SQL_DSUM_EXACT.format(e='x')} AS sx,
             {_SQL_DSUM_EXACT.format(e='x * x')} AS sxx,
             {_SQL_DSUM_EXACT.format(e='yt')} AS sy_t,
             {_SQL_DSUM_EXACT.format(e='yt * yt')} AS syy_t,
             {_SQL_DSUM_EXACT.format(e='x * yt')} AS sxy_t,
             {_SQL_DSUM_EXACT.format(e='yp')} AS sy_p,
             {_SQL_DSUM_EXACT.format(e='yp * yp')} AS syy_p,
             {_SQL_DSUM_EXACT.format(e='x * yp')} AS sxy_p
      FROM j GROUP BY route_id
    )
    SELECT route_id, n_hours,
           CASE WHEN n_hours * sxx - sx * sx > 0
                 AND n_hours * syy_t - sy_t * sy_t > 0
                THEN {sql_pround(
                    '(n_hours * sxy_t - sx * sy_t) '
                    '/ sqrt((n_hours * sxx - sx * sx) '
                    '* (n_hours * syy_t - sy_t * sy_t))', 6)}
           END AS corr_temperature,
           CASE WHEN n_hours * sxx - sx * sx > 0
                 AND n_hours * syy_p - sy_p * sy_p > 0
                THEN {sql_pround(
                    '(n_hours * sxy_p - sx * sy_p) '
                    '/ sqrt((n_hours * sxx - sx * sx) '
                    '* (n_hours * syy_p - sy_p * sy_p))', 6)}
           END AS corr_precipitation
    FROM a
    WHERE n_hours >= {CORR_MIN_HOURS}
    ORDER BY route_id
"""


PSI_BINS = 5  # quintile bins from the baseline half


def delay_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift check per route: split each
    route's observed hours into first/second half (rank arithmetic on
    the hour sequence), bin the delay metric by the FIRST half's exact
    quintile edges, and report PSI = Σ (p2 - p1)·ln(p2/p1) over the
    bins — the standard model-monitoring drift score (PSI < 0.1 stable,
    > 0.25 shifted) for the signal every forecast baseline conditions
    on. Laplace add-one smoothing keeps empty bins finite and is
    applied identically on both engines.

    Scale: runs on the (route x hour) shared rollup; the quintile edges
    are rank-picked per route (one sort partition), bin counts are a
    routes x bins aggregate, and PSI folds are decimal-exact."""
    d = delay_hourly(spark, sf_dir).filter(
        F.col("avg_delay_seconds").isNotNull()
    )
    w_ts = Window.partitionBy("route_id").orderBy("hour_ts")
    wn = Window.partitionBy("route_id")
    seq = d.select(
        "route_id",
        F.col("avg_delay_seconds").alias("x"),
        F.row_number().over(w_ts).alias("seq"),
        F.count(F.lit(1)).over(wn).alias("n"),
    ).withColumn(
        "half",
        F.when(F.col("seq") <= F.expr("n div 2"), 1).otherwise(2),
    )
    from ..caching import persisted

    seq = persisted(seq)
    base = seq.filter(F.col("half") == 1)
    w_val = Window.partitionBy("route_id").orderBy("x", "seq")
    wbn = Window.partitionBy("route_id")
    ranked = base.select(
        "route_id",
        "x",
        F.row_number().over(w_val).alias("rn"),
        F.count(F.lit(1)).over(wbn).alias("nb"),
    )
    # exact quintile edges: value at rank ceil(q * nb / PSI_BINS)
    edge_cols = [
        F.max(
            F.when(
                F.col("rn")
                == F.expr(f"({q} * nb + {PSI_BINS - 1}) div {PSI_BINS}"),
                F.col("x"),
            )
        ).alias(f"e{q}")
        for q in range(1, PSI_BINS)
    ]
    edges = ranked.groupBy("route_id").agg(*edge_cols)
    # bin id = 1 + number of edges strictly below x (ties go left)
    binned = seq.join(F.broadcast(edges), "route_id").select(
        "route_id",
        "half",
        sum(
            [F.lit(1)]
            + [
                F.when(F.col("x") > F.col(f"e{q}"), 1).otherwise(0)
                for q in range(1, PSI_BINS)
            ]
        ).alias("bin"),
    )
    counts = binned.groupBy("route_id", "bin").agg(
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("half") == 2, 1).otherwise(0)).alias("c2"),
    )
    wtot = Window.partitionBy("route_id")
    smoothed = counts.select(
        "route_id",
        "bin",
        (
            (F.col("c1") + 1)
            / (F.sum("c1").over(wtot) + PSI_BINS)
        ).alias("p1"),
        (
            (F.col("c2") + 1)
            / (F.sum("c2").over(wtot) + PSI_BINS)
        ).alias("p2"),
    )
    term = (
        (F.col("p2") - F.col("p1")) * F.log(F.col("p2") / F.col("p1"))
    ).cast("decimal(28,6)")
    return (
        smoothed.groupBy("route_id")
        .agg(
            F.count(F.lit(1)).alias("n_bins"),
            pround(F.sum(term).cast("double"), 6).alias("psi"),
        )
        .select(
            "route_id",
            "n_bins",
            "psi",
            F.when(F.col("psi") < 0.1, "stable")
            .when(F.col("psi") < 0.25, "moderate")
            .otherwise("shifted")
            .alias("drift_class"),
        )
        .orderBy("route_id")
    )


QUERIES["delay_drift_psi"] = delay_drift_psi

_PSI_EDGE_CASES = ",\n             ".join(
    f"max(CASE WHEN rn = ({q} * nb + {PSI_BINS - 1}) // {PSI_BINS} "
    f"THEN x END) AS e{q}"
    for q in range(1, PSI_BINS)
)
_PSI_BIN_EXPR = " + ".join(
    ["1"]
    + [
        f"CASE WHEN x > e{q} THEN 1 ELSE 0 END"
        for q in range(1, PSI_BINS)
    ]
)

ORACLES["delay_drift_psi"] = f"""
    WITH d AS (
      SELECT * FROM ({SQL_DELAY}) t WHERE avg_delay_seconds IS NOT NULL
    ),
    seq AS (
      SELECT route_id, avg_delay_seconds AS x,
             row_number() OVER (
               PARTITION BY route_id ORDER BY hour_ts
             ) AS seq,
             count(*) OVER (PARTITION BY route_id) AS n
      FROM d
    ),
    halved AS (
      SELECT route_id, x, seq,
             CASE WHEN seq <= n // 2 THEN 1 ELSE 2 END AS half
      FROM seq
    ),
    ranked AS (
      SELECT route_id, x,
             row_number() OVER (
               PARTITION BY route_id ORDER BY x, seq
             ) AS rn,
             count(*) OVER (PARTITION BY route_id) AS nb
      FROM halved WHERE half = 1
    ),
    edges AS (
      SELECT route_id,
             {_PSI_EDGE_CASES}
      FROM ranked GROUP BY route_id
    ),
    binned AS (
      SELECT h.route_id, half, {_PSI_BIN_EXPR} AS bin
      FROM halved h JOIN edges USING (route_id)
    ),
    counts AS (
      SELECT route_id, bin,
             sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS c1,
             sum(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS c2
      FROM binned GROUP BY route_id, bin
    ),
    smoothed AS (
      SELECT route_id, bin,
             (c1 + 1)::DOUBLE
               / ((sum(c1) OVER (PARTITION BY route_id))::DOUBLE
                  + {PSI_BINS}) AS p1,
             (c2 + 1)::DOUBLE
               / ((sum(c2) OVER (PARTITION BY route_id))::DOUBLE
                  + {PSI_BINS}) AS p2
      FROM counts
    ),
    agg AS (
      SELECT route_id, count(*) AS n_bins,
             {sql_pround(
                 '(sum(((p2 - p1) * ln(p2 / p1))::DECIMAL(28,6)))'
                 '::DOUBLE', 6)} AS psi
      FROM smoothed GROUP BY route_id
    )
    SELECT route_id, n_bins, psi,
           CASE WHEN psi < 0.1 THEN 'stable'
                WHEN psi < 0.25 THEN 'moderate'
                ELSE 'shifted' END AS drift_class
    FROM agg
    ORDER BY route_id
"""


MAD_CUT = 3.0 * 1.4826  # |x - median| > cut * MAD flags an outlier
# (1.4826 is the normal-consistency constant; folded in Python so both
# engines compare against the identical IEEE double)


def route_delay_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-route outlier screen on the raw delay feed: exact
    median, exact MAD (median absolute deviation), and the count of
    events beyond ``MAD_CUT x MAD`` — the heavy-tail-safe alternative
    to z-scores next to delay_winsorized_mean's trimmed means.

    Both medians are EXACT and rank-based (row_number over an in-group
    sort, average of the two middle values) — integer ranks and raw
    column doubles are bit-identical across engines, unlike
    interpolated quantile implementations.

    Scale: two in-group sorts over the events feed (the same shuffle an
    exact median needs anywhere), a broadcast routes-sized stats join,
    and a routes-sized aggregate. The deviation relation feeds both the
    MAD rank pass and the outlier count, so it is persisted through the
    tracked caching helper."""
    from ..caching import persisted
    from ..catalog import load_table

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("value").isNotNull()
    )
    x = ev.select(
        F.col("event_type").alias("route_id"),
        "event_id",
        F.col("value").alias("x"),
    )

    def _rank_median(df: DataFrame, col: str) -> DataFrame:
        w = Window.partitionBy("route_id").orderBy(col, "event_id")
        wn = Window.partitionBy("route_id")
        r = df.select(
            "route_id",
            F.col(col),
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wn).alias("n"),
        )
        lo = F.expr("(n + 1) div 2")
        hi = F.expr("(n div 2) + 1")
        return r.groupBy("route_id").agg(
            (
                (
                    F.max(F.when(F.col("rn") == lo, F.col(col)))
                    + F.max(F.when(F.col("rn") == hi, F.col(col)))
                )
                / F.lit(2.0)
            ).alias("med_" + col)
        )

    med = _rank_median(x, "x").withColumnRenamed("med_x", "med")
    dev = persisted(
        x.join(F.broadcast(med), "route_id").select(
            "route_id",
            "event_id",
            F.abs(F.col("x") - F.col("med")).alias("dev"),
        )
    )
    mad = _rank_median(dev, "dev").withColumnRenamed("med_dev", "mad")
    stats = F.broadcast(med.join(mad, "route_id"))
    return (
        dev.join(stats, "route_id")
        .groupBy("route_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("med").alias("median_delay"),
            F.max("mad").alias("mad"),
            F.sum(
                F.when(
                    F.col("dev") > F.lit(MAD_CUT) * F.col("mad"), 1
                ).otherwise(0)
            ).alias("n_outliers"),
        )
        .withColumn(
            "outlier_frac",
            pround(F.col("n_outliers") / F.col("n_events"), 6),
        )
        .orderBy("route_id")
    )


QUERIES["route_delay_mad_outliers"] = route_delay_mad_outliers

ORACLES["route_delay_mad_outliers"] = f"""
    WITH ev AS (
      SELECT event_type AS route_id, event_id, value AS x
      FROM events
      WHERE event_type IS NOT NULL AND value IS NOT NULL
    ),
    r1 AS (
      SELECT route_id, x,
             row_number() OVER (PARTITION BY route_id
                                ORDER BY x, event_id) AS rn,
             count(*) OVER (PARTITION BY route_id) AS n
      FROM ev
    ),
    med AS (
      SELECT route_id,
             (max(CASE WHEN rn = (n + 1) // 2 THEN x END)
              + max(CASE WHEN rn = n // 2 + 1 THEN x END))
               / CAST(2 AS DOUBLE) AS med
      FROM r1 GROUP BY route_id
    ),
    dev AS (
      SELECT ev.route_id, ev.event_id, abs(ev.x - med.med) AS dev
      FROM ev JOIN med USING (route_id)
    ),
    r2 AS (
      SELECT route_id, dev,
             row_number() OVER (PARTITION BY route_id
                                ORDER BY dev, event_id) AS rn,
             count(*) OVER (PARTITION BY route_id) AS n
      FROM dev
    ),
    mad AS (
      SELECT route_id,
             (max(CASE WHEN rn = (n + 1) // 2 THEN dev END)
              + max(CASE WHEN rn = n // 2 + 1 THEN dev END))
               / CAST(2 AS DOUBLE) AS mad
      FROM r2 GROUP BY route_id
    )
    SELECT dev.route_id, count(*) AS n_events,
           max(med.med) AS median_delay,
           max(mad.mad) AS mad,
           (sum(CASE WHEN dev.dev > CAST({MAD_CUT!r} AS DOUBLE) * mad.mad
                    THEN 1 ELSE 0 END))::BIGINT AS n_outliers,
           {sql_pround(
               '(sum(CASE WHEN dev.dev > CAST(' + repr(MAD_CUT)
               + ' AS DOUBLE) * mad.mad THEN 1 ELSE 0 END))::DOUBLE'
               ' / count(*)', 6)} AS outlier_frac
    FROM dev
    JOIN med USING (route_id)
    JOIN mad USING (route_id)
    GROUP BY dev.route_id
    ORDER BY route_id
"""


STL_MA_HALF = 6  # centered moving-average half-width (13-term window)


def revenue_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of monthly order revenue:
    trend = 13-term centered moving average (full-window months only),
    seasonal = month-of-year mean of the detrended series, residual =
    what's left. The STL-style read (trend vs seasonality vs noise) a
    naive month-over-month delta conflates.

    Determinism: monthly revenue folds to exact BIGINT cents
    (floor(x*100+0.5) — o_totalprice is 2-dp), so the moving-average
    window is an exact integer sum on both engines (DuckDB's windowed
    HUGEINT cast back); detrended values are doubles from identical
    inputs, and the seasonal means re-fold them through DECIMAL(28,6).

    Scale: one corpus-scale aggregate to month grain; every window and
    join after it runs on the months spine (|months| ~ 10^2 rows by
    construction — a spine, not a corpus)."""
    from ..catalog import load_table

    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.to_date(F.date_trunc("month", "o_orderdate")).alias("month")
    ).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                "long"
            )
        ).alias("rev_cents")
    )
    w = Window.orderBy("month").rowsBetween(-STL_MA_HALF, STL_MA_HALF)
    with_trend = monthly.select(
        "month",
        "rev_cents",
        F.when(
            F.count(F.lit(1)).over(w) == 2 * STL_MA_HALF + 1,
            F.sum("rev_cents").over(w)
            / F.lit(100.0 * (2 * STL_MA_HALF + 1)),
        ).alias("trend"),
    ).withColumn(
        "detrended", F.col("rev_cents") / F.lit(100.0) - F.col("trend")
    )
    seasonal = (
        with_trend.filter(F.col("trend").isNotNull())
        .groupBy(F.month("month").alias("moy"))
        .agg(
            F.sum(F.col("detrended").cast("decimal(28,6)"))
            .cast("double")
            .alias("sd"),
            F.count(F.lit(1)).alias("nd"),
        )
        .select("moy", (F.col("sd") / F.col("nd")).alias("seasonal_raw"))
    )
    return (
        with_trend.join(
            F.broadcast(seasonal),
            F.month("month") == F.col("moy"),
            "left",
        )
        .select(
            "month",
            pround(F.col("rev_cents") / F.lit(100.0), 2).alias("revenue"),
            pround(F.col("trend"), 2).alias("trend"),
            pround(F.col("seasonal_raw"), 2).alias("seasonal"),
            pround(
                F.col("detrended") - F.col("seasonal_raw"), 2
            ).alias("residual"),
        )
        .orderBy("month")
    )


QUERIES["revenue_stl_decompose"] = revenue_stl_decompose

ORACLES["revenue_stl_decompose"] = f"""
    WITH monthly AS (
      SELECT (date_trunc('month', o_orderdate))::DATE AS month,
             (sum((floor(o_totalprice * 100 + 0.5))::BIGINT))::BIGINT
               AS rev_cents
      FROM orders GROUP BY 1
    ),
    t AS (
      SELECT month, rev_cents,
             CASE WHEN count(*) OVER w = {2 * STL_MA_HALF + 1} THEN
               (sum(rev_cents) OVER w)::DOUBLE
                 / {100.0 * (2 * STL_MA_HALF + 1)}
             END AS trend
      FROM monthly
      WINDOW w AS (ORDER BY month
                   ROWS BETWEEN {STL_MA_HALF} PRECEDING
                   AND {STL_MA_HALF} FOLLOWING)
    ),
    d AS (
      SELECT *, rev_cents / 100.0 - trend AS detrended FROM t
    ),
    seas AS (
      SELECT month(month) AS moy,
             (sum((detrended)::DECIMAL(28,6)))::DOUBLE / count(*)
               AS seasonal_raw
      FROM d WHERE trend IS NOT NULL GROUP BY 1
    )
    SELECT d.month,
           {sql_pround("d.rev_cents / 100.0", 2)} AS revenue,
           {sql_pround("d.trend", 2)} AS trend,
           {sql_pround("seas.seasonal_raw", 2)} AS seasonal,
           {sql_pround("d.detrended - seas.seasonal_raw", 2)}
             AS residual
    FROM d LEFT JOIN seas ON month(d.month) = seas.moy
    ORDER BY d.month
"""


# --- Poisson-bootstrap CI for the per-route mean delay ---------------------
#
# The distributed bootstrap: classic resample-with-replacement needs the
# whole dataset addressable per replicate; the Poisson bootstrap
# (multiplicity ~ Poisson(1) per row per replicate) is one streaming
# pass — each row decides its own count in every replicate
# independently, map-side, and partial aggregation compresses the B-way
# fan-out to (routes x B) groups before the single exchange. This is
# how error bars are put on means at data sizes where a driver-side
# resample cannot run at all.

BOOT_B = 32  # bootstrap replicates
# Inverse-CDF thresholds of Poisson(1) as shared plan constants: the
# md5-uniform is compared against identical literals on both engines,
# so multiplicities are exactly reproducible (capped at 6; P(>6) < 1e-4).
_POIS_CDF = [
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
]
_BOOT_LO_RK = 2  # ceil(0.05 * 32)
_BOOT_HI_RK = 31  # ceil(0.95 * 32)


def delay_mean_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-route mean delay with a 90% Poisson-bootstrap confidence
    interval and bootstrap standard error — the uncertainty the naked
    per-route average (delay_hourly / route KPI tier) does not carry,
    and the number that says whether two routes' delays actually
    differ.

    Determinism: replicate multiplicities come from md5-uniforms
    against fixed Poisson(1) CDF literals (no RNG state); replicate
    means are decimal-folded and 6dp-quantized before ranking (ties
    break on replicate id), so the whole resampling procedure is
    hash-checked against the oracle.

    Scale: ONE corpus-scale exchange. The B-way explode is map-side
    and Catalyst's partial aggregation reduces it to (route x B)
    partials per task before the shuffle; everything after runs on the
    (routes x B)-sized replicate relation."""
    from ..catalog import load_table_spread
    from ..functions.portable import uniform01

    ev = (
        load_table_spread(spark, sf_dir, "events", "event_id")
        .filter(F.col("value").isNotNull())
        .select("event_type", "event_id", "value")
    )
    boot = ev.select(
        "event_type",
        "event_id",
        "value",
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("b"),
    )
    u = uniform01(
        F.concat(F.lit("boot:"), F.col("b"), F.lit(":"), F.col("event_id"))
    )
    mult = F.lit(6)
    for k in range(len(_POIS_CDF) - 1, -1, -1):
        mult = F.when(u <= F.lit(_POIS_CDF[k]), F.lit(k)).otherwise(mult)
    means = (
        boot.withColumn("mult", mult)
        .groupBy("event_type", "b")
        .agg(
            F.sum("mult").alias("m"),
            dsum_exact(F.col("mult") * F.col("value")).alias("sv"),
        )
        .select(
            "event_type",
            "b",
            pround(F.col("sv") / F.nullif(F.col("m"), F.lit(0)), 6).alias(
                "mean_b"
            ),
        )
    )
    # asc_nulls_last: a replicate whose every multiplicity drew 0 has
    # NULL mean_b (probability 0.368^n per replicate — real for tiny
    # routes); Spark's plain asc sorts NULLs FIRST while DuckDB's
    # ORDER BY ASC sorts them LAST, which would shift the CI ranks
    # between the plan and its oracle.
    w = Window.partitionBy("event_type").orderBy(
        F.col("mean_b").asc_nulls_last(), F.col("b").asc()
    )
    stats = (
        means.withColumn("rk", F.row_number().over(w))
        .groupBy("event_type")
        .agg(
            F.max(
                F.when(F.col("rk") == _BOOT_LO_RK, F.col("mean_b"))
            ).alias("boot_lo"),
            F.max(
                F.when(F.col("rk") == _BOOT_HI_RK, F.col("mean_b"))
            ).alias("boot_hi"),
            dsum_exact("mean_b").alias("s1"),
            dsum_exact(F.col("mean_b") * F.col("mean_b")).alias("s2"),
        )
        .select(
            "event_type",
            "boot_lo",
            "boot_hi",
            pround(
                F.sqrt(
                    F.greatest(
                        (
                            F.col("s2")
                            - F.col("s1") * F.col("s1") / F.lit(float(BOOT_B))
                        )
                        / F.lit(float(BOOT_B - 1)),
                        F.lit(0.0),
                    )
                ),
                6,
            ).alias("boot_se"),
        )
    )
    base = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        davg("value", 6).alias("mean_delay"),
    )
    return (
        base.join(stats, "event_type")
        .select(
            "event_type",
            "n_events",
            "mean_delay",
            "boot_lo",
            "boot_hi",
            "boot_se",
        )
        .orderBy("event_type")
    )


QUERIES["delay_mean_bootstrap"] = delay_mean_bootstrap

_SQL_POIS_MULT = "CASE " + " ".join(
    f"WHEN u <= {t} THEN {k}" for k, t in enumerate(_POIS_CDF)
) + " ELSE 6 END"

ORACLES["delay_mean_bootstrap"] = f"""
    WITH ev AS (
      SELECT event_type, event_id, value FROM events
      WHERE value IS NOT NULL
    ),
    boot AS (
      SELECT event_type, b,
             {_SQL_POIS_MULT} AS mult, value
      FROM (
        SELECT event_type, event_id, value, b,
               {sql_uniform01("'boot:' || b || ':' || event_id")} AS u
        FROM ev, (SELECT unnest(range({BOOT_B})) AS b) t
      ) q
    ),
    means AS (
      SELECT event_type, b,
             {sql_pround(
                 "(sum((mult * value)::DECIMAL(28,6)))::DOUBLE"
                 " / nullif(sum(mult), 0)", 6
             )} AS mean_b
      FROM boot GROUP BY event_type, b
    ),
    ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY event_type
               ORDER BY mean_b ASC NULLS LAST, b ASC) AS rk
      FROM means
    ),
    stats AS (
      SELECT event_type,
             max(CASE WHEN rk = {_BOOT_LO_RK} THEN mean_b END) AS boot_lo,
             max(CASE WHEN rk = {_BOOT_HI_RK} THEN mean_b END) AS boot_hi,
             (sum((mean_b)::DECIMAL(28,6)))::DOUBLE AS s1,
             (sum((mean_b * mean_b)::DECIMAL(28,6)))::DOUBLE AS s2
      FROM ranked GROUP BY event_type
    ),
    base AS (
      SELECT event_type, count(*) AS n_events,
             {sql_davg('value', 6)} AS mean_delay
      FROM ev GROUP BY event_type
    )
    SELECT b.event_type, b.n_events, b.mean_delay, s.boot_lo, s.boot_hi,
           {sql_pround(
               f"sqrt(greatest((s.s2 - s.s1 * s.s1 / {float(BOOT_B)})"
               f" / {float(BOOT_B - 1)}, 0.0))", 6
           )} AS boot_se
    FROM base b JOIN stats s USING (event_type)
    ORDER BY b.event_type
"""


# --- expanding-window backtest (time-series cross-validation) --------------

BT_FOLDS = 4  # contiguous folds per route; folds 2..K are test windows


def expanding_window_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expanding-window backtest of the mean forecast over the demand
    rollup — time-series cross-validation, the evaluation discipline a
    single train/test split (train_predict.py's one 80/20 cut) gets
    wrong when the series drifts: each route's observed hours split
    into BT_FOLDS contiguous folds by hour rank; for every fold k >= 2
    the prediction for each of its hours is the decimal mean of ALL
    earlier folds (train never sees the future), scored by MAE and
    signed bias. A model that only looks good on the last split shows
    up here as fold-over-fold MAE growth.

    Scale: runs on the shared (route x hour) rollup — one in-route
    rank window, a folds-sized cumulative window, one aggregate.

    Determinism: fold edges are pure integer rank arithmetic
    floor((rk-1)*K/n)+1; means/MAE are decimal folds rounded 4dp."""
    from ..caching import persisted

    d = persisted(
        demand_hourly(spark, sf_dir).select(
            "route_id", "hour_ts", "passengers"
        )
    )
    w = Window.partitionBy("route_id").orderBy("hour_ts")
    wn = Window.partitionBy("route_id")
    folded = d.select(
        "route_id",
        "passengers",
        (
            F.floor(
                (F.row_number().over(w) - 1)
                * BT_FOLDS
                / F.count(F.lit(1)).over(wn)
            )
            + 1
        ).cast("int").alias("fold"),
    )
    per_fold = folded.groupBy("route_id", "fold").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("passengers").cast("decimal(28,6)")).alias("s"),
    )
    wcum = (
        Window.partitionBy("route_id")
        .orderBy("fold")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    train = per_fold.select(
        "route_id",
        "fold",
        F.sum("n").over(wcum).alias("n_train"),
        (
            F.sum("s").over(wcum).cast("double")
            / F.sum("n").over(wcum)
        ).alias("train_mean_raw"),
    ).filter(F.col("fold") >= 2)
    scored = folded.join(train, ["route_id", "fold"]).groupBy(
        "route_id", "fold"
    ).agg(
        F.max("n_train").alias("n_train"),
        F.count(F.lit(1)).alias("n_test"),
        pround(F.max("train_mean_raw"), 4).alias("train_mean"),
        davg(
            F.abs(F.col("passengers") - F.col("train_mean_raw")), 4
        ).alias("mae"),
        davg(F.col("passengers") - F.col("train_mean_raw"), 4).alias(
            "bias"
        ),
    )
    return scored.select(
        "route_id", "fold", "n_train", "n_test", "train_mean", "mae", "bias"
    ).orderBy("route_id", "fold")


QUERIES["expanding_window_backtest"] = expanding_window_backtest

ORACLES["expanding_window_backtest"] = f"""
    WITH d AS ({SQL_DEMAND}),
    folded AS (
      SELECT route_id, passengers,
             (floor((row_number() OVER (
                  PARTITION BY route_id ORDER BY hour_ts) - 1)
                * {BT_FOLDS}
                / count(*) OVER (PARTITION BY route_id)) + 1)::INT
               AS fold
      FROM d
    ),
    per_fold AS (
      SELECT route_id, fold, count(*) AS n,
             sum((passengers)::DECIMAL(28,6)) AS s
      FROM folded GROUP BY route_id, fold
    ),
    train AS (
      SELECT route_id, fold,
             sum(n) OVER win AS n_train,
             (sum(s) OVER win)::DOUBLE / (sum(n) OVER win)
               AS train_mean_raw
      FROM per_fold
      WINDOW win AS (PARTITION BY route_id ORDER BY fold
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      QUALIFY fold >= 2
    )
    SELECT f.route_id, f.fold, CAST(max(t.n_train) AS BIGINT) AS n_train,
           count(*) AS n_test,
           {sql_pround('max(t.train_mean_raw)', 4)} AS train_mean,
           {sql_pround(
               '(sum((abs(f.passengers - t.train_mean_raw))'
               '::DECIMAL(28,6)))::DOUBLE / count(*)', 4
           )} AS mae,
           {sql_pround(
               '(sum((f.passengers - t.train_mean_raw)'
               '::DECIMAL(28,6)))::DOUBLE / count(*)', 4
           )} AS bias
    FROM folded f JOIN train t USING (route_id, fold)
    GROUP BY f.route_id, f.fold
    ORDER BY f.route_id, f.fold
"""


# --- split-conformal prediction intervals -----------------------------------

CONF_ALPHA = 0.1  # target miscoverage: 90% intervals


def conformal_interval_coverage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Split-conformal prediction intervals on the persistence
    forecaster, per route: the first half of each route's forecastable
    hours (by time) calibrates the interval radius — the k-th smallest
    absolute residual with k = ceil((n_cal+1)·(1−alpha)), the standard
    split-conformal quantile that guarantees ≥1−alpha coverage for
    exchangeable residuals — and the second half measures EMPIRICAL
    coverage of yhat ± q. The distribution-free uncertainty wrapper a
    production forecast serving layer puts around any point model
    (Vovk et al.; Angelopoulos & Bates 2023 tutorial) — the reference's
    validation harness grades point error only.

    Scale: runs on the shared (route × hour) demand rollup — one lag
    join, two in-route windows (time rank, residual rank), one
    aggregate; nothing touches raw events. Determinism: the radius is
    an ORDER statistic (no interpolation), picked by integer rank with
    hour_ts tie-break; coverage is a rounded ratio of exact counts."""
    from ..caching import persisted

    d = persisted(
        demand_hourly(spark, sf_dir).select(
            "route_id", "hour_ts", "passengers"
        )
    )
    p1 = d.select(
        "route_id",
        (F.col("hour_ts") + F.expr("INTERVAL 1 HOUR")).alias("hour_ts"),
        F.col("passengers").alias("yhat"),
    )
    ev = d.join(p1, ["route_id", "hour_ts"]).select(
        "route_id",
        "hour_ts",
        F.abs(F.col("passengers") - F.col("yhat")).alias("abs_res"),
    )
    wt = Window.partitionBy("route_id").orderBy("hour_ts")
    wn = Window.partitionBy("route_id")
    tagged = ev.select(
        "route_id",
        "hour_ts",
        "abs_res",
        (
            F.row_number().over(wt) * 2 <= F.count(F.lit(1)).over(wn)
        ).alias("is_cal"),
    )
    cal = tagged.filter(F.col("is_cal"))
    wr = Window.partitionBy("route_id").orderBy("abs_res", "hour_ts")
    q = (
        cal.select(
            "route_id",
            "abs_res",
            F.row_number().over(wr).alias("rk"),
            F.count(F.lit(1)).over(wn).alias("n_cal"),
        )
        .filter(
            F.col("rk")
            == F.least(
                F.col("n_cal"),
                F.ceil(
                    (F.col("n_cal") + 1) * F.lit(1.0 - CONF_ALPHA)
                ).cast("int"),
            )
        )
        .select(
            "route_id", "n_cal", F.col("abs_res").alias("q_radius")
        )
    )
    test = tagged.filter(~F.col("is_cal"))
    return (
        test.join(F.broadcast(q), "route_id")
        .groupBy("route_id")
        .agg(
            F.max("n_cal").alias("n_cal"),
            F.count(F.lit(1)).alias("n_test"),
            pround(F.max("q_radius"), 4).alias("q_radius"),
            pround(
                F.sum(
                    F.when(
                        F.col("abs_res") <= F.col("q_radius"), 1
                    ).otherwise(0)
                )
                / F.count(F.lit(1)),
                4,
            ).alias("coverage"),
        )
        .withColumn("target_coverage", F.lit(1.0 - CONF_ALPHA))
        .orderBy("route_id")
    )


QUERIES["conformal_interval_coverage"] = conformal_interval_coverage

ORACLES["conformal_interval_coverage"] = f"""
    WITH d AS ({SQL_DEMAND}),
    p1 AS (
      SELECT route_id, hour_ts + INTERVAL 1 HOUR AS hour_ts,
             passengers AS yhat
      FROM d
    ),
    ev AS (
      SELECT d.route_id, d.hour_ts,
             abs(d.passengers - p1.yhat) AS abs_res
      FROM d JOIN p1 USING (route_id, hour_ts)
    ),
    tagged AS (
      SELECT route_id, hour_ts, abs_res,
             row_number() OVER (
               PARTITION BY route_id ORDER BY hour_ts) * 2
               <= count(*) OVER (PARTITION BY route_id) AS is_cal
      FROM ev
    ),
    q AS (
      SELECT route_id, n_cal, abs_res AS q_radius
      FROM (
        SELECT route_id, abs_res,
               row_number() OVER (
                 PARTITION BY route_id ORDER BY abs_res, hour_ts) AS rk,
               count(*) OVER (PARTITION BY route_id) AS n_cal
        FROM tagged WHERE is_cal
      ) r
      WHERE rk = least(n_cal,
                       CAST(ceil((n_cal + 1) * {1.0 - CONF_ALPHA}) AS INT))
    )
    SELECT t.route_id, CAST(max(q.n_cal) AS BIGINT) AS n_cal,
           count(*) AS n_test,
           {sql_pround('max(q.q_radius)', 4)} AS q_radius,
           {sql_pround(
               'sum(CASE WHEN t.abs_res <= q.q_radius '
               'THEN 1 ELSE 0 END)::DOUBLE / count(*)', 4
           )} AS coverage,
           CAST({1.0 - CONF_ALPHA} AS DOUBLE) AS target_coverage
    FROM tagged t JOIN q USING (route_id)
    WHERE NOT t.is_cal
    GROUP BY t.route_id
    ORDER BY t.route_id
"""
