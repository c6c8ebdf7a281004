"""Distributed mock passenger-flow generator.

Parity: generate_flow() in
/root/reference/src/dag/mock_passenger_flow_job.py:85-183 — per-stop
hourly demand = base_weight x time-of-day x day-of-week x weather x
delay factors, distributed over minute buckets with a two-bump
within-hour shape, then integer-rounded per bucket.

Spark-first deltas from the reference (documented, intentional):
- The driver-side psycopg2 loop becomes one declarative plan: the stop
  table crossed with a generated minute sequence — map-side explode, one
  window over stop_id for the weight normalization, no collect().
- ``random.normalvariate`` noise becomes md5-derived uniform noise
  (deterministic, partition-independent, reproducible across engines) —
  a seeded-RNG sim is not restartable on a cluster, a hash-derived one
  is.
- The Gaussian ``exp`` bumps become rational bumps 1/(1+m^2/s): IEEE
  +,-,*,/ are correctly rounded everywhere, so the result is
  bit-identical across engines, while libm exp() is not guaranteed to
  be. Shape (peaks at :00 and :30, ~[0.7, 2.1] range) is preserved.

Scale: stops x 100 buckets explodes map-side; the only shuffle is the
per-stop weight-normalization window. At 100 TB the generator is bounded
by the stop table size, not the event volume it emits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.portable import hash60, pround, sql_hash60, sql_pround

EVENTS_PER_HOUR = 100
INTERVAL_MINUTES = 1
_SCALE = float(1 << 59)


def _hash_noise(c: Column, amplitude: float) -> Column:
    """Deterministic uniform noise in [-amplitude, amplitude)."""
    return (hash60(c) / F.lit(_SCALE) - F.lit(1.0)) * F.lit(amplitude)


def _sql_hash_noise(expr: str, amplitude: float) -> str:
    return f"({sql_hash60(expr)} / {_SCALE} - 1.0) * {amplitude}"


def _time_factor(hour: Column) -> Column:
    return (
        F.when((hour >= 6) & (hour < 9), 1.9)
        .when((hour >= 9) & (hour < 16), 1.0)
        .when((hour >= 16) & (hour < 19), 2.1)
        .when((hour >= 19) & (hour < 23), 0.8)
        .when(hour >= 23, 0.4)
        .otherwise(0.3)
    )


_SQL_TIME_FACTOR = """
    CASE WHEN hh >= 6 AND hh < 9 THEN 1.9
         WHEN hh >= 9 AND hh < 16 THEN 1.0
         WHEN hh >= 16 AND hh < 19 THEN 2.1
         WHEN hh >= 19 AND hh < 23 THEN 0.8
         WHEN hh >= 23 THEN 0.4
         ELSE 0.3 END
"""

# Monday=0 ... Sunday=6 (python weekday()), from each engine's native dow.
_DOW_SPARK = "(dayofweek(h) + 5) % 7"
_DOW_SQL = "(dayofweek(h) + 6) % 7"

_SQL_DAY_FACTOR = "CASE WHEN dw = 5 THEN 0.75 WHEN dw = 6 THEN 0.6 ELSE 1.0 END"


def _day_factor(dw: Column) -> Column:
    return F.when(dw == 5, 0.75).when(dw == 6, 0.6).otherwise(1.0)


def _weather_factor(temp: Column, rain: Column) -> Column:
    return (
        F.when(rain >= 5, 1.25)
        .when(rain >= 1, 1.15)
        .when(temp <= -5, 0.85)
        .when(temp >= 30, 0.9)
        .otherwise(1.0)
    )


_SQL_WEATHER_FACTOR = """
    CASE WHEN rain >= 5 THEN 1.25 WHEN rain >= 1 THEN 1.15
         WHEN temp <= -5 THEN 0.85 WHEN temp >= 30 THEN 0.9
         ELSE 1.0 END
"""


def _delay_factor(delay: Column) -> Column:
    return (
        F.when(delay.isNull(), 1.0)
        .when(delay > 600, 0.75)
        .when(delay > 300, 0.85)
        .otherwise(1.0)
    )


_SQL_DELAY_FACTOR = """
    CASE WHEN dly IS NULL THEN 1.0 WHEN dly > 600 THEN 0.75
         WHEN dly > 300 THEN 0.85 ELSE 1.0 END
"""


def _within_hour_factor(m: Column) -> Column:
    """Two bumps at :00 and :30 (rational stand-ins for the reference's
    Gaussians with sigma 8 and 10)."""
    bump1 = F.lit(1.0) / (F.lit(1.0) + (m * m) / F.lit(128.0))
    m2 = m - F.lit(30.0)
    bump2 = F.lit(1.0) / (F.lit(1.0) + (m2 * m2) / F.lit(200.0))
    return F.lit(0.7) + F.lit(0.7) * (bump1 + bump2)


_SQL_WHF = (
    "(0.7 + 0.7 * (1.0 / (1.0 + (mm * mm) / 128.0)"
    " + 1.0 / (1.0 + ((mm - 30.0) * (mm - 30.0)) / 200.0)))"
)


def passenger_flow_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One simulation run of passenger-flow events for every stop.

    Execution hour = latest event hour; demand factors come from that
    hour's events (delay = avg value, weather = the weather_hourly
    profile for the hour).

    Note: EVENTS_PER_HOUR=100 one-minute buckets deliberately mirrors
    the reference (mock_passenger_flow_job.py:147-150 stamps ts + i
    minutes for i in 0..99), so — like the reference — the last 40
    buckets spill into the following hour and the within-hour bump
    shape restarts at i=60. Faithful-parity choice, not an oversight.
    """
    ev = load_table(spark, sf_dir, "events")
    hour_df = ev.agg(F.date_trunc("hour", F.max("ts")).alias("h"))
    factors = (
        ev.join(hour_df, F.date_trunc("hour", F.col("ts")) == F.col("h"))
        .groupBy("h")
        .agg(
            F.avg("value").alias("dly"),
            F.avg("value").alias("temp"),
            (
                F.avg(F.get_json_object("props", "$.k").cast("double"))
                / F.lit(10.0)
            ).alias("rain"),
        )
        .select(
            "h",
            (
                _time_factor(F.hour("h"))
                * _day_factor(F.expr(_DOW_SPARK))
                * _weather_factor(F.col("temp"), F.col("rain"))
                * _delay_factor(F.col("dly"))
            ).alias("factor"),
        )
    )

    from ..operators.hourly import stop_base_demand

    stops = stop_base_demand(spark, sf_dir)

    noise1 = _hash_noise(F.concat(F.lit("pf:"), F.col("stop_id")), 0.10)
    demand = stops.crossJoin(F.broadcast(factors)).select(
        "stop_id",
        "h",
        F.greatest(
            F.lit(0),
            pround(F.col("base_weight") * F.col("factor") * (1 + noise1), 0),
        )
        .cast("long")
        .alias("hourly_passengers"),
    )

    # Repartition the (stop-sized, small) demand relation on stop_id
    # BEFORE the 100x bucket explode. Without this, AQE coalesces the
    # tiny stops aggregate to ONE partition (20k rows is far under the
    # 64 MB advisory size) and the whole downstream — bucket explode,
    # two md5s per bucket, the per-stop normalization window — runs as
    # a single task: AQE sizes the exchange on its INPUT bytes and
    # cannot see the 100x expansion behind the Generate. The explicit
    # count makes the exchange non-coalescible, and a count distinct
    # from spark.sql.shuffle.partitions keeps EnsureRequirements from
    # eliminating it as redundant with the aggregate's own exchange;
    # hashpartitioning(stop_id, 2N) still satisfies the window's
    # required distribution, so the exploded stream itself (stops x 100
    # rows) never shuffles.
    # The count must differ from the ACTUAL session shuffle-partition
    # setting (a session conf, not derivable from core count) or
    # EnsureRequirements elides the repartition as redundant with the
    # aggregate's own exchange — so read the conf and dodge it.
    try:
        shuffle_parts = int(
            spark.conf.get("spark.sql.shuffle.partitions", "200")
        )
    except ValueError:
        shuffle_parts = -1
    n_parts = 2 * spark.sparkContext.defaultParallelism + 1
    if n_parts == shuffle_parts:
        n_parts += 1
    buckets = demand.repartition(n_parts, F.col("stop_id")).select(
        "stop_id",
        "h",
        "hourly_passengers",
        F.explode(F.sequence(F.lit(0), F.lit(EVENTS_PER_HOUR - 1))).alias("i"),
    )
    mm = (F.col("i") % 60).cast("double")
    noise2 = _hash_noise(
        F.concat(F.lit("pfb:"), F.col("stop_id"), F.lit(":"), F.col("i")),
        0.12,
    )
    weighted = buckets.select(
        "stop_id",
        "h",
        "hourly_passengers",
        "i",
        F.greatest(
            F.lit(0.05), pround(_within_hour_factor(mm) * (1 + noise2), 9)
        ).alias("w"),
    )
    total = Window.partitionBy("stop_id")
    return weighted.select(
        "stop_id",
        (F.col("h") + F.make_interval(mins=F.col("i"))).alias("observed_at"),
        F.greatest(
            F.lit(0),
            pround(
                pround(
                    F.col("hourly_passengers")
                    * F.col("w")
                    / F.sum("w").over(total),
                    6,
                ),
                0,
            ),
        )
        .cast("long")
        .alias("estimated_passengers"),
    )


QUERIES = {"passenger_flow_sim": passenger_flow_sim}

_SQL_FLOW = f"""
    WITH hour_df AS (
      SELECT date_trunc('hour', max(ts)) AS h FROM events
    ),
    factors AS (
      SELECT h,
             ({_SQL_TIME_FACTOR}) * ({_SQL_DAY_FACTOR})
               * ({_SQL_WEATHER_FACTOR}) * ({_SQL_DELAY_FACTOR}) AS factor
      FROM (
        SELECT h, hour(h) AS hh, {_DOW_SQL} AS dw,
               avg(value) AS dly, avg(value) AS temp,
               avg(CAST(json_extract_string(props, '$.k') AS DOUBLE)) / 10.0
                 AS rain
        FROM events, hour_df
        WHERE date_trunc('hour', ts) = h
        GROUP BY h
      ) x
    ),
    stops AS (
      SELECT l_partkey AS stop_id,
             CAST(least(50, greatest(5, count(*) * 3)) AS INT) AS base_weight
      FROM lineitem GROUP BY l_partkey
    ),
    demand AS (
      SELECT stop_id, h,
             CAST(greatest(0, {sql_pround(
                 "base_weight * factor * (1 + "
                 + _sql_hash_noise("'pf:' || stop_id::VARCHAR", 0.10)
                 + ")", 0)}) AS BIGINT) AS hourly_passengers
      FROM stops, factors
    ),
    weighted AS (
      SELECT stop_id, h, hourly_passengers, i,
             greatest(0.05, {sql_pround(
                 "(" + _SQL_WHF + ") * (1 + "
                 + _sql_hash_noise(
                     "'pfb:' || stop_id::VARCHAR || ':' || i::VARCHAR", 0.12)
                 + ")", 9)}) AS w
      FROM (
        SELECT stop_id, h, hourly_passengers,
               unnest(range(0, {EVENTS_PER_HOUR})) AS i,
               CAST(unnest(range(0, {EVENTS_PER_HOUR})) % 60 AS DOUBLE) AS mm
        FROM demand
      ) b
    )
    SELECT stop_id,
           h + to_minutes(i) AS observed_at,
           CAST(greatest(0, {sql_pround(
               sql_pround(
                   "hourly_passengers * w / sum(w) OVER (PARTITION BY stop_id)",
                   6),
               0)}) AS BIGINT) AS estimated_passengers
    FROM weighted
"""

ORACLES = {"passenger_flow_sim": _SQL_FLOW}
