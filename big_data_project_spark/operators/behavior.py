"""User-behavior analytics over the ``events`` stream: ordered funnel
conversion, cohort retention, DAU/WAU engagement, event-transition
matrix, and conversion-lag profiling.

Parity: the reference's product surface reads per-user event rollups
(reference kpi_views.sql hourly views + the sessionized usage feed the
frontend charts); funnel / retention / stickiness are the standard
product-analytics layer built on exactly that event stream. The event
taxonomy here is the driver's own (view / click / purchase / signup /
error, TESTDATA.md), so stages are view -> click -> purchase with
strict event-time ordering per user.

Scale design:
- The per-user funnel is ONE exchange: all three stage timestamps are
  chained window-mins over the same ``user_id`` hash partitioning, so
  Catalyst plans a single shuffle + sort reused by every Window node
  and the follow-up per-user aggregate.
- Retention and DAU/WAU run on the deduplicated (user, day) relation —
  corpus-scale input collapses to |users| x |active days| before any
  join. The day spine is days-sized and broadcast; the rolling-WAU
  range join fans out at most 7x the user-day relation.
- The transition matrix is a lead() window over the same user_id
  partitioning plus one |event_types|^2-sized aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..caching import persisted
from ..catalog import load_table
from ..functions.portable import davg, pround, sql_davg, sql_pround

# Ordered funnel stages over the driver taxonomy. Strict ordering:
# a click only counts after the user's FIRST view; a purchase only
# after that first qualifying click (classic strict-funnel semantics).
STAGE_NAMES = {1: "view", 2: "click_after_view", 3: "purchase_after_click"}
WAU_DAYS = 7  # rolling window width for the stickiness ratio


def _user_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per user with the three stage-entry timestamps
    (fv / fc / fp, each nullable). Single exchange on user_id: the
    three window-mins and the final per-user aggregate all reuse the
    same hash partitioning."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    w = Window.partitionBy("user_id")
    t = F.col("event_type")
    per = (
        ev.withColumn(
            "fv", F.min(F.when(t == "view", F.col("ts"))).over(w)
        )
        .withColumn(
            "fc",
            F.min(
                F.when(
                    (t == "click") & (F.col("ts") > F.col("fv")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "fp",
            F.min(
                F.when(
                    (t == "purchase") & (F.col("ts") > F.col("fc")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    # fv/fc/fp are constant per user; max() collapses to one row per
    # user without a new exchange (partitioning on user_id preserved).
    return per.groupBy("user_id").agg(
        F.max("fv").alias("fv"),
        F.max("fc").alias("fc"),
        F.max("fp").alias("fp"),
    )


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order funnel: users reaching each stage (cumulative),
    as a fraction of stage-1 entrants. Three rows, always all three
    stages (spine left-join), so the output shape is input-invariant.
    """
    per = _user_funnel(spark, sf_dir)
    stage = (
        F.when(F.col("fp").isNotNull(), 3)
        .when(F.col("fc").isNotNull(), 2)
        .when(F.col("fv").isNotNull(), 1)
        .otherwise(0)
    )
    counts = (
        per.select(stage.alias("stage"))
        .filter(F.col("stage") >= 1)
        .groupBy("stage")
        .agg(F.count(F.lit(1)).alias("n_at_stage"))
    )
    spine = spark.createDataFrame(
        [(k, v) for k, v in STAGE_NAMES.items()], "stage INT, stage_name STRING"
    )
    wcum = (
        Window.orderBy(F.desc("stage"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        spine.join(counts, "stage", "left")
        .withColumn(
            "n_users",
            F.sum(F.coalesce(F.col("n_at_stage"), F.lit(0))).over(wcum),
        )
    )
    total = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        cum.withColumn(
            "conversion",
            pround(F.col("n_users") / F.max("n_users").over(total), 4),
        )
        .select("stage", "stage_name", "n_users", "conversion")
        .orderBy("stage")
    )


def _user_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort-retention triangle: cohort = date of a user's
    first event; for each (cohort_day, day_offset) the count of cohort
    members active that day and the retention fraction.

    user_day dedup is the only corpus-scale shuffle; firsts reuse the
    user_id partitioning; cohort sizes are days-sized and broadcast.
    """
    ud = _user_days(spark, sf_dir)
    firsts = ud.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    sizes = firsts.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    act = (
        ud.join(firsts, "user_id")
        .select(
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day")).alias(
                "day_offset"
            ),
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    return (
        act.join(F.broadcast(sizes), "cohort_day")
        .withColumn(
            "retention", pround(F.col("n_active") / F.col("cohort_users"), 4)
        )
        .select(
            "cohort_day", "day_offset", "n_active", "cohort_users",
            "retention",
        )
        .orderBy("cohort_day", "day_offset")
    )


def dau_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day DAU, trailing-7-day WAU (distinct users), and the
    DAU/WAU stickiness ratio. The user-day relation (users x active
    days — far smaller than events) is persisted so the spine branch
    and the join branch share one corpus scan.

    The trailing window is an EXPLODE-to-covered-days equi-join, not a
    range join (round-4 verdict item 3): each user-day fans out to the
    <= WAU_DAYS spine days whose window it falls in
    (sequence(day, day + 6)), then equi-joins the broadcast day spine —
    a BroadcastHashJoin. The range-predicate formulation planned a
    BroadcastNestedLoopJoin that tested every user-day row against ALL
    |days| spine rows: O(|user_days| x |days|) comparisons, i.e. ~10^3
    wasted predicate evaluations per row on a multi-year spine. The
    spine join keeps only covered days that were actually active, so
    results are identical. DAU + WAU come from ONE distinct-aggregate
    per spine day (conditional count for DAU — no second pass)."""
    ud = persisted(_user_days(spark, sf_dir))
    days = ud.select(F.col("day").alias("d")).distinct()
    covered = ud.select(
        "user_id",
        "day",
        F.explode(
            F.sequence(
                F.col("day"), F.date_add(F.col("day"), WAU_DAYS - 1)
            )
        ).alias("d"),
    )
    return (
        covered.join(F.broadcast(days), "d")
        .groupBy("d")
        .agg(
            F.countDistinct("user_id").alias("wau"),
            F.count(F.when(F.col("day") == F.col("d"), 1)).alias("dau"),
        )
        .withColumn("stickiness", pround(F.col("dau") / F.col("wau"), 4))
        .select(F.col("d").alias("day"), "dau", "wau", "stickiness")
        .orderBy("day")
    )


def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix between consecutive events
    per user (event-time order, event_id tie-break): counts and
    row-normalized probabilities. One window shuffle on user_id; the
    aggregate output is |event_types|^2-sized."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wrow = Window.partitionBy("from_type")
    return (
        pairs.withColumn(
            "prob", pround(F.col("n") / F.sum("n").over(wrow), 4)
        )
        .select("from_type", "to_type", "n", "prob")
        .orderBy("from_type", "to_type")
    )


def funnel_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For fully-converted users (stage 3), time-to-convert per
    first-view cohort day: view->click and click->purchase lags in
    seconds (decimal-exact averages). Runs on the per-user funnel
    relation — users-sized, one aggregate on the cohort day."""
    per = _user_funnel(spark, sf_dir).filter(F.col("fp").isNotNull())
    v2c = (F.unix_micros("fc") - F.unix_micros("fv")) / F.lit(1e6)
    c2p = (F.unix_micros("fp") - F.unix_micros("fc")) / F.lit(1e6)
    return (
        per.select(
            F.to_date("fv").alias("cohort_day"),
            v2c.alias("v2c_s"),
            c2p.alias("c2p_s"),
        )
        .groupBy("cohort_day")
        .agg(
            F.count(F.lit(1)).alias("n_converted"),
            davg("v2c_s", 4).alias("avg_view_to_click_s"),
            davg("c2p_s", 4).alias("avg_click_to_purchase_s"),
        )
        .orderBy("cohort_day")
    )


def interevent_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two histogram of per-user inter-event gaps (seconds) —
    the distribution a sessionization threshold is READ from (the
    session gap should sit in the valley between the in-session and
    between-session modes; streaming/pipeline.py's 30-min gap is the
    classic choice). Gap = seconds between consecutive events of the
    same user (event-time order, event_id tie-break); same-second
    events land in bucket 0.

    Portability: the bucket is floor(log2(max(gap_s, 1))) computed as
    length(bin(x)) - 1 — pure integer/string ops, no float log that
    could straddle a bucket edge differently per engine (same policy as
    curation.doc_length_histogram).

    Scale: one exchange — the lag window and nothing else shuffles the
    events; the histogram aggregate's map-side partials reduce each
    partition to at most ~40 bucket rows, and the share denominator is
    a 1-row broadcast."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(
        F.lag("ts").over(w)
    )
    gaps = (
        ev.withColumn("gap_us", gap_us)
        .filter(F.col("gap_us").isNotNull())
        .select(
            F.floor(F.col("gap_us") / F.lit(1_000_000.0))
            .cast("long")
            .alias("gap_s")
        )
    )
    bucket = (
        F.length(F.bin(F.greatest(F.col("gap_s"), F.lit(1)))) - 1
    ).alias("log2_bucket_s")
    hist = gaps.groupBy(bucket).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.min("gap_s").alias("min_gap_s"),
        F.max("gap_s").alias("max_gap_s"),
    )
    # Share denominator via a whole-relation window over the ~40-row
    # histogram: a separate total aggregate + crossJoin re-executes the
    # shared subplan (Spark has no automatic CTE materialization), i.e.
    # a SECOND full lag-window pass over the events.
    total = F.sum("n_gaps").over(Window.partitionBy())
    return (
        hist.select(
            "log2_bucket_s",
            "n_gaps",
            "min_gap_s",
            "max_gap_s",
            pround(F.col("n_gaps") / total, 6).alias("share"),
        )
        .orderBy("log2_bucket_s")
    )


N_DECILES = 10  # activity deciles for the power-user curve


def power_user_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity-concentration curve: users ranked into N_DECILES
    deciles by event count (ntile over (n_events, user_id) — fully
    ordered, so the assignment is engine-deterministic), then per
    decile the user count, event totals, and each decile's share of all
    events. Decile 10 holding >50% of events is the classic power-user
    concentration a capacity plan (and an abuse filter) reads first.

    Scale: one corpus-scale (user) aggregate; the ntile window runs on
    the users-sized relation and the final aggregate is 10 rows. The
    share denominator is a whole-relation window over those 10 rows."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    decile = F.ntile(N_DECILES).over(
        Window.orderBy("n_events", "user_id")
    )
    per_decile = (
        per_user.withColumn("decile", decile)
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("n_events").alias("total_events"),
            F.min("n_events").alias("min_events"),
            F.max("n_events").alias("max_events"),
        )
    )
    total = F.sum("total_events").over(Window.partitionBy())
    return (
        per_decile.select(
            "decile",
            "n_users",
            "total_events",
            "min_events",
            "max_events",
            pround(F.col("total_events") / total, 6).alias("event_share"),
        )
        .orderBy("decile")
    )


def user_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week churn: per calendar week, the active users, how
    many of them return the NEXT calendar week, and the churn rate —
    the retention_cohorts companion a growth dashboard tracks as one
    number per week. The final observed week is excluded (its next
    week is unobservable, not churned).

    Scale: runs on the deduplicated (user, week) relation — one
    corpus-scale distinct, then a self equi-join on (user, week+7d)
    and a weeks-sized aggregate."""
    ev = load_table(spark, sf_dir, "events")
    # week as DATE (both engines' date_trunc('week') floor to Monday;
    # DuckDB's returns DATE, so the Spark side casts to match)
    uw = persisted(
        ev.select(
            "user_id",
            F.to_date(F.date_trunc("week", F.col("ts"))).alias("week"),
        ).distinct()
    )
    nxt = uw.select(
        "user_id",
        F.date_sub(F.col("week"), 7).alias("week"),
    )
    flagged = uw.join(
        nxt.withColumn("returned", F.lit(1)).withColumnRenamed(
            "returned", "ret"
        ),
        ["user_id", "week"],
        "left",
    )
    agg = flagged.groupBy("week").agg(
        F.count(F.lit(1)).alias("n_active"),
        F.sum(F.coalesce(F.col("ret"), F.lit(0))).alias("n_retained"),
    )
    last_week = F.max("week").over(Window.partitionBy())
    return (
        agg.withColumn("last_week", last_week)
        .filter(F.col("week") < F.col("last_week"))
        .select(
            "week",
            "n_active",
            "n_retained",
            pround(
                1.0 - F.col("n_retained") / F.col("n_active"), 4
            ).alias("churn_rate"),
        )
        .orderBy("week")
    )


def session_duration_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two histogram of session durations (seconds) from the
    gap-based sessionization (streaming/pipeline.sessionize_batch) —
    the distribution an engagement dashboard buckets sessions into, and
    the sanity check on the session gap itself (a spike at the top
    bucket means the gap is merging visits). Zero-duration
    (single-event) sessions land in bucket 0 via greatest(dur, 1).

    Scale: sessionization is one (user_id) exchange; the histogram
    aggregate map-side-reduces to <= ~40 bucket rows and the share
    denominator is a whole-relation window over them."""
    from ..streaming.pipeline import sessionize_batch

    s = sessionize_batch(spark, sf_dir)
    dur_s = F.floor(
        (F.unix_micros("session_end") - F.unix_micros("session_start"))
        / F.lit(1_000_000.0)
    ).cast("long")
    bucket = (
        F.length(F.bin(F.greatest(dur_s, F.lit(1)))) - 1
    ).alias("log2_bucket_s")
    hist = s.groupBy(bucket).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.min(dur_s).alias("min_dur_s"),
        F.max(dur_s).alias("max_dur_s"),
    )
    total = F.sum("n_sessions").over(Window.partitionBy())
    return hist.select(
        "log2_bucket_s",
        "n_sessions",
        "min_dur_s",
        "max_dur_s",
        pround(F.col("n_sessions") / total, 6).alias("share"),
    ).orderBy("log2_bucket_s")


def session_concurrency_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-session load curve: for each clock hour, how many
    sessions were OPEN during any part of it (and how many distinct
    users) — the serving-capacity number an autoscaler is sized
    against, derived by exploding each session onto the hours it spans
    (interval → hour-grain coverage, the dau_rolling_wau equi-join
    recipe applied to time instead of days; never a range join).

    Scale: sessions are users x visits-sized; the explode fans each out
    by its hour span (bounded by the session gap + visit length), then
    one hours-sized aggregate."""
    from ..streaming.pipeline import sessionize_batch

    s = sessionize_batch(spark, sf_dir)
    hours = F.sequence(
        F.date_trunc("hour", F.col("session_start")),
        F.date_trunc("hour", F.col("session_end")),
        F.expr("INTERVAL 1 HOUR"),
    )
    return (
        s.select("user_id", F.explode(hours).alias("hour_ts"))
        .groupBy("hour_ts")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("hour_ts")
    )


QUERIES = {
    "funnel_conversion": funnel_conversion,
    "retention_cohorts": retention_cohorts,
    "dau_rolling_wau": dau_rolling_wau,
    "event_transition_matrix": event_transition_matrix,
    "funnel_conversion_lag": funnel_conversion_lag,
    "interevent_gap_histogram": interevent_gap_histogram,
    "power_user_curve": power_user_curve,
    "user_churn": user_churn,
    "session_duration_histogram": session_duration_histogram,
    "session_concurrency_hourly": session_concurrency_hourly,
}

# Shared per-user funnel CTE: fv = first view; fc = first click after
# fv; fp = first purchase after fc (strict > on both, matching the
# Spark window-min conditions exactly).
_SQL_FUNNEL = """
    per AS (
      SELECT user_id,
             min(ts) FILTER (WHERE event_type = 'view') AS fv
      FROM events GROUP BY user_id
    ),
    clk AS (
      SELECT e.user_id, min(e.ts) AS fc
      FROM events e JOIN per p ON e.user_id = p.user_id
      WHERE e.event_type = 'click' AND e.ts > p.fv
      GROUP BY e.user_id
    ),
    pur AS (
      SELECT e.user_id, min(e.ts) AS fp
      FROM events e JOIN clk c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.fc
      GROUP BY e.user_id
    ),
    funnel AS (
      SELECT per.user_id, per.fv, clk.fc, pur.fp
      FROM per
      LEFT JOIN clk ON per.user_id = clk.user_id
      LEFT JOIN pur ON per.user_id = pur.user_id
    )
"""

_SQL_USER_DAYS = """
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
"""

_STAGE_SPINE = ", ".join(
    f"({k}, '{v}')" for k, v in sorted(STAGE_NAMES.items())
)

ORACLES = {
    "funnel_conversion": f"""
        WITH {_SQL_FUNNEL},
        staged AS (
          SELECT CASE WHEN fp IS NOT NULL THEN 3
                      WHEN fc IS NOT NULL THEN 2
                      WHEN fv IS NOT NULL THEN 1 ELSE 0 END AS stage
          FROM funnel
        ),
        counts AS (
          SELECT stage, count(*) AS n_at_stage FROM staged
          WHERE stage >= 1 GROUP BY stage
        ),
        spine(stage, stage_name) AS (VALUES {_STAGE_SPINE}),
        cum AS (
          SELECT s.stage, s.stage_name,
                 CAST(sum(coalesce(c.n_at_stage, 0))
                   OVER (ORDER BY s.stage DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS BIGINT) AS n_users
          FROM spine s LEFT JOIN counts c ON s.stage = c.stage
        )
        SELECT stage, stage_name, n_users,
               {sql_pround('n_users / (max(n_users) OVER ())', 4)}
                 AS conversion
        FROM cum
        ORDER BY stage
    """,
    "retention_cohorts": f"""
        WITH ud AS ({_SQL_USER_DAYS}),
        firsts AS (
          SELECT user_id, min(day) AS cohort_day FROM ud GROUP BY user_id
        ),
        sizes AS (
          SELECT cohort_day, count(*) AS cohort_users FROM firsts
          GROUP BY cohort_day
        ),
        act AS (
          SELECT f.cohort_day,
                 datediff('day', f.cohort_day, u.day) AS day_offset,
                 count(*) AS n_active
          FROM ud u JOIN firsts f ON u.user_id = f.user_id
          GROUP BY f.cohort_day, datediff('day', f.cohort_day, u.day)
        )
        SELECT a.cohort_day, a.day_offset, a.n_active, s.cohort_users,
               {sql_pround('a.n_active / s.cohort_users', 4)} AS retention
        FROM act a JOIN sizes s ON a.cohort_day = s.cohort_day
        ORDER BY a.cohort_day, a.day_offset
    """,
    "dau_rolling_wau": f"""
        WITH ud AS ({_SQL_USER_DAYS}),
        days AS (SELECT DISTINCT day AS d FROM ud),
        wau AS (
          SELECT dd.d, count(DISTINCT u.user_id) AS wau
          FROM ud u JOIN days dd
            ON u.day <= dd.d AND u.day >= dd.d - {WAU_DAYS - 1}
          GROUP BY dd.d
        ),
        dau AS (SELECT day AS d, count(*) AS dau FROM ud GROUP BY day)
        SELECT dau.d AS day, dau.dau, wau.wau,
               {sql_pround('dau.dau / wau.wau', 4)} AS stickiness
        FROM dau JOIN wau ON dau.d = wau.d
        ORDER BY day
    """,
    "event_transition_matrix": f"""
        WITH pairs AS (
          SELECT event_type AS from_type,
                 lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                 ) AS to_type
          FROM events
        ),
        counts AS (
          SELECT from_type, to_type, count(*) AS n FROM pairs
          WHERE to_type IS NOT NULL GROUP BY from_type, to_type
        )
        SELECT from_type, to_type, n,
               {sql_pround(
                   'n / (sum(n) OVER (PARTITION BY from_type))', 4
               )} AS prob
        FROM counts
        ORDER BY from_type, to_type
    """,
    "funnel_conversion_lag": f"""
        WITH {_SQL_FUNNEL}
        SELECT CAST(fv AS DATE) AS cohort_day,
               count(*) AS n_converted,
               {sql_davg('(epoch_us(fc) - epoch_us(fv)) / 1e6', 4)}
                 AS avg_view_to_click_s,
               {sql_davg('(epoch_us(fp) - epoch_us(fc)) / 1e6', 4)}
                 AS avg_click_to_purchase_s
        FROM funnel
        WHERE fp IS NOT NULL
        GROUP BY CAST(fv AS DATE)
        ORDER BY cohort_day
    """,
    "power_user_curve": f"""
        WITH per_user AS (
          SELECT user_id, count(*) AS n_events
          FROM events GROUP BY user_id
        ),
        dec AS (
          SELECT n_events,
                 ntile({N_DECILES}) OVER (
                   ORDER BY n_events, user_id
                 ) AS decile
          FROM per_user
        ),
        h AS (
          SELECT decile, count(*) AS n_users,
                 CAST(sum(n_events) AS BIGINT) AS total_events,
                 min(n_events) AS min_events,
                 max(n_events) AS max_events
          FROM dec GROUP BY decile
        )
        SELECT decile, n_users, total_events, min_events, max_events,
               {sql_pround(
                   'total_events::DOUBLE '
                   '/ (sum(total_events) OVER ())::DOUBLE', 6
               )} AS event_share
        FROM h
        ORDER BY decile
    """,
    "user_churn": f"""
        WITH uw AS (
          SELECT DISTINCT user_id, date_trunc('week', ts) AS week
          FROM events
        ),
        nxt AS (
          SELECT user_id, (week - INTERVAL 7 DAY)::DATE AS week, 1 AS ret
          FROM uw
        ),
        f AS (
          SELECT uw.week, count(*) AS n_active,
                 CAST(sum(CASE WHEN nxt.ret IS NOT NULL
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_retained
          FROM uw LEFT JOIN nxt
            ON uw.user_id = nxt.user_id AND uw.week = nxt.week
          GROUP BY uw.week
        ),
        m AS (SELECT max(week) AS last_week FROM uw)
        SELECT week, n_active, n_retained,
               {sql_pround('1.0 - n_retained::DOUBLE / n_active', 4)}
                 AS churn_rate
        FROM f CROSS JOIN m
        WHERE week < last_week
        ORDER BY week
    """,
    "interevent_gap_histogram": f"""
        WITH g AS (
          SELECT epoch_us(ts) - epoch_us(lag(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                 )) AS gap_us
          FROM events
        ),
        s AS (
          SELECT gap_us // 1000000 AS gap_s
          FROM g WHERE gap_us IS NOT NULL
        ),
        h AS (
          SELECT length(bin(greatest(gap_s, 1))) - 1 AS log2_bucket_s,
                 count(*) AS n_gaps,
                 min(gap_s) AS min_gap_s,
                 max(gap_s) AS max_gap_s
          FROM s GROUP BY 1
        ),
        t AS (SELECT CAST(sum(n_gaps) AS BIGINT) AS total_gaps FROM h)
        SELECT log2_bucket_s, n_gaps, min_gap_s, max_gap_s,
               {sql_pround('n_gaps::DOUBLE / total_gaps', 6)} AS share
        FROM h CROSS JOIN t
        ORDER BY log2_bucket_s
    """,
}


# Session-grain oracles reuse the user_sessions oracle verbatim as the
# sessionization CTE, so the session boundary rule is spelled once.
from ..streaming.pipeline import ORACLES as _PIPE_ORACLES  # noqa: E402

_SQL_SESSIONS = _PIPE_ORACLES["user_sessions"]

ORACLES["session_duration_histogram"] = f"""
    WITH s AS ({_SQL_SESSIONS}),
    d AS (
      SELECT (epoch_us(session_end) - epoch_us(session_start)) // 1000000
               AS dur_s
      FROM s
    ),
    h AS (
      SELECT length(bin(greatest(dur_s, 1))) - 1 AS log2_bucket_s,
             count(*) AS n_sessions,
             min(dur_s) AS min_dur_s,
             max(dur_s) AS max_dur_s
      FROM d GROUP BY 1
    ),
    t AS (SELECT CAST(sum(n_sessions) AS BIGINT) AS total_sessions FROM h)
    SELECT log2_bucket_s, n_sessions, min_dur_s, max_dur_s,
           {sql_pround('n_sessions::DOUBLE / total_sessions', 6)} AS share
    FROM h CROSS JOIN t
    ORDER BY log2_bucket_s
"""

ORACLES["session_concurrency_hourly"] = f"""
    WITH s AS ({_SQL_SESSIONS}),
    e AS (
      SELECT user_id,
             unnest(generate_series(
               date_trunc('hour', session_start),
               date_trunc('hour', session_end),
               INTERVAL 1 HOUR
             )) AS hour_ts
      FROM s
    )
    SELECT hour_ts, count(*) AS n_sessions,
           count(DISTINCT user_id) AS n_users
    FROM e
    GROUP BY hour_ts
    ORDER BY hour_ts
"""


def event_type_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise association between event types at user grain
    (market-basket lift): for each unordered type pair, the users doing
    both, the support, and lift = P(A∧B) / (P(A)·P(B)) — lift >> 1
    means the behaviors travel together (a recommender / funnel-design
    signal the transition matrix's ORDER-sensitive view can't give).

    Scale: the corpus collapses to the distinct (user, type) relation
    first (|users| x |types|, types ~ 5); the self equi-join on user_id
    fans out <= |types|^2 per user and every aggregate is types-sized.
    The user total is a 1-row broadcast."""
    ev = load_table(spark, sf_dir, "events")
    ut = persisted(ev.select("user_id", "event_type").distinct())
    per_type = ut.groupBy(F.col("event_type").alias("t")).agg(
        F.count(F.lit(1)).alias("n_t")
    )
    total = ut.select("user_id").distinct().agg(
        F.count(F.lit(1)).alias("n_users")
    )
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    both = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    na = per_type.select(
        F.col("t").alias("type_a"), F.col("n_t").alias("n_a")
    )
    nb = per_type.select(
        F.col("t").alias("type_b"), F.col("n_t").alias("n_b")
    )
    lift = (
        F.col("n_both").cast("double") * F.col("n_users")
    ) / (F.col("n_a") * F.col("n_b"))
    return (
        both.join(F.broadcast(na), "type_a")
        .join(F.broadcast(nb), "type_b")
        .crossJoin(F.broadcast(total))
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            pround(F.col("n_both") / F.col("n_users"), 6).alias("support"),
            pround(lift, 6).alias("lift"),
        )
        .orderBy("type_a", "type_b")
    )


QUERIES["event_type_lift"] = event_type_lift

ORACLES["event_type_lift"] = f"""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    per_type AS (
      SELECT event_type AS t, count(*) AS n_t FROM ut GROUP BY 1
    ),
    total AS (
      SELECT count(DISTINCT user_id) AS n_users FROM ut
    ),
    pair_counts AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(*) AS n_both
      FROM ut a JOIN ut b ON a.user_id = b.user_id
      WHERE a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, na.n_t AS n_a, nb.n_t AS n_b, n_both,
           {sql_pround('n_both::DOUBLE / n_users', 6)} AS support,
           {sql_pround(
               '(n_both::DOUBLE * n_users) / (na.n_t * nb.n_t)', 6
           )} AS lift
    FROM pair_counts
    JOIN per_type na ON pair_counts.type_a = na.t
    JOIN per_type nb ON pair_counts.type_b = nb.t
    CROSS JOIN total
    ORDER BY type_a, type_b
"""


PR_DAMPING = 0.85
PR_ITERATIONS = 10


def event_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the event-type transition graph (nodes = event
    types, edge weights = row-normalized transition counts from
    event_transition_matrix): which states the user population flows
    INTO — the stationary-importance companion of the raw transition
    probabilities. Demonstrates the iterative-dataflow class: the K
    power iterations are UNROLLED into one declarative plan (the graph
    is types-sized, so each iteration is a tiny hash join) with a
    localCheckpoint per round truncating lineage, as dedup_clusters
    does — a billion-node graph iterates the identical two-relation
    step.

    Determinism: contributions are decimal-exact folds per iteration
    (each addend quantized at 1e-6 identically on both engines); the
    damping constant is the same literal double; the oracle unrolls the
    IDENTICAL K iterations as chained CTEs. Dangling mass (types never
    observed as from_type) leaks by design — documented standard
    simplification, identical in both engines."""
    # persist the types^2-sized counts FIRST: nodes and edges both
    # derive from it, and without the persist each derived relation
    # would re-run the corpus-scale lead()-window pass
    counts = persisted(
        event_transition_matrix(spark, sf_dir)
        .select("from_type", "to_type", "n")
    )
    nodes = persisted(
        counts.select(F.col("from_type").alias("node"))
        .union(counts.select(F.col("to_type").alias("node")))
        .distinct()
    )
    nn = nodes.agg(F.count(F.lit(1)).alias("n_nodes"))
    wrow = Window.partitionBy("from_type")
    edges = persisted(
        counts.select(
            F.col("from_type").alias("src"),
            F.col("to_type").alias("dst"),
            (F.col("n") / F.sum("n").over(wrow)).alias("w"),
        )
    )
    pr = nodes.crossJoin(F.broadcast(nn)).select(
        "node", (F.lit(1.0) / F.col("n_nodes")).alias("pr")
    )
    # Fold the damping constants in PYTHON and hand both engines the
    # identical IEEE doubles: Spark folds lit(1.0) - lit(0.85) in
    # doubles (0.15000000000000002) while DuckDB evaluates the same
    # text as exact DECIMAL (0.1499...94) — a 2-ulp seed difference
    # that could flip a 1e-6 rounding boundary. The oracle interpolates
    # repr() of these same Python doubles.
    d = F.lit(PR_DAMPING)
    leak = F.lit(1.0 - PR_DAMPING)
    for _ in range(PR_ITERATIONS):
        contrib = (
            edges.join(pr, edges.src == pr.node)
            .groupBy("dst")
            .agg(
                F.sum((F.col("w") * F.col("pr")).cast("decimal(28,6)"))
                .cast("double")
                .alias("inflow")
            )
        )
        pr = (
            nodes.crossJoin(F.broadcast(nn))
            .join(contrib, nodes.node == contrib.dst, "left")
            .select(
                "node",
                (
                    leak / F.col("n_nodes")
                    + d * F.coalesce(F.col("inflow"), F.lit(0.0))
                ).alias("pr"),
            )
            # lineage truncation per round (the dedup_clusters /
            # bpe_vocab_k_rounds pattern): without it the final plan
            # nests all K iterations and analysis/codegen dominates
            # the types-sized data cost
            .localCheckpoint(eager=True)
        )
    return (
        pr.select("node", pround("pr", 6).alias("pagerank"))
        .orderBy(F.desc("pagerank"), "node")
    )


QUERIES["event_pagerank"] = event_pagerank


def _pagerank_sql() -> str:
    """Unrolled K-iteration PageRank as chained CTEs — the literal SQL
    twin of the Spark loop above (same decimal folds, same damping)."""
    d = repr(PR_DAMPING)
    leak = repr(1.0 - PR_DAMPING)  # same folded double as the Spark side
    cte = f"""
    counts AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS to_type
      FROM events
    ),
    agg AS (
      SELECT from_type, to_type, count(*) AS n FROM counts
      WHERE to_type IS NOT NULL GROUP BY from_type, to_type
    ),
    nodes AS (
      SELECT from_type AS node FROM agg
      UNION
      SELECT to_type FROM agg
    ),
    nn AS (SELECT count(*) AS n_nodes FROM nodes),
    edges AS (
      SELECT from_type AS src, to_type AS dst,
             n / (sum(n) OVER (PARTITION BY from_type)) AS w
      FROM agg
    ),
    pr0 AS (
      SELECT node, 1.0 / n_nodes AS pr FROM nodes CROSS JOIN nn
    )"""
    for k in range(PR_ITERATIONS):
        cte += f""",
    pr{k + 1} AS (
      SELECT nodes.node,
             CAST({leak} AS DOUBLE) / n_nodes
               + CAST({d} AS DOUBLE) * coalesce(c.inflow, 0.0) AS pr
      FROM nodes CROSS JOIN nn
      LEFT JOIN (
        SELECT dst, (sum((w * pr)::DECIMAL(28,6)))::DOUBLE AS inflow
        FROM edges JOIN pr{k} ON src = node
        GROUP BY dst
      ) c ON nodes.node = c.dst
    )"""
    return f"""
    WITH {cte}
    SELECT node, {sql_pround('pr', 6)} AS pagerank
    FROM pr{PR_ITERATIONS}
    ORDER BY pagerank DESC, node
    """


ORACLES["event_pagerank"] = _pagerank_sql()


def purchase_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for time-to-first-purchase: among
    users who VIEWED, the probability of still not having purchased by
    day k after the first view, with right-censoring at the corpus's
    last observed timestamp (users who never purchase are censored, not
    treated as events — the estimator a naive conversion-by-day curve
    gets wrong). One row per day that carries >= 1 purchase event:
    at-risk count, event count, and S(k) = Π (1 - d_j/n_j).

    Determinism: event/censor times are integer day offsets; the
    product is exp(Σ ln(1 - d/n)) with the ln terms folded as exact
    decimals — same two libm calls on both engines (the tfidf/PSI ln
    policy); a d = n day is floored at 1e-12 before ln on both sides.

    Scale: the funnel relation is users-sized (one user_id exchange
    upstream); per-day aggregation and the two cumulative windows run
    on the days-sized curve."""
    per = _user_funnel(spark, sf_dir).filter(F.col("fv").isNotNull())
    max_ts = load_table(spark, sf_dir, "events").agg(
        F.max("ts").alias("max_ts")
    )
    t_event = F.datediff(F.to_date("fp"), F.to_date("fv"))
    t_cens = F.datediff(F.to_date("max_ts"), F.to_date("fv"))
    timed = per.crossJoin(F.broadcast(max_ts)).select(
        F.coalesce(t_event, t_cens).alias("t"),
        F.col("fp").isNotNull().cast("int").alias("is_event"),
    )
    per_day = timed.groupBy("t").agg(
        F.sum("is_event").alias("d"),
        F.sum(F.lit(1) - F.col("is_event")).alias("c"),
    )
    wall = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    total = F.sum(F.col("d") + F.col("c")).over(
        Window.partitionBy()
    )
    left_before = F.sum(F.col("d") + F.col("c")).over(wall) - (
        F.col("d") + F.col("c")
    )
    curve = per_day.select(
        "t",
        "d",
        (total - left_before).alias("n_risk"),
    )
    ln_term = F.log(
        F.greatest(
            F.lit(1.0) - F.col("d") / F.col("n_risk"), F.lit(1e-12)
        )
    ).cast("decimal(28,6)")
    surv = F.exp(F.sum(ln_term).over(wall).cast("double"))
    return (
        curve.withColumn("survival", pround(surv, 6))
        .filter(F.col("d") > 0)
        .select(
            F.col("t").alias("day_offset"),
            F.col("n_risk").alias("n_at_risk"),
            F.col("d").alias("n_events"),
            "survival",
        )
        .orderBy("day_offset")
    )


QUERIES["purchase_survival_km"] = purchase_survival_km

ORACLES["purchase_survival_km"] = f"""
    WITH {_SQL_FUNNEL},
    m AS (SELECT max(ts) AS max_ts FROM events),
    timed AS (
      SELECT coalesce(
               datediff('day', CAST(fv AS DATE), CAST(fp AS DATE)),
               datediff('day', CAST(fv AS DATE), CAST(max_ts AS DATE))
             ) AS t,
             CASE WHEN fp IS NOT NULL THEN 1 ELSE 0 END AS is_event
      FROM funnel CROSS JOIN m
      WHERE fv IS NOT NULL
    ),
    per_day AS (
      SELECT t, CAST(sum(is_event) AS BIGINT) AS d,
             CAST(sum(1 - is_event) AS BIGINT) AS c
      FROM timed GROUP BY t
    ),
    curve AS (
      SELECT t, d,
             (sum(d + c) OVER ())::BIGINT
               - ((sum(d + c) OVER (ORDER BY t
                     ROWS UNBOUNDED PRECEDING))::BIGINT - (d + c))
               AS n_risk
      FROM per_day
    ),
    km AS (
      SELECT t, d, n_risk,
             exp((sum((ln(greatest(1.0 - d::DOUBLE / n_risk, 1e-12)))
                      ::DECIMAL(28,6))
                  OVER (ORDER BY t ROWS UNBOUNDED PRECEDING))::DOUBLE)
               AS surv
      FROM curve
    )
    SELECT t AS day_offset, n_risk AS n_at_risk, d AS n_events,
           {sql_pround('surv', 6)} AS survival
    FROM km
    WHERE d > 0
    ORDER BY day_offset
"""


WEEK_US = 7 * 24 * 3600 * 1000000  # one decay bucket, in microseconds


def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch purchase attribution: each purchase is credited to
    the user's most recent PRECEDING non-purchase event type (strict
    event-time order, event_id tie-break); purchases with no prior
    touch are 'direct'. Output per attributed channel: purchase count,
    decimal-exact revenue, average order value — the standard
    marketing-attribution cut over the same event stream the funnel
    reads.

    Scale: ONE exchange on user_id (the window sort), then a
    channels-sized aggregate. The IGNORE-NULLS last_value over an
    unbounded-preceding frame is a running state per user — no
    self-join, no fan-out."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    pur = ev.select(
        "event_type", "value", prev.alias("attributed")
    ).filter(F.col("event_type") == "purchase")
    return (
        pur.groupBy(
            F.coalesce(F.col("attributed"), F.lit("direct")).alias(
                "attributed_type"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.col("value").cast("decimal(28,6)"))
            .cast("double")
            .alias("rev_raw"),
        )
        .select(
            "attributed_type",
            "n_purchases",
            pround(F.col("rev_raw"), 2).alias("total_value"),
            pround(F.col("rev_raw") / F.col("n_purchases"), 4).alias(
                "avg_value"
            ),
        )
        .orderBy("attributed_type")
    )


def event_value_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed popularity per event type: each event's value is
    weighted by ``0.5^age_weeks`` (one-week half-life, bucketed to
    whole weeks behind the corpus max timestamp). Whole-week exponents
    make every weight an EXACT power of two — identical on both
    engines, no transcendental-ulp risk — and the age arithmetic runs
    on microsecond integers (Spark truncates unix_timestamp() to
    seconds; the feed is microsecond-grained).

    Scale: age/weight are map-side column ops against a broadcast
    1-row max-ts aggregate; one event-types-sized aggregate."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    anchor = ev.agg(
        F.max(F.unix_micros(F.col("ts"))).alias("anchor_us")
    )
    aged = ev.crossJoin(F.broadcast(anchor)).select(
        "event_type",
        "value",
        F.floor(
            (F.col("anchor_us") - F.unix_micros(F.col("ts")))
            / F.lit(WEEK_US)
        ).alias("weeks_old"),
    )
    weight = F.pow(F.lit(0.5), F.col("weeks_old"))
    return (
        aged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,6)"))
            .cast("double")
            .alias("raw_sum"),
            F.sum(
                (F.col("value") * weight).cast("decimal(28,6)")
            )
            .cast("double")
            .alias("decayed_sum"),
        )
        .select(
            "event_type",
            "n_events",
            pround(F.col("raw_sum"), 2).alias("raw_value"),
            pround(F.col("decayed_sum"), 2).alias("decayed_value"),
            pround(F.col("decayed_sum") / F.col("raw_sum"), 6).alias(
                "retention_ratio"
            ),
        )
        .orderBy("event_type")
    )


QUERIES["attribution_last_touch"] = attribution_last_touch
QUERIES["event_value_decay"] = event_value_decay

ORACLES["attribution_last_touch"] = f"""
    WITH w AS (
      SELECT event_type, value,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING) AS attributed
      FROM events
    ),
    agg AS (
      SELECT coalesce(attributed, 'direct') AS attributed_type,
             count(*) AS n_purchases,
             (sum((value)::DECIMAL(28,6)))::DOUBLE AS rev_raw
      FROM w WHERE event_type = 'purchase' GROUP BY 1
    )
    SELECT attributed_type, n_purchases,
           {sql_pround('rev_raw', 2)} AS total_value,
           {sql_pround('rev_raw / n_purchases', 4)} AS avg_value
    FROM agg ORDER BY attributed_type
"""

ORACLES["event_value_decay"] = f"""
    WITH aged AS (
      SELECT event_type, value,
             (max(epoch_us(ts)) OVER () - epoch_us(ts))
               // {WEEK_US} AS weeks_old
      FROM events
      WHERE value IS NOT NULL
    ),
    agg AS (
      SELECT event_type, count(*) AS n_events,
             (sum((value)::DECIMAL(28,6)))::DOUBLE AS raw_sum,
             (sum((value * pow(CAST(0.5 AS DOUBLE), weeks_old))
                  ::DECIMAL(28,6)))::DOUBLE AS decayed_sum
      FROM aged GROUP BY event_type
    )
    SELECT event_type, n_events,
           {sql_pround('raw_sum', 2)} AS raw_value,
           {sql_pround('decayed_sum', 2)} AS decayed_value,
           {sql_pround('decayed_sum / raw_sum', 6)} AS retention_ratio
    FROM agg ORDER BY event_type
"""


def user_activity_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of user engagement: inequality of per-user
    event counts via the exact rank formula
    G = (2*sum(i*c_i) - (n+1)*sum(c)) / (n*sum(c)) with counts ranked
    ascending (user_id tie-break — total order). The one-number answer
    to "is activity concentrated in a few power users?" that DAU/WAU
    curves hide.

    Determinism: every term is integer until the single final division
    — ranks and counts are exact, and the rank operand is widened to
    DECIMAL(38,0) BEFORE the i*c_i multiply (a post-multiply cast
    would wrap BIGINT first at rank ~1e10 × count ~1e9), so the
    products and their fold carry ~1e38 headroom; the quotient is
    rounded once.

    Scale: one corpus-scale shuffle to user grain, then a |users|-sized
    ranking window. The global rank is inherent to the statistic (like
    any exact quantile); at extreme user counts the same plan
    range-partitions the sort — only the window's single-partition
    local-mode execution changes."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    i = F.row_number().over(Window.orderBy("c", "user_id"))
    ranked = counts.select(
        "c", i.cast("long").alias("i")
    )
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("c").alias("total_events"),
        # cast an OPERAND before the multiply: i*c in BIGINT first
        # would wrap at i·c > ~9.2e18 (rank ~1e10 × count ~1e9) and
        # only then widen — the decimal headroom must cover the
        # product itself
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("c")).alias(
            "s_dec"
        ),
    )
    n = F.col("n_users").cast("double")
    t = F.col("total_events").cast("double")
    s = F.col("s_dec").cast("double")
    return agg.select(
        "n_users",
        "total_events",
        pround((2 * s - (n + 1) * t) / (n * t), 6).alias("gini"),
    )


QUERIES["user_activity_gini"] = user_activity_gini

ORACLES["user_activity_gini"] = f"""
    WITH counts AS (
      SELECT user_id, count(*)::BIGINT AS c
      FROM events GROUP BY user_id
    ),
    ranked AS (
      SELECT c, (row_number() OVER (ORDER BY c, user_id))::BIGINT AS i
      FROM counts
    ),
    agg AS (
      SELECT count(*)::BIGINT AS n_users,
             (sum(c))::BIGINT AS total_events,
             -- widen an OPERAND first (HUGEINT ~ the Spark side's
             -- DECIMAL(38,0)): (i*c)::DECIMAL would overflow the
             -- BIGINT multiply before the cast applied
             (sum(i::HUGEINT * c))::DOUBLE AS s
      FROM ranked
    )
    SELECT n_users, total_events,
           {sql_pround(
               '(2 * s - (n_users + 1) * total_events::DOUBLE)'
               ' / (n_users * total_events::DOUBLE)', 6
           )} AS gini
    FROM agg
"""


def attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch purchase attribution: each purchase's value
    is split EQUALLY across the distinct-position non-purchase touches
    in its journey (the events since the user's previous purchase,
    strict event-time order, event_id tie-break); purchases with no
    preceding touch credit 'direct'. The multi-touch companion to
    attribution_last_touch — same stream, different credit rule.

    Journeys are derived without a self-join: a running count of
    PRIOR purchase rows per user segments the stream, so each journey
    holds at most one purchase (a purchase closes its own journey).

    Determinism: per-touch credit value/n is a double from identical
    inputs; channel sums fold through DECIMAL(28,6).

    Scale: one user_id window exchange, one (user, journey)-grain
    equi-join of touches to journey purchase values, channels-sized
    output."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_p = (F.col("event_type") == "purchase").cast("int")
    seg = ev.select(
        "user_id",
        "event_type",
        "value",
        F.coalesce(F.sum(is_p).over(w), F.lit(0)).alias("journey"),
    )
    purchases = seg.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "journey",
        F.col("value").alias("purchase_value"),
    )
    touches = seg.filter(F.col("event_type") != "purchase").select(
        "user_id", "journey", F.col("event_type").alias("channel")
    )
    n_t = F.count(F.lit(1)).over(
        Window.partitionBy("user_id", "journey")
    )
    credited = touches.select(
        "user_id", "journey", "channel", n_t.alias("n_touches")
    ).join(purchases, ["user_id", "journey"])
    direct = purchases.join(
        touches.select("user_id", "journey").distinct(),
        ["user_id", "journey"],
        "left_anti",
    ).select(
        F.lit("direct").alias("channel"),
        F.lit(1).alias("n_touches"),
        "purchase_value",
    )
    credit = F.col("purchase_value") / F.col("n_touches")
    return (
        credited.select("channel", "n_touches", "purchase_value")
        .unionByName(direct)
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_credits"),
            F.sum(credit.cast("decimal(28,6)"))
            .cast("double")
            .alias("cred_raw"),
        )
        .select(
            "channel",
            "n_credits",
            pround(F.col("cred_raw"), 2).alias("attributed_value"),
        )
        .orderBy("channel")
    )


QUERIES["attribution_linear"] = attribution_linear

ORACLES["attribution_linear"] = f"""
    WITH seg AS (
      SELECT user_id, event_type, value,
             coalesce(sum(CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0)::BIGINT AS journey
      FROM events
    ),
    purchases AS (
      SELECT user_id, journey, value AS purchase_value
      FROM seg WHERE event_type = 'purchase'
    ),
    touches AS (
      SELECT user_id, journey, event_type AS channel,
             (count(*) OVER (PARTITION BY user_id, journey))::BIGINT
               AS n_touches
      FROM seg WHERE event_type <> 'purchase'
    ),
    credited AS (
      SELECT t.channel, t.n_touches, p.purchase_value
      FROM touches t JOIN purchases p USING (user_id, journey)
      UNION ALL
      SELECT 'direct', 1, p.purchase_value
      FROM purchases p
      WHERE NOT EXISTS (
        SELECT 1 FROM touches t
        WHERE t.user_id = p.user_id AND t.journey = p.journey)
    )
    SELECT channel, count(*)::BIGINT AS n_credits,
           {sql_pround(
               "(sum((purchase_value / n_touches)::DECIMAL(28,6)))"
               "::DOUBLE", 2
           )} AS attributed_value
    FROM credited GROUP BY channel ORDER BY channel
"""


PATH_TOP_K = 25  # ranked 3-step paths reported


def event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-step behavior paths: for every consecutive event
    triple per user (event-time order, event_id tie-break), the path
    count, the number of distinct users walking it, and its share of
    all observed triples — the sequential-pattern report behind "what
    do users do right before purchasing?" analyses (the trigram
    extension of event_transition_matrix's first-order Markov view).

    Scale: ONE window shuffle on user_id emits every triple map-side
    (two leads over the same frame); the aggregate output is at most
    |event_types|^3 rows. Ranking the top-K is a window over that tiny
    relation.

    Determinism: exact integer counts; share is a 6dp pround; rank
    orders by (n DESC, path ASC NULLS LAST), DuckDB's default order. A
    triple with a NULL first or second event has a NULL path."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    triples = (
        ev.select(
            "user_id",
            F.col("event_type").alias("e1"),
            F.lead("event_type", 1).over(w).alias("e2"),
            F.lead("event_type", 2).over(w).alias("e3"),
        )
        .filter(F.col("e3").isNotNull())
        .select(
            "user_id",
            # NULL when any step is NULL, as the oracle's || is
            F.concat("e1", F.lit(">"), "e2", F.lit(">"), "e3").alias("path"),
        )
    )
    agg = triples.groupBy("path").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
    )
    total = agg.agg(F.sum("n").alias("total"))
    w_rank = Window.orderBy(F.col("n").desc(), F.col("path").asc_nulls_last())
    return (
        agg.crossJoin(F.broadcast(total))
        .withColumn("share", pround(F.col("n") / F.col("total"), 6))
        .withColumn("path_rank", F.row_number().over(w_rank))
        .filter(F.col("path_rank") <= PATH_TOP_K)
        .select("path_rank", "path", "n", "n_users", "share")
        .orderBy("path_rank")
    )


QUERIES["event_path_trigrams"] = event_path_trigrams

ORACLES["event_path_trigrams"] = f"""
    WITH triples AS (
      SELECT user_id,
             event_type || '>' ||
             lead(event_type, 1) OVER w || '>' ||
             lead(event_type, 2) OVER w AS path,
             lead(event_type, 2) OVER w AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    agg AS (
      SELECT path, count(*) AS n,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM triples WHERE e3 IS NOT NULL
      GROUP BY path
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM agg)
    SELECT path_rank, path, n, n_users,
           {sql_pround("n::DOUBLE / total", 6)} AS share
    FROM (
      SELECT *, row_number() OVER (
               ORDER BY n DESC, path ASC) AS path_rank
      FROM agg, tot
    ) r
    WHERE path_rank <= {PATH_TOP_K}
    ORDER BY path_rank
"""


# --- k-hop reachability over the transition graph (unrolled BFS) -----------

KHOP_MAX = 3  # unrolled relaxation rounds


def event_graph_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest-hop distance between every reachable pair of event
    types within KHOP_MAX hops of the per-user transition graph — the
    "how many steps does a user take from X to Y" reachability table
    the funnel and path-mining keys assume rather than measure, and the
    third member of the iterative-graph-dataflow class here (with
    `event_pagerank`'s power iteration and `dedup_clusters`' label
    propagation): BFS distance relaxation, UNROLLED into one
    declarative plan the oracle replays as chained CTEs.

    Each round joins the frontier to the edge list and keeps the
    per-(src, dst) minimum — a |types|^2-bounded relation regardless of
    corpus size, so the unroll is scheduler cost only. The corpus is
    touched ONCE (the lead-window edge derivation shared with
    event_transition_matrix).

    Determinism: integer hop counts, min-fold, total output order."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    from ..caching import persisted as _persisted

    edges = _persisted(
        ev.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull() & (F.col("dst") != F.col("src")))
        .distinct()
    )
    nodes = edges.select("src").unionByName(
        edges.select(F.col("dst").alias("src"))
    ).distinct()
    dist = nodes.select(
        "src", F.col("src").alias("dst"), F.lit(0).alias("hops")
    )
    for _ in range(KHOP_MAX):
        step = (
            dist.join(
                edges.select(
                    F.col("src").alias("mid"), F.col("dst").alias("nxt")
                ),
                dist["dst"] == F.col("mid"),
            )
            .select("src", F.col("nxt").alias("dst"), (F.col("hops") + 1).alias("hops"))
        )
        dist = (
            dist.unionByName(step)
            .groupBy("src", "dst")
            .agg(F.min("hops").alias("hops"))
        )
    return (
        dist.filter(F.col("hops") > 0)
        .select(
            F.col("src").alias("from_type"),
            F.col("dst").alias("to_type"),
            F.col("hops").cast("int").alias("hops"),
        )
        .orderBy("from_type", "to_type")
    )


QUERIES["event_graph_khop"] = event_graph_khop


def _khop_sql() -> str:
    ctes = [
        """
    e AS (
      SELECT DISTINCT src, dst FROM (
        SELECT event_type AS src,
               lead(event_type) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id) AS dst
        FROM events
      ) p WHERE dst IS NOT NULL AND dst <> src
    ),
    d0 AS (
      SELECT src, src AS dst, 0 AS hops FROM (
        SELECT src FROM e UNION SELECT dst FROM e
      ) n
    )"""
    ]
    for r in range(1, KHOP_MAX + 1):
        ctes.append(
            f"""
    d{r} AS (
      SELECT src, dst, min(hops) AS hops FROM (
        SELECT src, dst, hops FROM d{r - 1}
        UNION ALL
        SELECT d.src, e.dst, d.hops + 1 AS hops
        FROM d{r - 1} d JOIN e ON d.dst = e.src
      ) u GROUP BY src, dst
    )"""
        )
    return ",".join(ctes)


ORACLES["event_graph_khop"] = f"""
    WITH {_khop_sql()}
    SELECT src AS from_type, dst AS to_type, hops::INT AS hops
    FROM d{KHOP_MAX}
    WHERE hops > 0
    ORDER BY from_type, to_type
"""


# --- HITS (hubs & authorities) over the user-route bipartite graph ---------

HITS_ROUNDS = 2  # unrolled mutual-reinforcement rounds


def route_hits_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg 1999, JACM — hubs and authorities) over the
    user↔route bipartite activity graph: routes are authorities (drawn
    on by many well-travelled users), users are hubs (touching many
    authoritative routes), iterated HITS_ROUNDS mutually-reinforcing
    rounds from the uniform start — the link-analysis companion of
    `event_pagerank` (which ranks the TRANSITION graph; this ranks the
    AFFILIATION graph, the bipartite structure PageRank's row-normalized
    walk erases). Output = per-route degree + authority after the final
    round, with the final-round HUB MASS concentration (share of total
    hub weight held by the route's top user) as the skew audit.

    Normalization is L1 per round (any norm fixes only the scale of
    the principal eigenvector HITS converges to; L1 keeps every value
    an exact 9dp-quantized ratio — the sqrt of the textbook L2 norm
    is not portably roundable). Determinism: edges are 0/1 (distinct
    user-route pairs), every cross-partition sum folds DECIMAL(28,9)
    — the 9dp grid the per-round pround quantizes to, so the decimal
    cast is boundary-free on both engines (the NMF 6dp-fold lesson,
    at the scale this operator's values live on); the oracle unrolls
    the IDENTICAL rounds as chained MATERIALIZED CTEs.

    Scale: ONE corpus shuffle (the distinct (user, route) edge list,
    persisted — every round joins against it); each round is two
    hash aggregates on the edge relation + two 1-row norm broadcasts;
    factors are users-/routes-sized and localCheckpoint-truncated per
    round (the PageRank/BPE/Lloyd pattern)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
    )
    edges = persisted(
        ev.select(
            F.col("event_type").alias("route_id"), "user_id"
        ).distinct()
    )
    routes = persisted(edges.select("route_id").distinct())
    nr = routes.agg(F.count(F.lit(1)).alias("n_routes"))
    a = routes.crossJoin(F.broadcast(nr)).select(
        "route_id",
        pround(F.lit(1.0) / F.col("n_routes"), 9).alias("a"),
    )

    def d9sum(c):
        return F.sum(c.cast("decimal(28,9)")).cast("double")

    for _ in range(HITS_ROUNDS):
        h_raw = (
            edges.join(F.broadcast(a), "route_id")
            .groupBy("user_id")
            .agg(d9sum(F.col("a")).alias("h_raw"))
        )
        nh = h_raw.agg(d9sum(F.col("h_raw")).alias("nh"))
        h = h_raw.crossJoin(F.broadcast(nh)).select(
            "user_id", pround(F.col("h_raw") / F.col("nh"), 9).alias("h")
        ).localCheckpoint(eager=True)
        a_raw = (
            edges.join(h, "user_id")
            .groupBy("route_id")
            .agg(
                d9sum(F.col("h")).alias("a_raw"),
                F.max("h").alias("top_hub"),
            )
        )
        na = a_raw.agg(d9sum(F.col("a_raw")).alias("na"))
        a = a_raw.crossJoin(F.broadcast(na)).select(
            "route_id",
            pround(F.col("a_raw") / F.col("na"), 9).alias("a"),
            pround(F.col("top_hub") / F.col("a_raw"), 9).alias(
                "top_hub_share"
            ),
        ).localCheckpoint(eager=True)
    deg = edges.groupBy("route_id").agg(
        F.count(F.lit(1)).alias("degree")
    )
    return (
        deg.join(a, "route_id")
        .select(
            "route_id",
            "degree",
            F.col("a").alias("authority"),
            "top_hub_share",
        )
        .orderBy(F.desc("authority"), "route_id")
    )


QUERIES["route_hits_authority"] = route_hits_authority


def _hits_sql() -> str:
    """Unrolled HITS rounds as chained MATERIALIZED CTEs (DuckDB 1.0
    inlines multi-referenced CTEs — the nmf_topic_rounds lesson)."""
    dec = "DECIMAL(28,9)"
    cte = f"""
    edges AS MATERIALIZED (
      SELECT DISTINCT event_type AS route_id, user_id
      FROM events WHERE event_type IS NOT NULL
    ),
    routes AS MATERIALIZED (SELECT DISTINCT route_id FROM edges),
    nr AS MATERIALIZED (SELECT count(*) AS n_routes FROM routes),
    a0 AS MATERIALIZED (
      SELECT route_id, {sql_pround('1.0 / n_routes', 9)} AS a
      FROM routes CROSS JOIN nr
    )"""
    for k in range(HITS_ROUNDS):
        cte += f""",
    hraw{k} AS MATERIALIZED (
      SELECT user_id, (sum(a::{dec}))::DOUBLE AS h_raw
      FROM edges JOIN a{k} USING (route_id)
      GROUP BY user_id
    ),
    nh{k} AS MATERIALIZED (
      SELECT (sum(h_raw::{dec}))::DOUBLE AS nh FROM hraw{k}
    ),
    h{k} AS MATERIALIZED (
      SELECT user_id, {sql_pround('h_raw / nh', 9)} AS h
      FROM hraw{k} CROSS JOIN nh{k}
    ),
    araw{k} AS MATERIALIZED (
      SELECT route_id, (sum(h::{dec}))::DOUBLE AS a_raw,
             max(h) AS top_hub
      FROM edges JOIN h{k} USING (user_id)
      GROUP BY route_id
    ),
    na{k} AS MATERIALIZED (
      SELECT (sum(a_raw::{dec}))::DOUBLE AS na FROM araw{k}
    ),
    a{k + 1} AS MATERIALIZED (
      SELECT route_id, {sql_pround('a_raw / na', 9)} AS a,
             {sql_pround('top_hub / a_raw', 9)} AS top_hub_share
      FROM araw{k} CROSS JOIN na{k}
    )"""
    return f"""
    WITH {cte}
    SELECT d.route_id, d.degree, a.a AS authority, a.top_hub_share
    FROM (SELECT route_id, count(*) AS degree FROM edges
          GROUP BY route_id) d
    JOIN a{HITS_ROUNDS} a USING (route_id)
    ORDER BY authority DESC, d.route_id
    """


ORACLES["route_hits_authority"] = _hits_sql()


# --- sequential pattern support (non-contiguous a-then-b) ------------------


def sequential_pair_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support/confidence of the sequential pattern ⟨a … b⟩ per ordered
    event-type pair (Agrawal & Srikant 1995, ICDE — sequential pattern
    mining, the 2-pattern tier): a user SUPPORTS ⟨a, b⟩ when some
    a-event strictly precedes some b-event anywhere in their stream —
    the NON-contiguous subsequence class `event_path_trigrams`'
    adjacent n-grams cannot see (a user who views, wanders, and later
    purchases supports ⟨view, purchase⟩ with no view→purchase
    adjacency). Per pair: users with a, with b, with the sequence,
    support = seq-users / all users, confidence = seq-users / a-users.

    The subsequence test reduces to first(a) < last(b) per user —
    exists i<j with types (a, b) ⇔ the user's earliest a precedes
    their latest b. Ties at identical timestamps are broken strictly
    by ts alone (microsecond event time makes equal-ts cross-type
    pairs measure-zero; documented, identical on both engines).

    Scale: ONE corpus shuffle (the (user, type) min/max aggregate, a
    users×types relation), then a user-co-partitioned self-join whose
    output is bounded by users×types² with types ~10 — aggregated
    straight down to the types²-sized report."""
    from ..caching import persisted

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
    )
    ut = persisted(
        ev.groupBy("user_id", F.col("event_type").alias("etype")).agg(
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
    )
    n_users = ut.select("user_id").distinct().count()
    per_type = ut.groupBy("etype").agg(
        F.count(F.lit(1)).alias("n_users_t")
    )
    a = ut.select(
        "user_id",
        F.col("etype").alias("type_a"),
        F.col("first_ts").alias("a_first"),
    )
    b = ut.select(
        "user_id",
        F.col("etype").alias("type_b"),
        F.col("last_ts").alias("b_last"),
    )
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") != F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).alias("n_users_both"),
            F.sum(
                (F.col("a_first") < F.col("b_last")).cast("bigint")
            ).alias("n_users_seq"),
        )
    )
    na = per_type.select(
        F.col("etype").alias("type_a"), F.col("n_users_t").alias("n_users_a")
    )
    nb = per_type.select(
        F.col("etype").alias("type_b"), F.col("n_users_t").alias("n_users_b")
    )
    return (
        pairs.join(F.broadcast(na), "type_a")
        .join(F.broadcast(nb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_users_a",
            "n_users_b",
            "n_users_both",
            "n_users_seq",
            pround(
                F.col("n_users_seq") / F.lit(float(n_users)), 6
            ).alias("support"),
            pround(
                F.col("n_users_seq") / F.col("n_users_a"), 6
            ).alias("confidence"),
        )
        .orderBy("type_a", "type_b")
    )


QUERIES["sequential_pair_support"] = sequential_pair_support

_SQL_SEQ_SUPPORT = f"""
    WITH ut AS MATERIALIZED (
      SELECT user_id, event_type AS etype,
             min(ts) AS first_ts, max(ts) AS last_ts
      FROM events WHERE event_type IS NOT NULL
      GROUP BY user_id, event_type
    ),
    nu AS (SELECT count(DISTINCT user_id) AS n_users FROM ut),
    per_type AS MATERIALIZED (
      SELECT etype, count(*) AS n_users_t FROM ut GROUP BY etype
    ),
    pairs AS (
      SELECT a.etype AS type_a, b.etype AS type_b,
             count(*) AS n_users_both,
             CAST(sum(CASE WHEN a.first_ts < b.last_ts
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_users_seq
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.etype <> b.etype
      GROUP BY a.etype, b.etype
    )
    SELECT p.type_a, p.type_b,
           na.n_users_t AS n_users_a,
           nb.n_users_t AS n_users_b,
           p.n_users_both, p.n_users_seq,
           {sql_pround('p.n_users_seq / nu.n_users::DOUBLE', 6)}
             AS support,
           {sql_pround('p.n_users_seq / na.n_users_t::DOUBLE', 6)}
             AS confidence
    FROM pairs p
    JOIN per_type na ON na.etype = p.type_a
    JOIN per_type nb ON nb.etype = p.type_b
    CROSS JOIN nu
    ORDER BY p.type_a, p.type_b
"""

ORACLES["sequential_pair_support"] = _SQL_SEQ_SUPPORT


# --- Markov entropy rate of the event stream -------------------------------


def transition_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-state conditional entropy of the first-order event Markov
    chain (Shannon 1948 §7 — the entropy of a Markov source): for each
    from_type, H(next | from) = −Σ p·ln(p) over its observed
    transition row, its perplexity exp(H) ("effectively how many
    next-states"), and the corpus ENTROPY RATE Σ p̂(from)·H(from)
    under the empirical state frequencies repeated on every row — the
    single scalar separating habitual populations (low rate: streams
    are predictable, sessionization and next-event models will be
    accurate) from exploratory ones. Companion of
    `event_transition_matrix`, which reports the probabilities this
    compresses.

    Determinism: p = n / rowsum is a ratio of exact integers
    (identical doubles), ln is the repo-wide shared-libm contract,
    each −p·ln(p) term prounds to 9dp before its DECIMAL(28,9) fold
    (boundary-free), and the rate's weight·H terms fold the same way.

    Scale: reuses the transition matrix's one user-window shuffle;
    everything after is |event_types|²-sized."""
    counts = event_transition_matrix(spark, sf_dir).select(
        "from_type", "to_type", "n"
    )
    wrow = Window.partitionBy("from_type")
    p = F.col("n") / F.sum("n").over(wrow)
    term = pround(-p * F.log(p), 9)
    per_state = (
        counts.withColumn("term", term)
        .withColumn("rowsum", F.sum("n").over(wrow))
        .groupBy("from_type")
        .agg(
            F.max("rowsum").alias("n_out"),
            F.count(F.lit(1)).alias("n_branches"),
            F.sum(F.col("term").cast("decimal(28,9)"))
            .cast("double")
            .alias("h_raw"),
        )
    )
    wall = Window.partitionBy()
    with_tot = per_state.withColumn("tot", F.sum("n_out").over(wall))
    rate_term = pround(
        F.col("n_out") / F.col("tot") * F.col("h_raw"), 9
    )
    rated = with_tot.withColumn(
        "rate_raw",
        F.sum(rate_term.cast("decimal(28,9)")).over(wall).cast("double"),
    )
    return (
        rated.select(
            "from_type",
            "n_out",
            "n_branches",
            pround(F.col("h_raw"), 6).alias("entropy_nats"),
            pround(F.exp(F.col("h_raw")), 4).alias("perplexity"),
            pround(F.col("rate_raw"), 6).alias("entropy_rate"),
        )
        .orderBy("from_type")
    )


QUERIES["transition_entropy_rate"] = transition_entropy_rate

_SQL_ENTROPY_RATE = f"""
    WITH counts AS MATERIALIZED (
      SELECT from_type, to_type, count(*) AS n FROM (
        SELECT event_type AS from_type,
               lead(event_type) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
               ) AS to_type
        FROM events
      ) t WHERE to_type IS NOT NULL
      GROUP BY from_type, to_type
    ),
    terms AS MATERIALIZED (
      SELECT from_type, n,
             sum(n) OVER (PARTITION BY from_type) AS rowsum,
             {sql_pround(
                 '-(n / (sum(n) OVER (PARTITION BY from_type)))'
                 ' * ln(n / (sum(n) OVER (PARTITION BY from_type)))', 9
             )} AS term
      FROM counts
    ),
    per_state AS MATERIALIZED (
      SELECT from_type, CAST(max(rowsum) AS BIGINT) AS n_out,
             count(*) AS n_branches,
             (sum(term::DECIMAL(28,9)))::DOUBLE AS h_raw
      FROM terms GROUP BY from_type
    ),
    rated AS MATERIALIZED (
      SELECT *,
             (sum(({sql_pround(
                 '(n_out / tot) * h_raw', 9
             )})::DECIMAL(28,9)) OVER ())::DOUBLE AS rate_raw
      FROM (
        SELECT from_type, n_out, n_branches, h_raw,
               sum(n_out) OVER () AS tot
        FROM per_state
      ) s
    )
    SELECT from_type, n_out, n_branches,
           {sql_pround('h_raw', 6)} AS entropy_nats,
           {sql_pround('exp(h_raw)', 4)} AS perplexity,
           {sql_pround('rate_raw', 6)} AS entropy_rate
    FROM rated
    ORDER BY from_type
"""

ORACLES["transition_entropy_rate"] = _SQL_ENTROPY_RATE
