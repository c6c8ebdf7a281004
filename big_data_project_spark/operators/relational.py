"""Remaining relational surface: CUBE, pivot, set operations, full
outer join — the SQL shapes not already covered by tpch.py/tpch_ext.py,
each as a Catalyst plan with a line-for-line oracle.

The reference's SQL stays within joins/windows/DISTINCT ON
(kpi_views.sql); these complete the standard analytic grammar a user
would expect from a drop-in engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table

PIVOT_HOURS = [7, 8, 9, 16, 17, 18]  # peak hours as pivot columns


def sales_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all 4 grouping combinations
    with grouping_id to disambiguate NULL-as-ALL from data NULLs."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.grouping_id().alias("gid"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "cnt",
            "sum_qty",
            "gid",
        )
    )


def route_hour_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: event counts per route with one column per peak hour.
    Catalyst rewrites pivot to a single conditional aggregate — one
    shuffle regardless of pivot-column count."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
    )
    return (
        ev.withColumn("hh", F.hour("ts"))
        .filter(F.col("hh").isin(PIVOT_HOURS))
        .groupBy(F.col("event_type").alias("route_id"))
        .pivot("hh", PIVOT_HOURS)
        .agg(F.count(F.lit(1)))
        .select(
            "route_id",
            *[F.coalesce(str(h), F.lit(0)).alias(f"h{h}") for h in PIVOT_HOURS],
        )
    )


def weekday_weekend_routes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: routes active on weekdays INTERSECT weekends,
    plus the weekday-only EXCEPT set, as one labeled union."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
    )
    dow = F.dayofweek("ts")  # 1=Sunday, 7=Saturday
    weekday = (
        ev.filter(~dow.isin(1, 7)).select("event_type").distinct()
    )
    weekend = ev.filter(dow.isin(1, 7)).select("event_type").distinct()
    both = weekday.intersect(weekend).select(
        F.col("event_type").alias("route_id"), F.lit("both").alias("coverage")
    )
    wd_only = weekday.exceptAll(weekend).select(
        F.col("event_type").alias("route_id"),
        F.lit("weekday_only").alias("coverage"),
    )
    return both.unionByName(wd_only)


def demand_delay_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two hourly rollups — keeps route-hours seen by
    either side, with presence flags (the shape reconciliation jobs
    need; reference's views only left-join)."""
    from .hourly import delay_hourly, demand_hourly

    d = demand_hourly(spark, sf_dir)
    dl = delay_hourly(spark, sf_dir).select(
        "route_id", "hour_ts", "trip_update_events"
    )
    return (
        d.join(dl, ["route_id", "hour_ts"], "full_outer")
        .select(
            "route_id",
            "hour_ts",
            F.coalesce("passengers", F.lit(0.0)).alias("passengers"),
            F.coalesce("trip_update_events", F.lit(0)).alias(
                "trip_update_events"
            ),
            (
                F.col("passengers").isNotNull().cast("int")
                + F.lit(2) * F.col("trip_update_events").isNotNull().cast("int")
            ).alias("presence"),
        )
    )


def demand_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: passengers within the trailing 2-hour
    event-time interval per route (unlike a ROWS frame, gaps in the
    hourly series shrink the window — interval semantics, not
    row-count semantics)."""
    from ..functions.portable import pround
    from .hourly import demand_hourly

    d = demand_hourly(spark, sf_dir)
    w = (
        Window.partitionBy("route_id")
        .orderBy(F.unix_timestamp("hour_ts"))
        .rangeBetween(-7200, 0)
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
        ).alias("trailing_2h_passengers"),
        F.count(F.lit(1)).over(w).alias("hours_in_window"),
    )


def customer_balance_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile window: quartile summary of customer balances per nation."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    q = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .withColumn("quartile", F.ntile(4).over(w))
    )
    return q.groupBy("n_name", "quartile").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.round(F.min("c_acctbal"), 2).alias("min_bal"),
        F.round(F.max("c_acctbal"), 2).alias("max_bal"),
    )


MOVING_MONTHS = 3


def nation_revenue_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative + 3-month-moving order revenue per nation: monthly
    pre-aggregate (one shuffle over the fact), then two window frames
    over the tiny (nation, month) relation. Decimal partial sums keep
    every running value order-independent cross-engine.

    The moving window is a RANGE frame over a month index
    (year*12+month), so it is a true calendar 3-month window: months
    with zero orders leave a gap in the index and fall out of the
    frame, rather than the frame silently widening to the last 3
    *observed* months as a ROWS frame would (round-2 advice)."""
    from ..functions.portable import pround

    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    # customer is fact-sized: no broadcast hint (AQE may still pick one
    # at small SF); nation is a true dim and broadcasts unconditionally.
    monthly = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(
            "n_name", F.date_trunc("month", "o_orderdate").alias("month_ts")
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(28,6)")).alias("rev")
        )
    )
    monthly = monthly.withColumn(
        "month_idx",
        F.year("month_ts") * 12 + F.month("month_ts"),
    )
    cum = (
        Window.partitionBy("n_name")
        .orderBy("month_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    mov = (
        Window.partitionBy("n_name")
        .orderBy("month_idx")
        .rangeBetween(-(MOVING_MONTHS - 1), 0)
    )
    return monthly.select(
        "n_name",
        "month_ts",
        pround(F.col("rev").cast("double"), 2).alias("month_revenue"),
        pround(F.sum("rev").over(cum).cast("double"), 2).alias(
            "cumulative_revenue"
        ),
        pround(F.sum("rev").over(mov).cast("double"), 2).alias(
            "moving_3m_revenue"
        ),
    )


def route_dow_rank_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-function family over one aggregate: per route, rank each
    day-of-week by total demand with rank / dense_rank / percent_rank /
    cume_dist — the remaining ANSI window functions not exercised by the
    ntile/row_number queries. One shuffle for the aggregate; the windows
    run on the tiny (route, dow) relation."""
    from ..functions.portable import dsum, pround
    from ..functions.time import day_of_week

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
    )
    per = ev.groupBy(
        F.col("event_type").alias("route_id"),
        day_of_week("ts").alias("dow"),
    ).agg(dsum("value", 2).alias("total_value"))
    w = Window.partitionBy("route_id").orderBy(
        F.desc("total_value"), F.asc("dow")
    )
    return per.select(
        "route_id",
        "dow",
        "total_value",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        pround(F.percent_rank().over(w), 6).alias("pct_rank"),
        pround(F.cume_dist().over(w), 6).alias("cume_dist"),
    )


QUERIES = {
    "demand_range_window": demand_range_window,
    "customer_balance_quartiles": customer_balance_quartiles,
    "sales_cube": sales_cube,
    "route_hour_pivot": route_hour_pivot,
    "weekday_weekend_routes": weekday_weekend_routes,
    "demand_delay_full_outer": demand_delay_full_outer,
    "nation_revenue_running": nation_revenue_running,
    "route_dow_rank_profile": route_dow_rank_profile,
}

_SQL_PIVOT_COLS = ",\n               ".join(
    f"count(*) FILTER (WHERE hour(ts) = {h}) AS h{h}" for h in PIVOT_HOURS
)

ORACLES = {
    "demand_range_window": None,  # filled below (shares hourly CTEs)
    "customer_balance_quartiles": """
        SELECT n_name, quartile,
               count(*) AS n_cust,
               round(min(c_acctbal), 2) AS min_bal,
               round(max(c_acctbal), 2) AS max_bal
        FROM (
          SELECT n_name, c_acctbal,
                 ntile(4) OVER (PARTITION BY n_name
                                ORDER BY c_acctbal ASC, c_custkey ASC)
                   AS quartile
          FROM customer JOIN nation ON c_nationkey = n_nationkey
        ) q
        GROUP BY n_name, quartile
    """,
    "sales_cube": """
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               count(*) AS cnt,
               round(sum(l_quantity), 2) AS sum_qty,
               grouping(l_returnflag, l_linestatus) AS gid
        FROM lineitem
        GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
    "route_hour_pivot": f"""
        SELECT event_type AS route_id,
               {_SQL_PIVOT_COLS}
        FROM events
        WHERE event_type IS NOT NULL
          AND hour(ts) IN ({", ".join(str(h) for h in PIVOT_HOURS)})
        GROUP BY event_type
    """,
    "demand_delay_full_outer": None,  # filled below (shares hourly CTEs)
    "weekday_weekend_routes": """
        WITH weekday AS (
          SELECT DISTINCT event_type FROM events
          WHERE event_type IS NOT NULL AND dayofweek(ts) NOT IN (0, 6)
        ),
        weekend AS (
          SELECT DISTINCT event_type FROM events
          WHERE event_type IS NOT NULL AND dayofweek(ts) IN (0, 6)
        )
        SELECT event_type AS route_id, 'both' AS coverage
        FROM (SELECT * FROM weekday INTERSECT SELECT * FROM weekend) b
        UNION ALL
        SELECT event_type AS route_id, 'weekday_only' AS coverage
        FROM (SELECT * FROM weekday EXCEPT SELECT * FROM weekend) w
    """,
}

from .hourly import SQL_DELAY, SQL_DEMAND  # noqa: E402

ORACLES["demand_range_window"] = f"""
    WITH d AS ({SQL_DEMAND})
    SELECT route_id, hour_ts, passengers,
           floor(((sum((passengers)::DECIMAL(28,6)) OVER w)::DOUBLE)
                 * 100.0 + 0.5) / 100.0 AS trailing_2h_passengers,
           count(*) OVER w AS hours_in_window
    FROM d
    WINDOW w AS (PARTITION BY route_id ORDER BY hour_ts
                 RANGE BETWEEN INTERVAL 2 HOURS PRECEDING
                      AND CURRENT ROW)
"""

ORACLES["demand_delay_full_outer"] = f"""
    WITH d AS ({SQL_DEMAND}),
    dl AS (SELECT route_id, hour_ts, trip_update_events
           FROM ({SQL_DELAY}) x)
    SELECT coalesce(d.route_id, dl.route_id) AS route_id,
           coalesce(d.hour_ts, dl.hour_ts) AS hour_ts,
           coalesce(d.passengers, 0.0) AS passengers,
           coalesce(dl.trip_update_events, 0) AS trip_update_events,
           (CASE WHEN d.passengers IS NOT NULL THEN 1 ELSE 0 END
            + 2 * CASE WHEN dl.trip_update_events IS NOT NULL
                       THEN 1 ELSE 0 END) AS presence
    FROM d
    FULL OUTER JOIN dl
      ON d.route_id = dl.route_id AND d.hour_ts = dl.hour_ts
"""

from ..functions.portable import sql_pround  # noqa: E402

ORACLES["nation_revenue_running"] = f"""
    WITH monthly AS (
      -- DuckDB's date_trunc('month', ...) yields DATE; Spark yields
      -- TIMESTAMP — cast so the hash gate sees identical isoformats.
      SELECT n_name,
             CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)
               AS month_ts,
             sum((o_totalprice)::DECIMAL(28,6)) AS rev
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      GROUP BY n_name, date_trunc('month', o_orderdate)
    )
    -- mov is a RANGE frame over the month index so it is a calendar
    -- 3-month window (zero-order months fall out), matching the Spark
    -- rangeBetween frame.
    SELECT n_name, month_ts,
           {sql_pround('(rev)::DOUBLE', 2)} AS month_revenue,
           {sql_pround('(sum(rev) OVER cum)::DOUBLE', 2)}
             AS cumulative_revenue,
           {sql_pround('(sum(rev) OVER mov)::DOUBLE', 2)}
             AS moving_3m_revenue
    FROM (SELECT *, year(month_ts) * 12 + month(month_ts) AS month_idx
          FROM monthly) m
    WINDOW cum AS (PARTITION BY n_name ORDER BY month_ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           mov AS (PARTITION BY n_name ORDER BY month_idx
                   RANGE BETWEEN {MOVING_MONTHS - 1} PRECEDING
                        AND CURRENT ROW)
"""

from ..functions.portable import sql_dsum  # noqa: E402

ORACLES["route_dow_rank_profile"] = f"""
    WITH per AS (
      SELECT event_type AS route_id,
             dayofweek(ts) AS dow,
             {sql_dsum('value', 2)} AS total_value
      FROM events
      WHERE event_type IS NOT NULL
      GROUP BY event_type, dayofweek(ts)
    )
    SELECT route_id, dow, total_value,
           rank() OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           {sql_pround('percent_rank() OVER w', 6)} AS pct_rank,
           {sql_pround('cume_dist() OVER w', 6)} AS cume_dist
    FROM per
    WINDOW w AS (PARTITION BY route_id
                 ORDER BY total_value DESC, dow ASC)
"""


def orders_fk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row referential-integrity audit across the relational core:
    orders with no lineitems, lineitems whose order is missing,
    customers with no orders, and orders whose customer is missing —
    the ingest-quality gate the reference enforces with foreign keys in
    Postgres (initdb schema constraints); on a lake there is no FK, so
    the audit IS the constraint.

    Scale: four anti-join counts over the fact tables; each anti join
    is a hash join on its key with the smaller (distinct-key) side
    aggregated first, and the four 1-row results cross-join broadcast
    into the single audit row."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")

    def _cnt(df, name):
        return df.agg(F.count(F.lit(1)).alias(name))

    o_no_li = _cnt(
        orders.join(
            li.select("l_orderkey").distinct(),
            orders.o_orderkey == F.col("l_orderkey"),
            "left_anti",
        ),
        "orders_without_lineitems",
    )
    li_dangling = _cnt(
        li.join(
            orders.select("o_orderkey"),
            li.l_orderkey == F.col("o_orderkey"),
            "left_anti",
        ),
        "lineitems_without_order",
    )
    c_no_o = _cnt(
        cust.join(
            orders.select("o_custkey").distinct(),
            cust.c_custkey == F.col("o_custkey"),
            "left_anti",
        ),
        "customers_without_orders",
    )
    o_dangling = _cnt(
        orders.join(
            cust.select("c_custkey"),
            orders.o_custkey == F.col("c_custkey"),
            "left_anti",
        ),
        "orders_without_customer",
    )
    totals = orders.agg(F.count(F.lit(1)).alias("n_orders"))
    return (
        totals.crossJoin(F.broadcast(o_no_li))
        .crossJoin(F.broadcast(li_dangling))
        .crossJoin(F.broadcast(c_no_o))
        .crossJoin(F.broadcast(o_dangling))
    )


QUERIES["orders_fk_audit"] = orders_fk_audit

# NOT EXISTS, not NOT IN: a single NULL key in the subquery makes
# NOT IN three-valued (every probe evaluates to NULL -> count 0),
# silently masking exactly the dirty-data class this audit exists to
# catch; NOT EXISTS matches Spark's left_anti (NULL never matches, the
# NULL-keyed row itself counts as dangling).
ORACLES["orders_fk_audit"] = """
    SELECT
      (SELECT count(*) FROM orders) AS n_orders,
      (SELECT count(*) FROM orders o
       WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                         WHERE l.l_orderkey = o.o_orderkey))
        AS orders_without_lineitems,
      (SELECT count(*) FROM lineitem l
       WHERE NOT EXISTS (SELECT 1 FROM orders o
                         WHERE o.o_orderkey = l.l_orderkey))
        AS lineitems_without_order,
      (SELECT count(*) FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM orders o
                         WHERE o.o_custkey = c.c_custkey))
        AS customers_without_orders,
      (SELECT count(*) FROM orders o
       WHERE NOT EXISTS (SELECT 1 FROM customer c
                         WHERE c.c_custkey = o.o_custkey))
        AS orders_without_customer
"""


RFM_QUARTILES = 4
SLA_DAYS = 30  # ship-within window for the priority SLA


def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per customer recency (days from last
    order to the corpus max order date), frequency (order count), and
    monetary (decimal-exact total spend), each scored into quartiles by
    ntile over a FULLY ordered ranking (metric + c_custkey tie-break,
    so the assignment is engine-deterministic; recency ranked DESC so
    score 4 = most recent). Output: one row per RFM segment code with
    customer count and average spend — the classic CRM cut.

    Scale: one orders-scale aggregate to customer grain, three
    customers-sized ntile windows, then a 64-row segment aggregate."""
    from ..functions.portable import davg, pround

    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy(F.col("o_custkey").alias("c")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(28,6)"))
        .cast("double")
        .alias("monetary_raw"),
    )
    max_date = F.max("last_order").over(Window.partitionBy())
    base = per_cust.withColumn(
        "recency_days", F.datediff(max_date, F.col("last_order"))
    ).withColumn("monetary", pround("monetary_raw", 2))
    r_score = F.ntile(RFM_QUARTILES).over(
        Window.orderBy(F.desc("recency_days"), F.col("c"))
    )
    f_score = F.ntile(RFM_QUARTILES).over(
        Window.orderBy(F.col("frequency"), F.col("c"))
    )
    m_score = F.ntile(RFM_QUARTILES).over(
        Window.orderBy(F.col("monetary"), F.col("c"))
    )
    scored = base.select(
        "c",
        "monetary",
        F.concat(
            r_score.cast("string"),
            f_score.cast("string"),
            m_score.cast("string"),
        ).alias("segment"),
    )
    return (
        scored.groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            davg("monetary", 2).alias("avg_monetary"),
        )
        .orderBy("segment")
    )


def order_priority_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly ship-SLA attainment by order priority: the fraction of
    orders whose FIRST lineitem shipped within SLA_DAYS of the order
    date, per (order month, priority) — the service-level table an ops
    review reads next to q4's raw priority counts.

    Scale: one lineitem-scale min-aggregate to order grain, one
    broadcast-free equi-join back to orders, then a months x priorities
    aggregate."""
    from ..functions.portable import pround

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    first_ship = li.groupBy("l_orderkey").agg(
        F.min("l_shipdate").alias("first_ship")
    )
    j = orders.join(
        first_ship, orders.o_orderkey == F.col("l_orderkey")
    )
    met = F.when(
        F.col("first_ship")
        <= F.col("o_orderdate") + F.expr(f"INTERVAL {SLA_DAYS} DAYS"),
        1,
    ).otherwise(0)
    return (
        j.groupBy(
            # DATE on both engines (DuckDB date_trunc('month') -> DATE)
            F.to_date(F.date_trunc("month", "o_orderdate")).alias(
                "order_month"
            ),
            "o_orderpriority",
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(met).alias("n_met"),
        )
        .select(
            "order_month",
            "o_orderpriority",
            "n_orders",
            "n_met",
            pround(F.col("n_met") / F.col("n_orders"), 4).alias("sla_frac"),
        )
        .orderBy("order_month", "o_orderpriority")
    )


QUERIES["rfm_segments"] = rfm_segments
QUERIES["order_priority_sla"] = order_priority_sla

from ..functions.portable import sql_davg as _sql_davg  # noqa: E402
from ..functions.portable import sql_pround as _sql_pround  # noqa: E402

ORACLES["rfm_segments"] = f"""
    WITH per_cust AS (
      SELECT o_custkey AS c,
             max(o_orderdate) AS last_order,
             count(*) AS frequency,
             (sum((o_totalprice)::DECIMAL(28,6)))::DOUBLE AS monetary_raw
      FROM orders GROUP BY o_custkey
    ),
    base AS (
      SELECT c, frequency,
             datediff('day', last_order,
                      max(last_order) OVER ()) AS recency_days,
             {_sql_pround('monetary_raw', 2)} AS monetary
      FROM per_cust
    ),
    scored AS (
      SELECT monetary,
             ntile({RFM_QUARTILES}) OVER (ORDER BY recency_days DESC, c)
               ::VARCHAR
             || ntile({RFM_QUARTILES}) OVER (ORDER BY frequency, c)
               ::VARCHAR
             || ntile({RFM_QUARTILES}) OVER (ORDER BY monetary, c)
               ::VARCHAR AS segment
      FROM base
    )
    SELECT segment, count(*) AS n_customers,
           {_sql_davg('monetary', 2)} AS avg_monetary
    FROM scored
    GROUP BY segment
    ORDER BY segment
"""

ORACLES["order_priority_sla"] = f"""
    WITH first_ship AS (
      SELECT l_orderkey, min(l_shipdate) AS first_ship
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT date_trunc('month', o_orderdate) AS order_month,
           o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(CASE WHEN first_ship
                              <= o_orderdate + INTERVAL {SLA_DAYS} DAY
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_met,
           {_sql_pround(
               'sum(CASE WHEN first_ship '
               f'         <= o_orderdate + INTERVAL {SLA_DAYS} DAY '
               '         THEN 1 ELSE 0 END)::DOUBLE / count(*)', 4
           )} AS sla_frac
    FROM orders JOIN first_ship ON o_orderkey = l_orderkey
    GROUP BY date_trunc('month', o_orderdate), o_orderpriority
    ORDER BY order_month, o_orderpriority
"""


def lineitem_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row column/domain-constraint audit over lineitem — the CHECK
    constraints the reference's Postgres schema would enforce at write
    time (initdb/init-postgis.sql column domains), expressed as a scan:
    non-positive quantity/price, discount outside [0, 0.10], tax
    outside [0, 0.08], return-flag / line-status outside their enums,
    NULL keys, and the one CROSS-TABLE temporal rule — lineitems that
    ship BEFORE their order date (which the generated feed actually
    violates: the audit proves its worth by finding them).

    Scale: one pass of conditional sums over lineitem plus one
    order-grain equi-join for the temporal rule; output is one row."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")

    def _viol(cond, name):
        return F.sum(F.when(cond, 1).otherwise(0)).alias(name)

    base = li.agg(
        F.count(F.lit(1)).alias("n_lineitems"),
        _viol(F.col("l_quantity") <= 0, "qty_nonpositive"),
        _viol(F.col("l_extendedprice") <= 0, "price_nonpositive"),
        _viol(
            (F.col("l_discount") < 0) | (F.col("l_discount") > 0.10),
            "discount_out_of_range",
        ),
        _viol(
            (F.col("l_tax") < 0) | (F.col("l_tax") > 0.08),
            "tax_out_of_range",
        ),
        _viol(
            ~F.col("l_returnflag").isin("A", "N", "R")
            | F.col("l_returnflag").isNull(),
            "returnflag_out_of_domain",
        ),
        _viol(
            ~F.col("l_linestatus").isin("O", "F")
            | F.col("l_linestatus").isNull(),
            "linestatus_out_of_domain",
        ),
        _viol(
            F.col("l_orderkey").isNull()
            | F.col("l_partkey").isNull()
            | F.col("l_suppkey").isNull(),
            "null_keys",
        ),
    )
    temporal = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .agg(
            _viol(
                F.col("l_shipdate") < F.col("o_orderdate"),
                "ship_before_order",
            )
        )
    )
    return base.crossJoin(F.broadcast(temporal))


QUERIES["lineitem_constraint_audit"] = lineitem_constraint_audit

ORACLES["lineitem_constraint_audit"] = """
    SELECT
      (SELECT count(*) FROM lineitem)::BIGINT AS n_lineitems,
      (SELECT (sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END))::BIGINT
       FROM lineitem) AS qty_nonpositive,
      (SELECT (sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0
                   END))::BIGINT
       FROM lineitem) AS price_nonpositive,
      (SELECT (sum(CASE WHEN l_discount < 0 OR l_discount > 0.10
                        THEN 1 ELSE 0 END))::BIGINT
       FROM lineitem) AS discount_out_of_range,
      (SELECT (sum(CASE WHEN l_tax < 0 OR l_tax > 0.08
                        THEN 1 ELSE 0 END))::BIGINT
       FROM lineitem) AS tax_out_of_range,
      (SELECT (sum(CASE WHEN l_returnflag NOT IN ('A','N','R')
                        OR l_returnflag IS NULL
                        THEN 1 ELSE 0 END))::BIGINT
       FROM lineitem) AS returnflag_out_of_domain,
      (SELECT (sum(CASE WHEN l_linestatus NOT IN ('O','F')
                        OR l_linestatus IS NULL
                        THEN 1 ELSE 0 END))::BIGINT
       FROM lineitem) AS linestatus_out_of_domain,
      (SELECT (sum(CASE WHEN l_orderkey IS NULL OR l_partkey IS NULL
                        OR l_suppkey IS NULL THEN 1 ELSE 0 END))::BIGINT
       FROM lineitem) AS null_keys,
      (SELECT (sum(CASE WHEN l_shipdate < o_orderdate
                        THEN 1 ELSE 0 END))::BIGINT
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        AS ship_before_order
"""
