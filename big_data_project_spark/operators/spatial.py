"""Spatial operators: point synthesis, grid bucketing, nearest-stop.

Parity target: the reference declares PostGIS point columns + GIST
indexes for stops and vehicle positions
(/root/reference/initdb/init-postgis.sql:18-27,114-123) — i.e. the
CAPABILITY of radius / nearest-stop queries. Its views never exercise
them, so the query shapes here follow what a transit user runs on that
schema: stop points, spatial bucketing, nearest-stop-per-vehicle.

Coordinates are synthesized deterministically from ids (md5-derived
fractions mapped into one city bounding box), so Spark and the DuckDB
oracle see bit-identical doubles: every derived value uses only
+ - * / % floor sqrt — all exactly-rounded IEEE ops that agree across
engines — never sin/cos/asin, whose last-ulp differences would flake a
hash gate (haversine itself is provided for real use and
tolerance-tested in unit tests instead).

Scale design: nearest-stop is a GRID-CELL EQUI-JOIN — each vehicle
position explodes to its 3x3 cell neighborhood and joins stops on the
cell id; the per-vehicle argmin is a window over the few candidate
stops. Never a cross join: cost is |positions| x stops-per-cell. That
is the same bucketing idea a GIST index serves in the reference, and at
100 TB it shuffles on cell ids exactly like the LSH band join.
Positions whose 3x3 ring holds no stop fall out (documented
ring-bounded semantics; widen the ring or coarsen CELL_DEG to trade
recall for cost — with uniform stops per cell the miss probability is
negligible, and the ORACLE runs the identical ring so the contract is
exact either way).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions.portable import hash60, pround, sql_hash60, sql_pround

# City bounding box (Bucharest-ish, the reference's transit domain).
LAT0, LAT_SPAN = 44.35, 0.2
LON0, LON_SPAN = 26.0, 0.25
CELL_DEG = 0.025  # 8 lat cells x 10 lon cells
# Meters per degree at ~44.45N: pure constants so the planar distance
# needs no trig at query time.
M_PER_DEG_LAT = 111320.0
M_PER_DEG_LON = 78850.0


def _hash_frac(prefix: str, c: Column) -> Column:
    """Deterministic uniform fraction in [0, 1) from md5(prefix||id) —
    functions/portable.py::hash60 modulo 10^5."""
    h = hash60(F.concat(F.lit(prefix), c.cast("string")))
    return (h % 100000) / F.lit(100000.0)


def _sql_hash_frac(prefix: str, expr: str) -> str:
    h = sql_hash60(f"'{prefix}' || CAST({expr} AS VARCHAR)")
    return f"({h} % 100000) / 100000.0"


def _cell(lat: Column, lon: Column) -> tuple[Column, Column]:
    return (
        F.floor((lat - F.lit(LAT0)) / F.lit(CELL_DEG)).cast("int"),
        F.floor((lon - F.lit(LON0)) / F.lit(CELL_DEG)).cast("int"),
    )


def _sql_cell(lat: str, lon: str) -> tuple[str, str]:
    return (
        f"CAST(floor(({lat} - {LAT0}) / {CELL_DEG}) AS INT)",
        f"CAST(floor(({lon} - {LON0}) / {CELL_DEG}) AS INT)",
    )


def stops_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One synthesized point per stop (distinct event user_id) — the
    analog of the reference's stops(geom) column."""
    ev = load_table(spark, sf_dir, "events")
    stops = ev.select(F.col("user_id").alias("stop_id")).distinct()
    lat = F.lit(LAT0) + _hash_frac("slat", F.col("stop_id")) * F.lit(LAT_SPAN)
    lon = F.lit(LON0) + _hash_frac("slon", F.col("stop_id")) * F.lit(LON_SPAN)
    cx, cy = _cell(lat, lon)
    return stops.select(
        "stop_id",
        lat.alias("lat"),
        lon.alias("lon"),
        cx.alias("cell_x"),
        cy.alias("cell_y"),
    )


def stop_grid_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stops per grid cell — the bucket-occupancy profile that sizes the
    nearest-stop join (the spatial analog of LSH bucket stats)."""
    return (
        stops_geo(spark, sf_dir)
        .groupBy("cell_x", "cell_y")
        .agg(F.count(F.lit(1)).cast("int").alias("n_stops"))
    )


def _vehicle_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-hour events as current vehicle positions (the realtime
    nearest-stop question is asked of the CURRENT fleet state)."""
    ev = load_table(spark, sf_dir, "events")
    latest = ev.agg(
        F.date_trunc("hour", F.max("ts")).alias("h")
    )
    cur = ev.join(F.broadcast(latest)).filter(
        F.date_trunc("hour", F.col("ts")) == F.col("h")
    )
    lat = F.lit(LAT0) + _hash_frac("vlat", F.col("event_id")) * F.lit(LAT_SPAN)
    lon = F.lit(LON0) + _hash_frac("vlon", F.col("event_id")) * F.lit(LON_SPAN)
    return cur.select(
        F.col("event_id").alias("pos_id"),
        lat.alias("vlat"),
        lon.alias("vlon"),
    )


def nearest_stop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest stop per current vehicle position via the 3x3 grid-ring
    equi-join; distance is exact-arithmetic planar meters (sqrt is an
    exactly-rounded IEEE op, so the oracle hash-matches bit-for-bit)."""
    stops = stops_geo(spark, sf_dir)
    veh = _vehicle_positions(spark, sf_dir)
    vcx, vcy = _cell(F.col("vlat"), F.col("vlon"))
    offsets = F.array(F.lit(-1), F.lit(0), F.lit(1))
    # Generators must be top-level select items (not nested in
    # arithmetic), so explode the offsets first, then shift the cell.
    ring = (
        veh.withColumn("dx", F.explode(offsets))
        .withColumn("dy", F.explode(offsets))
        .select(
            "pos_id",
            "vlat",
            "vlon",
            (vcx + F.col("dx")).alias("cell_x"),
            (vcy + F.col("dy")).alias("cell_y"),
        )
    )
    cand = ring.join(stops, ["cell_x", "cell_y"])
    dlat = (F.col("vlat") - F.col("lat")) * F.lit(M_PER_DEG_LAT)
    dlon = (F.col("vlon") - F.col("lon")) * F.lit(M_PER_DEG_LON)
    d2 = dlat * dlat + dlon * dlon
    w = Window.partitionBy("pos_id").orderBy("d2", "stop_id")
    return (
        cand.select(
            "pos_id", "stop_id", d2.alias("d2")
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "pos_id",
            "stop_id",
            pround(F.sqrt(F.col("d2")), 2).alias("distance_m"),
        )
    )


RADIUS_M = 500.0


def stops_within_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All unordered stop pairs within RADIUS_M meters — the radius/
    ST_DWithin query shape on the reference's PostGIS schema — via the
    grid-ring equi-join (never a cross join).

    Completeness is provable, like the SimHash bands: RADIUS_M (500 m)
    is smaller than one cell in either axis (CELL_DEG = 0.025 deg =
    ~2783 m lat / ~1971 m lon), so two points within the radius differ
    by at most one cell per axis and the 3x3 ring always contains the
    partner. Each pair surfaces exactly once (b's cell is a single cell
    in a's ring; a < b orders the pair).
    """
    stops = stops_geo(spark, sf_dir)
    offsets = F.array(F.lit(-1), F.lit(0), F.lit(1))
    ring = (
        stops.withColumn("dx", F.explode(offsets))
        .withColumn("dy", F.explode(offsets))
        .select(
            F.col("stop_id").alias("a_id"),
            F.col("lat").alias("a_lat"),
            F.col("lon").alias("a_lon"),
            (F.col("cell_x") + F.col("dx")).alias("cell_x"),
            (F.col("cell_y") + F.col("dy")).alias("cell_y"),
        )
    )
    cand = ring.join(stops, ["cell_x", "cell_y"]).filter(
        F.col("a_id") < F.col("stop_id")
    )
    dlat = (F.col("a_lat") - F.col("lat")) * F.lit(M_PER_DEG_LAT)
    dlon = (F.col("a_lon") - F.col("lon")) * F.lit(M_PER_DEG_LON)
    d2 = dlat * dlat + dlon * dlon
    return (
        cand.select(
            "a_id", F.col("stop_id").alias("b_id"), d2.alias("d2")
        )
        .filter(F.col("d2") <= F.lit(RADIUS_M * RADIUS_M))
        .select(
            "a_id", "b_id", pround(F.sqrt(F.col("d2")), 2).alias("distance_m")
        )
    )


def haversine_m(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in meters (the real-deployment distance;
    trig makes it engine-inexact in the last ulp, so it is
    tolerance-tested in unit tests rather than hash-gated)."""
    r = 6371000.0
    p1, p2 = F.radians(lat1), F.radians(lat2)
    dphi = F.radians(lat2 - lat1) / 2
    dlmb = F.radians(lon2 - lon1) / 2
    a = F.sin(dphi) * F.sin(dphi) + F.cos(p1) * F.cos(p2) * F.sin(
        dlmb
    ) * F.sin(dlmb)
    return F.lit(2 * r) * F.asin(F.sqrt(a))


QUERIES = {
    "stops_geo": stops_geo,
    "stop_grid_density": stop_grid_density,
    "nearest_stop": nearest_stop,
    "stops_within_radius": stops_within_radius,
}

_CX, _CY = _sql_cell("lat", "lon")

_SQL_STOPS_GEO = f"""
    SELECT stop_id, lat, lon, {_CX} AS cell_x, {_CY} AS cell_y
    FROM (
      SELECT stop_id,
             {LAT0} + {_sql_hash_frac("slat", "stop_id")} * {LAT_SPAN} AS lat,
             {LON0} + {_sql_hash_frac("slon", "stop_id")} * {LON_SPAN} AS lon
      FROM (SELECT DISTINCT user_id AS stop_id FROM events) s
    ) p
"""

_SQL_VEH = f"""
    SELECT event_id AS pos_id,
           {LAT0} + {_sql_hash_frac("vlat", "event_id")} * {LAT_SPAN} AS vlat,
           {LON0} + {_sql_hash_frac("vlon", "event_id")} * {LON_SPAN} AS vlon
    FROM events
    WHERE date_trunc('hour', ts) = (
      SELECT date_trunc('hour', max(ts)) FROM events
    )
"""

_VCX, _VCY = _sql_cell("vlat", "vlon")

ORACLES = {
    "stops_geo": _SQL_STOPS_GEO,
    "stop_grid_density": f"""
        SELECT cell_x, cell_y, count(*)::int AS n_stops
        FROM ({_SQL_STOPS_GEO}) g
        GROUP BY cell_x, cell_y
    """,
    "stops_within_radius": f"""
        WITH stops AS ({_SQL_STOPS_GEO}),
        ring AS (
          SELECT s.stop_id AS a_id, s.lat AS a_lat, s.lon AS a_lon,
                 s.cell_x + dx.dx AS cell_x, s.cell_y + dy.dy AS cell_y
          FROM stops s
          CROSS JOIN (VALUES (-1), (0), (1)) dx(dx)
          CROSS JOIN (VALUES (-1), (0), (1)) dy(dy)
        ),
        cand AS (
          SELECT r.a_id, s.stop_id AS b_id,
                 ((r.a_lat - s.lat) * {M_PER_DEG_LAT})
                   * ((r.a_lat - s.lat) * {M_PER_DEG_LAT})
                 + ((r.a_lon - s.lon) * {M_PER_DEG_LON})
                   * ((r.a_lon - s.lon) * {M_PER_DEG_LON}) AS d2
          FROM ring r
          JOIN stops s
            ON s.cell_x = r.cell_x AND s.cell_y = r.cell_y
          WHERE r.a_id < s.stop_id
        )
        SELECT a_id, b_id, {sql_pround("sqrt(d2)", 2)} AS distance_m
        FROM cand
        WHERE d2 <= {RADIUS_M * RADIUS_M}
    """,
    "nearest_stop": f"""
        WITH stops AS ({_SQL_STOPS_GEO}),
        veh AS ({_SQL_VEH}),
        ring AS (
          SELECT v.*, {_VCX} + dx.dx AS cell_x, {_VCY} + dy.dy AS cell_y
          FROM veh v
          CROSS JOIN (VALUES (-1), (0), (1)) dx(dx)
          CROSS JOIN (VALUES (-1), (0), (1)) dy(dy)
        ),
        cand AS (
          SELECT r.pos_id, s.stop_id,
                 ((r.vlat - s.lat) * {M_PER_DEG_LAT})
                   * ((r.vlat - s.lat) * {M_PER_DEG_LAT})
                 + ((r.vlon - s.lon) * {M_PER_DEG_LON})
                   * ((r.vlon - s.lon) * {M_PER_DEG_LON}) AS d2
          FROM ring r
          JOIN stops s
            ON s.cell_x = r.cell_x AND s.cell_y = r.cell_y
        )
        SELECT pos_id, stop_id,
               {sql_pround("sqrt(d2)", 2)} AS distance_m
        FROM (
          SELECT *, row_number() OVER (
            PARTITION BY pos_id ORDER BY d2, stop_id
          ) AS rn
          FROM cand
        ) t WHERE rn = 1
    """,
}


# --- grid-density clustering (the DBSCAN shape at scale) --------------------

DBSCAN_MIN_PTS = 2  # cell density threshold (core cells)


def dbscan_grid_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-density clustering of the stop points — the scale shape of
    DBSCAN (Ester et al. 1996) a distributed engine actually runs:
    instead of per-point epsilon neighborhoods (an all-pairs distance
    join), points bucket into grid cells (one corpus-scale aggregate),
    cells with ≥ DBSCAN_MIN_PTS points are CORE, and clusters are the
    4-connected components of core cells. Per-cluster summary: min-
    cell-key label, cell count, stop mass, bounding box.

    Scale split (the PCA-eigh pattern): the POINT data only ever flows
    through the per-cell count — one map-side-combined aggregate, no
    point-point join at any scale; the core-cell graph is bounded by
    the GRID (≤ 80 cells here, a constant independent of data volume),
    so its connected components run driver-side union-find, exactly
    where a constant-sized problem belongs. The DuckDB oracle computes
    the same components via a recursive min-label closure, so the
    whole pipeline — synthesis, binning, density cut, CC, summary —
    sits under the hash gate."""
    dense = (
        stops_geo(spark, sf_dir)
        .groupBy("cell_x", "cell_y")
        .agg(F.count(F.lit(1)).cast("int").alias("n_stops"))
        .filter(F.col("n_stops") >= DBSCAN_MIN_PTS)
    )
    cells = dense.collect()  # grid-bounded: ≤ (LAT_SPAN/CELL)×(LON_SPAN/CELL)
    ids = {(r["cell_x"], r["cell_y"]) for r in cells}
    parent = {c: c for c in ids}

    def find(c):
        while parent[c] != c:
            parent[c] = parent[parent[c]]
            c = parent[c]
        return c

    for (x, y) in sorted(ids):
        for nb in ((x + 1, y), (x, y + 1)):
            if nb in ids:
                ra, rb = find((x, y)), find(nb)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    label = {
        c: min(
            cc[0] * 100 + cc[1]
            for cc in ids
            if find(cc) == find(c)
        )
        for c in ids
    }
    if not cells:
        return spark.createDataFrame(
            [],
            "cluster_id int, n_cells int, n_stops int, "
            "x_min int, x_max int, y_min int, y_max int",
        )
    labeled = spark.createDataFrame(
        [
            (int(label[(r["cell_x"], r["cell_y"])]),
             int(r["cell_x"]), int(r["cell_y"]), int(r["n_stops"]))
            for r in cells
        ],
        "cluster_id int, cell_x int, cell_y int, n_stops int",
    )
    return (
        labeled.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_cells"),
            F.sum("n_stops").cast("int").alias("n_stops"),
            F.min("cell_x").cast("int").alias("x_min"),
            F.max("cell_x").cast("int").alias("x_max"),
            F.min("cell_y").cast("int").alias("y_min"),
            F.max("cell_y").cast("int").alias("y_max"),
        )
        .orderBy("cluster_id")
    )


QUERIES["dbscan_grid_clusters"] = dbscan_grid_clusters

ORACLES["dbscan_grid_clusters"] = f"""
    WITH RECURSIVE dense AS (
      SELECT cell_x, cell_y, count(*)::int AS n_stops,
             cell_x * 100 + cell_y AS ck
      FROM ({_SQL_STOPS_GEO}) g
      GROUP BY cell_x, cell_y
      HAVING count(*) >= {DBSCAN_MIN_PTS}
    ),
    edges AS (
      SELECT a.ck AS src, b.ck AS dst
      FROM dense a JOIN dense b
        ON abs(a.cell_x - b.cell_x) + abs(a.cell_y - b.cell_y) = 1
    ),
    reach(src, lbl) AS (
      SELECT ck, ck FROM dense
      UNION
      SELECT e.src, r.lbl
      FROM edges e JOIN reach r ON r.src = e.dst
    ),
    labels AS (
      SELECT src AS ck, min(lbl) AS cluster_id FROM reach GROUP BY src
    )
    SELECT cluster_id::int AS cluster_id,
           count(*)::int AS n_cells,
           sum(n_stops)::int AS n_stops,
           min(cell_x)::int AS x_min, max(cell_x)::int AS x_max,
           min(cell_y)::int AS y_min, max(cell_y)::int AS y_max
    FROM dense JOIN labels ON dense.ck = labels.ck
    GROUP BY cluster_id
    ORDER BY cluster_id
"""
