"""Sketch operators: approximate distinct counts and quantiles with
their exact counterparts side by side.

At 100 TB a COUNT(DISTINCT) is a two-phase exact aggregate and a
percentile needs a full sort; the sketch forms (HyperLogLog++ via
approx_count_distinct, Greenwald-Khanna via percentile_approx) are
one-pass, mergeable, and bounded-memory — the right default for
monitoring surfaces like the reference's KPI views, with the exact
operators kept for reconciliation.

The HLL/GK entries are *rows-only* (their estimates are
engine-specific by nature; unit tests bound the relative error against
the exact values instead). The md5-deterministic sketches — count-min
(frequencies), the equi-width mergeable histogram (quantiles), linear
counting (cardinality) — are fully oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table, load_table_spread
from ..functions.portable import (
    SQL_TOKENS,
    hash60,
    pround,
    sql_hash60,
    sql_pround,
    word_tokens,
)

HLL_RSD = 0.05  # target relative standard deviation for HLL


def route_cardinality_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact vs HLL distinct vehicles per route, with the estimate's
    relative error."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
    )
    out = ev.groupBy(F.col("event_type").alias("route_id")).agg(
        F.countDistinct("user_id").alias("exact_vehicles"),
        F.approx_count_distinct("user_id", rsd=HLL_RSD).alias(
            "approx_vehicles"
        ),
    )
    return out.select(
        "route_id",
        "exact_vehicles",
        "approx_vehicles",
        F.when(
            F.col("exact_vehicles") > 0,
            F.round(
                F.abs(F.col("approx_vehicles") - F.col("exact_vehicles"))
                / F.col("exact_vehicles"),
                4,
            ),
        ).alias("rel_error"),  # NULL (not NaN) when a group has no ids
    )


def delay_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median vs percentile_approx sketch of per-route delay."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
    )
    return ev.groupBy(F.col("event_type").alias("route_id")).agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("exact_p50"),
        F.round(F.percentile_approx("value", 0.5, 10000), 4).alias(
            "approx_p50"
        ),
        F.round(F.expr("percentile(value, 0.95)"), 4).alias("exact_p95"),
        F.round(F.percentile_approx("value", 0.95, 10000), 4).alias(
            "approx_p95"
        ),
    )


CM_DEPTH = 4  # count-min hash rows
CM_WIDTH = 16  # buckets per row — below vocab size so collisions occur
CM_TOPK = 20  # heavy hitters audited against the sketch


def cm_bucket_rows(tok):
    """The CM_DEPTH (row, bucket) coordinates of one token — the
    SHARED md5 bucket hashing of the count-min family (batch audit +
    streaming maintenance twin read the same cells)."""
    return F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                F.pmod(
                    hash60(F.concat(F.lit(f"{d}|"), tok)),
                    F.lit(CM_WIDTH),
                ).alias("bucket"),
            )
            for d in range(CM_DEPTH)
        ]
    )


def countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy-hitter audit over the corpus token
    stream: build a CM_DEPTH x CM_WIDTH sketch with md5-derived row
    hashes, then compare the sketch estimate against the exact count
    for the top-CM_TOPK tokens (overestimate >= 0 always; the width is
    deliberately below the vocabulary size so collisions — the thing
    the audit measures — actually occur).

    Unlike the HLL/GK entries above, the CM construction is fully
    deterministic (md5 row hashes), so this sketch IS oracle-checkable
    — DuckDB rebuilds the identical table. Scale shape: one map-side
    CM_DEPTH-way expand + a (d, bucket)-keyed aggregate whose output
    is DEPTH*WIDTH rows; the probe join is top-K-sized against the
    broadcast sketch. The token groupBy for the exact side is the same
    single corpus-scale shuffle token_frequencies pays.
    """
    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    toks = word_tokens(docs)
    _rows = cm_bucket_rows
    cm = (
        toks.select(F.explode(_rows(F.col("tok"))).alias("rb"))
        .groupBy(F.col("rb.d").alias("d"), F.col("rb.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    topk = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.desc("exact_n"), "tok")
        .limit(CM_TOPK)
    )
    probes = topk.select(
        "tok", "exact_n", F.explode(_rows(F.col("tok"))).alias("rb")
    )
    est = (
        probes.join(
            F.broadcast(cm),
            (F.col("rb.d") == F.col("d"))
            & (F.col("rb.bucket") == F.col("bucket")),
        )
        .groupBy("tok", "exact_n")
        .agg(F.min("c").alias("cm_est"))
    )
    return est.select(
        "tok",
        "exact_n",
        "cm_est",
        (F.col("cm_est") - F.col("exact_n")).alias("overestimate"),
        pround(
            (F.col("cm_est") - F.col("exact_n")) / F.col("exact_n"), 4
        ).alias("rel_error"),
    ).orderBy(F.desc("exact_n"), "tok")


QBINS = 128  # equi-width histogram resolution (mergeable state size)


def mergeable_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MERGEABLE quantile sketch with its exact error,
    per route: a QBINS equi-width histogram over each route's value
    range, quantile estimates read off the cumulative histogram
    (smallest bin whose cumulative count reaches p·n, estimated at the
    bin midpoint), compared against the exact percentiles.

    This is the role t-digest / KLL play in a serving stack — per-
    partition histograms merge by ADDING bin counts (across executors,
    days, or streaming micro-batches), so the quantile state is
    O(QBINS) per key and one map-side combine deep, where the exact
    percentile needs a full per-key sort. Unlike the engine-native
    GK/HLL entries above (rows-only by nature), every step here is
    +-*/ floor arithmetic, so the WHOLE sketch — binning, merge,
    cumulative read-off — sits inside the DuckDB oracle hash gate.

    Scale: one (route) range aggregate (map-side combined), one
    (route, bin) aggregate — the mergeable state, ≤ routes×QBINS rows
    — and a routes-sized window over that state. The exact-percentile
    column is the audit; at 100 TB you drop it and keep the sketch.

    Error bound: |est - exact| ≤ bin_width/2 + interpolation error —
    the audit columns make the bound observable per route."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("value").isNotNull()
    )
    route = F.col("event_type").alias("route_id")
    rng = ev.groupBy(route).agg(
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    )
    j = ev.select(route, "value").join(F.broadcast(rng), "route_id")
    width = F.when(
        F.col("mx") > F.col("mn"),
        (F.col("mx") - F.col("mn")) / F.lit(float(QBINS)),
    ).otherwise(F.lit(1.0))
    bin_ = F.least(
        F.lit(QBINS - 1),
        F.floor((F.col("value") - F.col("mn")) / width),
    ).cast("int")
    hist = j.groupBy("route_id", bin_.alias("bin")).agg(
        F.count(F.lit(1)).alias("c")
    )
    w = (
        Window.partitionBy("route_id")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.withColumn("cum_c", F.sum("c").over(w)).join(
        F.broadcast(rng), "route_id"
    )

    def est(p: float):
        mid = F.when(
            F.col("mx") > F.col("mn"),
            F.col("mn")
            + (F.col("bin") + 0.5)
            * ((F.col("mx") - F.col("mn")) / F.lit(float(QBINS))),
        ).otherwise(F.col("mn"))
        return pround(
            F.min(F.when(F.col("cum_c") >= F.lit(p) * F.col("n"), mid)),
            6,
        )

    sk = cum.groupBy("route_id").agg(
        F.first("n").alias("n_values"),
        est(0.5).alias("est_p50"),
        est(0.9).alias("est_p90"),
        est(0.99).alias("est_p99"),
    )
    exact = ev.groupBy(route).agg(
        pround(F.expr("percentile(value, 0.5)"), 4).alias("exact_p50"),
        pround(F.expr("percentile(value, 0.99)"), 4).alias("exact_p99"),
    )
    return (
        sk.join(exact, "route_id")
        .select(
            "route_id",
            "n_values",
            "est_p50",
            "exact_p50",
            pround(F.abs(F.col("est_p50") - F.col("exact_p50")), 4).alias(
                "err_p50"
            ),
            "est_p90",
            "est_p99",
            "exact_p99",
            pround(F.abs(F.col("est_p99") - F.col("exact_p99")), 4).alias(
                "err_p99"
            ),
        )
        .orderBy("route_id")
    )


QUERIES = {
    "route_cardinality_sketch": route_cardinality_sketch,
    "delay_quantile_sketch": delay_quantile_sketch,
    "countmin_heavy_hitters": countmin_heavy_hitters,
    "mergeable_quantile_bins": mergeable_quantile_bins,
}


def _sql_cm_hash(d_expr: str, tok_expr: str) -> str:
    h = sql_hash60(f"{d_expr} || '|' || {tok_expr}")
    return f"({h}) % {CM_WIDTH}"


_SQL_CM_DD = ", ".join(f"({d})" for d in range(CM_DEPTH))

# route_cardinality_sketch / delay_quantile_sketch stay rows-only
# (HLL/GK estimates are engine-specific); the count-min audit is
# deterministic and fully oracle-checked.
ORACLES: dict[str, str] = {
    "countmin_heavy_hitters": f"""
        WITH toks AS (
          SELECT tok
          FROM (SELECT unnest({SQL_TOKENS}) AS tok FROM documents) t
          WHERE tok != ''
        ),
        dd(d) AS (VALUES {_SQL_CM_DD}),
        cm AS (
          SELECT dd.d, {_sql_cm_hash('dd.d', 'tok')} AS bucket,
                 count(*) AS c
          FROM toks CROSS JOIN dd
          GROUP BY dd.d, {_sql_cm_hash('dd.d', 'tok')}
        ),
        topk AS (
          SELECT tok, count(*) AS exact_n FROM toks GROUP BY tok
          ORDER BY exact_n DESC, tok LIMIT {CM_TOPK}
        ),
        est AS (
          SELECT t.tok, t.exact_n, min(cm.c) AS cm_est
          FROM topk t CROSS JOIN dd
          JOIN cm ON cm.d = dd.d
                 AND cm.bucket = {_sql_cm_hash('dd.d', 't.tok')}
          GROUP BY t.tok, t.exact_n
        )
        SELECT tok, exact_n, cm_est,
               cm_est - exact_n AS overestimate,
               {sql_pround('(cm_est - exact_n) / exact_n', 4)} AS rel_error
        FROM est
        ORDER BY exact_n DESC, tok
    """,
}


def _quantile_bins_sql() -> str:
    width = (
        f"CASE WHEN mx > mn THEN (mx - mn) / {float(QBINS)} ELSE 1.0 END"
    )
    mid = (
        f"CASE WHEN mx > mn THEN mn + (bin + 0.5) * ((mx - mn) / "
        f"{float(QBINS)}) ELSE mn END"
    )

    def est(p: float, alias: str) -> str:
        return sql_pround(
            f"min(CASE WHEN cum_c >= {p} * n THEN {mid} END)", 6
        ) + f" AS {alias}"

    return f"""
        WITH ev AS (
          SELECT event_type AS route_id, value
          FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
        ),
        rng AS (
          SELECT route_id, min(value) AS mn, max(value) AS mx,
                 count(*) AS n
          FROM ev GROUP BY route_id
        ),
        binned AS (
          SELECT ev.route_id,
                 least({QBINS - 1},
                       CAST(floor((value - mn) / ({width})) AS BIGINT))
                   AS bin
          FROM ev JOIN rng USING (route_id)
        ),
        hist AS (
          SELECT route_id, bin, count(*) AS c
          FROM binned GROUP BY route_id, bin
        ),
        cum AS (
          SELECT h.route_id, h.bin, mn, mx, n,
                 sum(c) OVER (PARTITION BY h.route_id ORDER BY h.bin)
                   AS cum_c
          FROM hist h JOIN rng USING (route_id)
        ),
        sk AS (
          SELECT route_id, any_value(n) AS n_values,
                 {est(0.5, 'est_p50')},
                 {est(0.9, 'est_p90')},
                 {est(0.99, 'est_p99')}
          FROM cum GROUP BY route_id
        ),
        exact AS (
          SELECT route_id,
                 {sql_pround('quantile_cont(value, 0.5)', 4)} AS exact_p50,
                 {sql_pround('quantile_cont(value, 0.99)', 4)} AS exact_p99
          FROM ev GROUP BY route_id
        )
        SELECT route_id, n_values, est_p50, exact_p50,
               {sql_pround('abs(est_p50 - exact_p50)', 4)} AS err_p50,
               est_p90, est_p99, exact_p99,
               {sql_pround('abs(est_p99 - exact_p99)', 4)} AS err_p99
        FROM sk JOIN exact USING (route_id)
        ORDER BY route_id
    """


ORACLES["mergeable_quantile_bins"] = _quantile_bins_sql()


# --- linear counting (deterministic distinct-count sketch) -------------------

LC_M = 1024  # bitmap size


def lc_bucket(user_col):
    """The linear-counting bucket of one user id — SHARED by the batch
    audit and the streaming occupied-cell twin."""
    return F.pmod(hash60(F.concat(F.lit("lc:"), user_col)), F.lit(LC_M))


def linear_counting_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear counting (Whang et al. 1990, TODS) distinct-vehicle
    estimate per route with its exact error — the DETERMINISTIC
    distinct-count sketch completing the portable trio (count-min =
    frequencies, equi-width histogram = quantiles, linear counting =
    cardinality): each user_id sets bit md5(id) mod LC_M; the estimate
    is −m·ln(V) for V = the zero-bit fraction. Mergeable by bitmap OR
    (here: union of occupied bucket sets), one corpus aggregate of
    O(m) state per key — the role HLL plays in the rows-only entry
    above, but md5-deterministic, so the whole sketch sits under the
    oracle hash gate. Saturated bitmaps (V = 0, estimate diverges)
    emit NULL — the documented regime where you move to HLL.

    Scale: one (route, bucket) distinct aggregate (map-side combined,
    ≤ routes×m rows) + the exact countDistinct audit column you drop
    at 100 TB."""

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
    )
    occ = (
        ev.select(
            F.col("event_type").alias("route_id"),
            lc_bucket(F.col("user_id")).alias("bucket"),
        )
        .groupBy("route_id")
        .agg(F.countDistinct("bucket").alias("occupied"))
    )
    exact = ev.groupBy(F.col("event_type").alias("route_id")).agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    v = (F.lit(LC_M) - F.col("occupied")) / F.lit(float(LC_M))
    est = F.when(
        F.col("occupied") < LC_M,
        pround(-F.lit(float(LC_M)) * F.log(v), 4),
    )
    return (
        occ.join(exact, "route_id")
        .select(
            "route_id",
            "occupied",
            est.alias("lc_estimate"),
            "exact_distinct",
            F.when(
                F.col("occupied") < LC_M,
                pround(
                    (
                        -F.lit(float(LC_M)) * F.log(v)
                        - F.col("exact_distinct")
                    )
                    / F.col("exact_distinct"),
                    4,
                ),
            ).alias("rel_error"),
        )
        .orderBy("route_id")
    )


QUERIES["linear_counting_audit"] = linear_counting_audit


def _lc_sql() -> str:
    h = "(" + sql_hash60("'lc:' || user_id") + ")"
    v = f"({LC_M} - occupied) / {float(LC_M)}"
    est = f"-{float(LC_M)} * ln({v})"
    return f"""
        WITH ev AS (
          SELECT event_type AS route_id, user_id FROM events
          WHERE event_type IS NOT NULL
        ),
        occ AS (
          SELECT route_id,
                 count(DISTINCT {h} % {LC_M}) AS occupied
          FROM ev GROUP BY route_id
        ),
        exact AS (
          SELECT route_id, count(DISTINCT user_id) AS exact_distinct
          FROM ev GROUP BY route_id
        )
        SELECT route_id, occupied,
               CASE WHEN occupied < {LC_M}
                    THEN {sql_pround(est, 4)} END AS lc_estimate,
               exact_distinct,
               CASE WHEN occupied < {LC_M}
                    THEN {sql_pround(
                        f'(({est}) - exact_distinct) / exact_distinct', 4
                    )} END AS rel_error
        FROM occ JOIN exact USING (route_id)
        ORDER BY route_id
    """


ORACLES["linear_counting_audit"] = _lc_sql()


# --- KMV / theta sketch set intersection -------------------------------------

KMV_K = 64  # minimum-values retained per key


def kmv_hash(user_col):
    """The KMV uniform hash of one user id — the SHARED construction
    the batch operator and the streaming twin must agree on (a drift
    here silently diverges the streamed kept-sets from the batch
    sketch)."""
    from ..functions.portable import uniform01

    return uniform01(F.concat(F.lit("kmv:"), user_col))


def kmv_set_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set algebra (Beyer et al. 2007 KMV; the Apache
    DataSketches theta family): per route keep the KMV_K smallest
    md5-uniform hashes of its distinct users, then estimate the
    USER-SET INTERSECTION of every route pair as
    |common sample below θ| / θ with θ = min(θ_a, θ_b) — the set
    operation linear counting and HLL cannot answer without the union
    trick. Exact intersection and relative error ride along as audit
    columns.

    Mergeable (union of KMVs re-cut to the k smallest) and fully
    deterministic: the hash is the shared md5-uniform construction, so
    the whole sketch — ranking, θ, sample intersection — sits under
    the oracle hash gate.

    Scale: one distinct (route, user) aggregate, a per-route top-K
    rank over it, then ALL remaining work on the ≤ routes×K retained
    rows (the pair join is sketch-sized, never user-sized); the exact
    column is the audit you drop at 100 TB."""
    from ..caching import persisted

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
    )
    # the one corpus-scale shuffle; persisted — the exact-audit join
    # and the sketch both read it (2+ consumers each)
    ur = persisted(
        ev.select(
            F.col("event_type").alias("route_id"), "user_id"
        )
        .distinct()
        .select(
            "route_id",
            "user_id",
            kmv_hash(F.col("user_id")).alias("u"),
        )
    )
    w = Window.partitionBy("route_id").orderBy("u", "user_id")
    kept = persisted(
        ur.withColumn("rk", F.row_number().over(w)).filter(
            F.col("rk") <= KMV_K
        )
    )
    # theta convention (DataSketches): an UNSATURATED sketch is in
    # exact mode with theta = 1.0 — every retained hash counts; only
    # an overflowed sketch cuts at the K-th smallest value
    a, b = "route_a", "route_b"
    exact = (
        ur.select(F.col("route_id").alias(a), "user_id")
        .join(ur.select(F.col("route_id").alias(b), "user_id"), "user_id")
        .filter(F.col(a) < F.col(b))
        .groupBy(a, b)
        .agg(F.countDistinct("user_id").alias("exact_common"))
    )
    est = F.col("n_common_sample") / F.least("theta_a", "theta_b")
    return (
        kmv_pair_estimates(kept)
        .join(F.broadcast(exact), [a, b], "left")
        .select(
            a,
            b,
            F.col("n_common_sample"),
            pround(est, 4).alias("est_common"),
            F.coalesce("exact_common", F.lit(0)).alias("exact_common"),
            F.when(
                F.coalesce("exact_common", F.lit(0)) > 0,
                pround(
                    (est - F.col("exact_common")) / F.col("exact_common"),
                    4,
                ),
            ).alias("rel_error"),
        )
        .orderBy(a, b)
    )


def kmv_pair_estimates(kept: DataFrame) -> DataFrame:
    """Pair-intersection read-off from a KMV kept-set relation
    (route_id, user_id, u): per-route θ (DataSketches exact mode —
    θ = 1.0 while the sketch holds < KMV_K values, else the K-th
    smallest retained hash), the sub-θ common-sample count for every
    route pair, and both thetas for the |sample|/θ_min estimator.
    Shared by the batch operator and the streaming serving read-off
    (streaming/pipeline.py::read_kmv_intersection) so both read the
    SAME set algebra; everything here is sketch-sized (≤ routes×K
    rows in, pairs rows out)."""
    theta = kept.groupBy("route_id").agg(
        F.when(F.count(F.lit(1)) < KMV_K, F.lit(1.0))
        .otherwise(F.max("u"))
        .alias("theta"),
    )
    a, b = "route_a", "route_b"
    common = (
        kept.select(F.col("route_id").alias(a), "user_id", F.col("u"))
        .join(
            kept.select(F.col("route_id").alias(b), "user_id"),
            "user_id",
        )
        .filter(F.col(a) < F.col(b))
    )
    ta = theta.select(
        F.col("route_id").alias(a), F.col("theta").alias("theta_a")
    )
    tb = theta.select(
        F.col("route_id").alias(b), F.col("theta").alias("theta_b")
    )
    pairs = theta.select(F.col("route_id").alias(a)).join(
        theta.select(F.col("route_id").alias(b))
    ).filter(F.col(a) < F.col(b))
    sample = (
        common.join(F.broadcast(ta), a)
        .join(F.broadcast(tb), b)
        .filter(F.col("u") < F.least("theta_a", "theta_b"))
        .groupBy(a, b)
        .agg(F.count(F.lit(1)).alias("n_common_sample"))
    )
    return (
        pairs.join(F.broadcast(ta), a)
        .join(F.broadcast(tb), b)
        .join(F.broadcast(sample), [a, b], "left")
        .select(
            a,
            b,
            "theta_a",
            "theta_b",
            F.coalesce("n_common_sample", F.lit(0)).alias(
                "n_common_sample"
            ),
        )
    )


QUERIES["kmv_set_intersection"] = kmv_set_intersection


def _kmv_sql() -> str:
    from ..functions.portable import sql_uniform01

    u = sql_uniform01("'kmv:' || user_id")
    return f"""
        WITH ur AS (
          SELECT route_id, user_id, {u} AS u
          FROM (SELECT DISTINCT event_type AS route_id, user_id
                FROM events WHERE event_type IS NOT NULL) d
        ),
        kept AS (
          SELECT * FROM (
            SELECT route_id, user_id, u,
                   row_number() OVER (
                     PARTITION BY route_id ORDER BY u, user_id) AS rk
            FROM ur
          ) r WHERE rk <= {KMV_K}
        ),
        theta AS (
          -- exact mode below KMV_K distinct: theta stays 1.0
          SELECT route_id,
                 CASE WHEN count(*) < {KMV_K} THEN 1.0
                      ELSE max(u) END AS theta,
                 count(*) AS n_kept
          FROM kept GROUP BY route_id
        ),
        pairs AS (
          SELECT a.route_id AS route_a, b.route_id AS route_b,
                 a.theta AS theta_a, b.theta AS theta_b
          FROM theta a JOIN theta b ON a.route_id < b.route_id
        ),
        sample AS (
          SELECT ka.route_id AS route_a, kb.route_id AS route_b,
                 count(*) AS n_common_sample
          FROM kept ka
          JOIN kept kb ON ka.user_id = kb.user_id
                      AND ka.route_id < kb.route_id
          JOIN pairs p ON p.route_a = ka.route_id
                      AND p.route_b = kb.route_id
          WHERE ka.u < least(p.theta_a, p.theta_b)
          GROUP BY ka.route_id, kb.route_id
        ),
        exact AS (
          SELECT a.route_id AS route_a, b.route_id AS route_b,
                 count(DISTINCT a.user_id) AS exact_common
          FROM ur a JOIN ur b ON a.user_id = b.user_id
                            AND a.route_id < b.route_id
          GROUP BY a.route_id, b.route_id
        )
        SELECT p.route_a, p.route_b,
               CAST(coalesce(s.n_common_sample, 0) AS BIGINT)
                 AS n_common_sample,
               {sql_pround(
                   'coalesce(s.n_common_sample, 0)::DOUBLE'
                   ' / least(p.theta_a, p.theta_b)', 4
               )} AS est_common,
               CAST(coalesce(e.exact_common, 0) AS BIGINT)
                 AS exact_common,
               CASE WHEN coalesce(e.exact_common, 0) > 0 THEN
                 {sql_pround(
                     '(coalesce(s.n_common_sample, 0)::DOUBLE'
                     ' / least(p.theta_a, p.theta_b)'
                     ' - e.exact_common) / e.exact_common', 4
                 )}
               END AS rel_error
        FROM pairs p
        LEFT JOIN sample s USING (route_a, route_b)
        LEFT JOIN exact e USING (route_a, route_b)
        ORDER BY route_a, route_b
    """


ORACLES["kmv_set_intersection"] = _kmv_sql()


# --- AMS F2 (second moment / self-join size) sketch -------------------------

AMS_R = 64  # sketch registers
AMS_G = 8  # median-of-means groups (8 registers averaged per group)


def ams_sign(r_col, user_col):
    """The ±1 register sign s_r(u) — the SHARED md5 construction of
    the AMS family (batch estimate + streaming register maintenance
    read the same signs)."""
    from ..functions.portable import uniform01

    return F.when(
        uniform01(
            F.concat(
                F.lit("ams:"),
                r_col.cast("string"),
                F.lit(":"),
                user_col.cast("string"),
            )
        )
        < 0.5,
        F.lit(-1),
    ).otherwise(F.lit(1))


def ams_f2_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS second-moment sketch (Alon, Matias & Szegedy 1996, STOC —
    the tug-of-war estimator): per route, estimate the SELF-JOIN SIZE
    F2 = Σ_u f_u² of the per-user activity counts from AMS_R
    ±1-signed register sums Z_r = Σ_u s_r(u)·f_u, combined
    median-of-means (AMS_G groups of AMS_R/AMS_G registers — the
    variance/confidence split of the original paper). F2 is what
    join planners need to size a self-join's output and what skew
    detection reads as a concentration scalar; HLL (F0) and count-min
    (point f_u) cannot answer it.

    The sign hash is the shared md5-uniform construction
    (s_r(u) = −1 iff u01('ams:' r ':' u) < 0.5), so registers,
    group means, the median, and the estimate are all deterministic
    and the WHOLE sketch sits under the oracle hash gate; exact F2
    rides along as the audit column you drop at 100 TB.

    Scale: ONE corpus shuffle (the (route, user) count aggregate),
    then the ×AMS_R register expansion runs on the distinct-pair
    relation (the sketch's honest cost, map-side expand + one
    routes×AMS_R-sized aggregate); everything after is routes-sized.
    Z_r is an exact BIGINT fold of signed integer counts (no float
    drift — the neardup_triangle_count lesson), and the group mean
    divides a BIGINT by the dyadic 8.0, exact in doubles on both
    engines."""
    from ..caching import persisted

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
    )
    f = persisted(
        ev.groupBy(
            F.col("event_type").alias("route_id"), "user_id"
        ).agg(F.count(F.lit(1)).alias("fu"))
    )
    exact = f.groupBy("route_id").agg(
        F.sum(
            (F.col("fu") * F.col("fu")).cast("bigint")
        ).alias("exact_f2"),
        F.count(F.lit(1)).alias("n_users"),
    )
    regs = spark.range(AMS_R).select(F.col("id").cast("int").alias("r"))
    sign = ams_sign(F.col("r"), F.col("user_id"))
    z = (
        f.join(F.broadcast(regs))
        .groupBy("route_id", "r")
        .agg(F.sum((sign * F.col("fu")).cast("bigint")).alias("z"))
    )
    means = (
        z.withColumn("g", (F.col("r") / F.lit(AMS_R // AMS_G)).cast("int"))
        .groupBy("route_id", "g")
        .agg(
            (
                F.sum((F.col("z") * F.col("z")).cast("bigint"))
                / F.lit(float(AMS_R // AMS_G))
            ).alias("mean_zz")
        )
    )
    est = means.groupBy("route_id").agg(
        F.percentile("mean_zz", F.lit(0.5)).alias("est_f2_raw")
    )
    return (
        exact.join(est, "route_id")
        .select(
            "route_id",
            "n_users",
            "exact_f2",
            pround(F.col("est_f2_raw"), 4).alias("est_f2"),
            F.when(
                F.col("exact_f2") > 0,
                pround(
                    (F.col("est_f2_raw") - F.col("exact_f2"))
                    / F.col("exact_f2"),
                    4,
                ),
            ).alias("rel_error"),
        )
        .orderBy("route_id")
    )


QUERIES["ams_f2_sketch"] = ams_f2_sketch


def _ams_sql() -> str:
    from ..functions.portable import sql_uniform01

    u = sql_uniform01(
        "'ams:' || CAST(r AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)"
    )
    return f"""
        WITH f AS (
          SELECT event_type AS route_id, user_id, count(*) AS fu
          FROM events WHERE event_type IS NOT NULL
          GROUP BY event_type, user_id
        ),
        exact AS (
          SELECT route_id, CAST(sum(fu * fu) AS BIGINT) AS exact_f2,
                 count(*) AS n_users
          FROM f GROUP BY route_id
        ),
        regs AS (SELECT unnest(range({AMS_R}))::INT AS r),
        z AS (
          SELECT route_id, r,
                 CAST(sum(CASE WHEN {u} < 0.5 THEN -fu ELSE fu END)
                      AS BIGINT) AS z
          FROM f, regs
          GROUP BY route_id, r
        ),
        means AS (
          SELECT route_id, (r // {AMS_R // AMS_G})::INT AS g,
                 CAST(sum(z * z) AS BIGINT)
                   / {float(AMS_R // AMS_G)} AS mean_zz
          FROM z GROUP BY route_id, (r // {AMS_R // AMS_G})::INT
        ),
        est AS (
          SELECT route_id, quantile_cont(mean_zz, 0.5) AS est_f2_raw
          FROM means GROUP BY route_id
        )
        SELECT e.route_id, e.n_users, e.exact_f2,
               {sql_pround('est.est_f2_raw', 4)} AS est_f2,
               CASE WHEN e.exact_f2 > 0 THEN
                 {sql_pround(
                     '(est.est_f2_raw - e.exact_f2) / e.exact_f2', 4
                 )}
               END AS rel_error
        FROM exact e JOIN est USING (route_id)
        ORDER BY e.route_id
    """


ORACLES["ams_f2_sketch"] = _ams_sql()
