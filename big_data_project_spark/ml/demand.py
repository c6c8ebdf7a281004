"""Next-hour demand model on pyspark.ml.

Parity: /root/reference/src/ml/train_predict.py — label =
per-route shift(-1) of hourly passengers, 80/20 time-ordered split,
RandomForestRegressor, MAE; prediction table (route_id, hour_ts,
y_true, y_pred) plus a run-metrics row. Run-metadata lineage mirrors
src/dag/ml-job.py:128-196: `ml_runs` (run_id, model_name,
model_version, rows_used, split_ratio, mae, features JSON) and
predictions stamped with run_id/model_name/model_version the way
`demand_predictions` / `demand_predictions_history` carry them — so
model vintages can be compared by joining predictions to runs on
run_id. The reference mints run_id with uuid4 per invocation; here it
is a deterministic md5 of (model, version, seed, input dir[, run_seq])
so a bare rerun of the same configuration is idempotent (the rows-only
driver gate needs that), while a caller that WANTS history — the
reference's ml_runs accumulating one row per invocation — passes an
increasing ``run_seq`` (and optionally a ``trained_at`` ISO timestamp)
and gets distinguishable, joinable lineage rows per vintage.

Spark-first deltas: the pandas read-all-rows + sklearn fit becomes a
pyspark.ml Pipeline (VectorAssembler -> RandomForestRegressor) trained
on a DataFrame that never leaves the cluster; the row-index 80/20 split
becomes a time-threshold split at the smallest hour whose cumulative
row share reaches SPLIT_RATIO (``_cut``), the distributed equivalent of
splitting the hour-ordered frame. The RF and both oracle-backed audits
split by that one rule.

Model outputs are seed-deterministic but not SQL-expressible, so these
are *rows-only* entries (SURVEY §2 D48); the deterministic persistence
baseline (operators/kpi.py::prediction_baseline) carries the
oracle-checked share of the prediction surface.
"""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.kpi import SQL_ML_DATASET, ml_dataset_hourly

FEATURES = [
    "trip_update_events",
    "avg_delay_seconds",
    "vehicle_events",
    "temperature_c",
    "precipitation_mm",
    "wind_speed_mps",
    "hour",
    "day_of_week",
    "is_peak",
]
MODEL_NAME = "rf_next_hour"
MODEL_VERSION = "v1"
SPLIT_RATIO = 0.8
SEED = 42
NUM_TREES = 50


def training_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ml_dataset_hourly + next-hour label (per-route lead), rows with a
    defined label only."""
    ds = ml_dataset_hourly(spark, sf_dir)
    w = Window.partitionBy("route_id").orderBy("hour_ts")
    return (
        ds.withColumn(
            "passengers_next_hour", F.lead("passengers").over(w)
        )
        .filter(F.col("passengers_next_hour").isNotNull())
    )


def _cut(t: DataFrame) -> DataFrame:
    """The one-row relation ``cut_t``: the smallest hour ``t`` (unix
    seconds) whose cumulative row share reaches SPLIT_RATIO. Rows with
    ``t <= cut_t`` train, later rows test. The window runs over the
    distinct-hours relation (days×24 rows), never the rows themselves."""
    byt = t.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy("t")
    upto = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    every = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cum = byt.select(
        "t",
        F.sum("c").over(upto).alias("cum_c"),
        F.sum("c").over(every).alias("n"),
    )
    return cum.filter(
        F.col("cum_c") >= F.lit(SPLIT_RATIO) * F.col("n")
    ).agg(F.min("t").alias("cut_t"))


def _split(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(train, test) of ``df`` at the ``_cut`` hour. The cut is taken as
    a scalar (one job), so the RF's repeated passes over ``train``
    filter on a literal and never re-run the cut plan."""
    t = F.unix_timestamp("hour_ts")
    cut = _cut(df.select(t.alias("t"))).first()["cut_t"]
    return df.filter(t <= F.lit(cut)), df.filter(t > F.lit(cut))


def _split_tagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``training_frame`` as (split, route_id, hour_ts, y_true), each row
    tagged train/test lazily by a broadcast join to ``_cut``."""
    base = training_frame(spark, sf_dir).select(
        "route_id",
        "hour_ts",
        F.unix_timestamp("hour_ts").alias("t"),
        F.col("passengers_next_hour").alias("y_true"),
    )
    return base.join(F.broadcast(_cut(base))).select(
        F.when(F.col("t") <= F.col("cut_t"), F.lit("train"))
        .otherwise(F.lit("test"))
        .alias("split"),
        "route_id",
        "hour_ts",
        "y_true",
    )


def _fit_predict(df: DataFrame) -> DataFrame:
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import RandomForestRegressor

    train, test = _split(df)
    assembler = VectorAssembler(inputCols=FEATURES, outputCol="features")
    rf = RandomForestRegressor(
        featuresCol="features",
        labelCol="passengers_next_hour",
        numTrees=NUM_TREES,
        seed=SEED,
    )
    model = rf.fit(assembler.transform(train))
    return model.transform(assembler.transform(test)).select(
        "route_id",
        "hour_ts",
        F.col("passengers_next_hour").alias("y_true"),
        F.round(F.col("prediction"), 4).alias("y_pred"),
    )


def run_id(sf_dir: str, run_seq: int | None = None) -> str:
    """Deterministic run identifier in UUID shape (the reference's
    ml_runs.run_id is a uuid4 — ml-job.py:103). A caller-supplied
    ``run_seq`` is folded into the hash so repeated trainings of the
    same configuration mint DISTINGUISHABLE lineage rows, restoring the
    reference's one-ml_runs-row-per-invocation history semantics
    (ml-job.py:276-286, train_predict.py:176-183) without giving up
    determinism; the default (None) keeps the idempotent single-id
    behavior the rows-only driver gate depends on."""
    basis = f"{MODEL_NAME}:{MODEL_VERSION}:{SEED}:{sf_dir}"
    if run_seq is not None:
        basis += f":seq={run_seq}"
    h = hashlib.md5(basis.encode()).hexdigest()
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}"


def _lineage_cols(sf_dir: str, run_seq: int | None, trained_at: str | None):
    """Shared lineage columns for predictions and the ml_runs row: the
    run_seq/trained_at pair is what lets two vintages of the same model
    config coexist and be compared (the reference's demand_predictions
    vs demand_predictions_history split). trained_at is caller-supplied
    (ISO string), never wall-clock — determinism is the engine's
    contract, so 'when' is an input, not a side effect."""
    return [
        F.lit(run_id(sf_dir, run_seq)).alias("run_id"),
        F.lit(MODEL_NAME).alias("model_name"),
        F.lit(MODEL_VERSION).alias("model_version"),
        F.lit(0 if run_seq is None else run_seq)
        .cast("long")
        .alias("run_seq"),
        F.lit(trained_at).cast("timestamp").alias("trained_at"),
    ]


def rf_demand_predictions(
    spark: SparkSession,
    sf_dir: str,
    run_seq: int | None = None,
    trained_at: str | None = None,
) -> DataFrame:
    """Test-split predictions stamped with run lineage
    (demand_predictions / demand_predictions_history analog —
    ml-job.py:296-331 carries run_id, model_name, model_version on
    every prediction row). Successive invocations with increasing
    ``run_seq`` accumulate joinable history rows (join to the ml_runs
    rows on run_id)."""
    return _fit_predict(training_frame(spark, sf_dir)).select(
        "route_id",
        "hour_ts",
        "y_true",
        "y_pred",
        *_lineage_cols(sf_dir, run_seq, trained_at),
    )


def rf_demand_model(
    spark: SparkSession,
    sf_dir: str,
    run_seq: int | None = None,
    trained_at: str | None = None,
) -> DataFrame:
    """Run-metadata row (ml_runs table analog — ml-job.py:128-141,
    256-287): run_id, model identity, run_seq/trained_at vintage,
    rows_used, split_ratio, MAE/RMSE on the held-out time split, and
    the feature list as JSON."""
    df = training_frame(spark, sf_dir)
    rows_used = df.count()  # scalar metadata, one job (reference: len(df))
    preds = _fit_predict(df)
    err = preds.select((F.col("y_pred") - F.col("y_true")).alias("e"))
    return err.agg(
        *_lineage_cols(sf_dir, run_seq, trained_at),
        F.lit(rows_used).alias("rows_used"),
        F.count(F.lit(1)).alias("rows_test"),
        F.lit(SPLIT_RATIO).alias("split_ratio"),
        F.round(F.avg(F.abs(F.col("e"))), 4).alias("mae"),
        F.round(F.sqrt(F.avg(F.col("e") * F.col("e"))), 4).alias("rmse"),
        F.lit(json.dumps(FEATURES)).alias("features"),
    )


def demand_model_leaderboard(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Model leaderboard on the RF's held-out time split: MAE of the
    RandomForest vs the two deterministic baselines (persistence =
    demand at the feature hour, seasonal-naive = demand 24 h before the
    target hour) on the shared held-out hours — the comparison that
    decides whether the learned model earns its complexity
    (train_predict.py prints only the RF's own MAE; a baseline-beating
    check is the standard missing step). Rows-only: the RF column is
    not SQL-expressible; the baseline arms are oracle-covered
    separately (prediction_baseline, seasonal_naive_eval,
    baseline_leaderboard).

    Scoring scope: each arm is scored on PER-ARM COVERAGE — the eval
    rows where that arm's own lag exists (left joins + per-arm
    isNotNull), with n_eval disclosing the subset — so the three MAEs
    are comparable only to the extent the subsets overlap. For a
    strictly same-rows comparison of the deterministic arms, use
    ``baseline_leaderboard`` (both-lags-exist restriction, the
    seasonal_naive_eval rule)."""
    return _leaderboard(
        spark, sf_dir, rf_demand_predictions(spark, sf_dir), F.col("y_pred")
    )


def _leaderboard(
    spark: SparkSession, sf_dir: str, test: DataFrame, rf_pred: Column | None
) -> DataFrame:
    """The 3-arm leaderboard over the held-out ``test`` rows (feature
    hour, next-hour label ``y_true``): each row left-joined to the
    demand rollup for the persistence (same-hour) and seasonal
    (target-24h) predictors, each arm scored on per-arm coverage.
    ``rf_pred`` None scores the RandomForest arm over every test row
    with a NULL ``mae``."""
    from ..functions.portable import davg
    from ..operators.hourly import demand_hourly

    d = demand_hourly(spark, sf_dir)
    persist = d.select(
        "route_id", "hour_ts", F.col("passengers").alias("yhat_persist")
    )
    seasonal = d.select(
        "route_id",
        (F.col("hour_ts") + F.expr("INTERVAL 23 HOURS")).alias("hour_ts"),
        F.col("passengers").alias("yhat_seasonal"),
    )
    ev = test.join(persist, ["route_id", "hour_ts"], "left").join(
        seasonal, ["route_id", "hour_ts"], "left"
    )

    # One aggregate with a count and a mean per arm, unpivoted: an arm
    # scores the rows where its prediction is not NULL, as count(yhat)
    # and davg's count(|yhat - y_true|) skip the others.
    arms = {
        "random_forest": rf_pred,
        "persistence": F.col("yhat_persist"),
        "seasonal_naive": F.col("yhat_seasonal"),
    }
    aggs = []
    for name, yhat in arms.items():
        if yhat is None:
            n, mae = F.count(F.lit(1)), F.lit(None).cast("double")
        else:
            n, mae = F.count(yhat), davg(F.abs(yhat - F.col("y_true")), 4)
        aggs.append(
            F.struct(
                F.lit(name).alias("model"), n.alias("n_eval"), mae.alias("mae")
            ).alias(name)
        )
    return (
        ev.agg(*aggs)
        .select(F.inline(F.array(*arms)))
        .orderBy("model")
    )


def baseline_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully oracle-backed leaderboard of the DETERMINISTIC forecast
    arms (round-4 verdict item 7): persistence (1-hour lag) vs
    seasonal-naive (24-hour lag) over the demand rollup, both scored on
    the SAME evaluation rows — exactly the hours where BOTH lags have
    an observation (trend.seasonal_naive_eval's rule, here as a global
    2-row leaderboard rather than a per-route table). The RF arm stays
    in the rows-only ``demand_model_leaderboard``; joining on the MAE
    here bounds it against an exact oracle.

    Scale: three aligned copies of the (route x hour) rollup joined by
    exact shifted timestamps — hash equi-joins, rollup-sized; the
    leaderboard aggregate is 2 rows."""
    from ..caching import persisted
    from ..functions.portable import davg
    from ..operators.hourly import demand_hourly

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
        (F.col("hour_ts") + F.expr("INTERVAL 24 HOURS")).alias("hour_ts"),
        F.col("passengers").alias("yhat_seasonal"),
    )
    ev = d.join(p1, ["route_id", "hour_ts"]).join(
        p24, ["route_id", "hour_ts"]
    )
    long = ev.select(
        F.lit("persistence").alias("model"),
        F.abs(F.col("passengers") - F.col("yhat_persist")).alias("abs_err"),
    ).unionByName(
        ev.select(
            F.lit("seasonal_naive").alias("model"),
            F.abs(F.col("passengers") - F.col("yhat_seasonal")).alias(
                "abs_err"
            ),
        )
    )
    agg = long.groupBy("model").agg(
        F.count(F.lit(1)).alias("n_eval"),
        davg("abs_err", 4).alias("mae"),
    )
    rank = F.rank().over(Window.orderBy("mae", "model"))
    return agg.select(
        "model", "n_eval", "mae", rank.alias("rank")
    ).orderBy("rank", "model")


def ml_dataset_split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-backed audit of the DETERMINISTIC share of the RF
    pipeline (round-7 verdict item 7): the shift(-1) label derivation
    and the 80/20 time-ordered split membership, per split — n_rows,
    route/hour coverage, time range, and exact decimal label mass. The
    only thing left rows-only in ml/demand.py is the RandomForest's own
    scores.

    The split is ``_cut``'s, the one the RF trains on, mirrored in the
    DuckDB oracle. Scale: the cut window runs over the DISTINCT-HOURS
    relation (days×24 rows, never the rollup), the tag is a broadcast
    scalar join, and the audit aggregate is one rollup-sized groupBy."""
    from ..functions.portable import davg, dsum

    return (
        _split_tagged(spark, sf_dir)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("route_id").alias("n_routes"),
            F.countDistinct("hour_ts").alias("n_hours"),
            F.min("hour_ts").alias("hour_min"),
            F.max("hour_ts").alias("hour_max"),
            dsum("y_true", 2).alias("label_sum"),
            davg("y_true", 4).alias("label_avg"),
        )
        .orderBy("split")
    )


def demand_leaderboard_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Oracle-backed twin of ``demand_model_leaderboard`` (round-8
    verdict item 8): every DETERMINISTIC column of the 3-arm
    leaderboard under the full hash gate — per-arm evaluation coverage
    (n_eval) for all three arms including the RandomForest's, and the
    MAE of the two baseline arms — leaving exactly one cell
    (``mae`` of the random_forest row, NULL here) as the rows-only
    residue that ``demand_model_leaderboard`` carries.

    Same eval frame as the rows-only leaderboard (``_leaderboard``),
    over the test rows of ``_cut``, the split the RF trains on, so the
    coverage columns here are the same numbers the RF leaderboard
    reports.

    Scale: the cut window runs over the distinct-hours relation
    (days×24 rows), the tag is a broadcast scalar join, the predictor
    joins are rollup-sized hash equi-joins, and the output is 3 rows."""
    test = _split_tagged(spark, sf_dir).filter(F.col("split") == "test")
    return _leaderboard(spark, sf_dir, test, None)


QUERIES = {
    "rf_demand_model": rf_demand_model,
    "rf_demand_predictions": rf_demand_predictions,
    "demand_model_leaderboard": demand_model_leaderboard,
    "baseline_leaderboard": baseline_leaderboard,
    "ml_dataset_split_audit": ml_dataset_split_audit,
    "demand_leaderboard_audit": demand_leaderboard_audit,
}

# rows-only for the RF keys (model output is not SQL-expressible);
# baseline_leaderboard is the oracle-backed deterministic share.
ORACLES: dict[str, str] = {}


def _baseline_leaderboard_sql() -> str:
    from ..functions.portable import sql_davg
    from ..operators.hourly import SQL_DEMAND

    return f"""
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
        long AS (
          SELECT 'persistence' AS model,
                 abs(passengers - yhat_persist) AS abs_err FROM ev
          UNION ALL
          SELECT 'seasonal_naive' AS model,
                 abs(passengers - yhat_seasonal) AS abs_err FROM ev
        ),
        agg AS (
          SELECT model, count(*) AS n_eval,
                 {sql_davg('abs_err', 4)} AS mae
          FROM long GROUP BY model
        )
        SELECT model, n_eval, mae,
               CAST(rank() OVER (ORDER BY mae, model) AS BIGINT) AS rank
        FROM agg
        ORDER BY rank, model
    """


ORACLES["baseline_leaderboard"] = _baseline_leaderboard_sql()


# The labelled rows and their train/test tag, as CTEs shared by both
# audit oracles: tagged(split, route_id, hour_ts, y_true).
_SQL_SPLIT_TAGGED = f"""
    ds AS ({SQL_ML_DATASET}),
    lab AS (
      SELECT route_id, hour_ts,
             lead(passengers) OVER (
               PARTITION BY route_id ORDER BY hour_ts) AS y_true
      FROM ds
    ),
    base AS (
      SELECT route_id, hour_ts, epoch(hour_ts) AS t, y_true
      FROM lab WHERE y_true IS NOT NULL
    ),
    byt AS (SELECT t, count(*) AS c FROM base GROUP BY t),
    cum AS (
      SELECT t, sum(c) OVER (ORDER BY t) AS cum_c,
             (SELECT count(*) FROM base) AS n
      FROM byt
    ),
    cutv AS (
      SELECT min(t) AS cut_t FROM cum
      WHERE cum_c >= {SPLIT_RATIO} * n
    ),
    tagged AS (
      SELECT CASE WHEN t <= cut_t THEN 'train' ELSE 'test' END AS split,
             route_id, hour_ts, y_true
      FROM base, cutv
    )
"""


def _split_audit_sql() -> str:
    from ..functions.portable import sql_davg, sql_dsum

    return f"""
        WITH {_SQL_SPLIT_TAGGED}
        SELECT split, count(*) AS n_rows,
               count(DISTINCT route_id) AS n_routes,
               count(DISTINCT hour_ts) AS n_hours,
               min(hour_ts) AS hour_min, max(hour_ts) AS hour_max,
               {sql_dsum('y_true', 2)} AS label_sum,
               {sql_davg('y_true', 4)} AS label_avg
        FROM tagged GROUP BY split ORDER BY split
    """


ORACLES["ml_dataset_split_audit"] = _split_audit_sql()


def _leaderboard_audit_sql() -> str:
    from ..functions.portable import sql_davg
    from ..operators.hourly import SQL_DEMAND

    return f"""
        WITH {_SQL_SPLIT_TAGGED},
        test AS (
          SELECT route_id, hour_ts, y_true FROM tagged WHERE split = 'test'
        ),
        d AS ({SQL_DEMAND}),
        p1 AS (
          SELECT route_id, hour_ts, passengers AS yhat_persist FROM d
        ),
        p24 AS (
          SELECT route_id, hour_ts + INTERVAL 23 HOUR AS hour_ts,
                 passengers AS yhat_seasonal
          FROM d
        ),
        ev AS (
          SELECT test.route_id, test.hour_ts, y_true,
                 yhat_persist, yhat_seasonal
          FROM test
          LEFT JOIN p1 USING (route_id, hour_ts)
          LEFT JOIN p24 USING (route_id, hour_ts)
        )
        SELECT 'random_forest' AS model, count(*) AS n_eval,
               CAST(NULL AS DOUBLE) AS mae
        FROM ev
        UNION ALL
        SELECT 'persistence' AS model, count(*) AS n_eval,
               {sql_davg('abs(yhat_persist - y_true)', 4)} AS mae
        FROM ev WHERE yhat_persist IS NOT NULL
        UNION ALL
        SELECT 'seasonal_naive' AS model, count(*) AS n_eval,
               {sql_davg('abs(yhat_seasonal - y_true)', 4)} AS mae
        FROM ev WHERE yhat_seasonal IS NOT NULL
        ORDER BY model
    """


ORACLES["demand_leaderboard_audit"] = _leaderboard_audit_sql()
