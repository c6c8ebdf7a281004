"""Round-4 additions: partition-scoped upsert, the streaming anomaly
twin, ml-run lineage history, salted-aggregate behavior, and the
intra-stream duplicate contract of the incremental ingest gate."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from big_data_project_spark.catalog import load_table
from big_data_project_spark.operators import timeseries
from big_data_project_spark.plans import sinks
from big_data_project_spark.streaming import pipeline

SF_DIR = "/root/testdata/sf0.001"


def _file_state(root: str) -> dict[str, bytes]:
    """{relpath: bytes} of every data file under root (skips _SUCCESS
    markers and CRCs so the comparison is about data files only)."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def test_upsert_partition_scoped_leaves_untouched_partitions(
    spark, tmp_path
):
    _check_leaves_untouched_partitions(spark, str(tmp_path / "part_target"))


def test_upsert_partition_scoped_overrides_static_session_mode(
    spark, tmp_path
):
    """Same contract with the session's partitionOverwriteMode set to
    STATIC: the upsert's per-write dynamic option wins, and the session
    conf is left as it was."""
    from big_data_project_spark.session import scoped_conf

    key = "spark.sql.sources.partitionOverwriteMode"
    with scoped_conf(spark, key, "STATIC"):
        _check_leaves_untouched_partitions(
            spark, str(tmp_path / "part_target")
        )
        assert spark.conf.get(key) == "STATIC"


def _check_leaves_untouched_partitions(spark, target: str) -> None:
    base = spark.createDataFrame(
        [
            (1, "a", 10, "d1"),
            (2, "b", 10, "d1"),
            (3, "c", 10, "d2"),
            (4, "d", 10, "d2"),
        ],
        "k long, v string, ver long, pd string",
    )
    merged = sinks.upsert_parquet(
        spark, target, base, ["k"], "ver", partition_col="pd"
    )
    assert merged.count() == 4
    before_d2 = _file_state(os.path.join(target, "pd=d2"))
    assert before_d2  # partition layout materialized

    # Delta touches ONLY partition d1 (update k=2, insert k=5).
    delta = spark.createDataFrame(
        [(2, "b2", 11, "d1"), (5, "e", 11, "d1")],
        "k long, v string, ver long, pd string",
    )
    merged = sinks.upsert_parquet(
        spark, target, delta, ["k"], "ver", partition_col="pd"
    )
    got = {r["k"]: (r["v"], r["ver"], r["pd"]) for r in merged.collect()}
    assert got == {
        1: ("a", 10, "d1"),
        2: ("b2", 11, "d1"),
        3: ("c", 10, "d2"),
        4: ("d", 10, "d2"),
        5: ("e", 11, "d1"),
    }
    # The untouched partition's files are byte-identical — the merge
    # never rewrote them (O(delta), round-3 verdict item 2).
    after_d2 = _file_state(os.path.join(target, "pd=d2"))
    assert after_d2 == before_d2
    # No staging directory left behind.
    assert not os.path.exists(target + ".staging")


def test_upsert_partition_scoped_first_write_creates_layout(
    spark, tmp_path
):
    target = str(tmp_path / "fresh_target")
    delta = spark.createDataFrame(
        [(1, "a", 1, "d1"), (2, "b", 1, "d2")],
        "k long, v string, ver long, pd string",
    )
    merged = sinks.upsert_parquet(
        spark, target, delta, ["k"], "ver", partition_col="pd"
    )
    assert merged.count() == 2
    assert os.path.isdir(os.path.join(target, "pd=d1"))
    assert os.path.isdir(os.path.join(target, "pd=d2"))


def test_upsert_unpartitioned_staging_cleanup(spark, tmp_path):
    """The Hadoop-FS staging delete works for the local path too."""
    target = str(tmp_path / "plain_target")
    df = spark.createDataFrame([(1, "a", 1)], "k long, v string, ver long")
    sinks.upsert_parquet(spark, target, df, ["k"], "ver")
    sinks.upsert_parquet(
        spark,
        target,
        spark.createDataFrame([(1, "a2", 2)], "k long, v string, ver long"),
        ["k"],
        "ver",
    )
    assert not os.path.exists(target + ".staging")
    got = {r["k"]: r["v"] for r in spark.read.parquet(target).collect()}
    assert got == {1: "a2"}


def test_stream_delay_anomaly_equals_batch(spark, tmp_path):
    """Full-column batch equivalence of the streaming anomaly twin: the
    streamed hourly rollup scored against the batch per-route stats
    reproduces delay_anomaly_hours exactly (round-3 verdict item 3)."""
    from big_data_project_spark.operators.hourly import delay_hourly

    events = load_table(spark, SF_DIR, "events")
    src = str(tmp_path / "anomaly_stream")
    events.write.parquet(src)
    stats = timeseries.route_delay_stats(delay_hourly(spark, SF_DIR))
    streamed = pipeline.run_available_now(
        pipeline.stream_delay_anomaly(spark, src, stats), "stream_anomaly"
    )
    cols = [
        "route_id",
        "hour_ts",
        "avg_delay_seconds",
        "route_mean_delay",
        "z_score",
    ]
    got = sorted(map(tuple, streamed.select(*cols).collect()))
    want = sorted(
        map(
            tuple,
            timeseries.delay_anomaly_hours(spark, SF_DIR)
            .select(*cols)
            .collect(),
        )
    )
    assert got == want and got


def test_stream_dedup_incremental_intra_stream_dups(spark, tmp_path):
    """Planted intra-stream duplicate content: exactly ONE survivor per
    content hash (which replica survives is arrival-order-dependent by
    design — see the docstring's divergence note vs the batch twins'
    min-doc_id rule)."""
    src = str(tmp_path / "dup_stream")
    docs = spark.createDataFrame(
        [
            (1, "same text", "en", "s1", 9),
            (2, "same text", "en", "s2", 9),  # dup of 1 (cross-file too)
            (3, "other text", "en", "s1", 10),
            (4, "base text", "en", "s1", 9),  # exists in base corpus
            (5, "same text", "en", "s3", 9),  # third replica
        ],
        pipeline.DOCS_SCHEMA,
    )
    # two files so replicas arrive from parallel reads
    docs.repartition(2).write.parquet(src)
    from big_data_project_spark.functions.portable import norm

    base = spark.createDataFrame(
        [("base text",)], "text string"
    ).select(F.md5(norm(F.col("text"))).alias("doc_hash"))
    out = pipeline.run_available_now(
        pipeline.stream_dedup_incremental(spark, src, base),
        "stream_intra_dups",
        output_mode="append",
    ).collect()
    by_hash: dict[str, list[int]] = {}
    for r in out:
        by_hash.setdefault(r["doc_hash"], []).append(r["doc_id"])
    # base doc filtered entirely; each surviving hash has EXACTLY one row
    survivors = {r["doc_id"] for r in out}
    assert 4 not in survivors
    assert all(len(ids) == 1 for ids in by_hash.values())
    # one survivor among {1,2,5}, plus doc 3
    assert len(survivors & {1, 2, 5}) == 1
    assert 3 in survivors


def test_ml_run_lineage_history(spark):
    """Two trainings with distinct run_seq values mint distinguishable,
    joinable lineage rows (the reference's ml_runs history — one row
    per invocation), while the default stays idempotent."""
    from big_data_project_spark.ml import demand

    r1 = demand.rf_demand_model(spark, SF_DIR, run_seq=1,
                                trained_at="2026-01-01 00:00:00")
    r2 = demand.rf_demand_model(spark, SF_DIR, run_seq=2,
                                trained_at="2026-01-02 00:00:00")
    runs = r1.unionByName(r2)
    rows = runs.collect()
    assert len(rows) == 2
    assert len({r["run_id"] for r in rows}) == 2
    assert {r["run_seq"] for r in rows} == {1, 2}
    assert all(r["trained_at"] is not None for r in rows)
    # predictions join back to their vintage on run_id
    p2 = demand.rf_demand_predictions(spark, SF_DIR, run_seq=2,
                                      trained_at="2026-01-02 00:00:00")
    joined = (
        p2.select("run_id")
        .join(runs.select("run_id", "run_seq"), "run_id")
        .select("run_seq")
        .distinct()
        .collect()
    )
    assert [r["run_seq"] for r in joined] == [2]
    # default remains idempotent: same id on re-invocation
    assert demand.run_id(SF_DIR) == demand.run_id(SF_DIR)
    assert demand.run_id(SF_DIR) != demand.run_id(SF_DIR, 1)


def test_salted_aggregate_splits_hot_key(spark):
    """Result parity with a direct groupBy AND plan-level evidence that
    the partial stage spreads the hot key across salt buckets — the
    straggler-task split the utility exists for."""
    from big_data_project_spark.functions.skew import salted_aggregate

    df = spark.range(100_000).select(
        F.when(F.col("id") % 100 < 99, F.lit("hot"))
        .otherwise(F.lit("cold"))
        .alias("k"),
        F.col("id").alias("v"),
    )
    got = {
        r["k"]: (r["total"], r["n"])
        for r in salted_aggregate(
            df,
            ["k"],
            {"total": ("sum", "v"), "n": ("count", "v")},
            distributor="v",
            buckets=8,
        ).collect()
    }
    want = {
        r["k"]: (r["total"], r["n"])
        for r in df.groupBy("k")
        .agg(F.sum("v").alias("total"), F.count("v").alias("n"))
        .collect()
    }
    assert got == want
    # the hot key's rows land in ALL 8 partial groups
    partials = (
        df.groupBy(
            "k", F.pmod(F.hash(F.col("v")), F.lit(8)).alias("salt")
        )
        .count()
        .filter(F.col("k") == "hot")
        .count()
    )
    assert partials == 8


def test_release_caches_idempotent(spark):
    from big_data_project_spark.caching import persisted, release_caches

    df = persisted(spark.range(10))
    assert df.count() == 10
    assert release_caches() >= 1
    assert release_caches() == 0
    assert df.count() == 10  # still usable after release


def test_doc_token_entropy_bounds(spark):
    """0 <= H <= ln(n_distinct) for every doc, and a doc of all-equal
    tokens has H == 0 while an all-distinct doc has H == ln(n)."""
    import math

    from big_data_project_spark.operators import corpus_stats

    rows = corpus_stats.doc_token_entropy(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        # 4-dp rounding can push H past the exact bound by <= 5e-5
        assert -5e-5 <= r["token_entropy"] <= math.log(
            r["n_distinct_tokens"]
        ) + 5e-5
        if r["n_distinct_tokens"] == 1:
            assert r["token_entropy"] == 0.0
        if r["n_distinct_tokens"] == r["n_tokens"]:
            assert abs(
                r["token_entropy"] - math.log(r["n_tokens"])
            ) < 1e-3


def test_winnowing_shared_run_guarantee(spark, tmp_path):
    """The winnowing contract: two docs sharing a run of WINNOW_W + 2
    tokens share at least one fingerprint. Planted overlap between two
    otherwise-different docs must intersect; a third unrelated doc must
    not."""
    from big_data_project_spark.functions.portable import hash60, norm
    from big_data_project_spark.operators.corpus_stats import WINNOW_W
    from big_data_project_spark.operators import corpus_stats

    shared = "alpha beta gamma delta epsilon zeta"  # 6 = WINNOW_W + 2
    docs = spark.createDataFrame(
        [
            (1, f"one two three {shared} four five six"),
            (2, f"seven eight {shared} nine ten eleven twelve"),
            (3, "completely different words with no overlap at all here"),
        ],
        "doc_id long, text string",
    )
    # reuse the operator's selection logic via a temp table: write docs
    # in the documents schema and point the operator at it
    full = docs.select(
        "doc_id", "text", F.lit("en").alias("lang"),
        F.lit("s1").alias("source"), F.length("text").alias("n_chars"),
    )
    d = str(tmp_path / "win_docs")
    full.write.parquet(str(tmp_path / "win_docs" / "documents.parquet"))
    out = corpus_stats.winnowing_fingerprint(spark, d)
    # fingerprint SETS per doc, recomputed with the same selection rule
    # as the operator but materialized per-fp for the intersection check
    from pyspark.sql import Window

    toks = F.split(norm(F.col("text")), " ")
    n = F.size(toks)
    g2 = F.zip_with(
        toks, F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
        lambda x, y: F.concat(x, F.lit(" "), y),
    )
    g3 = F.filter(
        F.zip_with(
            g2, F.slice(toks, 3, F.greatest(n - 2, F.lit(0))),
            lambda x, y: F.concat(x, F.lit(" "), y),
        ),
        lambda x: x.isNotNull(),
    )
    grams = full.select(
        "doc_id", F.size(g3).alias("n_grams"), F.posexplode(g3).alias("pos", "sh")
    ).withColumn("h", hash60(F.col("sh")))
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, WINNOW_W - 1)
    sel = grams.withColumn("fp", F.min("h").over(w)).filter(
        F.col("pos") <= F.greatest(F.col("n_grams") - WINNOW_W, F.lit(0))
    )
    fps = {
        doc: {r["fp"] for r in grp}
        for doc, grp in __import__("itertools").groupby(
            sorted(sel.select("doc_id", "fp").distinct().collect(),
                   key=lambda r: r["doc_id"]),
            key=lambda r: r["doc_id"],
        )
    }
    assert fps[1] & fps[2], "shared 6-token run must share a fingerprint"
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])
    # and the operator's counts agree with the recomputed sets
    got = {r["doc_id"]: r["n_fingerprints"] for r in out.collect()}
    assert got == {d_: len(s) for d_, s in fps.items()}


def test_zipf_slope_is_negative(spark):
    from big_data_project_spark.operators import corpus_stats

    row = corpus_stats.zipf_slope(spark, SF_DIR).collect()[0]
    assert row["n_terms"] > 10
    assert row["zipf_slope"] < 0  # frequency falls with rank, always
    # intercept approximates ln(freq) at rank 1 — must be positive
    assert row["intercept"] > 0


def test_dedup_cluster_sizes_consistent(spark):
    """Histogram totals must reconcile with the underlying labeling:
    sum(size * n_clusters) == docs in clusters, min size >= 2."""
    from big_data_project_spark.operators import corpus_stats
    from big_data_project_spark.operators.sampling import dedup_clusters

    hist = corpus_stats.dedup_cluster_sizes(spark, SF_DIR).collect()
    assert hist
    assert min(r["cluster_size"] for r in hist) >= 2
    total = sum(r["cluster_size"] * r["n_clusters"] for r in hist)
    assert total == dedup_clusters(spark, SF_DIR).count()


def test_delay_cusum_peak_recomputes(spark):
    """The reported peak is the true max |cusum| over each route's
    hour-ordered deviations."""
    from big_data_project_spark.operators import trend
    from big_data_project_spark.operators.hourly import delay_hourly

    got = {
        r["route_id"]: (str(r["changepoint_hour"]), r["cusum_peak"])
        for r in trend.delay_cusum_changepoint(spark, SF_DIR).collect()
    }
    assert got
    d = [
        r
        for r in delay_hourly(spark, SF_DIR).collect()
        if r["avg_delay_seconds"] is not None
    ]
    by_route: dict[str, list] = {}
    for r in d:
        by_route.setdefault(r["route_id"], []).append(r)
    for route, xs in by_route.items():
        if len(xs) < trend.CUSUM_MIN_HOURS:
            assert route not in got
            continue
        xs.sort(key=lambda r: r["hour_ts"])
        mean = round(
            sum(r["avg_delay_seconds"] for r in xs) / len(xs), 6
        )
        c, best = 0.0, None
        for r in xs:
            c += r["avg_delay_seconds"] - mean
            if best is None or abs(c) > abs(best[1]) + 1e-9:
                best = (str(r["hour_ts"]), c)
        assert got[route][0] == best[0]
        assert abs(got[route][1] - best[1]) < 1e-3


def test_headway_regularity_bounds(spark):
    from big_data_project_spark.operators import trend

    rows = trend.headway_regularity(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["mean_headway_min"] > 0
        assert r["std_headway_min"] >= 0
        assert abs(
            r["cv_headway"]
            - round(r["std_headway_min"] / r["mean_headway_min"], 2)
        ) < 0.05  # cv consistent with its own components


def test_quantize_audit_error_bounds(spark):
    """Symmetric int8 round-to-nearest: every per-dimension error is
    bounded by scale/2, so rmse <= max_abs_err <= scale/2 (+rounding),
    and 64-dim reconstructions stay near-parallel to the original."""
    from big_data_project_spark.operators import vectorops

    rows = vectorops.embedding_quantize_audit(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        half = r["scale"] / 2 + 1e-9
        assert 0 <= r["rmse"] <= r["max_abs_err"] + 1e-9
        assert r["max_abs_err"] <= half
        assert r["cos_recon"] >= 0.999  # int8 keeps direction
        assert r["dim"] == 64


def test_embedding_dim_stats_consistent(spark):
    from big_data_project_spark.catalog import load_table
    from big_data_project_spark.operators import vectorops

    rows = vectorops.embedding_dim_stats(spark, SF_DIR).collect()
    n_vec = load_table(spark, SF_DIR, "embeddings").count()
    assert len(rows) == 64
    assert sorted(r["dim_idx"] for r in rows) == list(range(64))
    for r in rows:
        assert r["n_vectors"] == n_vec
        assert r["min_val"] <= r["mean_val"] <= r["max_val"]
        assert r["std_val"] >= 0


def test_countmin_never_underestimates(spark):
    from big_data_project_spark.operators import sketches

    rows = sketches.countmin_heavy_hitters(spark, SF_DIR).collect()
    assert 0 < len(rows) <= sketches.CM_TOPK
    for r in rows:
        # the count-min guarantee: estimate >= true count, always
        assert r["overestimate"] >= 0
        assert r["cm_est"] >= r["exact_n"] > 0
        assert r["rel_error"] >= 0
    # width < vocab forces collisions somewhere in the sketch; the
    # audited top-K should surface at least one real overestimate
    assert any(r["overestimate"] > 0 for r in rows)


def test_seasonal_profile_weighted_mean_recovers_route_mean(spark):
    from collections import defaultdict

    from big_data_project_spark.operators import timeseries

    rows = timeseries.delay_seasonal_profile(spark, SF_DIR).collect()
    by_route = defaultdict(list)
    for r in rows:
        assert 0 <= r["hour_of_day"] <= 23
        assert abs(
            r["seasonal_index"] - (r["seasonal_mean"] - r["route_mean"])
        ) < 1e-6
        by_route[r["route_id"]].append(r)
    for route_rows in by_route.values():
        n = sum(r["n_hours"] for r in route_rows)
        wmean = sum(r["seasonal_mean"] * r["n_hours"] for r in route_rows) / n
        # hour-bucket means recombine to the route mean (up to rounding)
        assert abs(wmean - route_rows[0]["route_mean"]) < 1e-4
