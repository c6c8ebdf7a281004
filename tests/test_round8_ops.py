"""Round-8 operators: the BIGINT triangle-census hash surface, the
shared k-means fit, the ml split audit, and the TakeOrdered WRS cut."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, SF_DIR_MED


def test_triangle_count_types_and_values(spark):
    """n_wedges is BIGINT (round-7 verdict item 1: the DECIMAL(38,0)
    scalar hashed unstably at the driver two rounds running) and the
    census invariants hold."""
    from big_data_project_spark.operators.corpus_stats import (
        neardup_triangle_count,
    )

    df = neardup_triangle_count(spark, SF_DIR)
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert types["n_wedges"] == "bigint"
    r = df.first()
    assert r["n_nodes"] >= 0 and r["n_edges"] >= 0
    # every triangle closes three wedges
    if r["n_wedges"]:
        assert 3 * r["n_triangles"] <= r["n_wedges"]
        assert r["global_clustering"] == pytest.approx(
            3 * r["n_triangles"] / r["n_wedges"], abs=1e-6
        )


def test_wrs_top_k_uses_take_ordered(spark):
    """The k-cut must be TakeOrderedAndProject (per-partition bounded
    heaps), never a single-partition global window sort (round-7
    advice)."""
    from big_data_project_spark.catalog import load_table
    from big_data_project_spark.operators.sampling import (
        WRS_K,
        wrs_keyed,
        wrs_top_k,
    )

    keyed = wrs_keyed(load_table(spark, SF_DIR, "documents"))
    out = wrs_top_k(keyed, WRS_K)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    rows = out.collect()
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    skeys = [r["skey"] for r in rows]
    assert skeys == sorted(skeys, reverse=True)


def test_km_fit_shared_is_memoized(spark, monkeypatch):
    """Every consumer of the k-means cells reads ONE fit: from a
    released memo tier, the five keys over the cells build the Lloyd
    pipeline (``_km_fit``) exactly once, and later lookups get the
    same persisted fit objects."""
    from big_data_project_spark.caching import release_caches
    from big_data_project_spark.operators import similarity
    from big_data_project_spark.registry import QUERIES

    fit = similarity._km_fit
    calls = []

    def counted(v):
        calls.append(v)
        return fit(v)

    monkeypatch.setattr(similarity, "_km_fit", counted)
    release_caches()
    for name in (
        "ann_ivf_topk",
        "ann_ivf_kmeans_topk",
        "ivf_kmeans_cells",
        "cluster_balanced_sample",
        "cluster_label_purity",
    ):
        QUERIES[name](spark, SF_DIR).collect()
    assert len(calls) == 1
    c1, a1 = similarity._km_fit_shared(spark, SF_DIR)
    c2, a2 = similarity._km_fit_shared(spark, SF_DIR)
    assert c1 is c2 and a1 is a2


def test_split_audit_matches_pipeline_split(spark):
    """The one split cut (``_cut``: the smallest hour whose cumulative
    row share reaches SPLIT_RATIO) equals Spark's exact quantile of the
    hour, approxQuantile(err=0), and the audit's per-split row counts
    are the rows on either side of it. Checked at every generated scale
    factor."""
    from big_data_project_spark.ml.demand import (
        SPLIT_RATIO,
        _cut,
        ml_dataset_split_audit,
        training_frame,
    )

    sf_large = os.path.join(os.path.dirname(SF_DIR), "sf0.1")
    for sf_dir in (SF_DIR, SF_DIR_MED, sf_large):
        if not os.path.isdir(sf_dir):
            continue
        df = training_frame(spark, sf_dir)
        t = F.unix_timestamp("hour_ts")
        hours = df.select(t.alias("t"))
        ref = hours.approxQuantile("t", [SPLIT_RATIO], 0.0)[0]
        assert _cut(hours).first()["cut_t"] == ref, sf_dir
        audit = {
            r["split"]: r
            for r in ml_dataset_split_audit(spark, sf_dir).collect()
        }
        assert audit["train"]["n_rows"] == df.filter(t <= ref).count()
        assert audit["test"]["n_rows"] == df.filter(t > ref).count()
        n = audit["train"]["n_rows"] + audit["test"]["n_rows"]
        assert 0.6 <= audit["train"]["n_rows"] / n <= 0.95, sf_dir


def test_mergeable_quantile_bins_bounds(spark):
    """Histogram estimates stay inside each route's value range, are
    monotone across p, and sit within bin_width/2 of the DISCRETE
    order statistic (the sketch's actual guarantee — the exact_p*
    audit columns use interpolated quantiles, whose extra error is the
    gap between adjacent order stats and is unbounded in sparse
    tails)."""
    import math

    from big_data_project_spark.catalog import load_table
    from big_data_project_spark.operators.sketches import (
        QBINS,
        mergeable_quantile_bins,
    )

    rows = mergeable_quantile_bins(spark, SF_DIR).collect()
    assert rows
    vals = {}
    for r in (
        load_table(spark, SF_DIR, "events")
        .filter(F.col("event_type").isNotNull() & F.col("value").isNotNull())
        .select(F.col("event_type").alias("route_id"), "value")
        .collect()
    ):
        vals.setdefault(r["route_id"], []).append(r["value"])
    for r in rows:
        v = sorted(vals[r["route_id"]])
        mn, mx, n = v[0], v[-1], len(v)
        width = (mx - mn) / QBINS if mx > mn else 1.0
        assert mn - 1e-9 <= r["est_p50"] <= r["est_p90"] + 1e-9
        assert r["est_p90"] <= r["est_p99"] + 1e-9 <= mx + 2e-9
        for p, c in ((0.5, "est_p50"), (0.9, "est_p90"), (0.99, "est_p99")):
            disc = v[min(n - 1, max(0, math.ceil(p * n) - 1))]
            assert abs(r[c] - disc) <= width / 2 + 1e-6, (p, r)


def test_conformal_coverage_near_target(spark):
    from big_data_project_spark.operators.trend import (
        conformal_interval_coverage,
    )

    rows = conformal_interval_coverage(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["q_radius"] >= 0
        assert r["target_coverage"] == pytest.approx(0.9)
        # split-conformal guarantees >= 1 - alpha in expectation for
        # exchangeable residuals; allow slack for finite test windows
        assert 0.7 <= r["coverage"] <= 1.0


def test_feature_hash_histogram_accounts_for_vocab(spark):
    from big_data_project_spark.operators.curation import (
        feature_hash_collision_audit,
    )

    rows = feature_hash_collision_audit(spark, SF_DIR).collect()
    assert rows
    vocab = rows[0]["vocab_size"]
    assert sum(r["occupancy"] * r["n_buckets"] for r in rows) == vocab
    assert sum(r["mass_share"] for r in rows) == pytest.approx(1.0, abs=1e-4)
    # FH_BUCKETS deliberately below vocab: collisions must be observed
    assert any(r["occupancy"] >= 2 for r in rows)


def test_rho_selection_ranked_and_scored(spark):
    from big_data_project_spark.operators.selection import (
        RHO_K,
        rho_loss_selection,
    )

    rows = rho_loss_selection(spark, SF_DIR).collect()
    assert len(rows) == RHO_K
    red = [r["reducible"] for r in rows]
    assert red == sorted(red, reverse=True)
    for r in rows:
        assert r["reducible"] == pytest.approx(
            r["lp_domain"] - r["lp_corpus"], abs=2e-6
        )


def test_gtfs_zip_extract_roundtrip(spark, tmp_path):
    """Feed-zip acquisition step: extract + checksum + missing-file
    validation, then the extracted dir round-trips through read_gtfs."""
    import zipfile

    from big_data_project_spark.sources import gtfs

    src = tmp_path / "feed"
    src.mkdir()
    files = {
        "routes.txt": "route_id,route_short_name\nR1,10\n",
        "stops.txt": "stop_id,stop_name,stop_lat,stop_lon\nS1,A,44.1,26.0\n",
        "trips.txt": "trip_id,route_id,service_id\nT1,R1,C1\n",
        "stop_times.txt": "trip_id,stop_id,stop_sequence\nT1,S1,1\n",
        "calendar.txt": "service_id\nC1\n",
    }
    zip_path = str(tmp_path / "gtfs.zip")
    with zipfile.ZipFile(zip_path, "w") as zf:
        for name, body in files.items():
            zf.writestr(name, body)

    out = gtfs.extract_feed_zip(zip_path, str(tmp_path / "extracted"))
    assert len(out["sha256"]) == 64
    frames = gtfs.read_gtfs(spark, out["dir"])
    assert frames["routes"].count() == 1

    # extracting the same archive twice yields the same version key
    out2 = gtfs.extract_feed_zip(zip_path, str(tmp_path / "extracted2"))
    assert out2["sha256"] == out["sha256"]

    # a feed missing a core file fails loudly
    bad_zip = str(tmp_path / "bad.zip")
    with zipfile.ZipFile(bad_zip, "w") as zf:
        zf.writestr("routes.txt", files["routes.txt"])
    with pytest.raises(FileNotFoundError, match="Missing GTFS"):
        gtfs.extract_feed_zip(bad_zip, str(tmp_path / "bad_extract"))
    with pytest.raises(FileNotFoundError, match="not found"):
        gtfs.extract_feed_zip(str(tmp_path / "ghost.zip"), str(tmp_path))


def test_streaming_quantile_bins_converges(spark, tmp_path):
    """Three micro-batches of additive histogram merges equal the
    single-shot binning of the full feed — the mergeability claim of
    mergeable_quantile_bins, exercised through the streaming twin."""
    from big_data_project_spark.catalog import load_table
    from big_data_project_spark.streaming.pipeline import (
        read_quantile_bins,
        serve_quantile_bins_foreach_batch,
    )

    ev = load_table(spark, SF_DIR, "events").filter(
        F.col("event_type").isNotNull() & F.col("value").isNotNull()
    )
    lo, hi = 0.0, 400.0
    src = str(tmp_path / "events_stream")
    # three files -> three micro-batches under maxFilesPerTrigger=1
    ev.repartition(3).write.parquet(src)
    state = str(tmp_path / "hist_state")
    from big_data_project_spark.streaming.pipeline import EVENTS_SCHEMA

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    serve_quantile_bins_foreach_batch(
        spark, stream, state, str(tmp_path / "ckpt"), lo, hi
    )
    served = {
        r["route_id"]: r for r in read_quantile_bins(spark, state, lo, hi).collect()
    }
    # single-shot reference: same binning over the whole feed at once
    n_by_route = {
        r["route_id"]: r["n"]
        for r in ev.groupBy(F.col("event_type").alias("route_id"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(served) == set(n_by_route)
    for rid, r in served.items():
        assert r["n_values"] == n_by_route[rid]
        assert lo <= r["est_p50"] <= r["est_p90"] <= r["est_p99"] <= hi


def test_dbscan_grid_clusters_invariants(spark):
    """Cluster summaries recompute from the labeled dense cells: label
    = min cell key in the component, bounding boxes contain every
    member cell, stop mass conserves the dense-cell total. Run at
    sf0.01 (sf0.001 has too few stops to form a dense cell)."""
    from tests.conftest import SF_DIR_MED

    from big_data_project_spark.operators.spatial import (
        DBSCAN_MIN_PTS,
        dbscan_grid_clusters,
        stop_grid_density,
    )

    rows = dbscan_grid_clusters(spark, SF_DIR_MED).collect()
    assert rows
    dense = [
        r
        for r in stop_grid_density(spark, SF_DIR_MED).collect()
        if r["n_stops"] >= DBSCAN_MIN_PTS
    ]
    assert sum(r["n_cells"] for r in rows) == len(dense)
    assert sum(r["n_stops"] for r in rows) == sum(
        r["n_stops"] for r in dense
    )
    for r in rows:
        # label is a member cell's key inside its own bounding box
        x, y = divmod(r["cluster_id"], 100)
        assert r["x_min"] <= x <= r["x_max"]
        assert r["y_min"] <= y <= r["y_max"]


def test_linear_counting_estimate_quality(spark):
    """LC estimate within the sketch's standard error envelope of the
    exact distinct count (load factor here is ≤ 0.2, where linear
    counting is near-exact), and the saturation guard yields NULL
    never inf."""
    from big_data_project_spark.operators.sketches import (
        linear_counting_audit,
    )

    rows = linear_counting_audit(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["occupied"] <= r["exact_distinct"]
        if r["lc_estimate"] is not None:
            assert abs(r["rel_error"]) <= 0.15
            assert r["lc_estimate"] >= r["occupied"] - 1e-6


def test_kmv_intersection_estimate_quality(spark):
    """Theta-sketch pair estimates: when both routes' user sets fit
    inside the sketch (n_kept saturated only above KMV_K distinct),
    the estimate is exact; always, the sampled commons are bounded by
    the exact overlap count."""
    from big_data_project_spark.operators.sketches import (
        kmv_set_intersection,
    )

    rows = kmv_set_intersection(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["n_common_sample"] <= r["exact_common"]
        if r["exact_common"] > 0:
            # sf0.001 has ~15 users/route < KMV_K: sketch holds the
            # whole set, so the estimate must be exact
            assert r["est_common"] == pytest.approx(
                r["exact_common"], rel=1e-6
            )


def test_quantile_bins_replay_is_noop(spark, tmp_path):
    """Checkpoint-replay semantics: re-applying an already-merged
    batch_id must not double-count (foreachBatch is at-least-once;
    counts are additive — the round-8 review's double-count bug)."""
    from big_data_project_spark.plans.sinks import read_upsert_table
    from big_data_project_spark.streaming.pipeline import (
        merge_quantile_bins_batch,
    )

    batch = spark.createDataFrame(
        [(1, "r1", 10.0), (2, "r1", 20.0), (3, "r2", 30.0)],
        "event_id long, event_type string, value double",
    )
    state = str(tmp_path / "hist")
    assert merge_quantile_bins_batch(batch, 0, state, 0.0, 100.0)
    first = sorted(
        tuple(r)
        for r in read_upsert_table(spark, state)
        .select("route_id", "bin", "c")
        .collect()
    )
    # replay of batch 0: no-op, state unchanged
    assert not merge_quantile_bins_batch(batch, 0, state, 0.0, 100.0)
    assert first == sorted(
        tuple(r)
        for r in read_upsert_table(spark, state)
        .select("route_id", "bin", "c")
        .collect()
    )
    # a NEW batch merges additively
    assert merge_quantile_bins_batch(batch, 1, state, 0.0, 100.0)
    doubled = sorted(
        tuple(r)
        for r in read_upsert_table(spark, state)
        .select("route_id", "bin", "c")
        .collect()
    )
    assert doubled == [(rid, b, 2 * c) for (rid, b, c) in first]


def test_dp_group_counts_mechanism(spark):
    """Released = true + noise exactly; accounting columns constant;
    noise is Laplace-shaped (zero-median across the many groups)."""
    from big_data_project_spark.operators.quality import (
        DP_EPSILON,
        dp_group_counts,
    )

    rows = dp_group_counts(spark, SF_DIR).collect()
    assert len(rows) > 10
    signs = 0
    for r in rows:
        assert r["released_count"] == pytest.approx(
            r["true_count"] + r["laplace_noise"], abs=2e-6
        )
        assert r["epsilon"] == DP_EPSILON
        signs += 1 if r["laplace_noise"] > 0 else -1
    # md5-uniform seeds: roughly balanced signs (binomial 3-sigma)
    assert abs(signs) <= 3 * (len(rows) ** 0.5) + 1


def test_nmf_update_decreases_objective(spark):
    """The Lee-Seung multiplicative rule is non-increasing in the
    Frobenius objective ||V - W·H||²: one H update from the md5 init
    must not increase it (checked on the collected small factors —
    docs×vocab at sf0.001 is tiny; the operator itself never
    materializes a dense matrix)."""
    import numpy as np

    from big_data_project_spark.catalog import load_table_spread
    from big_data_project_spark.operators.corpus import (
        NMF_K,
        NMF_TOP,
        nmf_topic_round,
    )
    from big_data_project_spark.functions.portable import norm, uniform01

    out = nmf_topic_round(spark, SF_DIR).collect()
    assert len(out) == NMF_K * NMF_TOP
    for r in out:
        assert r["h_new"] >= 0

    # rebuild V, W, H init exactly as the operator does, numpy-side
    docs = load_table_spread(spark, SF_DIR, "documents", "doc_id")
    v_rows = (
        docs.select(
            "doc_id",
            F.explode(F.split(norm(F.col("text")), " ")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .groupBy("doc_id", "tok")
        .count()
        .collect()
    )
    doc_ids = sorted({r["doc_id"] for r in v_rows})
    toks = sorted({r["tok"] for r in v_rows})
    di = {d: i for i, d in enumerate(doc_ids)}
    ti = {t: i for i, t in enumerate(toks)}
    V = np.zeros((len(doc_ids), len(toks)))
    for r in v_rows:
        V[di[r["doc_id"]], ti[r["tok"]]] = r["count"]

    def u01(s: str) -> float:
        import hashlib

        h = int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
        return (h + 1) / float(2**60)

    W = np.array(
        [[u01(f"nmfw:{d}:{k}") for k in range(NMF_K)] for d in doc_ids]
    )
    H0 = np.array(
        [[u01(f"nmfh:{k}:{t}") for t in toks] for k in range(NMF_K)]
    )
    H1 = H0 * (W.T @ V) / (W.T @ W @ H0 + 1e-9)
    before = np.linalg.norm(V - W @ H0) ** 2
    after = np.linalg.norm(V - W @ H1) ** 2
    assert after <= before + 1e-6
    # and the served top terms agree with the numpy update
    for r in out[:NMF_TOP]:
        k = r["topic"]
        np_top = sorted(
            zip(H1[k], toks), key=lambda p: (-round(p[0], 9), p[1])
        )[: NMF_TOP]
        served = [x for x in out if x["topic"] == k]
        assert [s["tok"] for s in served] == [t for _, t in np_top]
        break


def test_sf1_replicas_match_oracles(duck):
    """The two round-8 sf1-tier pandas replicas must reproduce the
    DuckDB oracle values exactly (same rounding rules) — the property
    that makes their timing columns a fair baseline."""
    import importlib
    import math
    import os
    import sys

    import tools.baseline_replica as br

    os.environ["SPARK_GRAFT_SF_DIR"] = SF_DIR
    old_argv = sys.argv
    sys.argv = ["x", SF_DIR]
    try:
        importlib.reload(br)
        from big_data_project_spark.registry import ORACLES

        for key, fn in [
            ("mergeable_quantile_bins", br.mergeable_quantile_bins),
            ("kmv_set_intersection", br.kmv_set_intersection),
        ]:
            rep = fn().reset_index(drop=True)
            got = duck.execute(ORACLES[key]).fetchdf()
            assert sorted(rep.columns) == sorted(got.columns), key
            for c in rep.columns:
                for x, y in zip(rep[c].tolist(), got[c].tolist()):
                    if x is None or (
                        isinstance(x, float) and math.isnan(x)
                    ):
                        assert y is None or (
                            isinstance(y, float) and math.isnan(y)
                        ), (key, c)
                    elif isinstance(x, float):
                        assert abs(x - float(y)) <= 1e-6, (key, c, x, y)
                    else:
                        assert str(x) == str(y), (key, c, x, y)
    finally:
        sys.argv = old_argv
