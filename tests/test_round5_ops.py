"""Round-5 coverage.

Round-4 verdict items: bounded-state streaming dedup (watermarked
ingest variant + its state contract), the injected-source seam for
streaming entry points, session-wide cache release, the oracle-backed
baseline leaderboard, and the bench artifact's compact-final-line
contract (items 1, 4, 5, 6, 7).

Round-5 operator semantics (planted-data + invariant tests): TPC-H
Q21, delay ACF / weather correlation / winsorized mean / PSI drift,
power-user deciles, weekly churn, session duration histogram + hourly
concurrency, event-type lift, RFM segments, order-priority SLA,
referential-integrity audit, ANN recall@k, exact-substring spans +
provenance, Heaps-law vocabulary curve, audio-framing fan-out, binary
payload dedup, unrolled PageRank, per-doc tf-idf keywords, the
Kaplan-Meier purchase-survival curve, and the sliding-window streaming
twin."""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from big_data_project_spark.catalog import load_table
from big_data_project_spark.streaming import pipeline

from tests.conftest import SF_DIR


def test_stream_dedup_watermarked_bounded_state(spark, tmp_path):
    """The ingest-timestamp variant: intra-watermark duplicate content
    collapses to exactly one survivor per hash; base-corpus content is
    filtered; unique content passes. State is keyed on doc_hash within
    the watermark window (the redelivery-absorption contract of the
    reference's ON CONFLICT ingest), not all-time content."""
    src = str(tmp_path / "wm_stream")
    schema = pipeline.DOCS_SCHEMA + ", ingest_ts string"
    docs = spark.createDataFrame(
        [
            (1, "same text", "en", "s1", 9, "2026-01-01 10:00:00"),
            (2, "same text", "en", "s2", 9, "2026-01-01 10:05:00"),
            (3, "other text", "en", "s1", 10, "2026-01-01 10:01:00"),
            (4, "base text", "en", "s1", 9, "2026-01-01 10:02:00"),
            (5, "same text", "en", "s3", 9, "2026-01-01 10:20:00"),
        ],
        schema,
    ).withColumn("ingest_ts", F.col("ingest_ts").cast("timestamp"))
    docs.repartition(2).write.parquet(src)
    from big_data_project_spark.functions.portable import norm

    base = spark.createDataFrame(
        [("base text",)], "text string"
    ).select(F.md5(norm(F.col("text"))).alias("doc_hash"))
    out = pipeline.run_available_now(
        pipeline.stream_dedup_incremental_watermarked(spark, src, base),
        "stream_wm_dedup",
        output_mode="append",
    ).collect()
    survivors = {r["doc_id"] for r in out}
    by_hash: dict[str, list[int]] = {}
    for r in out:
        by_hash.setdefault(r["doc_hash"], []).append(r["doc_id"])
    assert 4 not in survivors  # base corpus filtered
    assert 3 in survivors
    assert all(len(ids) == 1 for ids in by_hash.values())
    assert len(survivors & {1, 2, 5}) == 1


def test_stream_events_hourly_injected_source(spark, tmp_path):
    """The live-source seam: an injected streaming DataFrame (what a
    Kafka source would hand in) flows through the same plan as a
    directory path, producing identical results — re-running the
    existing dir-path parity through the injection path."""
    src = str(tmp_path / "inj_events")
    load_table(spark, SF_DIR, "events").limit(2000).write.parquet(src)
    via_dir = pipeline.run_available_now(
        pipeline.stream_events_hourly(spark, src), "inj_dir"
    ).collect()
    injected = spark.readStream.schema(pipeline.EVENTS_SCHEMA).parquet(src)
    via_df = pipeline.run_available_now(
        pipeline.stream_events_hourly(spark, injected), "inj_df"
    ).collect()
    assert sorted(map(tuple, via_dir)) == sorted(map(tuple, via_df))
    assert via_dir


def test_injected_source_must_be_streaming(spark):
    with pytest.raises(ValueError, match="streaming"):
        pipeline.events_source(spark, spark.range(3))
    with pytest.raises(ValueError, match="streaming"):
        pipeline.docs_source(spark, spark.range(3))


def test_release_caches_empties_session(spark):
    """Round-4 verdict item 5's done-condition: run three corpus-family
    queries (each persists shared relations, memoized or not, through
    the one session memo tier), release, and assert the JVM's
    persistent-RDD map is empty."""
    from big_data_project_spark.caching import release_caches
    from big_data_project_spark.operators import corpus, corpus_stats, dedup

    release_caches()
    spark.catalog.clearCache()
    # Baseline-relative: earlier suite tests can leave UNTRACKED
    # persistent RDDs (localCheckpoint-ed factors, pyspark.ml fit()
    # internals) that clearCache() doesn't remove; the contract under
    # test is that the CORPUS modules' persists are all tracked, i.e.
    # no RDD persisted after the baseline survives release. Compared
    # by id, not count: the context cleaner may unpersist a baseline
    # RDD whose owner was garbage-collected while the queries run.
    baseline = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    corpus.tfidf_top_terms(spark, SF_DIR).collect()
    dedup.dedup_minhash_lsh(spark, SF_DIR).count()
    corpus_stats.source_token_kl(spark, SF_DIR).collect()
    assert release_caches() >= 3
    left = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    assert left <= baseline, f"persisted RDDs survived release: {left - baseline}"


def test_baseline_leaderboard_consistent_with_seasonal_eval(spark):
    """The 2-row leaderboard's eval set is exactly seasonal_naive_eval's
    (both-lags-exist): n_eval equals the per-route n_hours total, and
    each arm's MAE is bracketed by the per-route MAE extremes."""
    from big_data_project_spark.ml.demand import baseline_leaderboard
    from big_data_project_spark.operators.trend import seasonal_naive_eval

    lb = {r["model"]: r for r in baseline_leaderboard(spark, SF_DIR).collect()}
    per_route = seasonal_naive_eval(spark, SF_DIR).collect()
    n_total = sum(r["n_hours"] for r in per_route)
    assert lb["persistence"]["n_eval"] == n_total
    assert lb["seasonal_naive"]["n_eval"] == n_total
    for model, col in [
        ("persistence", "mae_persistence"),
        ("seasonal_naive", "mae_seasonal"),
    ]:
        maes = [float(r[col]) for r in per_route]
        assert min(maes) <= float(lb[model]["mae"]) <= max(maes)
    assert {r["rank"] for r in lb.values()} <= {1, 2}


def test_bench_final_line_fits_driver_capture():
    """Round-4 verdict item 1: the driver tails ~2 KB of stdout and the
    final JSON line must survive it. Build the headline payload shape
    with worst-case float widths for every HEADLINE key and assert the
    serialized line stays well under the window."""
    import bench

    worst = {k: 9999.999 for k in bench.HEADLINE}
    payload = {
        "metric": "total_headline_sec",
        "value": 99999.999,
        "unit": "sec",
        "total_r2_keys_sec": 99999.999,
        "queries": worst,
        "total_cold_sec": 99999.999,
        "contended": False,
        "contended_during_run": False,
        "n_contended": 99,
        "prior_round": "BENCH_r99.json",
        "n_regressed": 99,
        "worst_regression": ["session_concurrency_hourly", 99.99],
        # worst-case shape of the compact sf1-tier summary (round-7)
        "sf1": {
            "tile": 10,
            "total_spark_sec": 99999.999,
            "total_pandas_sec": 99999.999,
            "keys_spark_le_pandas": "19/19",
            "truncated": False,
            "n_contended": 99,
        },
        "sf": 0.1,
    }
    line = json.dumps(payload, separators=(",", ":"))
    assert len(line) < 1900, (
        f"final bench line would be {len(line)} bytes — trim HEADLINE "
        "or move more fields to BENCH_DETAIL.json"
    )


# ---------------------------------------------------------------------------
# Round-5 operator semantics (planted-data + invariant tests)
# ---------------------------------------------------------------------------


def test_q21_waiting_suppliers_planted(spark, tmp_path):
    """Planted Q21 scenario: supplier S1 is the sole late supplier in a
    multi-supplier 'F' order (counts), S2 is late in a single-supplier
    order (fails EXISTS), S3 is late alongside S1 in another order
    (both fail NOT EXISTS)."""
    from big_data_project_spark.operators.tpch_sub import (
        Q21_NATION,
        q21_waiting_suppliers,
    )

    d = str(tmp_path / "q21")
    spark.createDataFrame(
        [(0, Q21_NATION, 0), (1, "NATION_OTHER", 0)],
        "n_nationkey long, n_name string, n_regionkey long",
    ).write.parquet(f"{d}/nation.parquet")
    spark.createDataFrame(
        [(1, "S1", 0), (2, "S2", 0), (3, "S3", 0), (4, "S4", 1)],
        "s_suppkey long, s_name string, s_nationkey long",
    ).write.parquet(f"{d}/supplier.parquet")
    spark.createDataFrame(
        [
            (10, 1, "F", "2024-01-01"),  # S1 late, S4 on time -> counts
            (11, 1, "F", "2024-01-01"),  # S2 late, sole supplier -> no
            (12, 1, "F", "2024-01-01"),  # S1 AND S3 late -> no
            (13, 1, "O", "2024-01-01"),  # not finished -> excluded
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_orderdate string",
    ).selectExpr(
        "o_orderkey", "o_custkey", "o_orderstatus",
        "CAST(o_orderdate AS TIMESTAMP) AS o_orderdate",
    ).write.parquet(f"{d}/orders.parquet")
    LATE, OK = "2024-06-01", "2024-01-15"
    spark.createDataFrame(
        [
            (10, 1, LATE), (10, 4, OK),
            (11, 2, LATE),
            (12, 1, LATE), (12, 3, LATE), (12, 4, OK),
            (13, 1, LATE),
        ],
        "l_orderkey long, l_suppkey long, l_shipdate string",
    ).selectExpr(
        "l_orderkey", "l_suppkey",
        "CAST(l_shipdate AS TIMESTAMP) AS l_shipdate",
    ).write.parquet(f"{d}/lineitem.parquet")
    got = {
        r["s_name"]: r["numwait"]
        for r in q21_waiting_suppliers(spark, d).collect()
    }
    assert got == {"S1": 1}


def test_delay_autocorrelation_linear_series(spark):
    """Invariants on real data plus the Pearson bound: every ACF in
    [-1, 1], lags restricted to ACF_LAGS, pair counts consistent."""
    from big_data_project_spark.operators.trend import (
        ACF_LAGS,
        delay_autocorrelation,
    )

    rows = delay_autocorrelation(spark, SF_DIR).collect()
    assert rows
    assert {r["lag_hours"] for r in rows} <= set(ACF_LAGS)
    for r in rows:
        if r["acf"] is not None:
            assert -1.0 <= r["acf"] <= 1.0
        assert r["n_pairs"] >= 5


def test_weather_delay_corr_bounds(spark):
    from big_data_project_spark.operators.trend import weather_delay_corr

    rows = weather_delay_corr(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        for c in ("corr_temperature", "corr_precipitation"):
            if r[c] is not None:
                assert -1.0 <= r[c] <= 1.0


def test_power_user_curve_shares_and_order(spark):
    from big_data_project_spark.operators.behavior import power_user_curve

    rows = power_user_curve(spark, SF_DIR).collect()
    assert [r["decile"] for r in rows] == list(range(1, len(rows) + 1))
    assert abs(sum(r["event_share"] for r in rows) - 1.0) < 1e-6
    # deciles ordered by activity: min of decile d >= max of decile d-1
    for lo, hi in zip(rows, rows[1:]):
        assert hi["min_events"] >= lo["max_events"] - 0  # ties allowed
        assert hi["min_events"] >= lo["min_events"]


def test_user_churn_planted(spark, tmp_path):
    """User A active weeks 1+2, user B week 1 only -> week-1 churn 0.5;
    final week excluded."""
    from big_data_project_spark.operators.behavior import user_churn

    d = str(tmp_path / "churn")
    spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 100, "view", 1.0, "{}"),
            (2, "2024-01-08 10:00:00", 100, "view", 1.0, "{}"),
            (3, "2024-01-02 10:00:00", 200, "view", 1.0, "{}"),
        ],
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value", "props",
    ).write.parquet(f"{d}/events.parquet")
    rows = user_churn(spark, d).collect()
    assert len(rows) == 1
    assert rows[0]["n_active"] == 2
    assert rows[0]["n_retained"] == 1
    assert rows[0]["churn_rate"] == 0.5


def test_session_concurrency_consistent(spark):
    """Each session contributes one unit to every hour it spans; total
    contributed units equal the sum over the concurrency curve."""
    from big_data_project_spark.operators.behavior import (
        session_concurrency_hourly,
    )
    from big_data_project_spark.streaming.pipeline import sessionize_batch

    curve = session_concurrency_hourly(spark, SF_DIR).collect()
    sessions = sessionize_batch(spark, SF_DIR).select(
        F.floor(
            (
                F.unix_micros(F.date_trunc("hour", "session_end"))
                - F.unix_micros(F.date_trunc("hour", "session_start"))
            )
            / F.lit(3_600_000_000)
        ).alias("span_hours")
    ).collect()
    expected_units = sum(r["span_hours"] + 1 for r in sessions)
    assert sum(r["n_sessions"] for r in curve) == expected_units
    assert all(r["n_users"] <= r["n_sessions"] for r in curve)


def test_exact_substring_spans_planted(spark, tmp_path):
    """Two docs sharing a 6-token passage flag shared windows; a
    disjoint doc reports zero."""
    from big_data_project_spark.operators.corpus_stats import (
        SPAN_W,
        exact_substring_spans,
    )

    d = str(tmp_path / "spans")
    shared = "alpha beta gamma delta epsilon zeta"
    spark.createDataFrame(
        [
            (1, f"intro one two {shared} tail1 x", "en", "s1", 10),
            (2, f"other opening {shared} closing words", "en", "s1", 10),
            (3, "completely different tokens nothing matches here at all",
             "en", "s2", 10),
        ],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    ).write.parquet(f"{d}/documents.parquet")
    rows = {
        r["doc_id"]: r for r in exact_substring_spans(spark, d).collect()
    }
    # the shared passage has 6 tokens -> 6 - SPAN_W + 1 shared windows
    expected_shared = 6 - SPAN_W + 1
    assert rows[1]["n_shared_windows"] == expected_shared
    assert rows[2]["n_shared_windows"] == expected_shared
    assert rows[3]["n_shared_windows"] == 0


def test_vocab_growth_totals(spark):
    """Final checkpoint equals corpus totals: cumulative tokens = all
    tokens, cumulative types = distinct vocabulary."""
    from big_data_project_spark.operators.corpus_stats import (
        vocab_growth_curve,
    )
    from big_data_project_spark.functions.portable import norm

    rows = vocab_growth_curve(spark, SF_DIR).collect()
    assert rows == sorted(rows, key=lambda r: r["bucket"])
    docs = load_table(spark, SF_DIR, "documents")
    toks = docs.select(
        F.explode(F.split(norm(F.col("text")), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    assert rows[-1]["tokens_cum"] == toks.count()
    assert rows[-1]["types_cum"] == toks.distinct().count()
    # cumulative columns are non-decreasing
    for a, b in zip(rows, rows[1:]):
        assert b["tokens_cum"] >= a["tokens_cum"]
        assert b["types_cum"] >= a["types_cum"]


def test_ann_recall_eval_matches_direct_sets(spark):
    from big_data_project_spark.operators.similarity import (
        ann_cosine_topk,
        ann_lsh_topk,
        ann_recall_eval,
    )

    ex = ann_cosine_topk(spark, SF_DIR).collect()
    ap = ann_lsh_topk(spark, SF_DIR).collect()
    exact = {}
    for r in ex:
        exact.setdefault(r["query_id"], set()).add(r["match_id"])
    approx = {}
    for r in ap:
        approx.setdefault(r["query_id"], set()).add(r["match_id"])
    got = ann_recall_eval(spark, SF_DIR).collect()
    assert {r["query_id"] for r in got} == set(exact)
    for r in got:
        want_hits = len(
            exact[r["query_id"]] & approx.get(r["query_id"], set())
        )
        assert r["n_hits"] == want_hits
        assert r["k"] == len(exact[r["query_id"]])
        assert 0.0 <= r["recall_at_k"] <= 1.0


def test_orders_fk_audit_clean_testdata(spark):
    from big_data_project_spark.operators.relational import orders_fk_audit

    row = orders_fk_audit(spark, SF_DIR).collect()[0]
    assert row["n_orders"] > 0
    # driver testdata is referentially clean on the lineitem->orders edge
    assert row["lineitems_without_order"] == 0
    assert row["orders_without_customer"] == 0
    assert row["orders_without_lineitems"] >= 0
    assert row["customers_without_orders"] >= 0


def test_multimodal_audio_windows_shape(spark):
    """Window count per doc = ceil(len / HOP); first window's energy
    matches the manual byte computation."""
    from big_data_project_spark.operators.multimodal import (
        AUDIO_HOP,
        AUDIO_WIN,
        multimodal_audio_windows,
    )

    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, SF_DIR, "documents")
        .filter(F.col("doc_id") % 3 == 1)
        .collect()
    }
    out = multimodal_audio_windows(spark, SF_DIR).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(docs)
    for doc_id, rows in by_doc.items():
        payload = docs[doc_id].encode()
        n = len(payload)
        assert len(rows) == -(-n // AUDIO_HOP)
        first = min(rows, key=lambda r: r["win_idx"])
        win = payload[:AUDIO_WIN]
        assert first["energy"] == sum(b * b for b in win)
        assert first["peak_byte"] == max(win)
        assert first["win_len"] == len(win)


def test_span_provenance_consistent_with_spans(spark):
    """Σ over provenance of per-doc occurrences of shared windows must
    equal Σ n_shared_windows from exact_substring_spans (every shared
    occurrence is counted once on each side)."""
    from big_data_project_spark.operators.corpus_stats import (
        exact_substring_spans,
        span_provenance,
    )

    prov = span_provenance(spark, SF_DIR).collect()
    spans = exact_substring_spans(spark, SF_DIR).collect()
    assert sum(r["n_occurrences"] for r in prov) == sum(
        r["n_shared_windows"] for r in spans
    )
    for r in prov:
        assert r["n_docs"] >= 2
        assert r["n_occurrences"] >= r["n_docs"]
        assert r["src_doc_id"] >= 0


def test_event_type_lift_symmetry_and_bounds(spark):
    """n_both <= min(n_a, n_b); support in (0, 1]; unordered pairs only
    (type_a < type_b); lift consistent with the definition."""
    from big_data_project_spark.operators.behavior import event_type_lift

    rows = event_type_lift(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["type_a"] < r["type_b"]
        assert 0 < r["n_both"] <= min(r["n_a"], r["n_b"])
        assert 0.0 < r["support"] <= 1.0
        assert r["lift"] > 0.0


def test_rfm_segments_partition_customers(spark):
    """Segment counts partition the customer set; codes are 3-digit
    quartile strings."""
    from big_data_project_spark.operators.relational import rfm_segments

    rows = rfm_segments(spark, SF_DIR).collect()
    n_cust = load_table(spark, SF_DIR, "orders").select(
        "o_custkey"
    ).distinct().count()
    assert sum(r["n_customers"] for r in rows) == n_cust
    for r in rows:
        assert len(r["segment"]) == 3
        assert all(c in "1234" for c in r["segment"])


def test_order_priority_sla_bounds(spark):
    from big_data_project_spark.operators.relational import order_priority_sla

    rows = order_priority_sla(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_met"] <= r["n_orders"]
        assert 0.0 <= r["sla_frac"] <= 1.0


def test_multimodal_payload_dedup_matches_exact(spark):
    """Per-modality distinct payloads sum to the corpus-wide count of
    distinct (modality, text) pairs."""
    from big_data_project_spark.operators.multimodal import (
        multimodal_payload_dedup,
    )

    rows = multimodal_payload_dedup(spark, SF_DIR).collect()
    docs = load_table(spark, SF_DIR, "documents")
    assert sum(r["n_payloads"] for r in rows) == docs.count()
    want_distinct = (
        docs.select((F.col("doc_id") % 3).alias("m"), "text")
        .distinct()
        .count()
    )
    assert sum(r["n_distinct_payloads"] for r in rows) == want_distinct


def test_delay_winsorized_mean_bounds(spark):
    """Winsorized mean lies within [p05, p95] and the clamp can only
    pull the mean toward the center."""
    from big_data_project_spark.operators.timeseries import (
        delay_winsorized_mean,
    )

    rows = delay_winsorized_mean(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["p05"] <= r["winsorized_mean"] <= r["p95"]
        # clamping both tails: |winsorized| <= max(|p05|, |p95|) always,
        # and the trim effect is exactly raw - winsorized
        assert abs(
            r["trim_effect"] - round(r["raw_mean"] - r["winsorized_mean"], 4)
        ) < 1e-9


def test_stream_events_sliding_equals_batch(spark, tmp_path):
    """Sliding-window streaming agg drains to exactly the batch result
    of the identical F.window expression (each event in 2 overlapping
    hourly windows at a 30-minute slide)."""
    from big_data_project_spark.functions.portable import davg

    src = str(tmp_path / "slide_events")
    load_table(spark, SF_DIR, "events").limit(3000).write.parquet(src)
    streamed = pipeline.run_available_now(
        pipeline.stream_events_sliding(spark, src), "slide_stream"
    ).collect()
    batch = (
        spark.read.schema(pipeline.EVENTS_SCHEMA)
        .parquet(src)
        .groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("win"),
            F.col("event_type").alias("route_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("vehicle_events"),
            davg("value", 4).alias("avg_delay_seconds"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "route_id",
            "vehicle_events",
            "avg_delay_seconds",
        )
        .collect()
    )
    assert sorted(map(tuple, streamed)) == sorted(map(tuple, batch))
    assert streamed
    # sliding fan-out: total window-row events = 2x the raw event count
    n_raw = spark.read.parquet(src).count()
    assert sum(r["vehicle_events"] for r in streamed) == 2 * n_raw


def test_event_pagerank_is_distribution(spark):
    """PageRank sums to ~1 (dangling leak bounded), every node present,
    all scores positive."""
    from big_data_project_spark.operators.behavior import (
        event_pagerank,
        event_transition_matrix,
    )

    rows = event_pagerank(spark, SF_DIR).collect()
    types = set()
    for r in event_transition_matrix(spark, SF_DIR).collect():
        types.add(r["from_type"])
        types.add(r["to_type"])
    assert {r["node"] for r in rows} == types
    total = sum(r["pagerank"] for r in rows)
    assert 0.9 <= total <= 1.0 + 1e-6  # <1 only via dangling leak
    assert all(r["pagerank"] > 0 for r in rows)


def test_doc_top_terms_ranks(spark):
    from big_data_project_spark.operators.corpus import (
        DOC_TERMS_K,
        doc_top_terms,
    )

    rows = doc_top_terms(spark, SF_DIR).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    n_docs = load_table(spark, SF_DIR, "documents").count()
    assert len(by_doc) == n_docs
    for doc_rows in by_doc.values():
        ranks = sorted(r["rank"] for r in doc_rows)
        assert ranks == list(range(1, len(doc_rows) + 1))
        assert len(doc_rows) <= DOC_TERMS_K
        scores = [r["score"] for r in sorted(doc_rows, key=lambda x: x["rank"])]
        assert scores == sorted(scores, reverse=True)


def test_delay_drift_psi_classes(spark):
    """PSI >= 0 up to smoothing noise; every route present; class
    labels consistent with the score."""
    from big_data_project_spark.operators.trend import delay_drift_psi

    rows = delay_drift_psi(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["n_bins"] >= 1
        want = (
            "stable" if r["psi"] < 0.1
            else "moderate" if r["psi"] < 0.25
            else "shifted"
        )
        assert r["drift_class"] == want
        assert r["psi"] >= 0  # PSI is a sum of (p2-p1)ln(p2/p1) >= 0 terms


def test_purchase_survival_km_monotone(spark):
    """S(k) is non-increasing in k, within (0, 1]; at-risk counts
    decrease; event counts never exceed at-risk."""
    from big_data_project_spark.operators.behavior import (
        purchase_survival_km,
    )

    rows = purchase_survival_km(spark, SF_DIR).collect()
    assert rows
    last_s, last_n = 1.0 + 1e-9, None
    for r in rows:
        # survival may legitimately reach 0.0 when every remaining
        # at-risk user events on the final event day (d == n)
        assert 0.0 <= r["survival"] <= last_s + 1e-9
        assert 0 < r["n_events"] <= r["n_at_risk"]
        if last_n is not None:
            assert r["n_at_risk"] <= last_n
        last_s, last_n = r["survival"], r["n_at_risk"]


def test_stream_dedup_watermarked_checkpoint_recovery(spark, tmp_path):
    """Two availableNow runs over a growing directory sharing one
    checkpoint: a replica of batch-1 content arriving in batch 2 within
    the watermark is suppressed by the RECOVERED state (not re-emitted),
    and genuinely new content passes."""
    src = str(tmp_path / "wm_ckpt_src")
    ckpt = str(tmp_path / "wm_ckpt")
    out = str(tmp_path / "wm_out")
    schema = pipeline.DOCS_SCHEMA + ", ingest_ts string"

    def _write(rows):
        spark.createDataFrame(rows, schema).withColumn(
            "ingest_ts", F.col("ingest_ts").cast("timestamp")
        ).coalesce(1).write.mode("append").parquet(src)

    base = spark.createDataFrame([("never",)], "text string").select(
        F.md5(F.col("text")).alias("doc_hash")
    )

    def run_once():
        sdf = pipeline.stream_dedup_incremental_watermarked(
            spark, src, base
        )
        q = (
            sdf.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _write([(1, "first text", "en", "s1", 10, "2026-01-01 10:00:00")])
    run_once()
    # batch 2: a replica of doc 1's content 5 minutes later (inside the
    # 2h watermark — must be suppressed by recovered state) + new content
    _write([
        (2, "first text", "en", "s2", 10, "2026-01-01 10:05:00"),
        (3, "second text", "en", "s1", 11, "2026-01-01 10:06:00"),
    ])
    run_once()
    got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert got == [1, 3]
