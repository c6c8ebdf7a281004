"""Round-4 additions beyond the first batch: PMI collocations,
per-source KL drift, the Bloom membership audit, delay/headway
correlation, label-centroid similarity, inter-event gap histogram,
EWMA / forecast-baseline / OLS-trend ops, RRF fusion, the LSH
threshold-sweep and band-health audits, per-source length quantiles,
parquet compaction, the streaming transition twin (batch equivalence,
cross-batch state, checkpoint recovery), and the sink edge cases from
the review passes (empty and NULL-partition deltas). Semantic tests on
planted micro-corpora plus invariants at sf0.001 — the oracle parity
suite covers value-level correctness separately."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_project_spark.catalog import load_table
from big_data_project_spark.operators import (
    behavior,
    bloom,
    corpus,
    corpus_stats,
    trend,
    vectorops,
)

SF_DIR = "/root/testdata/sf0.001"


def _write_docs(spark, tmp_path, rows, name="docs"):
    """rows = [(doc_id, text, source)] -> a sf_dir with documents.parquet
    in the full documents schema."""
    df = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).select(
        "doc_id",
        "text",
        F.lit("en").alias("lang"),
        "source",
        F.length("text").alias("n_chars"),
    )
    d = str(tmp_path / name)
    df.write.parquet(str(tmp_path / name / "documents.parquet"))
    return d


def test_pmi_ranks_planted_collocation_first(spark, tmp_path):
    """Tokens that ONLY ever appear together must out-PMI tokens that
    co-occur incidentally among an independent background."""
    # "aa bb" appears 6 times, and aa/bb never occur apart; filler
    # tokens x0..x3 pair arbitrarily and each also occurs alone often.
    filler = "x0 x1 x2 x3 x0 x2 x1 x3 x0 x3 x1 x2"
    rows = [
        (i, f"aa bb {filler}", "s1") for i in range(1, 7)
    ]
    d = _write_docs(spark, tmp_path, rows)
    out = corpus.token_pmi_bigrams(spark, d).collect()
    assert out, "bigrams above the count threshold must exist"
    assert out[0]["bigram"] == "aa bb"
    # PMI of the exclusive pair must strictly exceed every filler pair
    top = out[0]["pmi"]
    assert all(
        r["pmi"] < top for r in out[1:] if r["bigram"] != "aa bb"
    )


def test_source_kl_zero_iff_identical_distribution(spark, tmp_path):
    """Two sources with identical token distributions -> KL == 0 for
    both; a third drifted source -> strictly positive KL."""
    base = "tok1 tok2 tok3 tok4"
    rows = (
        [(i, base, "same_a") for i in range(1, 4)]
        + [(10 + i, base, "same_b") for i in range(1, 4)]
        + [(20, "zz zz zz zz zz zz zz zz", "drift")]
    )
    d = _write_docs(spark, tmp_path, rows)
    kl = {
        r["source"]: r["kl_nats"]
        for r in corpus_stats.source_token_kl(spark, d).collect()
    }
    # identical sources still differ from the BLENDED corpus (which
    # includes the drifted source), so compare them to each other and
    # require the drifted source to be the clear outlier
    assert kl["same_a"] == kl["same_b"]
    assert kl["drift"] > kl["same_a"] > 0


def test_bloom_audit_no_false_negatives(spark):
    """Bloom contract: positives = true members + false positives
    exactly (a member can never probe negative), rates are in range,
    and the bit count never exceeds the array size."""
    row = bloom.bloom_dedup_audit(spark, SF_DIR).collect()[0]
    assert row["n_bloom_positive"] == (
        row["n_true_member"] + row["n_false_positive"]
    )
    assert 0 < row["n_bits_set"] <= bloom.M_BITS
    assert 0.0 < row["fill_ratio"] <= 1.0
    if row["n_batch"] > row["n_true_member"]:
        assert 0.0 <= row["fp_rate"] <= 1.0


def test_bloom_planted_duplicate_is_member(spark, tmp_path):
    """A batch doc whose text equals a base doc must count as a true
    member and probe positive; a unique batch doc must not be a
    member."""
    # doc_id % 7 == 3 -> batch; others -> base. 3 duplicates 1.
    rows = [
        (1, "the quick brown fox", "s"),
        (2, "totally different base text", "s"),
        (3, "the quick brown fox", "s"),  # batch, dup of base 1
        (10, "a unique incoming document", "s"),  # 10 % 7 = 3, unique
    ]
    d = _write_docs(spark, tmp_path, rows)
    row = bloom.bloom_dedup_audit(spark, d).collect()[0]
    assert row["n_batch"] == 2
    assert row["n_true_member"] == 1
    assert row["n_bloom_positive"] >= 1  # the member MUST be positive


def test_delay_headway_corr_bounds(spark):
    rows = trend.delay_headway_corr(spark, SF_DIR).collect()
    assert rows, "sf0.001 has routes with joint hours"
    for r in rows:
        assert r["n_hours"] >= trend.CORR_MIN_HOURS
        if r["delay_headway_corr"] is not None:
            assert -1.0 <= r["delay_headway_corr"] <= 1.0


def test_label_centroid_similarity_shape(spark):
    """Every unordered label pair exactly once, cosines in [-1, 1],
    and the per-label vector counts must sum consistently with the
    embeddings table."""
    out = vectorops.label_centroid_similarity(spark, SF_DIR).collect()
    emb = load_table(spark, SF_DIR, "embeddings")
    labels = sorted(
        r["label"] for r in emb.select("label").distinct().collect()
    )
    n = len(labels)
    assert len(out) == n * (n - 1) // 2
    sizes = {
        r["label"]: r["cnt"]
        for r in emb.groupBy("label")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    for r in out:
        assert r["label_a"] < r["label_b"]
        assert r["n_a"] == sizes[r["label_a"]]
        assert r["n_b"] == sizes[r["label_b"]]
        if r["centroid_cosine"] is not None:
            assert -1.0 <= r["centroid_cosine"] <= 1.000001


def test_interevent_gap_histogram_totals(spark):
    """Gaps = events - users-with-events (each user contributes
    n_events - 1 gaps) and the shares sum to 1."""
    out = behavior.interevent_gap_histogram(spark, SF_DIR).collect()
    ev = load_table(spark, SF_DIR, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert sum(r["n_gaps"] for r in out) == n_events - n_users
    assert abs(sum(r["share"] for r in out) - 1.0) < 1e-3
    for r in out:
        lo, hi = r["min_gap_s"], r["max_gap_s"]
        assert lo <= hi
        # bucket bounds: floor(log2(max(gap, 1))) is the bucket index
        b = r["log2_bucket_s"]
        assert max(lo, 1) >> b == 1 and max(hi, 1) >> b == 1


def test_stream_transitions_equal_batch(spark, tmp_path):
    """Draining the whole events table through the stateful transition
    emitter and summing counts must reproduce the batch transition
    matrix exactly (counts per (from, to) pair)."""
    from big_data_project_spark.streaming import pipeline

    src = str(tmp_path / "trans_src")
    load_table(spark, "/root/testdata/sf0.001", "events").write.parquet(
        src
    )
    out = pipeline.run_available_now(
        pipeline.stream_transitions(spark, src),
        "trans_out",
        output_mode="append",
    ).collect()
    streamed = {}
    for r in out:
        k = (r["from_type"], r["to_type"])
        streamed[k] = streamed.get(k, 0) + r["n"]
    batch = {
        (r["from_type"], r["to_type"]): r["n"]
        for r in behavior.event_transition_matrix(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert streamed == batch


def test_stream_transitions_state_across_batches():
    """The boundary transition between two batches must be counted: the
    state's last event seeds the next batch's first pair."""
    import pandas as pd

    from big_data_project_spark.streaming.pipeline import _transition_fn

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    def batch(rows):
        pdf = pd.DataFrame(rows, columns=["event_id", "ts", "event_type"])
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        return pdf

    st = FakeState()
    out1 = list(
        _transition_fn(
            (7,),
            iter([batch([(1, "2026-01-01 09:00:00", "view"),
                         (2, "2026-01-01 09:05:00", "click")])]),
            st,
        )
    )
    assert len(out1) == 1
    assert out1[0].values.tolist() == [["view", "click", 1]]
    # batch 2 starts with the boundary pair click -> purchase
    out2 = list(
        _transition_fn(
            (7,), iter([batch([(3, "2026-01-01 09:10:00", "purchase")])]),
            st,
        )
    )
    assert out2[0].values.tolist() == [["click", "purchase", 1]]
    # an empty batch emits nothing and leaves state intact
    out3 = list(_transition_fn((7,), iter([batch([])[0:0]]), st))
    assert out3 == []
    assert st.get[2] == "purchase"


def test_ewma_constant_series_is_constant(spark):
    """On any series the EWMA lies within [min, max] of its window; on
    sf0.001 additionally every route's first observed hour has
    n_terms == 1 and ewma == that hour's value."""
    from big_data_project_spark.operators import trend as _trend

    rows = _trend.delay_ewma_24h(spark, SF_DIR).collect()
    assert rows
    first_per_route = {}
    for r in rows:
        assert 1 <= r["n_terms"] <= _trend.EWMA_WINDOW
        rid = r["route_id"]
        if rid not in first_per_route:
            first_per_route[rid] = r
    for r in first_per_route.values():
        assert r["n_terms"] == 1
        assert r["ewma_delay"] == round(r["avg_delay_seconds"], 4)


def test_ewma_known_micro_series():
    """Hand-checked halving EWMA: series 10, 20 ->
    ewma_2 = (20 + 10/2) / (1 + 1/2) = 16.6667."""
    assert round((20 + 10 / 2) / 1.5, 4) == 16.6667


def test_seasonal_naive_eval_consistency(spark):
    from big_data_project_spark.operators import trend as _trend

    rows = _trend.seasonal_naive_eval(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["n_hours"] > 0
        assert r["mae_persistence"] >= 0 and r["mae_seasonal"] >= 0
        expected = (
            "seasonal"
            if r["mae_seasonal"] < r["mae_persistence"]
            else "persistence"
            if r["mae_persistence"] < r["mae_seasonal"]
            else "tie"
        )
        assert r["winner"] == expected


def test_rrf_fusion_agrees_with_inputs(spark):
    """Fusion invariants: a candidate ranked 1 by BOTH retrievers must
    be fused rank 1; every fused row carries at least one input rank;
    scores are within the two-list RRF bounds."""
    from big_data_project_spark.operators import similarity as _sim

    out = _sim.ann_rrf_fusion(spark, SF_DIR).collect()
    assert out
    k = _sim.RRF_K
    lo, hi = 1.0 / (k + _sim.TOP_K), 2.0 / (k + 1)
    by_query = {}
    for r in out:
        assert r["rank_exact"] is not None or r["rank_lsh"] is not None
        # rrf_score is 6-dp rounded, so allow half-ulp-of-rounding slack
        assert lo - 1e-6 <= r["rrf_score"] <= hi + 1e-6
        by_query.setdefault(r["query_id"], []).append(r)
    for q, rows in by_query.items():
        rows.sort(key=lambda r: r["fused_rank"])
        assert [r["fused_rank"] for r in rows] == list(
            range(1, len(rows) + 1)
        )
        both_first = [
            r for r in rows
            if r["rank_exact"] == 1 and r["rank_lsh"] == 1
        ]
        if both_first:
            assert both_first[0]["fused_rank"] == 1


def test_threshold_sweep_monotone(spark):
    """Raising the threshold can only shrink the pair and doc counts,
    and the TAU row must agree exactly with dedup_minhash_lsh."""
    from big_data_project_spark.operators import dedup as _dedup

    rows = _dedup.dedup_threshold_sweep(spark, SF_DIR).collect()
    assert [r["threshold"] for r in rows] == sorted(_dedup.SWEEP_TAUS)
    for a, b in zip(rows, rows[1:]):
        assert a["n_pairs"] >= b["n_pairs"]
        assert a["n_docs"] >= b["n_docs"]
    tau_row = {r["threshold"]: r for r in rows}[_dedup.TAU]
    lsh = _dedup.dedup_minhash_lsh(spark, SF_DIR)
    assert tau_row["n_pairs"] == lsh.count()


def test_band_analysis_accounts_for_candidates(spark):
    """Each band's doc memberships must sum to the corpus size, and the
    union of intra-bucket pairs bounds the distinct candidate count
    from above (Σ per-band pairs counts multi-band collisions twice)."""
    from big_data_project_spark.catalog import load_table
    from big_data_project_spark.operators import dedup as _dedup

    rows = _dedup.minhash_band_analysis(spark, SF_DIR).collect()
    assert len(rows) == _dedup.BANDS
    n_docs = load_table(spark, SF_DIR, "documents").count()
    total_pairs = sum(r["n_candidate_pairs"] for r in rows)
    distinct_cand = _dedup._verified_candidates(spark, SF_DIR).count()
    assert total_pairs >= distinct_cand
    for r in rows:
        assert 1 <= r["max_bucket_size"] <= n_docs
        assert r["n_buckets"] <= n_docs


def test_trend_line_recovers_planted_slope(spark, tmp_path):
    """A feed whose hourly demand rises exactly linearly must yield
    slope 1.0 and R^2 1.0."""
    import datetime as dt

    from big_data_project_spark.operators import trend as _trend

    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)
    rows = [
        (h + 1, t0 + dt.timedelta(hours=h, minutes=10), 1, "r1",
         float(h + 1), "{}")
        for h in range(12)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    d = str(tmp_path / "lin_events")
    df.write.parquet(str(tmp_path / "lin_events" / "events.parquet"))
    out = _trend.demand_trend_line(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert r["slope_per_hour"] == 1.0
    assert r["r2"] == 1.0
    assert r["intercept"] == 1.0  # y = x + 1 at x = 0


def test_doc_length_quantiles_match_python(spark):
    """Exact rank-arithmetic quantiles must equal the directly computed
    ones on the collected corpus."""
    from big_data_project_spark.operators import curation as _curation

    docs = load_table(spark, SF_DIR, "documents").collect()
    by_source = {}
    for r in docs:
        by_source.setdefault(r["source"], []).append(r["n_chars"])
    out = {
        r["source"]: r
        for r in _curation.doc_length_quantiles(spark, SF_DIR).collect()
    }
    assert set(out) == set(by_source)
    for s, vals in by_source.items():
        vals.sort()
        n = len(vals)
        lo, hi = vals[(n + 1) // 2 - 1], vals[(n + 2) // 2 - 1]
        assert out[s]["n_docs"] == n
        assert out[s]["median_chars"] == round((lo + hi) / 2, 1)
        assert out[s]["p90_chars"] == vals[(9 * n + 9) // 10 - 1]


def test_compact_parquet_reduces_files_keeps_rows(spark, tmp_path):
    """Many tiny files -> few files, identical row set; partitioned
    tables keep their hive layout."""
    from big_data_project_spark.plans import sinks

    p = str(tmp_path / "frag")
    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("pd")
    )
    # fragment: 50 appends of 20 rows each
    for i in range(50):
        df.filter((F.col("id") >= 20 * i) & (F.col("id") < 20 * (i + 1))
                  ).write.mode("append").parquet(p)
    before = spark.read.parquet(p).collect()
    stats = sinks.compact_parquet(spark, p, target_bytes=1 << 30)
    assert stats["files_after"] < stats["files_before"]
    assert stats["files_after"] >= 1
    after = spark.read.parquet(p).collect()
    assert sorted(r["id"] for r in after) == sorted(
        r["id"] for r in before
    )

    # Partitioned variant: ZERO-PADDED numeric-string partition values —
    # the round-4 advice trap: an inferring read types "pd=01" as INT 1
    # and a naive compaction rewrites the directory as "pd=1", silently
    # changing the value. compact_parquet reads with inference OFF, so
    # the directory names must round-trip byte-identical.
    p2 = str(tmp_path / "frag_part")
    dfz = spark.range(1000).select(
        F.col("id"),
        F.format_string("%02d", (F.col("id") % 3)).alias("pd"),
    )
    for i in range(10):
        dfz.filter((F.col("id") >= 100 * i) & (F.col("id") < 100 * (i + 1))
                   ).write.mode("append").partitionBy("pd").parquet(p2)
    import os as _os

    dirs_before = sorted(
        d for d in _os.listdir(p2) if d.startswith("pd=")
    )
    assert dirs_before == ["pd=00", "pd=01", "pd=02"]
    stats2 = sinks.compact_parquet(
        spark, p2, target_bytes=1 << 30, partition_cols=["pd"]
    )
    assert stats2["files_after"] < stats2["files_before"]
    assert sorted(
        d for d in _os.listdir(p2) if d.startswith("pd=")
    ) == dirs_before
    # Read back with inference genuinely off (a SQL conf, NOT a
    # DataFrameReader option — the .option() form is silently ignored)
    # so the zero-padded values are verified as the exact strings.
    conf = "spark.sql.sources.partitionColumnTypeInference.enabled"
    prior = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        got = spark.read.parquet(p2)
        assert got.count() == 1000
        assert sorted(
            r["pd"] for r in got.select("pd").distinct().collect()
        ) == ["00", "01", "02"]
    finally:
        spark.conf.set(conf, prior)


def test_compact_parquet_all_null_partition(spark, tmp_path):
    """An all-NULL partition column (__HIVE_DEFAULT_PARTITION__ only)
    used to infer VOID and fail the staging write; with inference off
    the compaction round-trips it."""
    from big_data_project_spark.plans import sinks

    p = str(tmp_path / "nullpart")
    df = spark.range(100).select(
        F.col("id"), F.lit(None).cast("string").alias("pd")
    )
    for i in range(5):
        df.filter((F.col("id") >= 20 * i) & (F.col("id") < 20 * (i + 1))
                  ).write.mode("append").partitionBy("pd").parquet(p)
    stats = sinks.compact_parquet(
        spark, p, target_bytes=1 << 30, partition_cols=["pd"]
    )
    assert stats["files_after"] < stats["files_before"]
    got = spark.read.parquet(p)
    assert got.count() == 100
    assert got.filter(F.col("pd").isNull()).count() == 100


def test_upsert_partitioned_empty_delta_is_noop(spark, tmp_path):
    """A quiet serving-loop batch (empty delta) must return the current
    table unchanged — a partitioned overwrite of an empty frame writes
    no schema-bearing file, so the staged swap must be skipped."""
    from big_data_project_spark.plans import sinks

    target = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 1, "d1"), (2, "b", 1, "d2")],
        "k long, v string, ver long, pd string",
    )
    sinks.upsert_parquet(spark, target, base, ["k"], "ver",
                         partition_col="pd")
    empty = base.filter(F.lit(False))
    merged = sinks.upsert_parquet(spark, target, empty, ["k"], "ver",
                                  partition_col="pd")
    assert merged.count() == 2
    # and before any table exists, an empty delta stays empty
    merged0 = sinks.upsert_parquet(
        spark, str(tmp_path / "nope"), empty, ["k"], "ver",
        partition_col="pd",
    )
    assert merged0.count() == 0


def test_near_dup_degree_histogram_consistent(spark):
    """Σ degree·n_docs = 2×|pairs| (every pair contributes one degree
    to each endpoint) and Σ n_docs = docs with ≥1 neighbor."""
    from big_data_project_spark.operators import corpus_stats as _cs
    from big_data_project_spark.operators import dedup as _dedup

    hist = _cs.near_dup_degree_histogram(spark, SF_DIR).collect()
    n_pairs = _dedup.dedup_minhash_lsh(spark, SF_DIR).count()
    assert sum(r["degree"] * r["n_docs"] for r in hist) == 2 * n_pairs
    assert all(r["degree"] >= 1 for r in hist)


def test_route_service_availability_bounds(spark):
    """availability in (0, 1], missing = span - observed, and a span
    can never be shorter than the observed hour count."""
    from big_data_project_spark.operators import timeseries as _ts

    rows = _ts.route_service_availability(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["span_hours"] >= r["observed_hours"] >= 1
        assert r["missing_hours"] == r["span_hours"] - r["observed_hours"]
        assert 0.0 < r["availability"] <= 1.0


def test_upsert_null_partition_rows_survive(spark, tmp_path):
    """A delta touching the NULL partition must MERGE with the current
    NULL-partition rows, not replace them (isin() is three-valued and
    never matches NULL)."""
    from big_data_project_spark.plans import sinks

    target = str(tmp_path / "nulls")
    base = spark.createDataFrame(
        [(1, "a", 1, None), (2, "b", 1, "d1")],
        "k long, v string, ver long, pd string",
    )
    sinks.upsert_parquet(spark, target, base, ["k"], "ver",
                         partition_col="pd")
    delta = spark.createDataFrame(
        [(3, "c", 2, None)], "k long, v string, ver long, pd string"
    )
    merged = sinks.upsert_parquet(spark, target, delta, ["k"], "ver",
                                  partition_col="pd")
    rows = {r["k"]: r for r in merged.collect()}
    assert set(rows) == {1, 2, 3}, "k=1 in the NULL partition must survive"
    assert rows[1]["pd"] is None and rows[3]["pd"] is None


def test_stream_transitions_checkpoint_recovery(spark, tmp_path):
    """Two availableNow runs over a growing source directory with a
    SHARED checkpoint: the second run must recover the per-user
    last-event state from the state store, count the boundary
    transition between the runs, and not re-emit the first run's
    pairs."""
    from big_data_project_spark.streaming import pipeline

    src = str(tmp_path / "ts_src")
    ckpt = str(tmp_path / "ts_ckpt")
    out = str(tmp_path / "ts_out")
    schema = (
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string"
    )

    def push(rows):
        spark.createDataFrame(rows, schema).withColumn(
            "ts", F.to_timestamp("ts")
        ).coalesce(1).write.mode("append").parquet(src)

    def run_once():
        sdf = pipeline.stream_transitions(spark, src)
        q = (
            sdf.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    push([
        (1, "2026-01-01 10:00:00", 7, "view", 0.0, "{}"),
        (2, "2026-01-01 10:05:00", 7, "click", 0.0, "{}"),
    ])
    run_once()
    # restart from the checkpoint: the only NEW event must pair with
    # the recovered last event (click -> purchase), nothing else
    push([(3, "2026-01-01 10:10:00", 7, "purchase", 0.0, "{}")])
    run_once()

    counts = {}
    for r in spark.read.parquet(out).collect():
        k = (r["from_type"], r["to_type"])
        counts[k] = counts.get(k, 0) + r["n"]
    assert counts == {
        ("view", "click"): 1,
        ("click", "purchase"): 1,
    }


def test_props_value_consistency_bounds(spark):
    from big_data_project_spark.sources import jsonfeed

    rows = jsonfeed.props_value_consistency(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["n_events"] > 0
        if r["k_value_corr"] is not None:
            assert -1.0 <= r["k_value_corr"] <= 1.0


def test_source_lang_matrix_shares_sum_to_one(spark):
    from big_data_project_spark.operators import curation as _curation

    rows = _curation.source_lang_matrix(spark, SF_DIR).collect()
    docs = load_table(spark, SF_DIR, "documents")
    assert sum(r["n_docs"] for r in rows) == docs.count()
    by_source = {}
    for r in rows:
        by_source.setdefault(r["source"], 0.0)
        by_source[r["source"]] += r["doc_share_of_source"]
    for s, tot in by_source.items():
        assert abs(tot - 1.0) < 1e-3, s


def test_suggestion_stability_consistency(spark):
    """Flips are bounded by transitions (n_hours - 1 per route) and the
    action tallies never exceed the hour count."""
    from big_data_project_spark.operators import (
        suggestions as _suggestions,
    )

    rows = _suggestions.suggestion_stability(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_flips"] <= r["n_hours"] - 1
        assert r["n_increase"] + r["n_decrease"] <= r["n_hours"]
        if r["flip_rate"] is not None:
            assert 0.0 <= r["flip_rate"] <= 1.0


def test_multimodal_frame_checksums_fanout(spark):
    """Every video doc fans out to exactly FRAME_SAMPLE_N frame rows,
    offsets are the sample grid, and a recomputed checksum for one doc
    matches."""
    from big_data_project_spark.operators import multimodal as _mm

    out = _mm.multimodal_frame_checksums(spark, SF_DIR).collect()
    docs = load_table(spark, SF_DIR, "documents")
    n_video = docs.filter(F.col("doc_id") % 3 == 2).count()
    assert len(out) == n_video * _mm.FRAME_SAMPLE_N
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    sample_doc = sorted(by_doc)[0]
    text = (
        docs.filter(F.col("doc_id") == sample_doc)
        .collect()[0]["text"]
        .encode()
    )
    step = max(1, len(text) // _mm.FRAME_SAMPLE_N)
    for r in sorted(by_doc[sample_doc], key=lambda r: r["frame_idx"]):
        off = r["frame_idx"] * step
        win = text[off : off + _mm.FRAME_BYTES]
        assert r["frame_offset"] == off
        assert r["win_len"] == len(win)
        assert r["win_checksum"] == sum(win) % _mm._FRAME_P


def test_model_leaderboard_consistent_with_rf_metrics(spark):
    """The leaderboard's RF arm scores every test row, so its MAE must
    equal rf_demand_model's reported MAE; baselines are scored on the
    rows where their lag exists."""
    from big_data_project_spark.ml import demand as _demand

    board = {
        r["model"]: r
        for r in _demand.demand_model_leaderboard(
            spark, SF_DIR
        ).collect()
    }
    assert set(board) == {
        "random_forest", "persistence", "seasonal_naive"
    }
    model_row = _demand.rf_demand_model(spark, SF_DIR).collect()[0]
    assert board["random_forest"]["n_eval"] == model_row["rows_test"]
    assert board["random_forest"]["mae"] == model_row["mae"]
    for r in board.values():
        assert r["n_eval"] > 0 and r["mae"] >= 0
