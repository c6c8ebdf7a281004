"""Round 9: hardening + depth (round-8 verdict items).

- demand_leaderboard_audit: the oracle-backed twin of the rows-only RF
  leaderboard — coverage columns must MATCH the rows-only key arm by
  arm, leaving only mae(random_forest) unverified.
"""

from __future__ import annotations

import pytest

from big_data_project_spark.ml import demand as _demand

from tests.conftest import SF_DIR, count_spark_jobs


def test_leaderboard_audit_matches_rows_only_leaderboard(spark):
    """Every deterministic cell of demand_model_leaderboard is now under
    the hash gate via the audit twin: n_eval agrees arm-by-arm (the
    portable cume-dist cut selects the same test rows as the
    approxQuantile cut), the baseline arms' MAE agrees exactly, and the
    ONLY cell the audit leaves NULL is the RF's own score."""
    audit = {
        r["model"]: r
        for r in _demand.demand_leaderboard_audit(spark, SF_DIR).collect()
    }
    board = {
        r["model"]: r
        for r in _demand.demand_model_leaderboard(spark, SF_DIR).collect()
    }
    assert set(audit) == set(board) == {
        "random_forest", "persistence", "seasonal_naive"
    }
    for m in board:
        assert audit[m]["n_eval"] == board[m]["n_eval"], m
    assert audit["persistence"]["mae"] == board["persistence"]["mae"]
    assert audit["seasonal_naive"]["mae"] == board["seasonal_naive"]["mae"]
    assert audit["random_forest"]["mae"] is None
    assert board["random_forest"]["mae"] is not None


def test_leaderboard_runs_its_eval_frame_once(spark):
    """The three arms are one aggregate over the eval frame, so a warm
    audit runs fewer jobs than two passes over its test rows; three
    unioned per-arm aggregates ran the frame once per arm."""
    from pyspark.sql import functions as F

    _demand.demand_leaderboard_audit(spark, SF_DIR).collect()
    test = _demand._split_tagged(spark, SF_DIR).filter(
        F.col("split") == "test"
    )
    one_pass = count_spark_jobs(spark, test.collect)
    audit = count_spark_jobs(
        spark, lambda: _demand.demand_leaderboard_audit(spark, SF_DIR).collect()
    )
    assert audit < 2 * one_pass, (audit, one_pass)


def test_streaming_kmv_converges_to_batch_sketch(spark, tmp_path):
    """Three micro-batches of KMV union-recut merges reproduce the
    batch operator's sketch columns EXACTLY — the theta-family
    mergeability claim (top-k of a union == top-k of per-part top-ks),
    exercised through the streaming twin and read off the served
    state with the shared pair-estimate algebra."""
    from pyspark.sql import functions as F

    from big_data_project_spark.catalog import load_table
    from big_data_project_spark.operators.sketches import (
        kmv_set_intersection,
    )
    from big_data_project_spark.streaming.pipeline import (
        EVENTS_SCHEMA,
        read_kmv_intersection,
        serve_kmv_foreach_batch,
    )

    ev = load_table(spark, SF_DIR, "events")
    src = str(tmp_path / "events_stream")
    ev.repartition(3).write.parquet(src)
    state = str(tmp_path / "kmv_state")
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    serve_kmv_foreach_batch(spark, stream, state, str(tmp_path / "ckpt"))
    served = {
        (r["route_a"], r["route_b"]): r
        for r in read_kmv_intersection(spark, state).collect()
    }
    batch = {
        (r["route_a"], r["route_b"]): r
        for r in kmv_set_intersection(spark, SF_DIR).collect()
    }
    assert set(served) == set(batch) and len(batch) > 0
    for k, s in served.items():
        assert s["n_common_sample"] == batch[k]["n_common_sample"], k
        assert s["est_common"] == batch[k]["est_common"], k


def test_kmv_merge_replay_guard(spark, tmp_path):
    """A replayed batch_id is a no-op (returns False, state untouched)
    and the next id merges — the monotonic-guard idempotence contract
    shared with merge_quantile_bins_batch."""
    from pyspark.sql import functions as F

    from big_data_project_spark.catalog import load_table
    from big_data_project_spark.plans.sinks import read_upsert_table
    from big_data_project_spark.streaming.pipeline import merge_kmv_batch

    ev = load_table(spark, SF_DIR, "events")
    state = str(tmp_path / "kmv_state")
    assert merge_kmv_batch(ev, 0, state)
    before = sorted(
        tuple(r)
        for r in read_upsert_table(spark, state)
        .select("route_id", "user_id")
        .collect()
    )
    assert not merge_kmv_batch(ev, 0, state)
    after = sorted(
        tuple(r)
        for r in read_upsert_table(spark, state)
        .select("route_id", "user_id")
        .collect()
    )
    assert before == after
    assert merge_kmv_batch(ev.limit(0), 1, state)
    assert (
        read_upsert_table(spark, state).agg(F.max("last_batch")).first()[0]
        == 1
    )


def test_nmf_rounds_objective_monotone(spark):
    """Lee & Seung Theorem 1 over the UNROLLED rounds: the Frobenius
    reconstruction objective is non-increasing across every
    alternating (H, W) multiplicative round — the convergence evidence
    the round-8 verdict asked to put under the oracle gate (the same
    per-round rows the hash gate checks carry it)."""
    from big_data_project_spark.operators.corpus import (
        NMF_ROUNDS,
        nmf_topic_rounds,
    )

    rows = nmf_topic_rounds(spark, SF_DIR).collect()
    assert [r["round"] for r in rows] == list(range(NMF_ROUNDS + 1))
    objs = [r["objective"] for r in rows]
    for a, b in zip(objs, objs[1:]):
        # 9dp factor quantization between updates can nudge the exact
        # guarantee by a hair; the descent itself is orders larger
        assert b <= a + 1e-6, objs
    # a real fit, not a fixed point: the first round must actually move
    assert objs[1] < objs[0]
    for r in rows:
        assert r["h_l1"] > 0 and r["w_l1"] > 0


def test_ams_f2_estimator_bounded(spark):
    """AMS median-of-means sanity at sf0.001: the estimate is
    nonnegative and within the loose concentration bound of the exact
    self-join size (8 groups of 8 registers put the group-mean std at
    0.5*F2; the median of 8 such means landing past 1x exact would
    mean the sign hash is broken, not unlucky — it is deterministic)."""
    from big_data_project_spark.operators.sketches import ams_f2_sketch

    rows = ams_f2_sketch(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["exact_f2"] >= r["n_users"] >= 1
        assert r["est_f2"] >= 0.0
        assert abs(r["rel_error"]) <= 1.0, (r["route_id"], r["rel_error"])


def test_editdist_verify_separates_repeat_from_copy(spark, tmp_path):
    """Planted disagreement class: doc 2 = doc 1 concatenated with
    itself — distinct word shingles barely change (high Jaccard, an
    LSH candidate) but HALF the characters are an insertion (edit_sim
    ~0.5), exactly the repetition class shingle dedup cannot see.
    Docs 3/4 are byte-identical: both verdicts dup, zero distance."""
    from big_data_project_spark.operators.dedup import (
        dedup_editdist_verify,
    )

    a = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    docs = spark.createDataFrame(
        [
            (1, a, "en", "s", len(a)),
            (2, a + " " + a, "en", "s", 2 * len(a) + 1),
            (3, "the quick brown fox jumps over the lazy dog again", "en", "s", 49),
            (4, "the quick brown fox jumps over the lazy dog again", "en", "s", 49),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = tmp_path / "sf"
    docs.write.parquet(str(d / "documents.parquet"))
    out = {
        (r["a_id"], r["b_id"]): r
        for r in dedup_editdist_verify(spark, str(d)).collect()
    }
    rep = out[(1, 2)]
    assert rep["jaccard_dup"] == 1 and rep["edit_dup"] == 0
    assert rep["verdicts_agree"] == 0
    assert abs(rep["edit_sim"] - 0.5) < 0.02
    dup = out[(3, 4)]
    assert dup["edit_dist"] == 0 and dup["edit_sim"] == 1.0
    assert dup["edit_dup"] == 1 == dup["jaccard_dup"]
    assert dup["verdicts_agree"] == 1


def test_ams_replica_matches_oracle(duck):
    """The round-9 pandas replica must reproduce the DuckDB oracle
    values exactly (same rounding rules) — the property that makes its
    sf1 timing column a fair baseline."""
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

        rep = br.ams_f2_sketch().reset_index(drop=True)
        got = duck.execute(ORACLES["ams_f2_sketch"]).fetchdf()
        assert sorted(rep.columns) == sorted(got.columns)
        assert len(rep) == len(got)
        for c in rep.columns:
            for x, y in zip(rep[c].tolist(), got[c].tolist()):
                if x is None or (isinstance(x, float) and math.isnan(x)):
                    assert y is None or (
                        isinstance(y, float) and math.isnan(y)
                    ), c
                elif isinstance(x, float):
                    assert abs(x - float(y)) <= 1e-6, (c, x, y)
                else:
                    assert str(x) == str(y), (c, x, y)
    finally:
        sys.argv = old_argv


def test_streaming_countmin_converges_to_batch_sketch(spark, tmp_path):
    """Three micro-batches of additive count-min merges reproduce the
    single-shot sketch cells exactly, and the serving-time probe
    estimates match the batch audit's cm_est column for the same
    tokens — CM's mergeability exercised through the streaming twin."""
    from pyspark.sql import functions as F

    from big_data_project_spark.catalog import load_table, load_table_spread
    from big_data_project_spark.functions.portable import word_tokens
    from big_data_project_spark.operators.sketches import (
        cm_bucket_rows,
        countmin_heavy_hitters,
    )
    from big_data_project_spark.streaming.pipeline import (
        DOCS_SCHEMA,
        read_countmin_estimates,
        serve_countmin_foreach_batch,
    )
    from big_data_project_spark.plans.sinks import read_upsert_table

    docs = load_table(spark, SF_DIR, "documents")
    src = str(tmp_path / "docs_stream")
    docs.repartition(3).write.parquet(src)
    state = str(tmp_path / "cm_state")
    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    serve_countmin_foreach_batch(
        spark, stream, state, str(tmp_path / "ckpt")
    )
    served = {
        (r["d"], r["bucket"]): r["c"]
        for r in read_upsert_table(spark, state).collect()
    }
    batch_cells = {
        (r["d"], r["bucket"]): r["c"]
        for r in word_tokens(
            load_table_spread(spark, SF_DIR, "documents", "doc_id")
        )
        .select(F.explode(cm_bucket_rows(F.col("tok"))).alias("rb"))
        .groupBy(F.col("rb.d").alias("d"), F.col("rb.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert served == batch_cells and batch_cells
    audit = {
        r["tok"]: r["cm_est"]
        for r in countmin_heavy_hitters(spark, SF_DIR).collect()
    }
    probed = {
        r["tok"]: r["cm_est"]
        for r in read_countmin_estimates(
            spark, state, sorted(audit) + ["zz-never-streamed-zz"]
        ).collect()
    }
    # the unseen token's estimate must be min over ITS cells with
    # missing-cell-is-0 semantics (review finding: an inner probe join
    # dropped the token or inflated the min over only occupied cells);
    # on this saturated 4x16 sketch that is the collision overestimate,
    # recomputed here cell-by-cell — and a probe into an EMPTY state
    # must return 0 for every cell
    unseen_cells = [
        r["rb"]
        for r in spark.range(1)
        .select(
            F.explode(
                cm_bucket_rows(F.lit("zz-never-streamed-zz"))
            ).alias("rb")
        )
        .collect()
    ]
    expected = min(
        batch_cells.get((c["d"], c["bucket"]), 0) for c in unseen_cells
    )
    assert probed.pop("zz-never-streamed-zz") == expected
    assert probed == audit
    empty_state = str(tmp_path / "cm_state_empty")
    spark.createDataFrame(
        [], "d int, bucket int, c long, last_batch long"
    ).write.parquet(empty_state)
    zero = read_countmin_estimates(spark, empty_state, ["anything"])
    assert [(r["tok"], r["cm_est"]) for r in zero.collect()] == [
        ("anything", 0)
    ]


def test_hits_authority_invariants(spark):
    """HITS sanity at sf0.001: authorities are a 9dp-quantized L1
    distribution (sum ~1 over routes), every route with edges appears,
    degree recomputes from the raw edge list, and top_hub_share is a
    valid share in (0, 1]."""
    from pyspark.sql import functions as F

    from big_data_project_spark.catalog import load_table
    from big_data_project_spark.operators.behavior import (
        route_hits_authority,
    )

    rows = route_hits_authority(spark, SF_DIR).collect()
    assert rows
    total = sum(r["authority"] for r in rows)
    assert abs(total - 1.0) < 1e-6 * len(rows)
    ev = load_table(spark, SF_DIR, "events").filter(
        F.col("event_type").isNotNull()
    )
    deg = {
        r["route_id"]: r["n"]
        for r in ev.select(
            F.col("event_type").alias("route_id"), "user_id"
        )
        .distinct()
        .groupBy("route_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {r["route_id"] for r in rows} == set(deg)
    for r in rows:
        assert r["degree"] == deg[r["route_id"]]
        assert r["authority"] > 0
        assert 0 < r["top_hub_share"] <= 1.0
    # ordering contract: authority descending
    auths = [r["authority"] for r in rows]
    assert auths == sorted(auths, reverse=True)


def test_blocking_audit_recomputes(spark):
    """The audit's three metrics recompute from the relations they
    summarize: completeness is the LSH family's tested recall (1.0 at
    sf0.001), reduction ratio matches the candidate count, and the
    counts agree with dedup_minhash_lsh / dedup_ngram_jaccard."""
    from big_data_project_spark.operators.dedup import (
        _verified_candidates,
        blocking_quality_audit,
        dedup_ngram_jaccard,
    )

    row = blocking_quality_audit(spark, SF_DIR).collect()[0]
    n_cand = _verified_candidates(spark, SF_DIR).count()
    n_true = dedup_ngram_jaccard(spark, SF_DIR).count()
    assert row["n_candidates"] == n_cand
    assert row["n_true_dups"] == n_true
    assert row["n_possible_pairs"] == (
        row["n_docs"] * (row["n_docs"] - 1) // 2
    )
    assert row["pairs_completeness"] == 1.0  # LSH recall contract
    expected_rr = 1.0 - n_cand / float(row["n_possible_pairs"])
    assert abs(row["reduction_ratio"] - expected_rr) < 1e-6
    assert row["reduction_ratio"] > 0.99  # blocking must actually block
    assert 0 < row["pairs_quality"] <= 1.0


def test_prefix_filter_equals_bruteforce(spark):
    """The prefix-filter completeness theorem, executed: the exact
    set-similarity join returns EXACTLY the brute-force ≥ TAU pair set
    (LSH's recall contract is probabilistic and tested separately;
    this one is a guarantee)."""
    from big_data_project_spark.operators.dedup import (
        dedup_ngram_jaccard,
        dedup_prefix_filter,
    )

    brute = {
        (r["a_id"], r["b_id"], r["jaccard"])
        for r in dedup_ngram_jaccard(spark, SF_DIR).collect()
    }
    pf = {
        (r["a_id"], r["b_id"], r["jaccard"])
        for r in dedup_prefix_filter(spark, SF_DIR).collect()
    }
    assert pf == brute and brute


def test_calibration_bins_recompute(spark):
    """ECE recomputes from the per-bin rows (Σ n_b/N·gap_b), the bins
    partition the scored corpus, and every gap is |avg − pass| of its
    own row — the reliability-diagram identities."""
    import math

    from big_data_project_spark.operators.selection import (
        classifier_calibration_bins,
        quality_classifier_score,
    )

    rows = classifier_calibration_bins(spark, SF_DIR).collect()
    assert rows
    n_total = sum(r["n_docs"] for r in rows)
    assert n_total == quality_classifier_score(spark, SF_DIR).count()
    ece = rows[0]["ece"]
    assert all(r["ece"] == ece for r in rows)
    recomputed = sum(r["n_docs"] / n_total * r["gap"] for r in rows)
    assert abs(ece - recomputed) < 1e-6
    for r in rows:
        assert 0 <= r["avg_score"] <= 1 and 0 <= r["pass_rate"] <= 1
        assert abs(
            r["gap"] - round(abs(r["avg_score"] - r["pass_rate"]), 6)
        ) < 1e-9
        assert r["bin"] * 0.1 <= r["avg_score"] < r["bin"] * 0.1 + 0.1 + 1e-9


def test_streaming_ams_converges_to_batch(spark, tmp_path):
    """Three micro-batches of additive AMS register merges reproduce
    the batch operator's est_f2 exactly — register linearity
    (Z is linear in the frequency vector) exercised end to end."""
    from big_data_project_spark.catalog import load_table
    from big_data_project_spark.operators.sketches import ams_f2_sketch
    from big_data_project_spark.streaming.pipeline import (
        EVENTS_SCHEMA,
        read_ams_f2,
        serve_ams_foreach_batch,
    )

    ev = load_table(spark, SF_DIR, "events")
    src = str(tmp_path / "events_stream")
    ev.repartition(3).write.parquet(src)
    state = str(tmp_path / "ams_state")
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    serve_ams_foreach_batch(spark, stream, state, str(tmp_path / "ckpt"))
    served = {
        r["route_id"]: r["est_f2"]
        for r in read_ams_f2(spark, state).collect()
    }
    batch = {
        r["route_id"]: r["est_f2"]
        for r in ams_f2_sketch(spark, SF_DIR).collect()
    }
    assert served == batch and batch


def test_streaming_linear_counting_converges_to_batch(spark, tmp_path):
    """Three micro-batches of occupied-cell unions reproduce the batch
    audit's estimate exactly (bitmap-OR mergeability), and a replayed
    batch is a no-op."""
    from pyspark.sql import functions as F

    from big_data_project_spark.catalog import load_table
    from big_data_project_spark.operators.sketches import (
        linear_counting_audit,
    )
    from big_data_project_spark.streaming.pipeline import (
        EVENTS_SCHEMA,
        merge_linear_counting_batch,
        read_linear_counting,
        serve_linear_counting_foreach_batch,
    )

    ev = load_table(spark, SF_DIR, "events")
    src = str(tmp_path / "events_stream")
    ev.repartition(3).write.parquet(src)
    state = str(tmp_path / "lc_state")
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    serve_linear_counting_foreach_batch(
        spark, stream, state, str(tmp_path / "ckpt")
    )
    served = {
        r["route_id"]: (r["occupied"], r["est_distinct"])
        for r in read_linear_counting(spark, state).collect()
    }
    batch = {
        r["route_id"]: (r["occupied"], r["lc_estimate"])
        for r in linear_counting_audit(spark, SF_DIR)
        .select("route_id", "occupied", "lc_estimate")
        .collect()
    }
    assert served == batch and batch
    assert not merge_linear_counting_batch(ev, 2, state)


def test_kcore_fixpoint_and_invariants(spark):
    """The unrolled peel count reaches the fixpoint at test SF (one
    more peel is a no-op), every surviving doc has core degree ≥ K
    within the SURVIVORS-induced subgraph, and the core is a subset of
    the LSH dup-graph nodes."""
    from pyspark.sql import functions as F

    from big_data_project_spark.operators.corpus_stats import (
        KCORE_K,
        neardup_kcore,
    )
    from big_data_project_spark.operators.dedup import dedup_minhash_lsh

    core = {r["doc_id"]: r["core_degree"] for r in neardup_kcore(spark, SF_DIR).collect()}
    assert core
    pairs = [
        (r["a_id"], r["b_id"])
        for r in dedup_minhash_lsh(spark, SF_DIR).collect()
    ]
    nodes = {a for a, _ in pairs} | {b for _, b in pairs}
    assert set(core) <= nodes
    # python replica peel to fixpoint — must agree with the unrolled form
    edges = set(pairs)
    while True:
        deg: dict[int, int] = {}
        for a, b in edges:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        alive = {n for n, d in deg.items() if d >= KCORE_K}
        kept = {(a, b) for a, b in edges if a in alive and b in alive}
        if kept == edges:
            break
        edges = kept
    final: dict[int, int] = {}
    for a, b in edges:
        final[a] = final.get(a, 0) + 1
        final[b] = final.get(b, 0) + 1
    assert core == {n: d for n, d in final.items() if d >= KCORE_K}


def test_sequential_support_identities(spark):
    """Support/confidence identities recompute from the per-user
    streams: the ⟨view, purchase⟩ row counts exactly the users whose
    earliest view precedes their latest purchase, support is that
    count over all users, and confidence over view-users."""
    from pyspark.sql import functions as F

    from big_data_project_spark.catalog import load_table
    from big_data_project_spark.operators.behavior import (
        sequential_pair_support,
    )

    rows = {
        (r["type_a"], r["type_b"]): r
        for r in sequential_pair_support(spark, SF_DIR).collect()
    }
    assert rows
    ev = load_table(spark, SF_DIR, "events").filter(
        F.col("event_type").isNotNull()
    )
    per_user: dict = {}
    for r in ev.select("user_id", "event_type", "ts").collect():
        d = per_user.setdefault(r["user_id"], {})
        lo, hi = d.get(r["event_type"], (r["ts"], r["ts"]))
        d[r["event_type"]] = (min(lo, r["ts"]), max(hi, r["ts"]))
    n_users = len(per_user)
    for (a, b), row in rows.items():
        n_seq = sum(
            1
            for d in per_user.values()
            if a in d and b in d and d[a][0] < d[b][1]
        )
        assert row["n_users_seq"] == n_seq, (a, b)
        assert abs(row["support"] - round(n_seq / n_users, 6)) < 1e-9
        assert 0 <= row["confidence"] <= 1


def test_entropy_rate_identities(spark):
    """Per-state entropies recompute from the transition matrix rows,
    the rate is their frequency-weighted mean, and perplexity is
    bounded by the branch count (uniform case)."""
    import math

    from big_data_project_spark.operators.behavior import (
        event_transition_matrix,
        transition_entropy_rate,
    )

    ent = {
        r["from_type"]: r
        for r in transition_entropy_rate(spark, SF_DIR).collect()
    }
    counts: dict = {}
    for r in event_transition_matrix(spark, SF_DIR).collect():
        counts.setdefault(r["from_type"], []).append(r["n"])
    assert set(ent) == set(counts)
    tot = sum(sum(v) for v in counts.values())
    rate = 0.0
    for ft, ns in counts.items():
        s = sum(ns)
        h = -sum(n / s * math.log(n / s) for n in ns)
        assert abs(ent[ft]["entropy_nats"] - h) < 1e-5, ft
        assert ent[ft]["n_out"] == s
        assert ent[ft]["perplexity"] <= ent[ft]["n_branches"] + 1e-9
        rate += s / tot * h
    for r in ent.values():
        assert abs(r["entropy_rate"] - rate) < 1e-5


def test_physical_sort_keys_hold_collected_order(spark):
    """Round-9 moved winnowing_fingerprint's and dedup_editdist_verify's
    output ordering into physical plumbing (repartitionByRange +
    sortWithinPartitions below the heavy projection — no logical Sort
    node), so a later operator added ABOVE the local sort could silently
    break the global order while the row-set oracle gate stays green.
    This pins the invariant the physical form must keep: the COLLECTED
    rows arrive globally sorted by the output key (round-9 advice
    item 2)."""
    from big_data_project_spark.operators.corpus_stats import (
        winnowing_fingerprint,
    )
    from big_data_project_spark.operators.dedup import dedup_editdist_verify

    wf = [r["doc_id"] for r in winnowing_fingerprint(spark, SF_DIR).collect()]
    assert wf == sorted(wf) and len(wf) > 0
    ev = [
        (r["a_id"], r["b_id"])
        for r in dedup_editdist_verify(spark, SF_DIR).collect()
    ]
    assert ev == sorted(ev) and len(ev) > 0
