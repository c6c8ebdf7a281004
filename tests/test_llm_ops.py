"""Micro-frame unit tests with hand-computed answers for the
LLM-training-data operators (dedup / similarity / textops / multimodal).
The oracle-parity suite checks engine agreement; these check the
*semantics* are the intended ones on inputs small enough to verify by
hand.
"""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from big_data_project_spark.operators import dedup, multimodal, similarity
from big_data_project_spark.functions.portable import hash60
from big_data_project_spark.operators.dedup import _jaccard_pairs
from big_data_project_spark.registry import QUERIES

from tests.conftest import SF_DIR


def _shingle_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, sh string")


def test_jaccard_pairs_exact(spark):
    # doc 1: {a b c}, doc 2: {a b d}  -> |∩|=2, |∪|=4 -> 0.5
    sh = _shingle_df(
        spark,
        [(1, "a"), (1, "b"), (1, "c"), (2, "a"), (2, "b"), (2, "d")],
    )
    rows = _jaccard_pairs(sh).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["a_id"], r["b_id"]) == (1, 2)
    assert r["jaccard"] == pytest.approx(0.5)


def test_hash60_matches_md5_prefix(spark):
    got = spark.range(1).select(hash60(F.lit("hello")).alias("h")).head()["h"]
    want = int(hashlib.md5(b"hello").hexdigest()[:15], 16)
    assert got == want


def test_dedup_exact_finds_planted_duplicate(spark, tmp_path):
    # Same text modulo case/whitespace must collapse to one hash group.
    docs = spark.createDataFrame(
        [
            (1, "Spark  Rocks", "en", "s", 12),
            (2, "spark rocks", "en", "s", 11),
            (3, "something else", "en", "s", 14),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = tmp_path / "sf"
    docs.write.parquet(str(d / "documents.parquet"))
    out = {
        r["keep_doc_id"]: r["n_docs"]
        for r in dedup.dedup_exact(spark, str(d)).collect()
    }
    assert out == {1: 2, 3: 1}


def test_minhash_lsh_recall_vs_bruteforce(spark):
    """At sf0.001 LSH candidates must cover every brute-force pair >= TAU
    (recall 1.0 at the threshold — SURVEY §2 #35's contract)."""
    brute = {
        (r["a_id"], r["b_id"])
        for r in dedup.dedup_ngram_jaccard(spark, SF_DIR).collect()
    }
    lsh = {
        (r["a_id"], r["b_id"])
        for r in dedup.dedup_minhash_lsh(spark, SF_DIR).collect()
    }
    assert brute == lsh


def test_cosine_topk_known_vectors(spark, tmp_path):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 0),   # query
            (10, [2.0, 0.0], 0),  # cos=1
            (11, [1.0, 1.0], 0),  # cos=0.7071
            (12, [0.0, 1.0], 0),  # cos=0
        ],
        "vec_id long, embedding array<float>, label int",
    )
    d = tmp_path / "sf"
    emb.write.parquet(str(d / "embeddings.parquet"))
    rows = similarity.ann_cosine_topk(spark, str(d)).collect()
    by_rank = {r["rank"]: r for r in rows if r["query_id"] == 0}
    assert by_rank[1]["match_id"] == 10
    assert by_rank[1]["cosine"] == pytest.approx(1.0)
    assert by_rank[2]["match_id"] == 11
    assert by_rank[2]["cosine"] == pytest.approx(1 / math.sqrt(2), abs=1e-6)
    assert by_rank[3]["match_id"] == 12
    assert by_rank[3]["cosine"] == pytest.approx(0.0)


def test_lsh_topk_subset_of_exact(spark):
    """LSH neighbours are corpus members sharing the query's bucket,
    and ranks are contiguous from 1."""
    from pyspark.sql import functions as F

    from big_data_project_spark.operators.similarity import (
        _buckets,
        _vectors,
    )

    out = similarity.ann_lsh_topk(spark, SF_DIR).collect()
    assert out, "LSH returned nothing at sf0.001"
    buckets = {
        r["vec_id"]: r["bucket"]
        for r in _buckets(_vectors(spark, SF_DIR)).collect()
    }
    by_q = {}
    for r in out:
        assert r["match_id"] in buckets  # corpus member
        assert buckets[r["match_id"]] == buckets[r["query_id"]]
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_dedup_embedding_cosine_finds_planted_pair(spark, tmp_path):
    """The sf corpora have no near-identical vectors (max pairwise cosine
    ~0.51), so the sf entry is legitimately empty at TAU=0.95; this
    plants a near-duplicate and checks the LSH-bucketed path finds it."""
    emb = spark.createDataFrame(
        [
            (0, [1.0, 2.0, 3.0, 4.0], 0),
            (1, [1.01, 2.0, 3.0, 4.0], 0),   # near-dup of 0
            (2, [-4.0, 3.0, -2.0, 1.0], 1),  # unrelated
        ],
        "vec_id long, embedding array<float>, label int",
    )
    d = tmp_path / "sf"
    emb.write.parquet(str(d / "embeddings.parquet"))
    rows = similarity.dedup_embedding_cosine(spark, str(d)).collect()
    assert [(r["a_id"], r["b_id"]) for r in rows] == [(0, 1)]
    assert rows[0]["cosine"] > 0.999


def test_ivf_recall_vs_exact(spark):
    """IVF with 3/16 probes must recover most of the exact top-k on the
    sf0.001 corpus (labels are genuine clusters, so cells align)."""
    exact = {
        (r["query_id"], r["match_id"])
        for r in similarity.ann_cosine_topk(spark, SF_DIR).collect()
    }
    ivf = {
        (r["query_id"], r["match_id"])
        for r in similarity.ann_ivf_topk(spark, SF_DIR).collect()
    }
    recall = len(exact & ivf) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall:.2f}"


def test_kmeans_ivf_recall_and_partition(spark):
    """The distributed-Lloyd IVF: the final assignment must be a
    PARTITION of the corpus (every vector in exactly one cell), and
    3/16-probe retrieval under the ``ann_ivf_kmeans_topk`` key must
    recover most of the exact top-k — the same bar as
    test_ivf_recall_vs_exact."""
    from big_data_project_spark.catalog import load_table

    cells = similarity.ivf_kmeans_cells(spark, SF_DIR).collect()
    n_vec = load_table(spark, SF_DIR, "embeddings").count()
    assert sum(r["n_members"] for r in cells) == n_vec
    assert all(r["avg_dist2"] >= 0 for r in cells)
    assert all(r["centroid_norm"] > 0 for r in cells)

    exact = {
        (r["query_id"], r["match_id"])
        for r in similarity.ann_cosine_topk(spark, SF_DIR).collect()
    }
    km = {
        (r["query_id"], r["match_id"])
        for r in QUERIES["ann_ivf_kmeans_topk"](spark, SF_DIR).collect()
    }
    recall = len(exact & km) / len(exact)
    assert recall >= 0.5, f"k-means IVF recall too low: {recall:.2f}"


def test_kmeans_iterations_reduce_distortion(spark):
    """Lloyd's guarantee: mean within-cell squared distance must not
    increase from the init assignment to the refined one (checked via
    a 0-iteration vs IVF_KM_ITERS run of the same pipeline)."""
    from pyspark.sql import functions as F

    v = similarity._vectors(spark, SF_DIR)
    init = v.filter(F.col("vec_id") < similarity.IVF_CELLS).select(
        F.col("vec_id").cast("int").alias("cell"), F.col("e").alias("ce")
    )
    a0 = similarity._km_assign(v, init)
    d0 = a0.agg(F.avg("d2")).collect()[0][0]
    _, afinal = similarity._km_fit(v)
    d1 = afinal.agg(F.avg("d2")).collect()[0][0]
    assert d1 <= d0 + 1e-9, f"distortion rose: {d0} -> {d1}"


def test_cluster_balanced_sample_caps_cells(spark):
    """The kept set respects the per-cell cap, never exceeds the cell
    population, and is deterministic across runs."""
    got = similarity.cluster_balanced_sample(spark, SF_DIR).collect()
    per_cell: dict = {}
    for r in got:
        per_cell.setdefault(r.cell, []).append(r)
        assert 1 <= r.sample_rank <= similarity.CLUSTER_SAMPLE_CAP
        assert r.sample_rank <= r.cell_size
    for cell, rows in per_cell.items():
        assert len(rows) == min(
            similarity.CLUSTER_SAMPLE_CAP, rows[0].cell_size
        )
        assert sorted(r.sample_rank for r in rows) == list(
            range(1, len(rows) + 1)
        )
    again = similarity.cluster_balanced_sample(spark, SF_DIR).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))


def test_dsir_weights_favor_target_tokens(spark):
    """Sanity on the importance direction: a planted corpus where the
    target source speaks a disjoint vocabulary must score target-domain
    docs strictly above off-domain docs."""
    import pandas as pd

    from big_data_project_spark.operators.curation import (
        DSIR_TARGET_SOURCE,
        dsir_importance_weights,
    )

    d = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2, 3],
                "text": [
                    "alpha beta alpha beta gamma",
                    "alpha beta gamma alpha beta",
                    "delta epsilon zeta delta epsilon",
                    "zeta epsilon delta zeta zeta",
                ],
                "lang": ["en"] * 4,
                "source": [DSIR_TARGET_SOURCE, "srcX", "srcX", "srcX"],
                "n_chars": [27, 27, 31, 28],
            }
        )
    )
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        d.write.parquet(f"{tmp}/documents.parquet")
        rows = {
            r.doc_id: r for r in dsir_importance_weights(spark, tmp).collect()
        }
    # doc 1 shares the target's vocabulary; docs 2-3 don't (with
    # B=256 >> 20 tokens every weight is smoothing-dominated and
    # negative — the ORDERING is the invariant, and the flag must be
    # exactly the log_weight sign)
    assert rows[0].log_weight > rows[2].log_weight
    assert rows[1].log_weight > rows[2].log_weight
    assert rows[1].log_weight > rows[3].log_weight
    for r in rows.values():
        assert r.selected == int(r.log_weight > 0)


def test_sketch_error_bounds(spark):
    """HLL cardinality within 3x its configured rsd; approx quantiles
    within 10% of exact."""
    from big_data_project_spark.operators import sketches

    card = sketches.route_cardinality_sketch(spark, SF_DIR).collect()
    assert card
    for r in card:
        assert r["rel_error"] <= 3 * sketches.HLL_RSD, r

    q = sketches.delay_quantile_sketch(spark, SF_DIR).collect()
    for r in q:
        for p in ("p50", "p95"):
            exact, approx = r[f"exact_{p}"], r[f"approx_{p}"]
            assert abs(approx - exact) <= 0.1 * max(abs(exact), 1.0), r


def test_salted_aggregate_matches_direct(spark):
    from big_data_project_spark.functions.skew import salted_aggregate
    from big_data_project_spark.catalog import load_table

    ev = load_table(spark, SF_DIR, "events")
    # same metric on both sides: count of non-null event_id
    direct = {
        (r["event_type"],): (r["n"], round(r["s"], 4))
        for r in ev.groupBy("event_type")
        .agg(F.count("event_id").alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    salted = {
        (r["event_type"],): (r["n"], round(r["s"], 4))
        for r in salted_aggregate(
            ev,
            ["event_type"],
            {"n": ("count", "event_id"), "s": ("sum", "value")},
            distributor="user_id",
        ).collect()
    }
    assert salted == direct


def test_multimodal_decode_stub(spark, tmp_path):
    docs = spark.createDataFrame(
        [(0, "abc", "en", "s", 3)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = tmp_path / "sf"
    docs.write.parquet(str(d / "documents.parquet"))
    r = multimodal.multimodal_meta(spark, str(d)).head()
    assert r["modality"] == "image"
    assert r["byte_len"] == 3
    assert r["payload_sha256"] == hashlib.sha256(b"abc").hexdigest()
    assert r["fake_width"] == 16 + 3 % 64
    assert r["fake_height"] == 16 + 21 % 64


def test_text_embedding_agreement_semantics(spark):
    """Round-2 advice: the agreement audit must cover every verified
    MinHash-LSH pair (non-empty at the test SF) with a valid cosine —
    a zero-row doc_id<->vec_id join would otherwise pass the oracle
    gate trivially."""
    pairs = {
        (r["a_id"], r["b_id"])
        for r in dedup.dedup_minhash_lsh(spark, SF_DIR).collect()
    }
    assert pairs  # test data plants near-dups; the audit must see them
    rows = similarity.text_embedding_agreement(spark, SF_DIR).collect()
    audited = {(r["a_id"], r["b_id"]) for r in rows}
    assert audited == pairs
    for r in rows:
        assert -1.0 - 1e-9 <= r["cosine"] <= 1.0 + 1e-9
        assert r["embedding_agrees"] in (0, 1)


# ----------------------------------------------------------- round 3: corpus


def test_vocab_coverage_monotone(spark):
    from big_data_project_spark.operators import corpus

    rows = sorted(
        corpus.vocab_coverage(spark, SF_DIR).collect(),
        key=lambda r: r["vocab_size"],
    )
    assert [r["vocab_size"] for r in rows] == list(corpus.VOCAB_SIZES)
    covs = [r["coverage"] for r in rows]
    assert covs == sorted(covs)  # more vocab never covers less
    assert all(0.0 < c <= 1.0 for c in covs)
    assert all(r["covered_tokens"] <= r["total_tokens"] for r in rows)


def test_dedup_incremental_verdicts(spark):
    from big_data_project_spark.operators import corpus

    rows = corpus.dedup_incremental(spark, SF_DIR).collect()
    assert rows
    nbrs = {}
    for r in dedup.dedup_minhash_lsh(spark, SF_DIR).collect():
        nbrs.setdefault(r["a_id"], set()).add(r["b_id"])
        nbrs.setdefault(r["b_id"], set()).add(r["a_id"])
    for r in rows:
        assert r["doc_id"] % corpus.INC_MOD == corpus.INC_REM
        if r["verdict"] == "new":
            assert r["dup_of"] is None
        else:
            assert r["dup_of"] in nbrs.get(r["doc_id"], set())
            if r["verdict"] == "dup_of_base":
                assert r["dup_of"] % corpus.INC_MOD != corpus.INC_REM
            else:
                assert r["dup_of"] % corpus.INC_MOD == corpus.INC_REM
                assert r["dup_of"] < r["doc_id"]


def test_dedup_method_agreement_counts(spark):
    from big_data_project_spark.operators import corpus

    r = corpus.dedup_method_agreement(spark, SF_DIR).head()
    assert r["n_both"] <= min(r["n_minhash"], r["n_simhash"])
    assert r["n_either"] == r["n_minhash"] + r["n_simhash"] - r["n_both"]
    assert 0.0 <= r["method_jaccard"] <= 1.0


def test_chunk_dup_rate_bounds(spark):
    from big_data_project_spark.operators import corpus

    rows = corpus.chunk_dup_rate(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 < r["n_distinct_chunks"] <= r["n_chunks"]
        assert 0.0 <= r["dup_rate"] < 1.0


def test_lm_bigram_logprob_bounds(spark):
    from big_data_project_spark.operators import corpus

    rows = corpus.lm_bigram_logprob(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["n_bigrams"] >= 1
        assert r["avg_logprob"] <= 0.0  # MLE probs are <= 1
        assert r["ppl_proxy"] >= 1.0 - 1e-9


def test_shingle_novelty_planted(spark, tmp_path):
    from big_data_project_spark.operators import corpus

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon", "en", "s1", 30),
            (2, "alpha beta gamma delta epsilon", "en", "s1", 30),
            (3, "zeta eta theta iota kappa", "en", "s1", 25),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = tmp_path / "sf"
    docs.write.parquet(str(d / "documents.parquet"))
    got = {
        r["doc_id"]: r["novelty"]
        for r in corpus.shingle_novelty(spark, str(d)).collect()
    }
    # duplicated docs share every shingle -> novelty 0; unique doc -> 1
    assert got == {1: 0.0, 2: 0.0, 3: 1.0}
