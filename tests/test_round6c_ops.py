"""Round-6 third batch: data-selection operators — linear quality
classifier, quality-annealed curriculum phases, and train->test n-gram
leakage audit. Semantics beyond the oracle gate: python-recomputed
scores, phase-balance identities, and a leak the split cannot see."""

from __future__ import annotations

import math

import pytest

from big_data_project_spark.catalog import load_table
from big_data_project_spark.operators.quality import (
    SPLIT_MOD,
    TEST_BUCKETS,
)
from big_data_project_spark.operators.selection import (
    CURRICULUM_PHASES,
    QC_BIAS,
    QC_KEEP_MIN,
    QC_STOPWORDS,
    QC_W_DIGIT,
    QC_W_STOP,
    QC_W_TTR,
    QC_W_WLEN,
    curriculum_phases,
    quality_classifier_score,
    split_leakage_audit,
)

from tests.conftest import SF_DIR


def _norm_tokens(text: str) -> list[str]:
    return [t for t in " ".join(text.lower().split()).split(" ") if t]


def _q6(x: float) -> float:
    return math.floor(x * 1e6 + 0.5) / 1e6


def _py_score(text: str) -> float | None:
    toks = _norm_tokens(text)
    if not toks:
        return None
    n_chars = sum(len(t) for t in toks)
    stop = _q6(sum(t in QC_STOPWORDS for t in toks) / len(toks))
    ttr = _q6(len(set(toks)) / len(toks))
    wlen = _q6(n_chars / len(toks))
    digit = _q6(sum(c.isdigit() for t in toks for c in t) / n_chars)
    z = _q6(
        QC_BIAS
        + QC_W_STOP * stop
        + QC_W_TTR * ttr
        + QC_W_WLEN * wlen
        + QC_W_DIGIT * digit
    )
    return _q6(1.0 / (1.0 + math.exp(-z)))


# ------------------------------------------------------------ classifier


def test_quality_score_matches_python_recompute(spark):
    """Per-doc score equals an independent python recompute of the
    feature -> logit -> sigmoid pipeline on the raw text."""
    docs = {
        r.doc_id: r.text
        for r in load_table(spark, SF_DIR, "documents").collect()
    }
    out = quality_classifier_score(spark, SF_DIR).collect()
    assert len(out) == sum(1 for t in docs.values() if _norm_tokens(t))
    for r in out:
        expect = _py_score(docs[r.doc_id])
        assert expect is not None
        assert r.score == pytest.approx(expect, abs=1e-9), r.doc_id
        assert r.keep == int(r.score >= QC_KEEP_MIN)


def test_quality_features_are_ratios_in_range(spark):
    out = quality_classifier_score(spark, SF_DIR).collect()
    for r in out:
        assert 0.0 <= r.stop_ratio <= 1.0
        assert 0.0 < r.ttr <= 1.0
        assert r.mean_wlen >= 1.0
        assert 0.0 <= r.digit_ratio <= 1.0
        assert 0.0 < r.score < 1.0


# ------------------------------------------------------------ curriculum


def test_curriculum_phases_partition_the_corpus(spark):
    """Phases cover every scored doc exactly once, phase sizes differ by
    at most one doc (ntile contract), and score ranges are ordered:
    later phases never contain a lower score than an earlier phase's
    minimum (quality annealing)."""
    rows = curriculum_phases(spark, SF_DIR).collect()
    n_scored = quality_classifier_score(spark, SF_DIR).count()
    assert sum(r.n_docs for r in rows) == n_scored
    per_phase = {}
    for r in rows:
        per_phase.setdefault(r.phase, []).append(r)
    assert set(per_phase) == set(range(1, CURRICULUM_PHASES + 1))
    sizes = [sum(r.n_docs for r in v) for _, v in sorted(per_phase.items())]
    assert max(sizes) - min(sizes) <= 1
    mins = [min(r.min_score for r in v) for _, v in sorted(per_phase.items())]
    maxs = [max(r.max_score for r in v) for _, v in sorted(per_phase.items())]
    for earlier_max, later_min in zip(maxs, mins[1:]):
        assert later_min >= earlier_max - 1e-12


# ---------------------------------------------------------------- leakage


def test_leakage_audit_covers_every_test_doc_with_shingles(spark):
    """Every test-split doc with >= 3 tokens gets a row; ratios are
    n_leaked / n_shingles; leaked counts never exceed totals."""
    from big_data_project_spark.functions.portable import hash60, norm

    docs = load_table(spark, SF_DIR, "documents")
    from pyspark.sql import functions as F

    test_ids = {
        r.doc_id
        for r in docs.select(
            "doc_id",
            F.pmod(hash60(norm(F.col("text"))), SPLIT_MOD).alias("b"),
            F.size(F.split(norm(F.col("text")), " ")).alias("n"),
        )
        .filter((F.col("b") < TEST_BUCKETS) & (F.col("n") >= 3))
        .collect()
    }
    out = {r.doc_id: r for r in split_leakage_audit(spark, SF_DIR).collect()}
    assert set(out) == test_ids
    for r in out.values():
        assert 0 <= r.n_leaked <= r.n_shingles
        assert r.leak_ratio == pytest.approx(
            math.floor(r.n_leaked / r.n_shingles * 1e6 + 0.5) / 1e6,
            abs=1e-12,
        )


def test_leakage_audit_sees_a_planted_ngram_leak(spark, tmp_path):
    """A test-side doc that shares a 3-gram with a train doc (but is not
    an exact duplicate) is reported with the right leaked count — the
    overlap the content-hash split alone cannot catch."""
    import pyspark.sql.functions as F

    base = load_table(spark, SF_DIR, "documents")
    # Craft two docs around a shared trigram, then bucket them by the
    # split hash the operator itself uses (content-hash split).
    from big_data_project_spark.functions.portable import hash60, norm

    texts = []
    shared = "alpha beta gamma"
    for i in range(200):
        texts.append((10_000 + i, f"{shared} filler{i} tail{i}", "en", "srcX", 0))
    probe = spark.createDataFrame(
        texts, "doc_id long, text string, lang string, source string, n_chars long"
    ).withColumn(
        "bucket", F.pmod(hash60(norm(F.col("text"))), SPLIT_MOD)
    )
    buckets = {r.doc_id: r.bucket for r in probe.collect()}
    test_doc = next(d for d, b in buckets.items() if b < TEST_BUCKETS)
    train_doc = next(d for d, b in buckets.items() if b >= TEST_BUCKETS)
    keep = probe.filter(F.col("doc_id").isin(test_doc, train_doc)).drop(
        "bucket"
    )
    merged = base.unionByName(keep)
    out_dir = str(tmp_path / "sf")
    for t in (
        "region nation customer supplier part orders lineitem events "
        "embeddings"
    ).split():
        load_table(spark, SF_DIR, t).write.parquet(f"{out_dir}/{t}.parquet")
    merged.coalesce(1).write.parquet(f"{out_dir}/documents.parquet")
    rows = {
        r.doc_id: r for r in split_leakage_audit(spark, out_dir).collect()
    }
    assert test_doc in rows
    # the planted test doc shares exactly the 'alpha beta' prefix
    # trigram with the planted train doc: 1 of its 3 shingles leaks
    assert rows[test_doc].n_shingles == 3
    assert rows[test_doc].n_leaked >= 1


# ------------------------------------------------------------------ doremi


def test_doremi_weights_sum_to_one_and_favor_hard_domains(spark):
    from big_data_project_spark.operators.selection import (
        doremi_domain_weights,
    )

    rows = doremi_domain_weights(spark, SF_DIR).collect()
    assert abs(sum(r.weight for r in rows) - 1.0) < 1e-4
    assert abs(sum(r.base_share for r in rows) - 1.0) < 1e-3
    for r in rows:
        assert r.excess_nll >= 0.0
        # multiplicative weights never DOWN-weight below base share by
        # more than the normalizer (all factors >= 1):
        # weight/base_share ratio is monotone in excess
        assert r.weight > 0
    by_excess = sorted(rows, key=lambda r: r.excess_nll)
    # the most-excess domain must gain share relative to the least
    lo, hi = by_excess[0], by_excess[-1]
    if hi.excess_nll > lo.excess_nll + 1e-6:
        assert hi.weight / hi.base_share >= lo.weight / lo.base_share


def test_doremi_excess_is_src_minus_corpus_clipped(spark):
    from big_data_project_spark.operators.selection import (
        doremi_domain_weights,
    )

    rows = doremi_domain_weights(spark, SF_DIR).collect()
    corpus = _corpus_nll(rows)
    for r in rows:
        got = math.floor(max(r.src_nll - corpus, 0.0) * 1e6 + 0.5) / 1e6
        assert r.excess_nll == pytest.approx(got, abs=2e-6)


def _corpus_nll(rows) -> float:
    n = sum(r.n_bigrams for r in rows)
    s = sum(r.src_nll * r.n_bigrams for r in rows)
    return s / n


# ---------------------------------------------------------------- knn vote


def test_knn_vote_matches_numpy_bruteforce(spark):
    import numpy as np

    from big_data_project_spark.operators.selection import (
        KNN_K,
        KNN_N_EVAL,
        knn_label_vote,
    )

    emb = load_table(spark, SF_DIR, "embeddings").collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb}
    labels = {r.vec_id: r.label for r in emb}
    out = {r.vec_id: r for r in knn_label_vote(spark, SF_DIR).collect()}
    assert set(out) == {v for v in vecs if v < KNN_N_EVAL}
    for q in sorted(out):
        qe = vecs[q]
        cands = []
        for m, ce in vecs.items():
            if m == q:
                continue
            cos = float(qe @ ce / (np.linalg.norm(qe) * np.linalg.norm(ce)))
            cands.append((-round(cos, 9), m))
        cands.sort()
        top = [labels[m] for _, m in cands[:KNN_K]]
        votes = {}
        for lb in top:
            votes[lb] = votes.get(lb, 0) + 1
        pred = sorted(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        assert out[q].pred_label == pred[0]
        assert out[q].n_votes == pred[1]
        assert out[q].correct == int(pred[0] == labels[q])


# ---------------------------------------------------------- hard negatives


def test_hard_negatives_are_bm25_candidates_below_cos_ceiling(spark):
    from big_data_project_spark.operators.corpus import (
        BM25_TOP_K,
        bm25_retrieval_topk,
    )
    from big_data_project_spark.operators.selection import (
        HN_COS_MAX,
        hard_negative_mining,
    )

    ranked = bm25_retrieval_topk(spark, SF_DIR).collect()
    pos = {r.query_id: r.doc_id for r in ranked if r.rank == 1}
    negs = {(r.query_id, r.doc_id) for r in ranked if r.rank > 1}
    out = hard_negative_mining(spark, SF_DIR).collect()
    assert {(r.query_id, r.neg_doc_id) for r in out} == negs
    for r in out:
        assert r.pos_doc_id == pos[r.query_id]
        assert 2 <= r.bm25_rank <= BM25_TOP_K
        assert r.is_hard == int(r.cos_to_pos < HN_COS_MAX)
        assert -1.0 <= r.cos_to_pos <= 1.0


# ------------------------------------------------------------------- bpe


def test_bpe_merges_match_python_counter(spark):
    """Top merge candidates equal a python Counter over
    word-frequency-weighted adjacent character pairs."""
    from collections import Counter

    from big_data_project_spark.operators.textops import (
        BPE_TOP_MERGES,
        bpe_merge_pairs,
    )

    docs = load_table(spark, SF_DIR, "documents").collect()
    wfreq: Counter = Counter()
    for r in docs:
        for w in _norm_tokens(r.text):
            if len(w) >= 2:
                wfreq[w] += 1
    pc: Counter = Counter()
    for w, f in wfreq.items():
        for i in range(len(w) - 1):
            pc[w[i : i + 2]] += f
    expected = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[
        :BPE_TOP_MERGES
    ]
    out = bpe_merge_pairs(spark, SF_DIR).collect()
    assert [(r.pair, r.n) for r in out] == expected
    assert [r.merge_rank for r in out] == list(range(1, len(out) + 1))


# ---------------------------------------------------------------- purity


def test_cluster_purity_is_consistent_with_fit_and_labels(spark):
    """Purity rows reconcile with an independent recount: members per
    cell sum to the corpus, top_label_n / n_members equals purity, and
    the top label really is the modal label of the cell."""
    from collections import Counter

    from big_data_project_spark.operators.similarity import (
        _km_fit,
        _km_vectors,
        cluster_label_purity,
    )

    v = _km_vectors(spark, SF_DIR)
    _cent, assigned = _km_fit(v)
    cells = {r.vec_id: r.cell for r in assigned.select("vec_id", "cell").collect()}
    labels = {
        r.vec_id: r.label
        for r in load_table(spark, SF_DIR, "embeddings").collect()
    }
    hist: dict[int, Counter] = {}
    for vid, cell in cells.items():
        hist.setdefault(cell, Counter())[labels[vid]] += 1
    out = {r.cell: r for r in cluster_label_purity(spark, SF_DIR).collect()}
    assert set(out) == set(hist)
    assert sum(r.n_members for r in out.values()) == len(cells)
    for cell, r in out.items():
        top = sorted(hist[cell].items(), key=lambda kv: (-kv[1], kv[0]))[0]
        assert (r.top_label, r.top_label_n) == top
        assert r.n_labels == len(hist[cell])
        assert r.purity == pytest.approx(
            math.floor(r.top_label_n / r.n_members * 1e6 + 0.5) / 1e6,
            abs=1e-12,
        )


# ------------------------------------------------------------------- mmr


def test_mmr_matches_python_greedy(spark):
    """The Spark MMR (cogrouped greedy over JVM-quantized sims) equals a
    python/numpy greedy recomputed from the raw vectors. The unrolled
    DuckDB oracle SQL is exercised by the registry parity gate
    (tests/test_oracle_parity.py), not here."""
    import numpy as np

    from big_data_project_spark.operators.similarity import (
        MMR_K,
        MMR_LAMBDA,
        MMR_M,
        N_QUERIES,
        mmr_diversified_topk,
    )

    emb = load_table(spark, SF_DIR, "embeddings").collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb}

    def q9(x: float) -> float:
        return math.floor(x * 1e9 + 0.5) / 1e9

    def cos(a, b):
        return q9(float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))))

    out = {}
    for r in mmr_diversified_topk(spark, SF_DIR).collect():
        out.setdefault(r.query_id, []).append((r.mmr_rank, r.doc_id))
    for q in range(N_QUERIES):
        qe = vecs[q]
        scored = sorted(
            ((-cos(qe, vecs[d]), d) for d in vecs if d != q)
        )[:MMR_M]
        pool = {d: -s for s, d in scored}
        sel: list[int] = []
        picks = []
        for k in range(1, MMR_K + 1):
            best = None
            for d, cq in pool.items():
                ms = max((cos(vecs[d], vecs[s]) for s in sel), default=0.0)
                score = q9(MMR_LAMBDA * cq - (1 - MMR_LAMBDA) * ms)
                cand = (-score, d)
                if best is None or cand < best:
                    best = cand
            picks.append((k, best[1]))
            sel.append(best[1])
            del pool[best[1]]
        assert sorted(out[q]) == picks, q


def test_mmr_first_pick_is_pure_relevance_and_rest_diversify(spark):
    from big_data_project_spark.operators.similarity import (
        mmr_diversified_topk,
    )

    rows = mmr_diversified_topk(spark, SF_DIR).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, {})[r.mmr_rank] = r
    for q, ranks in by_q.items():
        assert set(ranks) == {1, 2, 3, 4, 5}
        # rank 1 has no redundancy penalty: mmr == lambda * cosine
        r1 = ranks[1]
        assert r1.mmr_score == pytest.approx(0.7 * r1.cosine, abs=2e-6)
        # each query returns distinct docs
        docs = [ranks[k].doc_id for k in sorted(ranks)]
        assert len(set(docs)) == len(docs)


# ------------------------------------------------------------------- pca


def test_pca_variance_matches_numpy_spectrum(spark):
    """The distributed quantized-Gram spectrum equals numpy's PCA over
    the raw vectors (1e-3 — the 1e-6 Gram quantization's worst case),
    ratios are positive-descending, and the cumulative column is the
    running sum."""
    import numpy as np

    from big_data_project_spark.operators.vectorops import (
        PCA_TOP_K,
        embedding_pca_variance,
    )

    out = sorted(
        embedding_pca_variance(spark, SF_DIR).collect(),
        key=lambda r: r.component,
    )
    assert len(out) == PCA_TOP_K
    emb = load_table(spark, SF_DIR, "embeddings").collect()
    X = np.stack([np.array(r.embedding, dtype=np.float64) for r in emb])
    cov = np.cov(X, rowvar=False, bias=True)
    ev = np.linalg.eigvalsh(cov)[::-1]
    cum = 0.0
    prev = float("inf")
    for r in out:
        assert r.eigenvalue == pytest.approx(
            float(ev[r.component - 1]), abs=1e-3
        )
        assert 0 < r.explained_var <= prev + 1e-9
        prev = r.explained_var
        cum += r.explained_var
        assert r.cum_explained_var == pytest.approx(cum, abs=1e-5)


def test_pca_variance_is_deterministic_across_runs(spark):
    from big_data_project_spark.operators.vectorops import (
        embedding_pca_variance,
    )

    a = [tuple(r) for r in embedding_pca_variance(spark, SF_DIR).collect()]
    b = [tuple(r) for r in embedding_pca_variance(spark, SF_DIR).collect()]
    assert sorted(a) == sorted(b)


# --------------------------------------------------------------- skyline


def test_skyline_matches_bruteforce_dominance(spark):
    """The window-based skyline equals a brute-force O(n^2) dominance
    check over the collected catalog."""
    from big_data_project_spark.operators.commerce import part_skyline

    parts = [
        (r.p_partkey, r.p_size, r.p_retailprice)
        for r in load_table(spark, SF_DIR, "part").collect()
    ]
    expect = set()
    for k, s, p in parts:
        dominated = any(
            qs >= s and qp <= p and (qs > s or qp < p)
            for _, qs, qp in parts
        )
        if not dominated:
            expect.add(k)
    got = {r.p_partkey for r in part_skyline(spark, SF_DIR).collect()}
    assert got == expect
    assert got  # never empty: the global min-price part always survives


def test_skyline_is_mutually_nondominating(spark):
    from big_data_project_spark.operators.commerce import part_skyline

    rows = part_skyline(spark, SF_DIR).collect()
    for a in rows:
        for b in rows:
            if a.p_partkey == b.p_partkey:
                continue
            dominates = (
                b.p_size >= a.p_size
                and b.p_retailprice <= a.p_retailprice
                and (
                    b.p_size > a.p_size
                    or b.p_retailprice < a.p_retailprice
                )
            )
            assert not dominates


# ------------------------------------------------------------------ paths


def test_path_trigrams_match_python_recount(spark):
    from collections import Counter, defaultdict

    from big_data_project_spark.operators.behavior import (
        PATH_TOP_K,
        event_path_trigrams,
    )

    ev = sorted(
        load_table(spark, SF_DIR, "events").collect(),
        key=lambda r: (r.user_id, r.ts, r.event_id),
    )
    by_user = defaultdict(list)
    for r in ev:
        by_user[r.user_id].append(r.event_type)
    counts: Counter = Counter()
    users = defaultdict(set)
    for u, seq in by_user.items():
        for i in range(len(seq) - 2):
            path = ">".join(seq[i : i + 3])
            counts[path] += 1
            users[path].add(u)
    total = sum(counts.values())
    expect = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[
        :PATH_TOP_K
    ]
    out = event_path_trigrams(spark, SF_DIR).collect()
    assert [(r.path, r.n) for r in out] == expect
    for r in out:
        assert r.n_users == len(users[r.path])
        assert r.share == pytest.approx(
            math.floor(r.n / total * 1e6 + 0.5) / 1e6, abs=1e-12
        )


# -------------------------------------------------------------- chi-square


def test_chisq_margins_and_statistic_reconcile(spark):
    """Expected counts satisfy the independence identity (row x col / n),
    contributions recompute from observed/expected, every row carries
    the same total and dof, and dof = (r-1)(c-1)."""
    from collections import defaultdict

    from big_data_project_spark.operators.warehouse import (
        priority_returns_chisq,
    )

    rows = priority_returns_chisq(spark, SF_DIR).collect()
    n = sum(r.observed for r in rows)
    row_tot = defaultdict(int)
    col_tot = defaultdict(int)
    for r in rows:
        row_tot[r.priority] += r.observed
        col_tot[r.returnflag] += r.observed
    total_vals = {r.chisq_total for r in rows}
    dof_vals = {r.dof for r in rows}
    assert len(total_vals) == 1 and len(dof_vals) == 1
    assert dof_vals.pop() == (len(row_tot) - 1) * (len(col_tot) - 1)
    acc = 0.0
    for r in rows:
        exp = _q6(row_tot[r.priority] * col_tot[r.returnflag] / n)
        assert r.expected == pytest.approx(exp, abs=2e-6)
        contrib = _q6((r.observed - r.expected) ** 2 / r.expected)
        assert r.contrib == pytest.approx(contrib, abs=2e-6)
        acc += r.contrib
    assert total_vals.pop() == pytest.approx(acc, abs=1e-3)


# ------------------------------------------------------------------ benford


def test_benford_audit_shares_and_digits(spark):
    from big_data_project_spark.operators.warehouse import (
        BENFORD_SHARES,
        benford_price_audit,
    )

    rows = sorted(benford_price_audit(spark, SF_DIR).collect(),
                  key=lambda r: r.digit)
    assert [r.digit for r in rows] == list(range(1, 10))
    assert abs(sum(r.obs_share for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert r.exp_share == BENFORD_SHARES[r.digit]
        assert r.contrib >= 0
    # sanity vs raw data: digit histogram matches a python recount
    prices = [
        x.o_totalprice
        for x in load_table(spark, SF_DIR, "orders").collect()
    ]
    from collections import Counter

    pc: Counter = Counter()
    for p in prices:
        s = f"{p:.6f}"
        first = next((ch for ch in s if ch in "123456789"), None)
        if first:
            pc[int(first)] += 1
    for r in rows:
        assert r.n == pc[r.digit]


# ------------------------------------------------------------ stream paths


def test_stream_path_trigrams_equal_batch(spark, tmp_path):
    """Draining the events table through the stateful trigram emitter
    and summing counts per path reproduces the batch triple counts
    (event_path_trigrams without the top-K cut)."""
    from collections import Counter, defaultdict

    from big_data_project_spark.streaming import pipeline

    sf = "/root/testdata/sf0.001"
    src = str(tmp_path / "paths_src")
    load_table(spark, sf, "events").write.parquet(src)
    out = pipeline.run_available_now(
        pipeline.stream_path_trigrams(spark, src),
        "paths_out",
        output_mode="append",
    ).collect()
    streamed: Counter = Counter()
    for r in out:
        streamed[r["path"]] += r["n"]
    ev = sorted(
        load_table(spark, sf, "events").collect(),
        key=lambda r: (r.user_id, r.ts, r.event_id),
    )
    by_user = defaultdict(list)
    for r in ev:
        by_user[r.user_id].append(r.event_type)
    batch: Counter = Counter()
    for seq in by_user.values():
        for i in range(len(seq) - 2):
            batch[">".join(seq[i : i + 3])] += 1
    assert streamed == batch


def test_stream_path_trigrams_state_spans_batches():
    """A triple whose three events arrive in three different batches is
    still counted — the two-slot state seeds each next batch."""
    import pandas as pd

    from big_data_project_spark.streaming.pipeline import _paths_fn

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
    out1 = list(_paths_fn(
        (7,), iter([batch([(1, "2026-01-01 09:00:00", "view")])]), st))
    out2 = list(_paths_fn(
        (7,), iter([batch([(2, "2026-01-01 09:05:00", "click")])]), st))
    out3 = list(_paths_fn(
        (7,), iter([batch([(3, "2026-01-01 09:10:00", "purchase")])]), st))
    assert not out1 and not out2
    assert len(out3) == 1
    got = dict(zip(out3[0]["path"], out3[0]["n"]))
    assert got == {"view>click>purchase": 1}
