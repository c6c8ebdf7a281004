"""Training-data selection: model-based quality scoring, curriculum
phasing, split decontamination, DoReMi domain reweighting, kNN label
voting, and hard-negative mining for retrieval training.

The reference has no data-selection stage (its pipeline ends at KPI
views + a suggestion rule cascade, src/dag/ml-job.py); these are the
LLM-training-data selection operators the brief adds as first-class
components, each the deterministic oracle-checkable core of a published
recipe:

- quality_classifier_score: the linear (fastText-style) quality gate of
  GPT-3 / PaLM data curation (Brown et al. 2020 appendix A) — a fixed
  feature->logit->sigmoid pipeline instead of a learned checkpoint, so
  both engines hash the same numbers.
- curriculum_phases: quality-annealed phase assignment (highest-quality
  slice in the final phase), the "data ordering" half of curriculum
  recipes.
- split_leakage_audit: train->test 3-gram leakage (GPT-3-style
  decontamination accounting) over the repo's content-hash split.
- doremi_domain_weights: Domain Reweighting with Minimax Optimization
  (Xie et al. 2023, arXiv:2305.10429), one deterministic
  multiplicative-weights step from excess per-domain LM loss.
- knn_label_vote: leave-one-out k-NN majority-vote label audit over the
  embedding space (the classic label-noise screen).
- hard_negative_mining: BM25-retrieved candidates that the embedding
  space rejects — the standard hard-negative pool for training dense
  retrievers (DPR, Karpukhin et al. 2020 §3.2).

All hot paths are built-in column expressions; per-doc scores fold
through DECIMAL so accumulation order never flips a rounded digit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table_spread
from ..functions.portable import (
    SQL_NORM,
    SQL_TOKENS,
    cosine,
    davg,
    norm,
    pround,
    sql_cosine,
    sql_davg,
    sql_pround,
    tokens,
)
from .quality import _SQL_SPLIT_CASE, _split_col

QUERIES: dict = {}
ORACLES: dict = {}


# --- quality_classifier_score -------------------------------------------

# Fixed linear-classifier weights over hand features (a fastText-style
# quality gate with public, documented coefficients instead of a learned
# checkpoint — the deterministic stand-in the oracle can check). The
# features are the standard heuristic-quality set: stopword density,
# type-token ratio, mean word length, digit density.
QC_BIAS = -2.0
QC_W_STOP = 6.0  # stopword density: natural text has some
QC_W_TTR = 2.0  # type-token ratio: repetition pulls this down
QC_W_WLEN = 0.1  # mean word length
QC_W_DIGIT = -8.0  # digit-heavy docs are boilerplate/log candidates
QC_STOPWORDS = ("the", "a", "of", "and", "is")
QC_KEEP_MIN = 0.5


def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality classifier: fixed weights over four map-side text
    features -> logit -> sigmoid -> keep flag. The deterministic core of
    the GPT-3-style learned-quality gate: swap the constant weights for
    a trained vector and the plan is production's.

    Determinism: each feature is 6dp-quantized BEFORE the dot product,
    the logit is 6dp-quantized before the sigmoid, and exp of a
    6dp-quantized double agrees cross-engine (both are libm doubles;
    the repo-wide ln/exp contract).

    Scale: one map-side pass over documents — no shuffle at all; the
    keep flag is the filter a 100 TB curation run pushes straight into
    the scan of the next stage."""
    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    toks = F.filter(tokens("text"), lambda t: t != "")
    d = docs.select(
        "doc_id",
        "source",
        toks.alias("toks"),
        norm("text").alias("nt"),
    ).select(
        "doc_id",
        "source",
        F.size("toks").alias("n_toks"),
        F.size(
            F.filter(F.col("toks"), lambda t: t.isin(*QC_STOPWORDS))
        ).alias("n_stop"),
        F.size(F.array_distinct("toks")).alias("n_types"),
        (F.length("nt") - (F.size("toks") - 1)).alias("n_chars"),
        F.length(F.regexp_replace(F.col("nt"), "[^0-9]", "")).alias(
            "n_digits"
        ),
    )
    stop_ratio = pround(F.col("n_stop") / F.col("n_toks"), 6)
    ttr = pround(F.col("n_types") / F.col("n_toks"), 6)
    mean_wlen = pround(F.col("n_chars") / F.col("n_toks"), 6)
    digit_ratio = pround(F.col("n_digits") / F.col("n_chars"), 6)
    z = pround(
        F.lit(QC_BIAS)
        + F.lit(QC_W_STOP) * stop_ratio
        + F.lit(QC_W_TTR) * ttr
        + F.lit(QC_W_WLEN) * mean_wlen
        + F.lit(QC_W_DIGIT) * digit_ratio,
        6,
    )
    score = pround(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    return (
        d.filter(F.col("n_toks") > 0)
        .select(
            "doc_id",
            "source",
            "n_toks",
            stop_ratio.alias("stop_ratio"),
            ttr.alias("ttr"),
            mean_wlen.alias("mean_wlen"),
            digit_ratio.alias("digit_ratio"),
            score.alias("score"),
            (score >= QC_KEEP_MIN).cast("int").alias("keep"),
        )
        .orderBy("doc_id")
    )


QUERIES["quality_classifier_score"] = quality_classifier_score

_SQL_QC_FEATURES = f"""
    SELECT doc_id, source,
           len(toks) AS n_toks,
           len(list_filter(toks, t -> t IN ({", ".join(
               f"'{w}'" for w in QC_STOPWORDS)}))) AS n_stop,
           len(list_distinct(toks)) AS n_types,
           length(nt) - (len(toks) - 1) AS n_chars,
           length(regexp_replace(nt, '[^0-9]', '', 'g')) AS n_digits
    FROM (
      SELECT doc_id, source,
             list_filter({SQL_TOKENS},
                         t -> t <> '') AS toks,
             {SQL_NORM} AS nt
      FROM documents
    ) d
"""

_SQL_QC_SCORED = f"""
    SELECT doc_id, source, n_toks,
           {sql_pround("n_stop::DOUBLE / n_toks", 6)} AS stop_ratio,
           {sql_pround("n_types::DOUBLE / n_toks", 6)} AS ttr,
           {sql_pround("n_chars::DOUBLE / n_toks", 6)} AS mean_wlen,
           {sql_pround("n_digits::DOUBLE / n_chars", 6)} AS digit_ratio
    FROM ({_SQL_QC_FEATURES}) f
    WHERE n_toks > 0
"""

_SQL_QC_Z = sql_pround(
    f"{QC_BIAS} + {QC_W_STOP} * stop_ratio + {QC_W_TTR} * ttr"
    f" + {QC_W_WLEN} * mean_wlen + {QC_W_DIGIT} * digit_ratio",
    6,
)

_SQL_QC_FULL = f"""
    SELECT doc_id, source, n_toks, stop_ratio, ttr, mean_wlen,
           digit_ratio,
           {sql_pround(f"1.0 / (1.0 + exp(-({_SQL_QC_Z})))", 6)} AS score
    FROM ({_SQL_QC_SCORED}) s
"""

ORACLES["quality_classifier_score"] = f"""
    SELECT doc_id, source, n_toks, stop_ratio, ttr, mean_wlen,
           digit_ratio, score,
           (CASE WHEN score >= {QC_KEEP_MIN} THEN 1 ELSE 0 END)::INT
             AS keep
    FROM ({_SQL_QC_FULL}) q
    ORDER BY doc_id
"""


# --- curriculum_phases ---------------------------------------------------

CURRICULUM_PHASES = 4  # training phases; phase N = highest quality


def curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-annealed curriculum: rank documents by classifier score
    and cut into CURRICULUM_PHASES equal phases — the final phase is the
    cleanest slice (quality annealing: end training on the best data).
    Per (phase, source): doc count, token sum, and the phase's score
    bounds — the manifest a dataloader reads to order shards.

    Determinism: ntile over (score, doc_id) is fully ordered, so phase
    assignment is identical cross-engine including score ties.

    Scale note: the exact ntile is one global sort; at corpus scale the
    cut points come from an approximate quantile of score (one pass +
    broadcast thresholds) — same phases, no global sort. The exact rank
    here keeps the contract hash-checkable."""
    scored = quality_classifier_score(spark, sf_dir).select(
        "doc_id", "source", "n_toks", "score"
    )
    w = Window.orderBy("score", "doc_id")
    return (
        scored.withColumn("phase", F.ntile(CURRICULUM_PHASES).over(w))
        .groupBy("phase", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("n_tokens"),
            F.min("score").alias("min_score"),
            F.max("score").alias("max_score"),
        )
        .orderBy("phase", "source")
    )


QUERIES["curriculum_phases"] = curriculum_phases

ORACLES["curriculum_phases"] = f"""
    WITH scored AS ({_SQL_QC_FULL}),
    phased AS (
      SELECT doc_id, source, n_toks, score,
             ntile({CURRICULUM_PHASES})
               OVER (ORDER BY score, doc_id) AS phase
      FROM scored
    )
    SELECT phase, source, count(*) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS n_tokens,
           min(score) AS min_score, max(score) AS max_score
    FROM phased
    GROUP BY phase, source
    ORDER BY phase, source
"""


# --- split_leakage_audit --------------------------------------------------


def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train->test n-gram leakage accounting (GPT-3-style
    decontamination, Brown et al. 2020 appendix C): for every TEST
    document under the repo's content-hash split, the number of its
    distinct 3-gram shingles that also occur in ANY train document, and
    the leak ratio. Exact-duplicate leakage is zero by construction
    (the split hashes normalized content); this audits the weaker
    n-gram overlap a decontamination pass would scrub.

    Scale: the shingle stream is persisted once and feeds (a) the
    per-shingle train-presence aggregate (vocabulary-sized) and (b) the
    test-side scoring join — two linear shuffles + one hash equi-join
    on the shingle, the exact shape of the dedup pipeline. No
    test x train doc join ever forms."""
    from ..caching import persisted as _persisted
    from .dedup import _shingle_arr

    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    sh = _persisted(
        docs.select(
            "doc_id",
            _split_col().alias("split"),
            F.explode(_shingle_arr(F.col("text"))).alias("sh"),
        )
    )
    trained = sh.groupBy("sh").agg(
        F.max(F.when(F.col("split") == "train", 1).otherwise(0)).alias(
            "in_train"
        )
    )
    test_sh = sh.filter(F.col("split") == "test")
    return (
        test_sh.join(trained, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum("in_train").cast("bigint").alias("n_leaked"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_leaked",
            pround(F.col("n_leaked") / F.col("n_shingles"), 6).alias(
                "leak_ratio"
            ),
        )
        .orderBy("doc_id")
    )


QUERIES["split_leakage_audit"] = split_leakage_audit

_SQL_SPLIT_SHINGLES = f"""
    SELECT doc_id,
           {_SQL_SPLIT_CASE} AS split,
           unnest(list_distinct(list_transform(
             range(1, greatest(len(toks) - 1, 1)),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
           ))) AS sh
    FROM (SELECT doc_id, text, {SQL_TOKENS} AS toks
          FROM documents) d
    WHERE len(toks) >= 3
"""

ORACLES["split_leakage_audit"] = f"""
    WITH sh AS ({_SQL_SPLIT_SHINGLES}),
    trained AS (
      SELECT sh AS g,
             max(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS in_train
      FROM sh GROUP BY sh
    )
    SELECT doc_id, count(*) AS n_shingles,
           CAST(sum(in_train) AS BIGINT) AS n_leaked,
           {sql_pround("sum(in_train)::DOUBLE / count(*)", 6)}
             AS leak_ratio
    FROM sh JOIN trained ON sh.sh = trained.g
    WHERE split = 'test'
    GROUP BY doc_id
    ORDER BY doc_id
"""


# --- doremi_domain_weights ------------------------------------------------

DOREMI_ETA = 1.0  # multiplicative-weights step size


def doremi_domain_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi domain reweighting (Xie et al. 2023, arXiv:2305.10429):
    one deterministic multiplicative-weights step. Each source's excess
    loss is its mean per-bigram NLL under the corpus bigram LM minus the
    corpus-wide mean (clipped at 0 — only HARDER-than-average domains
    are upweighted); the new weight is
    base_share * exp(ETA * excess), normalized. DoReMi proper trains a
    proxy model per step; the corpus's own bigram LM is the
    deterministic stand-in both engines can hash-check, and the
    multiplicative-weights algebra is the paper's.

    Determinism: per-instance ln p(bg) is 6dp-quantized, per-source
    sums fold through DECIMAL(28,6) (order-independent), the corpus
    mean derives from the SAME per-source sums (one arithmetic path,
    no second corpus pass), and exp of a 6dp-quantized double agrees
    cross-engine.

    Scale: the exploded bigram stream is persisted and feeds (a) ONE
    vocabulary-sized model aggregate and (b) the scoring join; the
    per-source relation is domains-sized (tiny) and every step after it
    is arithmetic over ~20 rows."""
    from .corpus import _bigram_arr
    from ..caching import persisted as _persisted

    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    bg = _persisted(
        docs.select(
            "source", F.explode(_bigram_arr(F.col("text"))).alias("bg")
        )
    )
    model = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("cnt"))
    total = model.agg(F.sum("cnt").alias("total"))
    per_src = (
        bg.join(model, "bg")
        .crossJoin(F.broadcast(total))
        .select(
            "source",
            pround(-F.log(F.col("cnt") / F.col("total")), 6).alias("nll"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.col("nll").cast("decimal(28,6)")).alias("nll_sum"),
        )
    )
    tot2 = per_src.agg(
        F.sum("n_bigrams").alias("n_all"),
        F.sum("nll_sum").alias("nll_all"),
    )
    stepped = per_src.crossJoin(F.broadcast(tot2)).select(
        "source",
        "n_bigrams",
        pround(
            F.col("nll_sum").cast("double") / F.col("n_bigrams"), 6
        ).alias("src_nll"),
        pround(F.col("nll_all").cast("double") / F.col("n_all"), 6).alias(
            "corpus_nll"
        ),
        pround(F.col("n_bigrams") / F.col("n_all"), 6).alias("base_share"),
    )
    excess = pround(
        F.greatest(F.col("src_nll") - F.col("corpus_nll"), F.lit(0.0)), 6
    )
    raw = pround(
        F.col("base_share") * F.exp(F.lit(DOREMI_ETA) * excess), 8
    )
    w_norm = Window.partitionBy()
    return (
        stepped.select(
            "source",
            "n_bigrams",
            "src_nll",
            excess.alias("excess_nll"),
            "base_share",
            raw.alias("raw_w"),
        )
        .withColumn(
            "weight",
            pround(
                F.col("raw_w")
                / F.sum(F.col("raw_w").cast("decimal(28,8)"))
                .over(w_norm)
                .cast("double"),
                6,
            ),
        )
        .select(
            "source",
            "n_bigrams",
            "src_nll",
            "excess_nll",
            "base_share",
            "weight",
        )
        .orderBy("source")
    )


QUERIES["doremi_domain_weights"] = doremi_domain_weights

_SQL_DOREMI_BG = f"""
    SELECT source,
           unnest(list_transform(
             range(1, len(toks)),
             i -> toks[i] || ' ' || toks[i+1]
           )) AS bg
    FROM (SELECT source, {SQL_TOKENS} AS toks
          FROM documents) d
    WHERE len(toks) >= 2
"""

ORACLES["doremi_domain_weights"] = f"""
    WITH bg AS ({_SQL_DOREMI_BG}),
    model AS (SELECT bg AS g, count(*) AS cnt FROM bg GROUP BY bg),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM model),
    per_src AS (
      SELECT source, count(*) AS n_bigrams,
             sum(({sql_pround("-ln(cnt::DOUBLE / total)", 6)}
                 )::DECIMAL(28,6)) AS nll_sum
      FROM bg JOIN model ON bg.bg = model.g, tot
      GROUP BY source
    ),
    tot2 AS (
      SELECT CAST(sum(n_bigrams) AS BIGINT) AS n_all,
             sum(nll_sum) AS nll_all
      FROM per_src
    ),
    stepped AS (
      SELECT source, n_bigrams,
             {sql_pround("(nll_sum)::DOUBLE / n_bigrams", 6)} AS src_nll,
             {sql_pround("(nll_all)::DOUBLE / n_all", 6)} AS corpus_nll,
             {sql_pround("n_bigrams::DOUBLE / n_all", 6)} AS base_share
      FROM per_src, tot2
    ),
    raw AS (
      SELECT source, n_bigrams, src_nll,
             {sql_pround(
                 "greatest(src_nll - corpus_nll, 0.0)", 6)} AS excess_nll,
             base_share,
             {sql_pround(
                 f"base_share * exp({DOREMI_ETA} * "
                 f"{sql_pround('greatest(src_nll - corpus_nll, 0.0)', 6)})",
                 8)} AS raw_w
      FROM stepped
    )
    SELECT source, n_bigrams, src_nll, excess_nll, base_share,
           {sql_pround(
               "raw_w / (sum((raw_w)::DECIMAL(28,8)) OVER ())::DOUBLE",
               6)} AS weight
    FROM raw
    ORDER BY source
"""


# --- knn_label_vote --------------------------------------------------------

KNN_K = 5
KNN_N_EVAL = 10  # vec_id < KNN_N_EVAL are the audited vectors


def knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out k-NN label audit: for each audited vector, the
    majority label among its KNN_K exact cosine neighbours (self
    excluded), vote count, and whether it matches the vector's own
    label — the classic label-noise screen run before training a
    classifier head on the embeddings.

    Determinism: neighbours rank by 9dp-rounded cosine with vec_id
    tie-break; the vote winner orders by (votes DESC, label ASC), so
    ties are stable cross-engine.

    Scale: the audited set broadcasts over the corpus (one scan, no
    corpus shuffle); everything after the per-query top-k is
    eval-set-sized. Auditing EVERY vector exactly is O(n^2) — at corpus
    scale the candidate set comes from the LSH/IVF bucket join
    (ann_lsh_topk / ann_ivf_kmeans_topk) and this exact form is the
    sampled-eval contract."""
    emb = load_table_spread(spark, sf_dir, "embeddings", "vec_id").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("e"),
        "label",
    )
    q = emb.filter(F.col("vec_id") < KNN_N_EVAL).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("label").alias("true_label"),
    )
    c = emb.select(
        F.col("vec_id").alias("match_id"),
        F.col("e").alias("ce"),
        F.col("label").alias("m_label"),
    )
    cos = cosine(F.col("qe"), F.col("ce"))
    w = Window.partitionBy("query_id").orderBy(
        pround(F.col("cos"), 9).desc(), F.col("match_id").asc()
    )
    nn = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("match_id"))
        .withColumn("cos", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
    )
    votes = nn.groupBy("query_id", "true_label", "m_label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("m_label").asc()
    )
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select(
            F.col("query_id").alias("vec_id"),
            "true_label",
            F.col("m_label").alias("pred_label"),
            "n_votes",
            (F.col("m_label") == F.col("true_label"))
            .cast("int")
            .alias("correct"),
        )
        .orderBy("vec_id")
    )


QUERIES["knn_label_vote"] = knn_label_vote

_SQL_VL = "SELECT vec_id, embedding::DOUBLE[] AS e, label FROM embeddings"

ORACLES["knn_label_vote"] = f"""
    WITH v AS ({_SQL_VL}),
    nn AS (
      SELECT query_id, true_label, m_label, rank FROM (
        SELECT q.vec_id AS query_id, q.label AS true_label,
               c.label AS m_label,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {sql_pround(sql_cosine("q.e", "c.e"), 9)} DESC,
                   c.vec_id ASC
               ) AS rank
        FROM v q JOIN v c ON q.vec_id < {KNN_N_EVAL}
                         AND q.vec_id <> c.vec_id
      ) r WHERE rank <= {KNN_K}
    ),
    votes AS (
      SELECT query_id, true_label, m_label, count(*) AS n_votes
      FROM nn GROUP BY query_id, true_label, m_label
    )
    SELECT query_id AS vec_id, true_label, m_label AS pred_label,
           n_votes,
           (CASE WHEN m_label = true_label THEN 1 ELSE 0 END)::INT
             AS correct
    FROM (
      SELECT *, row_number() OVER (
               PARTITION BY query_id
               ORDER BY n_votes DESC, m_label ASC) AS vr
      FROM votes
    ) f WHERE vr = 1
    ORDER BY vec_id
"""


# --- hard_negative_mining ---------------------------------------------------

HN_COS_MAX = 0.5  # embedding-cosine ceiling for a "hard" negative


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative pool for dense-retriever training (DPR, Karpukhin
    et al. 2020 §3.2): per BM25 query, the top-ranked document plays
    the positive; the remaining BM25 candidates are negatives, and the
    HARD ones are those the embedding space places far from the
    positive (cosine < HN_COS_MAX) despite their high lexical score —
    exactly the pairs that teach a dense model what BM25 gets wrong.

    Scale: the BM25 stage is the corpus-scale pass (vocabulary-filtered
    explode, see bm25_retrieval_topk); everything here joins the tiny
    (queries x k) candidate list to the embedding table on its key —
    two hash joins, output-sized work. The doc_id <-> vec_id alignment
    is the corpus contract (one embedding per document).

    Determinism: BM25 ranks are the oracle-checked ranks; the cosine is
    6dp-rounded before the flag comparison."""
    from .corpus import bm25_retrieval_topk
    from ..caching import persisted as _persisted
    from .similarity import _vectors

    # persisted: pos (rank==1) and neg (rank>1) both consume it — an
    # unpersisted branch would execute the corpus-scale BM25 plan twice
    ranked = _persisted(bm25_retrieval_topk(spark, sf_dir))
    pos = ranked.filter(F.col("rank") == 1).select(
        "query_id", F.col("doc_id").alias("pos_doc_id")
    )
    neg = ranked.filter(F.col("rank") > 1).select(
        "query_id",
        F.col("doc_id").alias("neg_doc_id"),
        F.col("rank").alias("bm25_rank"),
        F.col("score").alias("bm25_score"),
    )
    v = _vectors(spark, sf_dir)
    vp = v.select(F.col("vec_id").alias("pos_doc_id"), F.col("e").alias("pe"))
    vn = v.select(F.col("vec_id").alias("neg_doc_id"), F.col("e").alias("ne"))
    cos = pround(cosine(F.col("pe"), F.col("ne")), 6)
    return (
        neg.join(F.broadcast(pos), "query_id")
        .join(vp, "pos_doc_id")
        .join(vn, "neg_doc_id")
        .select(
            "query_id",
            "pos_doc_id",
            "neg_doc_id",
            "bm25_rank",
            "bm25_score",
            cos.alias("cos_to_pos"),
            (cos < HN_COS_MAX).cast("int").alias("is_hard"),
        )
        .orderBy("query_id", "bm25_rank")
    )


QUERIES["hard_negative_mining"] = hard_negative_mining

# spliced (not f-embedded) below: {BM25} is corpus.py's oracle verbatim
ORACLES["hard_negative_mining"] = f"""
    WITH ranked AS ({{BM25}}),
    v AS ({{SQLV}}),
    pos AS (
      SELECT query_id, doc_id AS pos_doc_id FROM ranked WHERE rank = 1
    ),
    neg AS (
      SELECT query_id, doc_id AS neg_doc_id, rank AS bm25_rank,
             score AS bm25_score
      FROM ranked WHERE rank > 1
    ),
    scored AS (
      SELECT n.query_id, p.pos_doc_id, n.neg_doc_id, n.bm25_rank,
             n.bm25_score,
             {sql_pround(sql_cosine("vp.e", "vn.e"), 6)} AS cos_to_pos
      FROM neg n
      JOIN pos p USING (query_id)
      JOIN v vp ON vp.vec_id = p.pos_doc_id
      JOIN v vn ON vn.vec_id = n.neg_doc_id
    )
    SELECT query_id, pos_doc_id, neg_doc_id, bm25_rank, bm25_score,
           cos_to_pos,
           (CASE WHEN cos_to_pos < {HN_COS_MAX} THEN 1 ELSE 0 END)::INT
             AS is_hard
    FROM scored
    ORDER BY query_id, bm25_rank
"""

from .corpus import ORACLES as _CORPUS_ORACLES  # noqa: E402
from .similarity import _SQL_V as _SIM_SQL_V  # noqa: E402

ORACLES["hard_negative_mining"] = (
    ORACLES["hard_negative_mining"]
    .replace("{BM25}", _CORPUS_ORACLES["bm25_retrieval_topk"])
    .replace("{SQLV}", _SIM_SQL_V)
)


# --- RHO-style reducible-loss selection --------------------------------------

RHO_K = 50  # selected batch size


def rho_loss_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reducible-holdout-loss data selection (RHO-loss, Mindermann et
    al. 2022, ICML — "prioritize points that are learnable, worth
    learning, and not yet learnt"): per document, reducible loss =
    loss under the GENERAL model minus loss under a REFERENCE model
    that has seen the doc's own domain. Here both models are bigram
    LMs (the lm_bigram_logprob machinery): general = corpus-wide MLE,
    reference = the doc's own source-domain MLE, so
    reducible = avg_logprob_domain − avg_logprob_corpus — high values
    mark docs the general model underfits RELATIVE to what their
    domain makes predictable, the top-RHO_K training batch a
    loss-based selector would feed next.

    Scale: the exploded bigram stream is persisted once and feeds
    three linear aggregates (corpus model, per-source model, per-doc
    score); the scoring joins are hash equi-joins against
    vocabulary-sized broadcast models, and the final cut is a
    TakeOrdered top-K, never a global sort. Cites reference scope:
    the reference has no data-selection surface; public recipe is the
    RHO paper + KenLM-style scoring as in CCNet (Wenzek et al. 2020).

    Determinism: both avg logprobs are decimal folds rounded 6dp, the
    reducible margin is derived from the ROUNDED pair, and the top-K
    orders by (reducible desc, doc_id)."""
    from ..caching import persisted as _persisted

    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    from .corpus import _bigram_arr

    bg = _persisted(
        docs.select(
            "doc_id",
            "source",
            F.explode(_bigram_arr(F.col("text"))).alias("bg"),
        )
    )
    # ONE corpus-scale model aggregate: the finest-grain (source, bg)
    # counts are persisted and the other three model relations are
    # vocabulary-sized re-aggregates of it (gcnt = Σ_sources dcnt
    # exactly — counts of disjoint row sets), where each used to be
    # its own corpus-scale groupBy over the persisted bigram stream
    # (4 broadcast builds × 1 corpus scan each)
    dmodel = _persisted(
        bg.groupBy("source", "bg").agg(F.count(F.lit(1)).alias("dcnt"))
    )
    gmodel = dmodel.groupBy("bg").agg(F.sum("dcnt").alias("gcnt"))
    gtotal = gmodel.agg(F.sum("gcnt").alias("gtotal"))
    dtotal = dmodel.groupBy("source").agg(
        F.sum("dcnt").alias("dtotal")
    )
    from ..functions.portable import davg

    scored = (
        bg.join(F.broadcast(gmodel), "bg")
        .join(F.broadcast(dmodel), ["source", "bg"])
        .join(F.broadcast(gtotal))
        .join(F.broadcast(dtotal), "source")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            davg(F.log(F.col("gcnt") / F.col("gtotal")), 6).alias(
                "lp_corpus"
            ),
            davg(F.log(F.col("dcnt") / F.col("dtotal")), 6).alias(
                "lp_domain"
            ),
        )
    )
    cut = (
        scored.select(
            "doc_id",
            "source",
            "n_bigrams",
            "lp_corpus",
            "lp_domain",
            pround(F.col("lp_domain") - F.col("lp_corpus"), 6).alias(
                "reducible"
            ),
        )
        .orderBy(F.desc("reducible"), "doc_id")
        .limit(RHO_K)
    )
    w = Window.orderBy(F.desc("reducible"), "doc_id")
    return cut.select(
        F.row_number().over(w).alias("rank"),
        "doc_id",
        "source",
        "n_bigrams",
        "lp_corpus",
        "lp_domain",
        "reducible",
    ).orderBy("rank")


QUERIES["rho_loss_selection"] = rho_loss_selection

from .corpus import sql_bigrams as _sql_bigrams  # noqa: E402

_SQL_BG_SRC = _sql_bigrams("source, ")


def _rho_sql() -> str:
    from ..functions.portable import sql_davg

    return f"""
        WITH bg AS ({_SQL_BG_SRC}),
        gmodel AS (SELECT bg AS g, count(*) AS gcnt FROM bg GROUP BY bg),
        gtot AS (SELECT CAST(sum(gcnt) AS BIGINT) AS gtotal FROM gmodel),
        dmodel AS (
          SELECT source, bg AS g, count(*) AS dcnt
          FROM bg GROUP BY source, bg
        ),
        dtot AS (
          SELECT source, CAST(sum(dcnt) AS BIGINT) AS dtotal
          FROM dmodel GROUP BY source
        ),
        scored AS (
          SELECT doc_id, bg.source, count(*) AS n_bigrams,
                 {sql_davg('ln(gcnt::DOUBLE / gtotal)', 6)} AS lp_corpus,
                 {sql_davg('ln(dcnt::DOUBLE / dtotal)', 6)} AS lp_domain
          FROM bg
          JOIN gmodel ON bg.bg = gmodel.g
          JOIN dmodel ON bg.source = dmodel.source AND bg.bg = dmodel.g
          JOIN dtot ON bg.source = dtot.source, gtot
          GROUP BY doc_id, bg.source
        ),
        cut AS (
          SELECT *,
                 {sql_pround('lp_domain - lp_corpus', 6)} AS reducible
          FROM scored
          ORDER BY reducible DESC, doc_id
          LIMIT {RHO_K}
        )
        SELECT CAST(row_number() OVER (
                 ORDER BY reducible DESC, doc_id) AS INT) AS rank,
               doc_id, source, n_bigrams, lp_corpus, lp_domain, reducible
        FROM cut
        ORDER BY rank
    """


ORACLES["rho_loss_selection"] = _rho_sql()


# --- classifier calibration (reliability diagram + ECE) --------------------

CAL_BINS = 10  # equal-width confidence bins over [0, 1]


def classifier_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + expected calibration error (Guo et al.
    2017, ICML — "On Calibration of Modern Neural Networks") for the
    linear quality classifier, scored against the Gopher rule gate as
    the reference label — the distillation audit a curation pipeline
    runs before swapping the expensive rule cascade for the cheap
    learned gate: per confidence bin, how often does "score ≈ 0.8"
    actually mean "80% of these docs pass the rules"? One row per
    occupied bin (confidence = mean score, accuracy = rule-pass rate,
    gap = |acc − conf|) with the n-weighted ECE repeated on every row.

    Determinism: scores are the 6dp-quantized sigmoid the classifier
    key already hash-checks; bin = floor(score·10) of identical
    doubles; per-bin means are decimal folds (davg); the ECE fold
    prounds each weight·gap term to 9dp BEFORE its DECIMAL(28,9) cast
    (boundary-free — the NMF fold lesson).

    Scale: the classifier pass is map-side; the rule flags are
    map-side; one doc-keyed join + a CAL_BINS-sized aggregate + a
    CAL_BINS-row window. Nothing after the join exceeds 10 rows."""
    from pyspark.sql.window import Window as W

    from .quality import _rule_flags

    scored = quality_classifier_score(spark, sf_dir).select(
        "doc_id", "score"
    )
    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    fail_any = (
        F.col("fail_word_count")
        | F.col("fail_mean_word_len")
        | F.col("fail_stopwords")
        | F.col("fail_repetition")
    )
    labeled = _rule_flags(docs).select(
        "doc_id", (~fail_any).cast("int").alias("label")
    )
    b = F.least(
        F.lit(CAL_BINS - 1), F.floor(F.col("score") * CAL_BINS)
    ).cast("int")
    bins = (
        scored.join(labeled, "doc_id")
        .groupBy(b.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            davg("score", 6).alias("avg_score"),
            davg("label", 6).alias("pass_rate"),
        )
    )
    w = W.partitionBy()
    gap = pround(F.abs(F.col("avg_score") - F.col("pass_rate")), 6)
    withgap = bins.select(
        "bin",
        "n_docs",
        "avg_score",
        "pass_rate",
        gap.alias("gap"),
        F.sum("n_docs").over(w).alias("total"),
    )
    term = pround(
        F.col("gap") * F.col("n_docs") / F.col("total"), 9
    )
    ece = F.sum(term.cast("decimal(28,9)")).over(w).cast("double")
    return (
        withgap.select(
            "bin",
            "n_docs",
            "avg_score",
            "pass_rate",
            "gap",
            pround(ece, 6).alias("ece"),
        )
        .orderBy("bin")
    )


QUERIES["classifier_calibration_bins"] = classifier_calibration_bins


def _calibration_sql() -> str:
    from .quality import _SQL_FLAGS

    return f"""
    WITH scored AS MATERIALIZED ({_SQL_QC_FULL}),
    labeled AS MATERIALIZED (
      SELECT doc_id,
             (CASE WHEN NOT (fail_word_count OR fail_mean_word_len
                             OR fail_stopwords OR fail_repetition)
                   THEN 1 ELSE 0 END) AS label
      FROM ({_SQL_FLAGS}) f
    ),
    bins AS MATERIALIZED (
      SELECT least({CAL_BINS - 1}, floor(score * {CAL_BINS}))::INT
               AS bin,
             count(*) AS n_docs,
             {sql_davg('score', 6)} AS avg_score,
             {sql_davg('label', 6)} AS pass_rate
      FROM scored JOIN labeled USING (doc_id)
      GROUP BY 1
    ),
    withgap AS MATERIALIZED (
      SELECT bin, n_docs, avg_score, pass_rate,
             {sql_pround('abs(avg_score - pass_rate)', 6)} AS gap,
             (sum(n_docs) OVER ()) AS total
      FROM bins
    )
    SELECT bin, n_docs, avg_score, pass_rate, gap,
           {sql_pround(
               "(sum(({p})::DECIMAL(28,9)) OVER ())::DOUBLE".format(
                   p=sql_pround('gap * n_docs / total', 9)
               ), 6
           )} AS ece
    FROM withgap
    ORDER BY bin
    """


ORACLES["classifier_calibration_bins"] = _calibration_sql()
