"""Sampling + clustering operators for training-data curation.

- ``stratified_doc_sample``: N docs per (source, lang) stratum, chosen
  by md5 rank — deterministic, partition-independent, and therefore
  fully oracle-checkable, unlike rand()-based sampleBy. At 100 TB this
  is one shuffle on the stratum key.
- ``dedup_clusters``: connected components over the near-duplicate
  pair graph (the step that turns pairwise dedup output into keep/drop
  decisions). Spark side: iterative min-label propagation — each
  iteration is one join + one aggregate, and the label of a component
  converges to its minimum doc_id (a unique fixpoint, so the result is
  iteration-order independent). Oracle: DuckDB recursive-CTE transitive
  closure reaching the same fixpoint by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..caching import persisted as _persisted
from ..functions.portable import SQL_NORM, pround, sql_pround, sql_uniform01
from .dedup import (
    TAU,
    _SQL_JACCARD_PAIRS,
    _jaccard_pairs,
    _shingles,
)

SAMPLE_PER_STRATUM = 5
CC_MAX_ITERS = 8  # min-label spreads 1 hop/iter; dup-cluster diameters are tiny


def stratified_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic N-per-stratum sample of documents."""
    from ..catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source", "lang").orderBy(
        F.md5(F.concat(F.lit("sample:"), F.col("doc_id"))), F.col("doc_id")
    )
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= SAMPLE_PER_STRATUM)
        .select("source", "lang", "doc_id", "n_chars", "rk")
    )


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the >= TAU near-dup graph: every doc in
    a duplicate cluster labeled with the cluster's min doc_id and a
    keep flag for the representative."""
    pairs = _persisted(
        _jaccard_pairs(_persisted(_shingles(spark, sf_dir))).filter(
            F.col("jaccard") >= TAU
        )
    )  # consumed twice by the undirected-edge union
    edges = _persisted(
        pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
        .unionByName(
            pairs.select(
                F.col("b_id").alias("src"), F.col("a_id").alias("dst")
            )
        )
        .distinct()
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
    )
    # Truncate lineage every round: without it the plan nests one
    # join+aggregate per iteration and analysis/codegen blows up
    # (classic iterative-algorithm failure mode; GraphX/Pregel
    # checkpoint the same way). The labels relation is tiny (one row
    # per doc in any duplicate pair).
    labels = labels.localCheckpoint(eager=True)
    for _ in range(CC_MAX_ITERS):
        prev = labels
        neighbor_min = (
            edges.join(
                labels.withColumnRenamed("doc_id", "dst").withColumnRenamed(
                    "label", "nbr_label"
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.min("nbr_label").alias("nbr_min"))
        )
        labels = (
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    "label", F.coalesce("nbr_min", F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        # converged when no label moved this round; min-label spreads
        # one hop per iteration, so chains longer than the iteration
        # cap would otherwise be silently mislabeled
        changed = (
            labels.alias("new")
            .join(prev.alias("old"), "doc_id")
            .filter(F.col("new.label") != F.col("old.label"))
            .count()
        )
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"dedup_clusters did not converge in {CC_MAX_ITERS} rounds; "
            "raise CC_MAX_ITERS (component diameter exceeds the cap)"
        )
    return labels.select(
        "doc_id",
        F.col("label").alias("cluster_id"),
        (F.col("doc_id") == F.col("label")).cast("int").alias("is_rep"),
    )


def dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation verdict per document: keep iff it is BOTH the
    exact-hash representative (min doc_id of its normalized-text group)
    AND, when it belongs to a near-dup cluster, that cluster's
    representative. This is the final output a training-data pipeline
    actually consumes; the pairwise/cluster queries are its audit trail.
    """
    from ..catalog import load_table
    from .dedup import dedup_exact

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    exact = dedup_exact(spark, sf_dir).select(
        F.col("keep_doc_id").alias("doc_id"),
        F.lit(1).alias("exact_rep"),
    )
    clusters = dedup_clusters(spark, sf_dir).select(
        "doc_id", "cluster_id", "is_rep"
    )
    return (
        docs.join(F.broadcast(exact), "doc_id", "left")
        .join(F.broadcast(clusters), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("exact_rep", F.lit(0)).alias("exact_rep"),
            "cluster_id",
            (
                (F.coalesce("exact_rep", F.lit(0)) == 1)
                & (F.coalesce("is_rep", F.lit(1)) == 1)
            )
            .cast("int")
            .alias("keep"),
        )
    )


QUERIES = {
    "stratified_doc_sample": stratified_doc_sample,
    "dedup_clusters": dedup_clusters,
    "dedup_keep_list": dedup_keep_list,
}

ORACLES = {
    "stratified_doc_sample": f"""
        SELECT source, lang, doc_id, n_chars, rk
        FROM (
          SELECT source, lang, doc_id, n_chars,
                 row_number() OVER (
                   PARTITION BY source, lang
                   ORDER BY md5('sample:' || doc_id::VARCHAR), doc_id
                 ) AS rk
          FROM documents
        ) s
        WHERE rk <= {SAMPLE_PER_STRATUM}
    """,
    "dedup_keep_list": f"""
        WITH RECURSIVE exact AS (
          SELECT min(doc_id) AS doc_id, 1 AS exact_rep
          FROM (SELECT doc_id, md5({SQL_NORM}) AS h FROM documents) x
          GROUP BY h
        ),
        pairs AS (
          SELECT a_id, b_id FROM ({_SQL_JACCARD_PAIRS}) p
          WHERE jaccard >= {TAU}
        ),
        cedges AS (
          SELECT a_id AS src, b_id AS dst FROM pairs
          UNION
          SELECT b_id AS src, a_id AS dst FROM pairs
        ),
        reach(src, dst) AS (
          SELECT src, src FROM cedges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN cedges e ON e.src = r.dst
        ),
        clusters AS (
          SELECT src AS doc_id, min(dst) AS cluster_id,
                 CASE WHEN src = min(dst) THEN 1 ELSE 0 END AS is_rep
          FROM reach GROUP BY src
        )
        SELECT d.doc_id,
               coalesce(e.exact_rep, 0) AS exact_rep,
               c.cluster_id,
               (CASE WHEN coalesce(e.exact_rep, 0) = 1
                      AND coalesce(c.is_rep, 1) = 1
                     THEN 1 ELSE 0 END)::INT AS keep
        FROM documents d
        LEFT JOIN exact e ON e.doc_id = d.doc_id
        LEFT JOIN clusters c ON c.doc_id = d.doc_id
    """,
    "dedup_clusters": f"""
        WITH RECURSIVE pairs AS (
          SELECT a_id, b_id FROM ({_SQL_JACCARD_PAIRS}) p
          WHERE jaccard >= {TAU}
        ),
        edges AS (
          SELECT a_id AS src, b_id AS dst FROM pairs
          UNION
          SELECT b_id AS src, a_id AS dst FROM pairs
        ),
        reach(src, dst) AS (
          SELECT src, src FROM edges
          UNION
          SELECT r.src, e.dst
          FROM reach r JOIN edges e ON e.src = r.dst
        )
        SELECT src AS doc_id,
               min(dst) AS cluster_id,
               (CASE WHEN src = min(dst) THEN 1 ELSE 0 END)::INT AS is_rep
        FROM reach
        GROUP BY src
    """,
}


def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection per near-dup cluster: instead
    of dedup_clusters' positional min-doc_id representative, keep the
    member with the HIGHEST quality_score (tie: lowest doc_id) — the
    RefinedWeb/FineWeb-style rule that near-dup collapsing should
    retain the best copy, not an arbitrary one. Reported next to the
    naive representative so the audit shows what the quality rule
    gains (quality_gain >= 0 by construction; 0 where the min-id doc
    already was the best copy).

    Exact-dup groups are deliberately NOT re-ranked: identical
    normalized text has identical quality, so the min-id rule is
    already optimal there (dedup_exact / dedup_keep_list own that
    tier).

    Scale: the cluster relation and the per-doc quality relation join
    on doc_id (one hash join), then ONE window partitioned by
    cluster_id computes the ranked keeper, the member count, and the
    naive representative's quality in a single pass; clusters are
    near-dup components, orders of magnitude smaller than the corpus."""
    from .textops import quality_score

    cl = dedup_clusters(spark, sf_dir).select("cluster_id", "doc_id")
    q = quality_score(spark, sf_dir).select("doc_id", "quality")
    j = cl.join(q, "doc_id").select("cluster_id", "doc_id", "quality")
    wp = Window.partitionBy("cluster_id")
    w = wp.orderBy(F.col("quality").desc(), F.col("doc_id").asc())
    rep = F.min(F.struct("doc_id", "quality")).over(wp)
    return (
        j.select(
            "*",
            F.row_number().over(w).alias("rk"),
            F.count(F.lit(1)).over(wp).alias("n_members"),
            rep.getField("doc_id").alias("rep_doc_id"),
            rep.getField("quality").alias("rep_quality"),
        )
        .filter(F.col("rk") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("keep_doc_id"),
            "rep_doc_id",
            "n_members",
            F.col("quality").alias("best_quality"),
            "rep_quality",
            pround(F.col("quality") - F.col("rep_quality"), 6).alias(
                "quality_gain"
            ),
        )
        .orderBy("cluster_id")
    )


QUERIES["dedup_keep_best_quality"] = dedup_keep_best_quality


def _keep_best_quality_oracle() -> str:
    from .textops import ORACLES as _TEXT_ORACLES

    return f"""
    WITH cl AS ({ORACLES["dedup_clusters"]}),
    q AS ({_TEXT_ORACLES["quality_score"]}),
    j AS (
      SELECT cl.cluster_id, cl.doc_id, q.quality
      FROM cl JOIN q USING (doc_id)
    ),
    agg AS (
      SELECT cluster_id, count(*) AS n_members,
             min(doc_id) AS rep_doc_id
      FROM j GROUP BY cluster_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY cluster_id
               ORDER BY quality DESC, doc_id ASC) AS rk
      FROM j
    )
    SELECT r.cluster_id, r.doc_id AS keep_doc_id, a.rep_doc_id,
           a.n_members, r.quality AS best_quality,
           rq.quality AS rep_quality,
           {sql_pround("r.quality - rq.quality", 6)} AS quality_gain
    FROM ranked r
    JOIN agg a USING (cluster_id)
    JOIN j rq ON rq.cluster_id = r.cluster_id
             AND rq.doc_id = a.rep_doc_id
    WHERE r.rk = 1
    ORDER BY r.cluster_id
"""


ORACLES["dedup_keep_best_quality"] = _keep_best_quality_oracle()


# --- weighted reservoir sampling (Efraimidis & Spirakis 2006) -------------

WRS_K = 100  # sample size


def weighted_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional document sample without replacement — the
    A-ES scheme (Efraimidis & Spirakis 2006, IPL 97(5)): each doc gets
    the key u^(1/w) for a uniform u, and the top-K keys ARE a sample
    where inclusion probability is proportional to weight w (here
    n_chars: a token-budget-proportional draw, the shape a "sample 1%
    of tokens, not 1% of docs" curation request needs).

    This is THE distributed weighted sample: one map-side key per row
    and a top-K — no sequential reservoir, no rejection loop, no
    global sort (TakeOrdered); merges across partitions/streams by
    just keeping the K largest keys. rand()-based weighted sampling
    is not reproducible across retries/partitionings; the md5-derived
    uniform makes the draw deterministic and fully oracle-checkable.

    Determinism: u = (hash60(doc_id)+1)/2^60 in (0,1]; the rank key is
    the monotone log form ln(u)/w (identical ordering to u^(1/w),
    no libm pow), 9dp-quantized before ranking with doc_id tie-break."""
    from ..catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    return wrs_top_k(wrs_keyed(docs), WRS_K)


def wrs_keyed(docs: DataFrame) -> DataFrame:
    """(doc_id, weight, skey) A-ES sample keys for a documents-shaped
    frame — THE keying rule, shared by the batch operator and the
    streaming sample-maintenance twin (streaming/pipeline.py) so the
    two can never drift. Content-derived (md5 of doc_id): a redelivered
    doc produces the SAME key, which is what makes the streaming merge
    idempotent."""
    from ..functions.portable import uniform01

    u = uniform01(F.concat(F.lit("wrs:"), F.col("doc_id")))
    return docs.filter(F.col("n_chars") > 0).select(
        "doc_id",
        F.col("n_chars").alias("weight"),
        pround(F.log(u) / F.col("n_chars"), 9).alias("skey"),
    )


def wrs_top_k(keyed: DataFrame, k: int) -> DataFrame:
    """Ranked top-k of A-ES-keyed rows. Mergeable by construction: the
    top-k of a union equals the top-k of per-part top-ks, so the same
    function ranks the one-shot batch sample AND every streaming merge
    step.

    The k-cut is sort+limit, which Spark executes as
    TakeOrderedAndProject — per-partition bounded top-k heaps merged at
    the driver, never a global sort (round-7 advice: the previous
    unpartitioned-window rank moved the whole keyed relation into one
    task). Only the k survivors see the ranking window."""
    cut = keyed.orderBy(
        F.col("skey").desc(), F.col("doc_id").asc()
    ).limit(k)
    w = Window.orderBy(F.col("skey").desc(), F.col("doc_id").asc())
    return (
        cut.withColumn("rank", F.row_number().over(w))
        .select("rank", "doc_id", "weight", "skey")
        .orderBy("rank")
    )


QUERIES["weighted_reservoir_sample"] = weighted_reservoir_sample

_WRS_U = sql_uniform01("'wrs:' || doc_id")

ORACLES["weighted_reservoir_sample"] = f"""
    WITH keyed AS (
      SELECT doc_id, n_chars AS weight,
             {sql_pround(f"ln({_WRS_U}) / n_chars", 9)} AS skey
      FROM documents WHERE n_chars > 0
    )
    SELECT rank, doc_id, weight, skey FROM (
      SELECT *, row_number() OVER (
               ORDER BY skey DESC, doc_id ASC) AS rank
      FROM keyed
    ) r WHERE rank <= {WRS_K}
    ORDER BY rank
"""
