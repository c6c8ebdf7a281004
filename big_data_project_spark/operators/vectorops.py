"""Round-4 vector-infrastructure audits over the embeddings table:
int8 quantization error (the memory-4x step every large-scale ANN
deployment applies before sharding an index) and per-dimension corpus
statistics (dead/degenerate dimension detection before choosing an
index or a projection).

The reference has no vector surface (its feature space is the demand
model's, src/ml/train_predict.py); these extend the similarity family
(operators/similarity.py) with the operational checks run before
serving vectors at 100 TB.

Scale design:
- ``embedding_quantize_audit`` is pure map-side array math (transform /
  fold inside one projection) — embarrassingly parallel, no shuffle
  except the output sort.
- ``embedding_dim_stats`` explodes to (dim_idx, value) and aggregates
  once on dim_idx — a single corpus-scale shuffle whose output is
  dimension-sized (64 rows here, a few thousand anywhere), with
  decimal-exact folds so the stats are engine- and order-identical.

Portability: quantization rounds with the floor(x + 0.5) form (Spark
round() is HALF_UP, DuckDB's is half-to-even — they disagree exactly on
the .5 grid a quantizer lands on); per-element double arithmetic and
left-to-right array folds are bit-identical across engines (the
``dot`` / ``l2norm`` folds of functions/portable.py).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.portable import (
    davg,
    dot,
    dsum_exact,
    l2norm,
    pround,
    sql_davg,
    sql_pround,
)

QBITS_MAX = 127  # symmetric int8: q in [-127, 127]
_EPS = 1e-12  # zero-vector guard: scale never divides by zero


def embedding_quantize_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization audit: scale =
    max|x|/127, q_i = clamp(floor(x_i/scale + 0.5)), reconstruction
    x'_i = q_i * scale; reports the scale, reconstruction RMSE, worst
    per-dimension error, and the cosine between original and
    reconstruction — the numbers that decide whether an index can serve
    int8 (cos ~0.999+) or must stay float."""
    emb = load_table(spark, sf_dir, "embeddings")
    # Stage e -> scale -> rec as materialized columns: inlining `scale`
    # (which embeds an array_max over the whole vector) into a per-
    # element lambda makes every element recompute the max — O(d^2) per
    # vector per consumer expression. Catalyst's CollapseProject keeps
    # multiply-referenced non-trivial aliases as separate projections,
    # so each array below is computed exactly once per row.
    staged = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    max_abs = F.array_max(F.transform(F.col("e"), lambda x: F.abs(x)))
    staged = staged.withColumn(
        "scale",
        F.greatest(max_abs, F.lit(_EPS)) / F.lit(float(QBITS_MAX)),
    )
    s = F.col("scale")
    rec = F.transform(
        F.col("e"),
        lambda x: F.greatest(
            F.lit(-float(QBITS_MAX)),
            F.least(
                F.lit(float(QBITS_MAX)),
                F.floor(x / s + F.lit(0.5)).cast("double"),
            ),
        )
        * s,
    )
    staged = staged.withColumn("rec", rec)
    err2 = F.zip_with(
        F.col("e"), F.col("rec"), lambda a, b: (a - b) * (a - b)
    )
    sq_err = F.aggregate(err2, F.lit(0.0), lambda acc, x: acc + x)
    max_err = F.array_max(
        F.zip_with(F.col("e"), F.col("rec"), lambda a, b: F.abs(a - b))
    )
    norm_e, norm_r = l2norm(F.col("e")), l2norm(F.col("rec"))
    return (
        staged.select(
            "vec_id",
            F.size("e").alias("dim"),
            pround(s, 9).alias("scale"),
            pround(F.sqrt(sq_err / F.size("e")), 9).alias("rmse"),
            pround(max_err, 9).alias("max_abs_err"),
            pround(
                dot(F.col("e"), F.col("rec"))
                / F.greatest(norm_e * norm_r, F.lit(_EPS)),
                6,
            ).alias("cos_recon"),
        )
        .orderBy("vec_id")
    )


def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension corpus statistics: n, mean, min, max, std for every
    embedding dimension — the audit that catches dead (zero-variance)
    or runaway dimensions before an index/projection choice. One
    shuffle on dim_idx; decimal-exact mean/variance folds."""
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim_idx", "x"
        )
    )
    x = F.col("x")
    agg = exploded.groupBy("dim_idx").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum(x.cast("decimal(28,6)")).cast("double").alias("sx"),
        F.sum((x * x).cast("decimal(28,6)")).cast("double").alias("sxx"),
        pround(F.min(x), 6).alias("min_val"),
        pround(F.max(x), 6).alias("max_val"),
    )
    mean = F.col("sx") / F.col("n_vectors")
    var = F.col("sxx") / F.col("n_vectors") - mean * mean
    return (
        agg.select(
            "dim_idx",
            "n_vectors",
            pround(mean, 6).alias("mean_val"),
            "min_val",
            "max_val",
            pround(F.sqrt(F.greatest(var, F.lit(0.0))), 6).alias(
                "std_val"
            ),
        )
        .orderBy("dim_idx")
    )


def label_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-separation audit: cosine similarity between the per-label
    mean embedding vectors, for every unordered label pair — near-1.0
    pairs are classes an embedding-space classifier (or an IVF
    partitioner keyed on labels) cannot separate. Complements
    embedding_label_outliers (within-class spread) with the
    between-class view.

    Determinism: per-(label, dim) means are decimal-exact folds rounded
    to 6 dp; the pair dot/norm sums then fold PRODUCTS of those rounded
    doubles as DECIMAL(28,6), so every number is engine- and
    order-identical.

    Scale: one corpus-scale shuffle to the (label x dim)-sized centroid
    relation; the pair join is an equi-join on dim_idx over that tiny
    relation (|labels|^2 x dims intermediate), nowhere near the corpus.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim_idx", "x"
        ),
    )
    x = F.col("x")
    cent = exploded.groupBy("label", "dim_idx").agg(
        F.count(F.lit(1)).alias("n_vec"),
        pround(
            F.sum(x.cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("m"),
    )
    a = cent.select(
        F.col("label").alias("label_a"),
        "dim_idx",
        F.col("m").alias("ma"),
        F.col("n_vec").alias("n_a"),
    )
    b = cent.select(
        F.col("label").alias("label_b"),
        "dim_idx",
        F.col("m").alias("mb"),
        F.col("n_vec").alias("n_b"),
    )

    agg = (
        a.join(b, "dim_idx")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
            F.count(F.lit(1)).alias("n_dims"),
            dsum_exact(F.col("ma") * F.col("mb")).alias("dot"),
            dsum_exact(F.col("ma") * F.col("ma")).alias("na2"),
            dsum_exact(F.col("mb") * F.col("mb")).alias("nb2"),
        )
    )
    cosine = F.when(
        (F.col("na2") > 0) & (F.col("nb2") > 0),
        F.col("dot") / F.sqrt(F.col("na2") * F.col("nb2")),
    )
    return agg.select(
        "label_a",
        "label_b",
        "n_a",
        "n_b",
        "n_dims",
        pround(cosine, 6).alias("centroid_cosine"),
    ).orderBy("label_a", "label_b")


QUERIES = {
    "embedding_quantize_audit": embedding_quantize_audit,
    "embedding_dim_stats": embedding_dim_stats,
    "label_centroid_similarity": label_centroid_similarity,
}

_SQL_E = "list_transform(embedding, x -> x::DOUBLE)"

# dequantized element (clamp . round-half-up . scale) — inlined per use
# so the lambda only captures e's element and the scale column
_SQL_RECON = (
    f"(greatest(-{float(QBITS_MAX)}, least({float(QBITS_MAX)}, "
    "floor(x / scale + 0.5))) * scale)"
)

ORACLES = {
    "embedding_quantize_audit": f"""
        WITH base AS (
          SELECT vec_id, {_SQL_E} AS e,
                 greatest(
                   list_max(list_transform({_SQL_E}, x -> abs(x))),
                   {_EPS}
                 ) / {float(QBITS_MAX)} AS scale
          FROM embeddings
        ),
        m AS (
          SELECT vec_id, len(e) AS dim, scale,
                 list_sum(list_transform(e,
                   x -> (x - {_SQL_RECON}) * (x - {_SQL_RECON})))
                   AS sq_err,
                 list_max(list_transform(e,
                   x -> abs(x - {_SQL_RECON}))) AS max_err,
                 list_sum(list_transform(e,
                   x -> x * {_SQL_RECON})) AS dot,
                 sqrt(list_sum(list_transform(e, x -> x * x))) AS norm_e,
                 sqrt(list_sum(list_transform(e,
                   x -> {_SQL_RECON} * {_SQL_RECON}))) AS norm_r
          FROM base
        )
        SELECT vec_id, dim,
               {sql_pround('scale', 9)} AS scale,
               {sql_pround('sqrt(sq_err / dim)', 9)} AS rmse,
               {sql_pround('max_err', 9)} AS max_abs_err,
               {sql_pround(
                   'dot / greatest(norm_e * norm_r, ' + str(_EPS) + ')',
                   6)} AS cos_recon
        FROM m
        ORDER BY vec_id
    """,
    "embedding_dim_stats": f"""
        WITH x AS (
          SELECT unnest(range(0, len(embedding))) AS dim_idx,
                 unnest({_SQL_E}) AS x
          FROM embeddings
        ),
        s AS (
          SELECT dim_idx, count(*) AS n_vectors,
                 (sum((x)::DECIMAL(28,6)))::DOUBLE AS sx,
                 (sum((x * x)::DECIMAL(28,6)))::DOUBLE AS sxx,
                 {sql_pround('min(x)', 6)} AS min_val,
                 {sql_pround('max(x)', 6)} AS max_val
          FROM x GROUP BY dim_idx
        )
        SELECT dim_idx, n_vectors,
               {sql_pround('sx / n_vectors', 6)} AS mean_val,
               min_val, max_val,
               {sql_pround(
                   'sqrt(greatest(sxx / n_vectors '
                   '- (sx / n_vectors) * (sx / n_vectors), 0.0))',
                   6)} AS std_val
        FROM s
        ORDER BY dim_idx
    """,
    "label_centroid_similarity": f"""
        WITH x AS (
          SELECT label,
                 unnest(range(0, len(embedding))) AS dim_idx,
                 unnest({_SQL_E}) AS x
          FROM embeddings
        ),
        cent AS (
          SELECT label, dim_idx, count(*) AS n_vec,
                 {sql_pround(
                     '(sum((x)::DECIMAL(28,6)))::DOUBLE / count(*)',
                     6)} AS m
          FROM x GROUP BY label, dim_idx
        ),
        s AS (
          SELECT a.label AS label_a, b.label AS label_b,
                 max(a.n_vec) AS n_a, max(b.n_vec) AS n_b,
                 count(*) AS n_dims,
                 (sum((a.m * b.m)::DECIMAL(28,6)))::DOUBLE AS dot,
                 (sum((a.m * a.m)::DECIMAL(28,6)))::DOUBLE AS na2,
                 (sum((b.m * b.m)::DECIMAL(28,6)))::DOUBLE AS nb2
          FROM cent a
          JOIN cent b ON a.dim_idx = b.dim_idx AND a.label < b.label
          GROUP BY a.label, b.label
        )
        SELECT label_a, label_b, n_a, n_b, n_dims,
               CASE WHEN na2 > 0 AND nb2 > 0 THEN
                 {sql_pround('dot / sqrt(na2 * nb2)', 6)}
               END AS centroid_cosine
        FROM s
        ORDER BY label_a, label_b
    """,
}


GRAM_DIM = 64  # embedding dimensionality of the corpus table
GRAM_SCALE = 1_000_000  # 1e-6 quantization of per-row products


def embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncentered Gram (second-moment) matrix of the embedding table —
    the d x d statistic PCA / whitening / OPQ rotation all start from,
    computed the one way that scales: a single Arrow-batched
    mapInPandas pass emits PER-PARTITION partial matrices (d^2 rows
    each), and a tiny (d^2)-sized aggregate combines them. The corpus
    crosses the Python boundary once; nothing row-sized is shuffled.

    Determinism: each per-row product e_i*e_j is evaluated in float64
    from the stored float32 values (numpy upcast == both engines'
    FLOAT->DOUBLE promotion), quantized to an exact 1e-6 integer
    BEFORE summation, and every downstream sum is int64 — order- and
    partitioning-independent by construction. The oracle replays the
    identical quantized sum via list indexing.

    Scale: one corpus pass, d^2 x n_partitions intermediate rows, one
    (i, j)-keyed combine. At 100 TB the partials stay d^2-sized per
    task; only the final 4096-row aggregate is global."""
    import numpy as np
    import pandas as pd

    d = GRAM_DIM
    scale = float(GRAM_SCALE)

    def gram_partials(batches):
        acc = np.zeros((d, d), dtype=np.int64)
        seen = False
        for pdf in batches:
            if pdf.empty:
                continue
            e = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            # chunked outer products keep peak memory ~8 MB
            for lo in range(0, e.shape[0], 256):
                chunk = e[lo : lo + 256]
                prods = np.einsum("ri,rj->rij", chunk, chunk)
                acc += np.floor(prods * scale + 0.5).astype(
                    np.int64
                ).sum(axis=0)
            seen = True
        if seen:
            ii, jj = np.meshgrid(range(d), range(d), indexing="ij")
            yield pd.DataFrame(
                {
                    "i": (ii + 1).ravel().astype("int32"),
                    "j": (jj + 1).ravel().astype("int32"),
                    "units": acc.ravel(),
                }
            )

    emb = load_table(spark, sf_dir, "embeddings").select("embedding")
    partials = emb.mapInPandas(
        gram_partials, schema="i int, j int, units long"
    )
    return (
        partials.groupBy("i", "j")
        .agg(F.sum("units").alias("u"))
        .select(
            "i",
            "j",
            pround(F.col("u") / F.lit(float(GRAM_SCALE)), 4).alias(
                "gram"
            ),
        )
        .orderBy("i", "j")
    )


QUERIES["embedding_gram_matrix"] = embedding_gram_matrix

ORACLES["embedding_gram_matrix"] = f"""
    SELECT i::INT AS i, j::INT AS j,
           {sql_pround(
               "(sum((floor(embedding[i]::DOUBLE * embedding[j]::DOUBLE"
               f" * {GRAM_SCALE} + 0.5))::BIGINT))::DOUBLE"
               f" / {GRAM_SCALE}", 4
           )} AS gram
    FROM embeddings,
         generate_series(1, {GRAM_DIM}) g1(i),
         generate_series(1, {GRAM_DIM}) g2(j)
    GROUP BY i, j ORDER BY i, j
"""


PCA_TOP_K = 16  # components reported by the variance audit


def embedding_pca_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA spectrum of the embedding table — the dimensionality audit
    run before choosing a projection/compression rank (how many
    components carry 95% of the variance?). Computed the one way that
    scales: the quantized d x d second-moment matrix and the per-dim
    decimal means come from single distributed passes
    (embedding_gram_matrix's mapInPandas combine + one posexplode
    aggregate); the covariance assembly and eigendecomposition run on
    the driver over d^2 = 4096 numbers — O(d^3) CONSTANT work,
    independent of corpus size (the same split as the IVF k-means fit:
    corpus-scale passes distributed, tiny-model math local).

    Rows-only by design (declared in SURVEY §2): an eigendecomposition
    is not ANSI-SQL-expressible; the test bounds the spectrum against
    numpy over the raw vectors.

    Determinism: the Gram units and means are exactly quantized
    (order-independent integer/decimal sums), so the driver sees a
    bit-identical covariance on every run; eigh of an identical
    symmetric matrix is deterministic."""
    import numpy as np

    from ..functions.portable import davg

    d = GRAM_DIM
    gram_rows = embedding_gram_matrix(spark, sf_dir).collect()
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(F.posexplode("embedding").alias("dim", "x"))
    # n rides the means aggregate (every dim group has exactly n rows)
    # — no separate count() pass over the corpus
    mean_rows = (
        dims.groupBy("dim")
        .agg(
            davg(F.col("x").cast("double"), 6).alias("m"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    n = mean_rows[0].n
    g = np.zeros((d, d))
    for r in gram_rows:
        g[r.i - 1, r.j - 1] = r.gram
    mu = np.zeros(d)
    for r in mean_rows:
        mu[r.dim] = r.m
    cov = g / n - np.outer(mu, mu)
    evals = np.linalg.eigvalsh(cov)[::-1]  # descending
    total = float(evals.sum())
    rows = []
    cum = 0.0
    for k in range(PCA_TOP_K):
        ev = float(evals[k])
        evr = ev / total
        cum += evr
        rows.append(
            (
                k + 1,
                math.floor(ev * 1e6 + 0.5) / 1e6,
                math.floor(evr * 1e6 + 0.5) / 1e6,
                math.floor(cum * 1e6 + 0.5) / 1e6,
            )
        )
    return spark.createDataFrame(
        rows,
        "component int, eigenvalue double, explained_var double, "
        "cum_explained_var double",
    )


QUERIES["embedding_pca_variance"] = embedding_pca_variance


def pca_gram_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean / second-moment / variance table — the
    SQL-expressible invariant slice of the PCA audit (round-6 verdict
    item 4). `embedding_pca_variance` is rows-only by nature (an
    eigendecomposition is not ANSI SQL), but the matrix it
    eigendecomposes satisfies exact relations this key puts under the
    driver's full hash gate: the eigenvalue sum equals the covariance
    trace, which equals the sum of this table's `variance` column
    (asserted in tests) — so a wrong distributed Gram/mean pass now
    fails an ORACLE-BACKED key instead of hiding behind a rows-only
    row.

    Scale: diagonal-only work — one posexplode aggregate over the
    corpus (the same single-shuffle shape as embedding_dim_stats), no
    d x d fan-out, output d rows.

    Determinism: per-row x*x quantized to exact 1e-6 integer units
    before the int64 sum (embedding_gram_matrix's rule, i = j slice);
    means via exact decimal folds; one closed-form subtraction, rounded
    6 dp on both engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim0", "x"
        )
    )
    scale = float(GRAM_SCALE)
    per_dim = dims.groupBy("dim0").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        davg(F.col("x"), 6).alias("mean"),
        F.sum(
            F.floor(F.col("x") * F.col("x") * scale + F.lit(0.5)).cast(
                "long"
            )
        ).alias("u2"),
    )
    second = F.col("u2") / F.lit(scale) / F.col("n_vecs")
    return per_dim.select(
        (F.col("dim0") + 1).cast("int").alias("dim"),
        "n_vecs",
        "mean",
        pround(second, 6).alias("second_moment"),
        pround(second - F.col("mean") * F.col("mean"), 6).alias(
            "variance"
        ),
    ).orderBy("dim")


QUERIES["pca_gram_invariants"] = pca_gram_invariants

ORACLES["pca_gram_invariants"] = f"""
    WITH x AS (
      SELECT dim, embedding[dim]::DOUBLE AS x
      FROM embeddings, generate_series(1, {GRAM_DIM}) g(dim)
    ),
    a AS (
      SELECT dim, count(*) AS n_vecs,
             {sql_davg('x', 6)} AS mean,
             sum((floor(x * x * {GRAM_SCALE} + 0.5))::BIGINT) AS u2
      FROM x GROUP BY dim
    )
    SELECT dim::INT AS dim, n_vecs, mean,
           {sql_pround(f'u2::DOUBLE / {GRAM_SCALE} / n_vecs', 6)}
             AS second_moment,
           {sql_pround(
               f'u2::DOUBLE / {GRAM_SCALE} / n_vecs - mean * mean', 6
           )} AS variance
    FROM a ORDER BY dim
"""
