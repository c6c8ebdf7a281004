"""Training-set curation audits: benchmark decontamination, intra-doc
repetition scoring, corpus token frequencies, and a length histogram.

These extend the LLM-pipeline family (operators/dedup.py, textops.py)
with the remaining curation passes a 100 TB pretraining corpus needs
before training: finding documents that leak an eval set
(contamination), measuring boilerplate/repetition, and auditing the
token distribution. The reference has no analog (its hygiene stops at
drop_duplicates, src/processing-jobs/gtfs-static-job.py:140-145); the
shapes here follow the public C4/Gopher/RefinedWeb-style curation
recipes.

Scale design:
- The eval-gram set is SMALL by construction (eval benchmarks are tiny
  versus the corpus), so contamination is a broadcast semi-style join of
  corpus grams against eval grams — the corpus side streams map-side,
  never an all-pairs or skew-prone shuffle.
- Repetition and the histogram are pure map-side column expressions +
  one aggregation shuffle.
- Token frequencies are explode + groupBy with map-side combine; the
  result is vocabulary-sized, not corpus-sized.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, load_table_spread
from ..functions.portable import (
    SQL_NORM,
    SQL_TOKENS,
    davg,
    hash60,
    norm,
    pround,
    sql_davg,
    sql_hash60,
    sql_pround,
    tokens,
    word_tokens,
)
from .dedup import _shingle_arr, _trigram_arr
from .textops import _sql_marker_score

# Every doc_id ≡ 0 (mod EVAL_MOD) plays the held-out benchmark; ~3% of
# the corpus, mirroring the eval-vs-train size asymmetry that makes the
# broadcast plan the right one.
EVAL_MOD = 29
CONTAM_TAU = 0.15  # fraction of a train doc's distinct grams seen in eval

# Filter-cascade policy (C4/RefinedWeb-style, tuned so every rule fires
# on the synthetic corpus): length floor, source blocklist, language
# allowlist, distinct-token-ratio floor.
MIN_CHARS = 100
BLOCKED_SOURCES = ("src7", "src13")
ALLOWED_LANGS = ("en", "de", "fr", "es")
DISTINCT_TAU = 0.32


def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train docs sharing >= CONTAM_TAU of their distinct 3-gram
    shingles with any single eval doc (doc_id % EVAL_MOD == 0).

    Per (train, eval) pair: |train ∩ eval grams| / |train grams|.
    The eval side is broadcast (grams of ~3% of docs); candidate
    pairs form by gram equi-join, so cost is bounded by gram-frequency
    overlap, never |train| x |eval|.
    """
    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    grams = docs.select(
        "doc_id", F.explode(_shingle_arr(F.col("text"))).alias("sh")
    ).select("doc_id", hash60(F.col("sh")).alias("h"))
    train = grams.filter(F.col("doc_id") % EVAL_MOD != 0)
    eval_g = grams.filter(F.col("doc_id") % EVAL_MOD == 0).select(
        F.col("doc_id").alias("eval_id"), F.col("h").alias("eh")
    )
    sizes = train.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        train.join(F.broadcast(eval_g), train.h == eval_g.eh)
        .groupBy("doc_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    # NO broadcast on sizes: it is corpus-sized (one row per train doc).
    # hits is the bounded side but can still exceed the broadcast limit
    # on a dirty corpus, so this stays a shuffle join on doc_id and AQE
    # may downgrade it to broadcast when hits turns out tiny.
    return (
        hits.join(sizes, "doc_id")
        .withColumn(
            "overlap_frac",
            pround(F.col("n_shared") / F.col("n_grams"), 4),
        )
        .filter(F.col("overlap_frac") >= CONTAM_TAU)
        .select("doc_id", "eval_id", "n_shared", "n_grams", "overlap_frac")
        .orderBy(F.desc("overlap_frac"), "doc_id", "eval_id")
    )


def repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition: 1 - distinct/total 3-grams per doc
    (Gopher-style repetition signal). Pure map-side arrays + sort;
    no join, no per-doc shuffle.
    """
    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    g3 = _trigram_arr(F.col("text"))
    return (
        docs.select(
            "doc_id",
            F.size(g3).alias("n_grams"),
            F.size(F.array_distinct(g3)).alias("n_distinct"),
        )
        .filter(F.col("n_grams") > 0)
        .select(
            "doc_id",
            "n_grams",
            "n_distinct",
            pround(1 - F.col("n_distinct") / F.col("n_grams"), 4).alias(
                "rep_ratio"
            ),
        )
        .orderBy(F.desc("rep_ratio"), "doc_id")
    )


def token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-50 token frequencies (Zipf audit): explode +
    one map-side-combined groupBy; output is vocabulary-sized.
    """
    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    return (
        word_tokens(docs)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(50)
    )


def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two length histogram over n_chars. Bucket =
    floor(log2(n_chars)) computed as length(bin(n_chars)) - 1 —
    pure integer/string ops, no float log that could straddle a
    bucket edge differently per engine.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = (F.length(F.bin(F.col("n_chars"))) - 1).alias("log2_bucket")
    return (
        docs.filter(F.col("n_chars") > 0)
        .groupBy(bucket)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("log2_bucket")
    )


def doc_filter_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style keep/drop cascade with a per-doc drop reason: first
    matching rule wins (length floor -> source blocklist -> language
    allowlist -> distinct-token-ratio floor). Pure map-side column
    expressions — zero shuffles, linear at any corpus size.
    """
    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    toks = tokens("text")
    ratio = F.size(F.array_distinct(toks)) / F.size(toks)
    reason = (
        F.when(F.col("n_chars") < MIN_CHARS, "too_short")
        .when(F.col("source").isin(*BLOCKED_SOURCES), "blocked_source")
        .when(~F.col("lang").isin(*ALLOWED_LANGS), "lang_filtered")
        .when(ratio < DISTINCT_TAU, "too_repetitive")
        .otherwise("keep")
    )
    return docs.select(
        "doc_id",
        "source",
        "lang",
        "n_chars",
        reason.alias("reason"),
        F.when(reason == "keep", "keep").otherwise("drop").alias("verdict"),
    )


def source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus share and the sampling weight that would make
    the training mixture uniform across sources (weight =
    target_share / actual_char_share). Integer char sums are exact, so
    shares and weights are order-independent; the global total is a
    one-row broadcast, not a second corpus scan.
    """
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )
    tot = per.agg(
        F.sum("sum_chars").alias("tot_chars"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    share = F.col("sum_chars") / F.col("tot_chars")
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "sum_chars",
            pround(share, 6).alias("char_share"),
            pround(F.lit(1.0) / F.col("n_sources") / share, 6).alias(
                "uniform_weight"
            ),
        )
        .orderBy("source")
    )


RESAMPLE_MOD = 1_000_000  # hash-threshold granularity for keep decisions
PACK_BUDGET_TOKENS = 256  # sequence-packing bin size (tokens)


def lang_rebalance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic downsample to a language-balanced mixture: each
    language's keep fraction is min-lang-chars / its-chars (the
    over-represented languages are thinned to the smallest one's
    volume), and a doc survives iff its content-hash bucket falls under
    the threshold — reproducible, order-independent, and exact-dup
    consistent (same text -> same decision).

    Per-lang audit: target fraction, docs kept, chars kept. Scale: the
    lang table is languages-sized and broadcast; the keep decision is
    pure map-side hash math; one final aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("lang").agg(
        F.sum("n_chars").alias("lang_chars")
    )
    mn = per.agg(F.min("lang_chars").alias("min_chars"))
    frac = F.col("min_chars") / F.col("lang_chars")
    lang_frac = per.crossJoin(F.broadcast(mn)).select(
        "lang",
        "lang_chars",
        F.floor(frac * RESAMPLE_MOD).cast("long").alias("keep_threshold"),
        pround(frac, 6).alias("target_frac"),
    )
    kept = (
        docs.join(F.broadcast(lang_frac), "lang")
        .withColumn(
            "keep",
            F.pmod(hash60(norm("text")), F.lit(RESAMPLE_MOD))
            < F.col("keep_threshold"),
        )
    )
    return (
        kept.groupBy("lang", "lang_chars", "target_frac")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("keep"), 1)).alias("n_kept"),
            F.sum(F.when(F.col("keep"), F.col("n_chars"))).alias(
                "kept_chars"
            ),
        )
        .select(
            "lang", "n_docs", "n_kept", "lang_chars", "kept_chars",
            "target_frac",
        )
        .orderBy("lang")
    )


def sequence_packing_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence-packing audit: documents fill contiguous
    PACK_BUDGET_TOKENS-token bins per source in doc_id order (a doc
    belongs to the bin where its cumulative span STARTS — the
    contiguous-fill discipline a pretraining loader uses when packing
    samples into fixed-length sequences). Per (source, bin): docs,
    tokens, and the fill ratio (can exceed 1.0 when a doc straddles the
    boundary; the overflow carries into the next bin's start offset).

    Scale: the running sum is a per-source window — the source is the
    packing shard, so parallelism is across sources/shards and no
    corpus-wide single-partition sort exists."""
    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    toks = docs.select(
        "doc_id",
        "source",
        F.size(tokens("text")).alias("n_toks"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    binned = toks.withColumn("cum", F.sum("n_toks").over(w)).withColumn(
        "bin",
        F.floor((F.col("cum") - F.col("n_toks")) / PACK_BUDGET_TOKENS).cast(
            "long"
        ),
    )
    return (
        binned.groupBy("source", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("bin_tokens"),
        )
        .withColumn(
            "fill_ratio",
            pround(F.col("bin_tokens") / PACK_BUDGET_TOKENS, 6),
        )
        .orderBy("source", "bin")
    )


N_RATIO_BUCKETS = 20  # 5%-wide stopword-density buckets


def stopword_density_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profile of English-stopword density: per-doc marker ratio
    binned into 5% buckets (integer flooring — no float boundary can
    straddle engines), doc count + ratio bounds per bucket.

    The quality-filter threshold a C4-style cascade uses comes from
    exactly this histogram; map-side ratio + one aggregation shuffle.
    """
    from .textops import _marker_score

    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    toks = tokens("text")
    d = docs.select(
        "doc_id",
        _marker_score(toks, "en").alias("n_stop"),
        F.size(toks).alias("n_toks"),
    ).filter(F.col("n_toks") > 0)
    ratio = F.col("n_stop") / F.col("n_toks")
    bucket = F.least(
        F.floor(ratio * N_RATIO_BUCKETS).cast("int"),
        F.lit(N_RATIO_BUCKETS - 1),
    )
    return (
        d.groupBy(bucket.alias("ratio_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            pround(F.min(ratio), 6).alias("min_ratio"),
            pround(F.max(ratio), 6).alias("max_ratio"),
        )
        .orderBy("ratio_bucket")
    )


def doc_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source n_chars quantiles (median + p90) via rank
    arithmetic — the numbers a length filter's MIN/MAX thresholds are
    calibrated against per crawl slice, exact where an engine-native
    percentile_cont could differ in interpolation. Same portable
    pattern as timeseries.route_delay_quantiles; one sort per source
    partition (the exact-quantile cost by nature — the GK sketch is the
    streaming-scale path)."""
    docs = load_table(spark, sf_dir, "documents")
    # NULLS LAST, as the oracle's DuckDB ORDER BY has it (Spark's
    # default ascending order puts NULLs first)
    wr = Window.partitionBy("source").orderBy(
        F.col("n_chars").asc_nulls_last(), "doc_id"
    )
    wn = Window.partitionBy("source")
    ranked = docs.select(
        "source",
        "n_chars",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    lo_rank = F.expr("(n + 1) div 2")
    hi_rank = F.expr("(n + 2) div 2")
    # ceil(9n/10) in pure integer arithmetic (equivalent to the float
    # form for every feasible n, but needs no rounding analysis)
    p90_rank = F.expr("(9 * n + 9) div 10")
    return (
        ranked.groupBy("source")
        .agg(
            F.max(F.when(F.col("rn") == lo_rank, F.col("n_chars"))).alias(
                "lo"
            ),
            F.max(F.when(F.col("rn") == hi_rank, F.col("n_chars"))).alias(
                "hi"
            ),
            F.max(
                F.when(F.col("rn") == p90_rank, F.col("n_chars"))
            ).alias("p90_chars"),
            F.max("n").alias("n_docs"),
        )
        .select(
            "source",
            "n_docs",
            pround((F.col("lo") + F.col("hi")) / 2, 1).alias(
                "median_chars"
            ),
            "p90_chars",
        )
        .orderBy("source")
    )


def source_lang_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition matrix: document and character counts per
    (source, language) with each cell's share of its source — the first
    table of every corpus datasheet, and the input the language
    rebalancer (lang_rebalance_sample) is sanity-checked against.
    One aggregate; the per-source total rides along via a
    sources-sized window."""
    docs = load_table(spark, sf_dir, "documents")
    cell = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
    )
    wsrc = Window.partitionBy("source")
    return cell.select(
        "source",
        "lang",
        "n_docs",
        "n_chars",
        pround(
            F.col("n_docs") / F.sum("n_docs").over(wsrc), 6
        ).alias("doc_share_of_source"),
    ).orderBy("source", "lang")


QUERIES = {
    "contamination_check": contamination_check,
    "repetition_score": repetition_score,
    "token_frequencies": token_frequencies,
    "doc_length_histogram": doc_length_histogram,
    "doc_filter_cascade": doc_filter_cascade,
    "source_mixture_weights": source_mixture_weights,
    "stopword_density_buckets": stopword_density_buckets,
    "lang_rebalance_sample": lang_rebalance_sample,
    "sequence_packing_bins": sequence_packing_bins,
    "doc_length_quantiles": doc_length_quantiles,
    "source_lang_matrix": source_lang_matrix,
}

_SQL_G3 = f"""
    SELECT doc_id,
           list_filter(list_transform(
             range(1, greatest(len(toks) - 1, 1)),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
           ), x -> x IS NOT NULL) AS g3
    FROM (SELECT doc_id, {SQL_TOKENS} AS toks
          FROM documents) d
    WHERE len(toks) >= 3
"""

_SQL_GRAM_HASH = """
    SELECT doc_id, {h} AS h
    FROM (SELECT doc_id, unnest(list_distinct(g3)) AS sh
          FROM ({g3}) gr) u
"""

_SQL_REASON = f"""
    CASE WHEN n_chars < {MIN_CHARS} THEN 'too_short'
         WHEN source IN {BLOCKED_SOURCES} THEN 'blocked_source'
         WHEN lang NOT IN {ALLOWED_LANGS} THEN 'lang_filtered'
         WHEN len(list_distinct(toks)) / len(toks) < {DISTINCT_TAU}
           THEN 'too_repetitive'
         ELSE 'keep' END
"""

ORACLES = {
    "contamination_check": f"""
        WITH grams AS ({_SQL_GRAM_HASH.format(g3=_SQL_G3, h=sql_hash60('sh'))}),
        train AS (SELECT * FROM grams WHERE doc_id % {EVAL_MOD} != 0),
        eval_g AS (SELECT doc_id AS eval_id, h AS eh FROM grams
                   WHERE doc_id % {EVAL_MOD} = 0),
        sizes AS (SELECT doc_id, count(*) AS n_grams FROM train
                  GROUP BY doc_id),
        hits AS (
          SELECT t.doc_id, e.eval_id, count(*) AS n_shared
          FROM train t JOIN eval_g e ON t.h = e.eh
          GROUP BY t.doc_id, e.eval_id
        )
        SELECT h.doc_id, h.eval_id, h.n_shared, s.n_grams,
               {sql_pround('h.n_shared / s.n_grams', 4)} AS overlap_frac
        FROM hits h JOIN sizes s ON h.doc_id = s.doc_id
        WHERE {sql_pround('h.n_shared / s.n_grams', 4)} >= {CONTAM_TAU}
        ORDER BY overlap_frac DESC, h.doc_id, h.eval_id
    """,
    "repetition_score": f"""
        SELECT doc_id,
               len(g3) AS n_grams,
               len(list_distinct(g3)) AS n_distinct,
               {sql_pround('1 - len(list_distinct(g3)) / len(g3)', 4)}
                 AS rep_ratio
        FROM ({_SQL_G3}) g
        WHERE len(g3) > 0
        ORDER BY rep_ratio DESC, doc_id
    """,
    "token_frequencies": f"""
        SELECT tok, count(*) AS n
        FROM (SELECT unnest({SQL_TOKENS}) AS tok
              FROM documents) t
        WHERE tok != ''
        GROUP BY tok
        ORDER BY n DESC, tok
        LIMIT 50
    """,
    "doc_length_histogram": """
        SELECT length(bin(n_chars)) - 1 AS log2_bucket,
               count(*) AS n_docs,
               min(n_chars) AS min_chars,
               max(n_chars) AS max_chars
        FROM documents
        WHERE n_chars > 0
        GROUP BY 1
        ORDER BY log2_bucket
    """,
    "doc_filter_cascade": f"""
        SELECT doc_id, source, lang, n_chars,
               {_SQL_REASON} AS reason,
               CASE WHEN {_SQL_REASON} = 'keep' THEN 'keep' ELSE 'drop' END
                 AS verdict
        FROM (SELECT doc_id, source, lang, n_chars,
                     {SQL_TOKENS} AS toks
              FROM documents) d
    """,
    "stopword_density_buckets": f"""
        WITH d AS (
          SELECT doc_id,
                 {_sql_marker_score('en')} AS n_stop,
                 len(toks) AS n_toks
          FROM (SELECT doc_id, {SQL_TOKENS} AS toks
                FROM documents) t
          WHERE len(toks) > 0
        )
        SELECT least(CAST(floor((n_stop / n_toks) * {N_RATIO_BUCKETS})
                          AS INT), {N_RATIO_BUCKETS - 1}) AS ratio_bucket,
               count(*) AS n_docs,
               {sql_pround('min(n_stop / n_toks)', 6)} AS min_ratio,
               {sql_pround('max(n_stop / n_toks)', 6)} AS max_ratio
        FROM d
        GROUP BY 1
        ORDER BY ratio_bucket
    """,
    "source_mixture_weights": f"""
        WITH per AS (
          SELECT source, count(*) AS n_docs,
                 CAST(sum(n_chars) AS BIGINT) AS sum_chars
          FROM documents GROUP BY source
        ),
        tot AS (
          SELECT sum(sum_chars) AS tot_chars, count(*) AS n_sources
          FROM per
        )
        SELECT source, n_docs, sum_chars,
               {sql_pround('sum_chars / tot_chars', 6)} AS char_share,
               {sql_pround('1.0 / n_sources / (sum_chars / tot_chars)', 6)}
                 AS uniform_weight
        FROM per, tot
        ORDER BY source
    """,
    "lang_rebalance_sample": f"""
        WITH per AS (
          SELECT lang, CAST(sum(n_chars) AS BIGINT) AS lang_chars
          FROM documents GROUP BY lang
        ),
        mn AS (SELECT min(lang_chars) AS min_chars FROM per),
        lf AS (
          SELECT lang, lang_chars,
                 CAST(floor((min_chars / lang_chars) * {RESAMPLE_MOD})
                      AS BIGINT) AS keep_threshold,
                 {sql_pround('min_chars / lang_chars', 6)} AS target_frac
          FROM per, mn
        )
        SELECT d.lang,
               count(*) AS n_docs,
               count(*) FILTER (
                 WHERE ({sql_hash60(SQL_NORM)}) % {RESAMPLE_MOD}
                       < lf.keep_threshold) AS n_kept,
               lf.lang_chars,
               CAST(sum(n_chars) FILTER (
                 WHERE ({sql_hash60(SQL_NORM)}) % {RESAMPLE_MOD}
                       < lf.keep_threshold) AS BIGINT) AS kept_chars,
               lf.target_frac
        FROM documents d JOIN lf ON d.lang = lf.lang
        GROUP BY d.lang, lf.lang_chars, lf.target_frac
        ORDER BY d.lang
    """,
    "sequence_packing_bins": f"""
        WITH toks AS (
          SELECT doc_id, source,
                 len({SQL_TOKENS}) AS n_toks
          FROM documents
        ),
        binned AS (
          SELECT source, n_toks,
                 CAST(floor((sum(n_toks) OVER (
                        PARTITION BY source ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) - n_toks)
                      / {PACK_BUDGET_TOKENS}) AS BIGINT) AS bin
          FROM toks
        )
        SELECT source, bin, count(*) AS n_docs,
               CAST(sum(n_toks) AS BIGINT) AS bin_tokens,
               {sql_pround(f'sum(n_toks) / {PACK_BUDGET_TOKENS}', 6)}
                 AS fill_ratio
        FROM binned
        GROUP BY source, bin
        ORDER BY source, bin
    """,
    "doc_length_quantiles": """
        WITH ranked AS (
          SELECT source, n_chars,
                 row_number() OVER (
                   PARTITION BY source ORDER BY n_chars, doc_id
                 ) AS rn,
                 count(*) OVER (PARTITION BY source) AS n
          FROM documents
        )
        SELECT source,
               max(n) AS n_docs,
               floor(((max(CASE WHEN rn = (n + 1) // 2
                                THEN n_chars END)
                       + max(CASE WHEN rn = (n + 2) // 2
                                  THEN n_chars END)) / 2.0)
                     * 10.0 + 0.5) / 10.0 AS median_chars,
               max(CASE WHEN rn = (9 * n + 9) // 10 THEN n_chars END)
                 AS p90_chars
        FROM ranked
        GROUP BY source
        ORDER BY source
    """,
    "source_lang_matrix": f"""
        WITH cell AS (
          SELECT source, lang, count(*) AS n_docs,
                 CAST(sum(n_chars) AS BIGINT) AS n_chars
          FROM documents
          GROUP BY source, lang
        )
        SELECT source, lang, n_docs, n_chars,
               {sql_pround(
                   'n_docs::DOUBLE / (CAST(sum(n_docs) OVER ('
                   'PARTITION BY source) AS BIGINT))', 6)}
                 AS doc_share_of_source
        FROM cell
        ORDER BY source, lang
    """,
}


def dup_quality_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Are duplicated documents lower quality? Exact-duplicate status
    (md5(text) group size > 1 — the dedup_exact relation) crossed with
    quality deciles (ntile over the quality_score output, doc_id
    tie-break): per decile the doc count, duplicate count, duplicate
    rate, and average quality. The curation diagnostic that decides
    whether dedup and quality filtering are redundant or complementary
    (near-duplicate boilerplate is typically low-quality, so a strong
    bias here means dedup-first saves the quality pass work).

    Scale: the dup flag is a corpus-scale window over the md5 hash
    (hash-partitioned — no skew beyond the duplicate classes
    themselves); the decile is a |docs|-sized ranking (exact ntile
    needs the total order, like any exact quantile); one doc-grain
    equi-join; deciles-sized output."""
    from .textops import quality_score

    docs = load_table(spark, sf_dir, "documents")
    dup = docs.select(
        "doc_id",
        (
            F.count(F.lit(1)).over(
                Window.partitionBy(F.md5(F.col("text")))
            )
            > 1
        )
        .cast("int")
        .alias("is_dup"),
    )
    q = quality_score(spark, sf_dir).select("doc_id", "quality")
    decile = F.ntile(10).over(Window.orderBy("quality", "doc_id"))
    scored = q.join(dup, "doc_id").select(
        "quality", "is_dup", decile.alias("quality_decile")
    )
    return (
        scored.groupBy("quality_decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("is_dup").alias("n_dup"),
            pround(
                F.sum("is_dup") / F.count(F.lit(1)).cast("double"), 6
            ).alias("dup_rate"),
            davg("quality", 6).alias("avg_quality"),
        )
        .orderBy("quality_decile")
    )


QUERIES["dup_quality_bias"] = dup_quality_bias


def _dup_quality_bias_oracle() -> str:
    # composed from the quality_score oracle so the score definition
    # stays single-source
    from .textops import ORACLES as _TEXT_ORACLES

    return f"""
    WITH q AS ({_TEXT_ORACLES["quality_score"]}),
    dup AS (
      SELECT doc_id,
             CASE WHEN count(*) OVER (PARTITION BY md5(text)) > 1
                  THEN 1 ELSE 0 END AS is_dup
      FROM documents
    ),
    scored AS (
      SELECT q.quality, dup.is_dup,
             ntile(10) OVER (ORDER BY q.quality, q.doc_id)
               AS quality_decile
      FROM q JOIN dup ON q.doc_id = dup.doc_id
    )
    SELECT quality_decile::INT AS quality_decile,
           count(*)::BIGINT AS n_docs,
           (sum(is_dup))::BIGINT AS n_dup,
           {sql_pround("(sum(is_dup))::DOUBLE / count(*)", 6)}
             AS dup_rate,
           {sql_davg("quality", 6)} AS avg_quality
    FROM scored GROUP BY quality_decile ORDER BY quality_decile
    """


ORACLES["dup_quality_bias"] = _dup_quality_bias_oracle()


# cascade stages in first-match order; keep closes the funnel
_STAGE_IDX = {
    "too_short": 1,
    "blocked_source": 2,
    "lang_filtered": 3,
    "too_repetitive": 4,
    "keep": 5,
}


def filter_retention_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention funnel of the C4-style filter cascade
    (``doc_filter_cascade``): per stage, documents dropped there, the
    corpus remaining AFTER the stage, and the cumulative retention
    fraction — the one-page summary a pipeline owner reads to see WHICH
    rule is eating the corpus (a stage that drops 40% gets its
    threshold re-examined before anyone trusts the survivors).

    Stages appear in the cascade's first-match order; the final 'keep'
    row restates the surviving corpus (n_docs = n_remaining by
    construction). Only observed stages appear — a rule that fired
    zero times at this SF has no row on either engine.

    Scale: the cascade itself is zero-shuffle map-side; this adds ONE
    stages-sized aggregate and a <=5-row window — corpus-linear
    total."""
    c = doc_filter_cascade(spark, sf_dir)
    # fallback mirrors the oracle's CASE ... ELSE 5: a cascade reason
    # added later folds into the terminal stage on BOTH engines instead
    # of silently diverging (Spark NULL stage_idx vs oracle stage 5)
    idx = F.coalesce(
        *[
            F.when(F.col("reason") == r, F.lit(i))
            for r, i in _STAGE_IDX.items()
        ],
        F.lit(_STAGE_IDX["keep"]),
    )
    counts = c.groupBy(idx.alias("stage_idx"), "reason").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w_all = Window.partitionBy()
    # stage tie-break: the ELSE-5 fallback can put an unknown reason on
    # the same stage_idx as 'keep', and a ROWS running sum over tied
    # keys is peer-order-dependent — the (stage_idx, stage) total order
    # keeps n_remaining deterministic on BOTH engines in that case
    w_run = Window.orderBy("stage_idx", "reason").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    dropped = F.when(F.col("reason") != "keep", F.col("n_docs")).otherwise(
        F.lit(0)
    )
    return (
        counts.select(
            "stage_idx",
            F.col("reason").alias("stage"),
            "n_docs",
            (
                F.sum("n_docs").over(w_all) - F.sum(dropped).over(w_run)
            ).alias("n_remaining"),
            F.sum("n_docs").over(w_all).alias("n_total"),
        )
        .select(
            "stage_idx",
            "stage",
            "n_docs",
            "n_remaining",
            pround(
                F.col("n_remaining") / F.col("n_total").cast("double"), 6
            ).alias("retention"),
        )
        .orderBy("stage_idx")
    )


QUERIES["filter_retention_funnel"] = filter_retention_funnel

ORACLES["filter_retention_funnel"] = f"""
    WITH cascade AS (
      SELECT {_SQL_REASON} AS reason
      FROM (SELECT doc_id, source, lang, n_chars,
                   {SQL_TOKENS} AS toks
            FROM documents) d
    ),
    counts AS (
      SELECT CASE reason
               WHEN 'too_short' THEN 1
               WHEN 'blocked_source' THEN 2
               WHEN 'lang_filtered' THEN 3
               WHEN 'too_repetitive' THEN 4
               ELSE 5 END AS stage_idx,
             reason AS stage,
             count(*) AS n_docs
      FROM cascade GROUP BY 1, 2
    ),
    runs AS (
      SELECT stage_idx, stage, n_docs,
             (sum(n_docs) OVER ())::BIGINT
               - (sum(CASE WHEN stage != 'keep' THEN n_docs ELSE 0 END)
                  OVER (ORDER BY stage_idx, stage
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 )::BIGINT AS n_remaining,
             (sum(n_docs) OVER ())::BIGINT AS n_total
      FROM counts
    )
    SELECT stage_idx, stage, n_docs, n_remaining,
           {sql_pround('n_remaining::DOUBLE / n_total::DOUBLE', 6)}
             AS retention
    FROM runs ORDER BY stage_idx
"""


# --- DSIR-style importance weighting (Xie et al. 2023) ------------------

DSIR_BUCKETS = 256  # hashed unigram feature space
DSIR_TARGET_SOURCE = "src0"  # in-domain proxy: one source plays the target


def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection with Importance Resampling (Xie et al. 2023,
    arXiv:2302.03169), the hashed-n-gram variant: score every document
    by how much more likely its tokens are under the TARGET domain's
    unigram distribution than under the raw corpus's. Features are
    md5-hashed unigram buckets (DSIR_BUCKETS), the target is the
    DSIR_TARGET_SOURCE slice, both distributions get add-one
    smoothing, and the per-doc log weight is the decimal-exact fold of
    the per-token bucket log-ratios. ``selected`` marks docs whose
    tokens skew target-ward (log_weight > 0) — the resampling pool.

    Production note: DSIR takes a top-k (or Gumbel-perturbed sample)
    over the weights; at corpus scale that threshold comes from an
    approximate quantile of log_weight, NOT a global sort — the flag
    here is the sort-free contract both engines can hash-check.

    Determinism: bucket log-ratios are ln folds of exact integer
    counts rounded to 6dp BEFORE the per-token fold (ln agrees
    cross-engine at 6dp — the lm_bigram_logprob contract), and the
    per-doc sum folds through DECIMAL(28,6).

    Scale: the exploded token stream is persisted and feeds (a) ONE
    bucket-count aggregate (output = DSIR_BUCKETS rows, counting both
    distributions in one pass via a conditional sum) and (b) the
    per-doc score join — a BROADCAST of the 256-row ratio table, so
    scoring is map-side + one doc-grain aggregate. Two linear passes
    total, nothing vocabulary- or corpus-squared."""
    from ..caching import persisted as _persisted

    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    toks = _persisted(
        docs.select(
            "doc_id",
            "source",
            F.explode(tokens("text")).alias("tok"),
        ).select(
            "doc_id",
            "source",
            (hash60(F.col("tok")) % DSIR_BUCKETS).alias("b"),
        )
    )
    bc = toks.groupBy("b").agg(
        F.count(F.lit(1)).alias("cnt_all"),
        F.sum(
            F.when(F.col("source") == DSIR_TARGET_SOURCE, 1).otherwise(0)
        ).alias("cnt_t"),
    )
    tot = bc.agg(
        F.sum("cnt_all").alias("n_all"), F.sum("cnt_t").alias("n_t")
    )
    lr = bc.crossJoin(F.broadcast(tot)).select(
        "b",
        pround(
            F.log(
                (F.col("cnt_t") + 1)
                / (F.col("n_t") + DSIR_BUCKETS).cast("double")
            )
            - F.log(
                (F.col("cnt_all") + 1)
                / (F.col("n_all") + DSIR_BUCKETS).cast("double")
            ),
            6,
        ).alias("lr"),
    )
    scored = (
        toks.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            pround(
                F.sum(F.col("lr").cast("decimal(28,6)")).cast("double"), 4
            ).alias("log_weight"),
        )
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        "log_weight",
        (F.col("log_weight") > 0).cast("int").alias("selected"),
    ).orderBy("doc_id")


QUERIES["dsir_importance_weights"] = dsir_importance_weights

ORACLES["dsir_importance_weights"] = f"""
    WITH toks AS (
      SELECT doc_id, source, {sql_hash60("tok")} % {DSIR_BUCKETS} AS b
      FROM (
        SELECT doc_id, source,
               unnest({SQL_TOKENS}) AS tok
        FROM documents
      ) t
    ),
    bc AS (
      SELECT b, count(*) AS cnt_all,
             sum(CASE WHEN source = '{DSIR_TARGET_SOURCE}'
                      THEN 1 ELSE 0 END) AS cnt_t
      FROM toks GROUP BY b
    ),
    tot AS (
      SELECT sum(cnt_all) AS n_all, sum(cnt_t) AS n_t FROM bc
    ),
    lr AS (
      SELECT b, {sql_pround(
          f"ln((cnt_t + 1)::DOUBLE / (n_t + {DSIR_BUCKETS}))"
          f" - ln((cnt_all + 1)::DOUBLE / (n_all + {DSIR_BUCKETS}))", 6
      )} AS lr
      FROM bc, tot
    ),
    scored AS (
      SELECT doc_id, count(*) AS n_tokens,
             {sql_pround("(sum((lr)::DECIMAL(28,6)))::DOUBLE", 4)}
               AS log_weight
      FROM toks JOIN lr USING (b)
      GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, log_weight,
           (CASE WHEN log_weight > 0 THEN 1 ELSE 0 END)::INT AS selected
    FROM scored ORDER BY doc_id
"""


# --- CCNet-style perplexity tiers (Wenzek et al. 2020) ------------------

PPL_TIERS = 3  # head / middle / tail


def ccnet_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's quality tiers (Wenzek et al. 2020, arXiv:1911.00359):
    within each language, rank documents by LM perplexity and cut into
    equal head/middle/tail thirds — head is the clean slice most
    pretraining recipes keep, tail the boilerplate/gibberish candidate
    pool. The LM is the corpus's own bigram model
    (``lm_bigram_logprob``), so the whole pipeline stays inside the
    oracle contract. Per (lang, tier): doc count and the tier's
    perplexity range + decimal mean.

    Determinism: ppl_proxy is already rounded to 4dp by the LM key;
    ntile over (ppl, doc_id) is fully ordered, so tier assignment is
    identical cross-engine including ties.

    Scale note: the exact ntile ranks each language's docs in one
    window partition; CCNet itself thresholds against PRECOMPUTED
    per-lang quantiles (one pass + broadcast cutoffs), which is the
    swap at corpus scale — same tiers, no per-lang global sort. The
    exact rank here keeps the contract hash-checkable."""
    from .corpus import lm_bigram_logprob

    scored = lm_bigram_logprob(spark, sf_dir).select("doc_id", "ppl_proxy")
    langs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy("ppl_proxy", "doc_id")
    tiered = (
        scored.join(langs, "doc_id")
        .withColumn("tier_idx", F.ntile(PPL_TIERS).over(w))
        .withColumn(
            "tier",
            F.when(F.col("tier_idx") == 1, "head")
            .when(F.col("tier_idx") == 2, "middle")
            .otherwise("tail"),
        )
    )
    return (
        tiered.groupBy("lang", "tier_idx", "tier")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("ppl_proxy").alias("min_ppl"),
            F.max("ppl_proxy").alias("max_ppl"),
            davg("ppl_proxy", 4).alias("avg_ppl"),
        )
        .orderBy("lang", "tier_idx")
    )


QUERIES["ccnet_ppl_buckets"] = ccnet_ppl_buckets

ORACLES["ccnet_ppl_buckets"] = f"""
    WITH lm AS ({{LM}}),
    tiered AS (
      SELECT d.lang, lm.ppl_proxy,
             ntile({PPL_TIERS}) OVER (
               PARTITION BY d.lang
               ORDER BY lm.ppl_proxy, lm.doc_id) AS tier_idx
      FROM lm JOIN documents d ON d.doc_id = lm.doc_id
    )
    SELECT lang, tier_idx,
           CASE tier_idx WHEN 1 THEN 'head'
                WHEN 2 THEN 'middle' ELSE 'tail' END AS tier,
           count(*) AS n_docs,
           min(ppl_proxy) AS min_ppl,
           max(ppl_proxy) AS max_ppl,
           {sql_davg("ppl_proxy", 4)} AS avg_ppl
    FROM tiered
    GROUP BY lang, tier_idx
    ORDER BY lang, tier_idx
"""

# the LM CTE is corpus.py's oracle verbatim — spliced (not f-embedded)
# to keep module import order a non-issue
from .corpus import ORACLES as _CORPUS_ORACLES  # noqa: E402

ORACLES["ccnet_ppl_buckets"] = ORACLES["ccnet_ppl_buckets"].replace(
    "{LM}", _CORPUS_ORACLES["lm_bigram_logprob"]
)


# Temperature-sampled multilingual mixing (XLM / mT5 alpha-sampling,
# Conneau & Lample 2019 arXiv:1901.07291 §3.1): sampling share
# p_i ∝ n_i^MIX_TEMPERATURE flattens the language distribution so
# low-resource languages are upsampled without drowning high-resource
# ones. TOKEN_BUDGET is the training-run size the plan fills.
TOKEN_BUDGET = 10_000_000
MIX_TEMPERATURE = 0.5  # alpha; 0.5 == sqrt flattening


def _mix_weight(c: Column) -> Column:
    """tokens^alpha as a LIVE function of MIX_TEMPERATURE. alpha=0.5
    routes through sqrt (IEEE-correctly-rounded, so Spark and DuckDB
    see bit-identical doubles); any other alpha goes through pow, whose
    1-ulp cross-engine wiggle is absorbed by the 6dp quantization the
    caller applies before the decimal weight sum."""
    if MIX_TEMPERATURE == 0.5:
        return F.sqrt(c)
    return F.pow(c, F.lit(MIX_TEMPERATURE))


def _sql_mix_weight(expr: str) -> str:
    if MIX_TEMPERATURE == 0.5:
        return f"sqrt({expr})"
    return f"pow({expr}, {MIX_TEMPERATURE})"


def token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language training-mix plan under a fixed token budget:
    available whitespace tokens, the raw corpus share, the
    temperature-flattened sampling share (p_i ∝ tokens_i^0.5), the
    tokens a TOKEN_BUDGET-token run draws from each language, and the
    implied epochs over the available data (epochs > raw implies the
    language is repeated/upsampled — the low-resource tail).

    Cross-engine determinism: token counts are exact integer sums;
    the tokens^alpha weight (_mix_weight — sqrt on the alpha=0.5
    default, pow otherwise) lands on the same double in both engines,
    is quantized to 6dp and decimal-summed so the languages-sized
    weight total is order-independent; each published ratio divides
    identical doubles and is pround'd.

    Scale: ONE corpus-scale aggregate (map-side token counting into a
    languages-sized relation, PERSISTED so the one-row totals branch
    never re-scans the corpus); the totals are a one-row broadcast."""
    from ..caching import persisted as _persisted

    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    per = _persisted(
        docs.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(tokens("text"))).alias("n_tokens"),
        )
    )
    pw = per.select(
        "lang",
        "n_docs",
        "n_tokens",
        pround(_mix_weight(F.col("n_tokens").cast("double")), 6).alias("w"),
    )
    tot = pw.agg(
        F.sum("n_tokens").alias("tot_tokens"),
        F.sum(F.col("w").cast("decimal(28,6)")).cast("double").alias(
            "tot_w"
        ),
    )
    samp = F.col("w") / F.col("tot_w")
    budget = F.lit(float(TOKEN_BUDGET))
    return (
        pw.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            pround(
                F.col("n_tokens").cast("double") / F.col("tot_tokens"), 6
            ).alias("raw_share"),
            pround(samp, 6).alias("sampled_share"),
            F.floor(budget * samp).cast("long").alias("planned_tokens"),
            pround(budget * samp / F.col("n_tokens"), 6).alias("epochs"),
        )
        .orderBy("lang")
    )


QUERIES["token_budget_mix"] = token_budget_mix

ORACLES["token_budget_mix"] = f"""
    WITH per AS (
      SELECT lang, count(*) AS n_docs,
             sum(len({SQL_TOKENS}))::BIGINT AS n_tokens
      FROM documents GROUP BY lang
    ),
    pw AS (
      SELECT *, {sql_pround(_sql_mix_weight("n_tokens::DOUBLE"), 6)} AS w
      FROM per
    ),
    tot AS (
      SELECT sum(n_tokens)::BIGINT AS tot_tokens,
             (sum((w)::DECIMAL(28,6)))::DOUBLE AS tot_w
      FROM pw
    )
    SELECT lang, n_docs, n_tokens,
           {sql_pround("n_tokens::DOUBLE / tot_tokens", 6)} AS raw_share,
           {sql_pround("w / tot_w", 6)} AS sampled_share,
           floor({float(TOKEN_BUDGET)} * (w / tot_w))::BIGINT
             AS planned_tokens,
           {sql_pround(
               f"{float(TOKEN_BUDGET)} * (w / tot_w) / n_tokens", 6
           )} AS epochs
    FROM pw CROSS JOIN tot
    ORDER BY lang
"""


# --- context-length padding audit -------------------------------------------

CTX_LENS = [128, 256, 512, 1024]  # candidate max_seq_len configs


def context_len_padding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding/fragmentation waste per candidate context length — the
    table a max_seq_len decision is read from BEFORE committing a
    pretraining run: for each config L, every doc of n tokens costs
    ceil(n/L) sequences whose last one carries L*ceil(n/L) - n padding
    slots (the un-packed loader's cost model; `sequence_packing_bins`
    audits the packed alternative). Reports per L: sequences minted,
    pad fraction of all slots, and the share of docs fitting one
    sequence — small L wastes slots on fragmentation, large L on
    padding, and the elbow of pad_fraction is the config choice.

    Scale: ONE map-side token count per doc (shared normalization) +
    a |CTX_LENS|-way explode of 4 integers per doc into one aggregate
    — no shuffle wider than 4 x docs partials.

    Determinism: pure integer arithmetic; ratios 6dp-quantized."""
    from ..catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        F.size(tokens("text")).alias("n_toks")
    )
    lens = F.explode(
        F.array(*[F.lit(x) for x in CTX_LENS])
    ).alias("max_len")
    per = docs.select("n_toks", lens).select(
        "max_len",
        "n_toks",
        F.ceil(F.col("n_toks") / F.col("max_len")).cast("long").alias("seqs"),
    )
    agg = per.groupBy("max_len").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("total_tokens"),
        F.sum("seqs").cast("bigint").alias("total_seqs"),
        F.sum((F.col("seqs") == 1).cast("int")).cast("bigint").alias(
            "single_seq_docs"
        ),
    )
    slots = F.col("total_seqs") * F.col("max_len")
    return agg.select(
        F.col("max_len").cast("int").alias("max_len"),
        "n_docs",
        "total_tokens",
        "total_seqs",
        pround((slots - F.col("total_tokens")) / slots, 6).alias(
            "pad_fraction"
        ),
        pround(F.col("single_seq_docs") / F.col("n_docs"), 6).alias(
            "single_seq_share"
        ),
    ).orderBy("max_len")


QUERIES["context_len_padding_audit"] = context_len_padding_audit

ORACLES["context_len_padding_audit"] = f"""
    WITH d AS (
      SELECT len({SQL_TOKENS}) AS n_toks FROM documents
    ),
    per AS (
      SELECT max_len, n_toks,
             CAST(ceil(n_toks::DOUBLE / max_len) AS BIGINT) AS seqs
      FROM d, (SELECT unnest({CTX_LENS}) AS max_len) c
    ),
    agg AS (
      SELECT max_len, count(*) AS n_docs,
             CAST(sum(n_toks) AS BIGINT) AS total_tokens,
             CAST(sum(seqs) AS BIGINT) AS total_seqs,
             CAST(sum(CASE WHEN seqs = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS single_seq_docs
      FROM per GROUP BY max_len
    )
    SELECT max_len::INT AS max_len, n_docs, total_tokens, total_seqs,
           {sql_pround(
               "(total_seqs * max_len - total_tokens)::DOUBLE"
               " / (total_seqs * max_len)", 6
           )} AS pad_fraction,
           {sql_pround("single_seq_docs::DOUBLE / n_docs", 6)}
             AS single_seq_share
    FROM agg ORDER BY max_len
"""


# --- feature-hashing collision audit ----------------------------------------

FH_BUCKETS = 16  # deliberately below the vocabulary size (the
# synthetic corpus has ~31 distinct tokens) so collisions -- the
# thing the audit measures -- actually occur; same rationale as
# CM_WIDTH in operators/sketches.py


def feature_hash_collision_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Collision audit of the hashing trick (Weinberger et al. 2009,
    ICML — feature hashing maps an unbounded vocabulary into FH_BUCKETS
    fixed dimensions): bucket-occupancy histogram over the corpus
    vocabulary — for each occupancy level k, how many buckets hold k
    distinct tokens and how much token MASS (total occurrences) sits in
    them. Rows with occupancy ≥ 2 are the collisions; their mass share
    is the fraction of feature weight the model cannot disambiguate.
    The sizing check you run BEFORE committing to a hashed feature
    space — too-small K shows up as heavy mass at high occupancy.

    Scale: the vocabulary aggregate is the ONE corpus token shuffle
    (map-side combined, token_frequencies' shape); everything after is
    vocabulary-sized, then FH_BUCKETS-sized, then occupancy-levels-
    sized. The md5-derived bucket hash is the engine-portable stand-in
    for murmurhash — deterministic, so the whole audit sits under the
    oracle hash gate."""
    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    vocab = (
        word_tokens(docs)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    per_bucket = vocab.groupBy(
        F.pmod(
            hash60(F.concat(F.lit("fh:"), F.col("tok"))),
            F.lit(FH_BUCKETS),
        ).alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("occupancy"),
        F.sum("n").alias("mass"),
    )
    total = vocab.agg(
        F.sum("n").alias("total_mass"),
        F.count(F.lit(1)).alias("vocab_size"),
    )
    return (
        per_bucket.groupBy("occupancy")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum("mass").alias("token_mass"),
        )
        .join(F.broadcast(total))
        .select(
            "occupancy",
            "n_buckets",
            "token_mass",
            "vocab_size",
            pround(
                F.col("token_mass") / F.col("total_mass"), 6
            ).alias("mass_share"),
        )
        .orderBy("occupancy")
    )


QUERIES["feature_hash_collision_audit"] = feature_hash_collision_audit

ORACLES["feature_hash_collision_audit"] = f"""
    WITH vocab AS (
      SELECT tok, count(*) AS n
      FROM (SELECT unnest({SQL_TOKENS}) AS tok
            FROM documents) t
      WHERE tok != ''
      GROUP BY tok
    ),
    per_bucket AS (
      SELECT {sql_hash60("'fh:' || tok")} % {FH_BUCKETS} AS bucket,
             count(*) AS occupancy, sum(n) AS mass
      FROM vocab GROUP BY bucket
    ),
    total AS (
      SELECT sum(n) AS total_mass, count(*) AS vocab_size FROM vocab
    )
    SELECT occupancy, count(*) AS n_buckets,
           CAST(sum(mass) AS BIGINT) AS token_mass,
           CAST(max(vocab_size) AS BIGINT) AS vocab_size,
           {sql_pround('sum(mass)::DOUBLE / max(total_mass)', 6)}
             AS mass_share
    FROM per_bucket, total
    GROUP BY occupancy
    ORDER BY occupancy
"""
