"""Gopher-style per-rule quality audit and leakage-safe train/test
splitting over the ``documents`` corpus.

These complete the curation family (operators/curation.py applies a
keep/drop cascade; operators/textops.py blends a scalar score): a
pretraining pipeline also needs (a) the PER-RULE failure accounting the
Gopher paper reports (so threshold tuning sees which rule bites), and
(b) a deterministic content-hash train/test split where exact-duplicate
text can never straddle the boundary (the standard eval-leakage guard),
plus the split-balance audit that verifies the hash is unbiased across
sources.

The reference has no analog (its hygiene stops at drop_duplicates,
src/processing-jobs/gtfs-static-job.py:140-145); rule shapes follow the
published Gopher/C4 heuristics with thresholds tuned to discriminate on
the synthetic corpus (token count 10-99, mean word length 3.7-5.3,
stopword count 0-14 — every rule fires on a real fraction).

Scale: every operator is map-side column math + ONE aggregation
shuffle; the split audit's leak count is a 1-row broadcast
(scalar crossJoin — same pattern as curation.py:207). No joins on
corpus-scale keys, no windows over corpus-scale relations.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..caching import persisted
from ..catalog import load_table_spread
from ..functions.portable import (
    SQL_NORM,
    SQL_TOKENS,
    hash60,
    norm,
    pround,
    sql_hash60,
    sql_pround,
    tokens,
)
from .textops import MARKERS

# Gopher-style rule thresholds (adapted to the synthetic corpus so each
# rule discriminates; the published bounds — 50..100k words, 3..10 mean
# word length, >=2 stopword hits — use the same shapes).
MIN_WORDS, MAX_WORDS = 20, 80
MIN_MEAN_WORD_LEN, MAX_MEAN_WORD_LEN = 3.9, 5.0
MIN_STOPWORD_HITS = 2
MIN_DISTINCT_RATIO = 0.40

# Content-hash split: hash mod SPLIT_MOD < TEST_BUCKETS -> test.
# Identical normalized text always hashes to the same side, so exact
# duplicates can never leak train->test.
SPLIT_MOD = 10
TEST_BUCKETS = 1  # ~10% test


def _rule_flags(docs: DataFrame) -> DataFrame:
    """Per-doc boolean rule outcomes. Mean word length uses exact
    integer counts (chars excluding separators / token count) so both
    engines compare identical doubles."""
    toks = tokens("text")
    d = docs.select(
        "doc_id",
        "source",
        F.length(norm("text")).alias("n_chars_norm"),
        F.size(toks).alias("n_toks"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.size(
            F.filter(toks, lambda t: t.isin(*MARKERS["en"]))
        ).alias("n_stop"),
    ).filter(F.col("n_toks") > 0)
    mean_len = (
        F.col("n_chars_norm") - (F.col("n_toks") - 1)
    ) / F.col("n_toks")
    return d.select(
        "doc_id",
        "source",
        (
            (F.col("n_toks") < MIN_WORDS) | (F.col("n_toks") > MAX_WORDS)
        ).alias("fail_word_count"),
        (
            (mean_len < MIN_MEAN_WORD_LEN) | (mean_len > MAX_MEAN_WORD_LEN)
        ).alias("fail_mean_word_len"),
        (F.col("n_stop") < MIN_STOPWORD_HITS).alias("fail_stopwords"),
        (
            F.col("n_distinct") / F.col("n_toks") < MIN_DISTINCT_RATIO
        ).alias("fail_repetition"),
    )


def gopher_rule_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Gopher-rule failure accounting: how many docs fail
    each rule, how many pass all, and the pass rate. The report a
    threshold-tuning loop reads; map-side flags + one source-keyed
    aggregate."""
    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    flags = _rule_flags(docs)
    fail_any = (
        F.col("fail_word_count")
        | F.col("fail_mean_word_len")
        | F.col("fail_stopwords")
        | F.col("fail_repetition")
    )
    cnt = lambda c: F.count(F.when(F.col(c), 1)).alias("n_" + c)  # noqa: E731
    return (
        flags.withColumn("passed", ~fail_any)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            cnt("fail_word_count"),
            cnt("fail_mean_word_len"),
            cnt("fail_stopwords"),
            cnt("fail_repetition"),
            F.count(F.when(F.col("passed"), 1)).alias("n_pass"),
        )
        .withColumn(
            "pass_rate", pround(F.col("n_pass") / F.col("n_docs"), 4)
        )
        .orderBy("source")
    )


def _split_col() -> Column:
    return F.when(
        F.pmod(hash60(norm("text")), SPLIT_MOD) < TEST_BUCKETS,
        F.lit("test"),
    ).otherwise(F.lit("train"))


def train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe split assignment audit: per split, doc count and
    distinct content-hash count, plus the number of content hashes
    present in BOTH splits (must be 0 by construction — the column
    exists so the audit fails loudly if the hashing ever regresses).

    ONE corpus-scale shuffle: the (hash, split) aggregate is persisted
    (house pattern for multi-consumer relations) and feeds every
    downstream number — per-split docs/hashes roll up from it, and the
    leak count is a hash-level aggregate over the same relation (the
    split is a pure function of the hash, so distinct splits per hash
    never needs a second pass over the documents). The leak count is a
    1-row aggregate broadcast onto the 2-row per-split relation."""
    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    hs = persisted(
        docs.select(
            hash60(norm("text")).alias("h"),
            _split_col().alias("split"),
        )
        .groupBy("h", "split")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    per_split = hs.groupBy("split").agg(
        F.sum("cnt").alias("n_docs"),
        F.count("h").alias("n_hashes"),
    )
    leaks = (
        hs.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_sides"))
        .agg(
            F.count(F.when(F.col("n_sides") > 1, 1)).alias("leaked_hashes")
        )
    )
    return (
        per_split.crossJoin(F.broadcast(leaks))
        .select("split", "n_docs", "n_hashes", "leaked_hashes")
        .orderBy("split")
    )


def split_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (source, split) doc counts + the test fraction per source —
    verifies the content-hash split is unbiased across sources (a
    skewed fraction means a source's text distribution collides with
    the hash, the thing you check before trusting held-out metrics)."""
    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    tagged = docs.select("source", _split_col().alias("split"))
    return (
        tagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("split") == "test", 1)).alias("n_test"),
        )
        .withColumn(
            "test_frac", pround(F.col("n_test") / F.col("n_docs"), 4)
        )
        .orderBy("source")
    )


QUERIES = {
    "gopher_rule_flags": gopher_rule_flags,
    "train_test_split": train_test_split,
    "split_balance_audit": split_balance_audit,
}

_EN_LIST = ", ".join(f"'{m}'" for m in MARKERS["en"])

_SQL_FLAGS = f"""
    SELECT doc_id, source,
           (len(toks) < {MIN_WORDS} OR len(toks) > {MAX_WORDS})
             AS fail_word_count,
           ((length(nt) - (len(toks) - 1)) / len(toks)
              < {MIN_MEAN_WORD_LEN}
            OR (length(nt) - (len(toks) - 1)) / len(toks)
              > {MAX_MEAN_WORD_LEN}) AS fail_mean_word_len,
           (len(list_filter(toks, t -> t IN ({_EN_LIST})))
              < {MIN_STOPWORD_HITS}) AS fail_stopwords,
           (len(list_distinct(toks)) / len(toks)
              < {MIN_DISTINCT_RATIO}) AS fail_repetition
    FROM (SELECT doc_id, source, {SQL_NORM} AS nt,
                 {SQL_TOKENS} AS toks
          FROM documents) d
    WHERE len(toks) > 0
"""

# a NULL text has a NULL hash and goes to train, as in _split_col
_SQL_SPLIT_CASE = f"""CASE WHEN ({sql_hash60(SQL_NORM)}) % {SPLIT_MOD}
                  < {TEST_BUCKETS}
                THEN 'test' ELSE 'train' END"""
_SQL_SPLIT = f"""
    SELECT doc_id, source,
           {sql_hash60(SQL_NORM)} AS h,
           {_SQL_SPLIT_CASE} AS split
    FROM documents
"""

ORACLES = {
    "gopher_rule_flags": f"""
        WITH flags AS ({_SQL_FLAGS})
        SELECT source,
               count(*) AS n_docs,
               count(*) FILTER (WHERE fail_word_count)
                 AS n_fail_word_count,
               count(*) FILTER (WHERE fail_mean_word_len)
                 AS n_fail_mean_word_len,
               count(*) FILTER (WHERE fail_stopwords)
                 AS n_fail_stopwords,
               count(*) FILTER (WHERE fail_repetition)
                 AS n_fail_repetition,
               count(*) FILTER (WHERE NOT (fail_word_count
                 OR fail_mean_word_len OR fail_stopwords
                 OR fail_repetition)) AS n_pass,
               {sql_pround(
                   "count(*) FILTER (WHERE NOT (fail_word_count"
                   " OR fail_mean_word_len OR fail_stopwords"
                   " OR fail_repetition)) / count(*)", 4
               )} AS pass_rate
        FROM flags
        GROUP BY source
        ORDER BY source
    """,
    "train_test_split": f"""
        WITH tagged AS ({_SQL_SPLIT}),
        per_split AS (
          SELECT split, count(*) AS n_docs,
                 count(DISTINCT h) AS n_hashes
          FROM tagged GROUP BY split
        ),
        leaks AS (
          SELECT count(*) FILTER (WHERE n_sides > 1) AS leaked_hashes
          FROM (SELECT h, count(DISTINCT split) AS n_sides
                FROM tagged GROUP BY h) s
        )
        SELECT split, n_docs, n_hashes, leaked_hashes
        FROM per_split CROSS JOIN leaks
        ORDER BY split
    """,
    "split_balance_audit": f"""
        WITH tagged AS ({_SQL_SPLIT})
        SELECT source, count(*) AS n_docs,
               count(*) FILTER (WHERE split = 'test') AS n_test,
               {sql_pround(
                   "count(*) FILTER (WHERE split = 'test') / count(*)", 4
               )} AS test_frac
        FROM tagged
        GROUP BY source
        ORDER BY source
    """,
}


# Training-shard layout: shards are keyed by doc_id (content edits
# never migrate a doc between shards, and the assignment is stable as
# the corpus grows), over the TRAIN side of the content-hash split.
N_SHARDS = 8


def epoch_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard assignment + balance audit: every
    TRAIN-split doc lands in shard = hash(doc_id) % N_SHARDS, and the
    report a shard layout needs before an epoch runs — per shard: doc
    count, summed whitespace tokens, share of train docs, and distinct
    sources reached (a shard missing sources flags a biased hash).
    Composes train_test_split's leakage-safe rule: test docs are
    excluded BEFORE sharding, so no shard can feed eval text into
    training. The reference has no analog (it trains on one pandas
    frame, src/ml/train_predict.py); the shape is the standard
    pre-training shard/shuffle step.

    Scale: map-side split + shard + token-count flags, ONE aggregate
    into an N_SHARDS-row relation; the doc-share denominator is a
    window over that 8-row relation. No corpus-scale joins."""
    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    tagged = docs.filter(_split_col() == "train").select(
        F.pmod(
            hash60(F.col("doc_id").cast("string")), N_SHARDS
        ).alias("shard"),
        "source",
        F.size(tokens("text")).alias("n_toks"),
    )
    per = tagged.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").alias("n_tokens"),
        F.countDistinct("source").alias("n_sources"),
    )
    w_all = Window.partitionBy()
    return per.select(
        "shard",
        "n_docs",
        "n_tokens",
        "n_sources",
        pround(
            F.col("n_docs").cast("double") / F.sum("n_docs").over(w_all), 6
        ).alias("doc_share"),
    ).orderBy("shard")


QUERIES["epoch_shard_plan"] = epoch_shard_plan

ORACLES["epoch_shard_plan"] = f"""
    WITH train AS (
      SELECT doc_id, source, text FROM documents
      WHERE {_SQL_SPLIT_CASE} = 'train'
    ),
    tagged AS (
      SELECT ({sql_hash60("doc_id::VARCHAR")}) % {N_SHARDS} AS shard,
             source,
             len({SQL_TOKENS}) AS n_toks
      FROM train
    ),
    per AS (
      SELECT shard, count(*) AS n_docs, sum(n_toks)::BIGINT AS n_tokens,
             count(DISTINCT source) AS n_sources
      FROM tagged GROUP BY shard
    )
    SELECT shard, n_docs, n_tokens, n_sources,
           {sql_pround("n_docs::DOUBLE / (sum(n_docs) OVER ())", 6)}
             AS doc_share
    FROM per
    ORDER BY shard
"""


# --- differentially-private release shape ------------------------------------

DP_EPSILON = 1.0  # per-release privacy budget
DP_SENSITIVITY = 1.0  # count queries: one user contributes ±1 per group


def dp_group_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-mechanism release of per-(source, lang) DISTINCT-doc
    counts — the shape a privacy-gated corpus stats endpoint publishes
    (Dwork et al. 2006): noisy = true + Lap(sensitivity/epsilon), with
    the true count and the realized noise kept as AUDIT columns (a real
    release drops them; publishing both here is what makes the
    mechanism testable and oracle-checkable).

    The noise draw is the md5-uniform inverse-CDF Laplace
    −b·sign(u−½)·ln(1−2|u−½|) seeded per group key — DETERMINISTIC, so
    both engines realize the identical sample. That is deliberately
    NOT a private RNG (a deterministic seed leaks; a production
    release swaps in a secure RNG at exactly this one expression) —
    what the operator owns is the distributed mechanism shape: noise
    applied per group AFTER the one aggregate, never per row, and the
    epsilon/sensitivity accounting carried on every row.

    Scale: one corpus distinct aggregate; the noise projection is
    groups-sized and map-side."""
    from ..functions.portable import uniform01

    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    counts = docs.groupBy("source", "lang").agg(
        F.countDistinct("doc_id").alias("true_count")
    )
    b = DP_SENSITIVITY / DP_EPSILON
    u = uniform01(
        F.concat(F.lit("dp:"), F.col("source"), F.lit("|"), F.col("lang"))
    )
    centered = u - F.lit(0.5)
    noise = (
        -F.lit(b)
        * F.signum(centered)
        * F.log(F.lit(1.0) - 2 * F.abs(centered))
    )
    return counts.select(
        "source",
        "lang",
        "true_count",
        pround(noise, 6).alias("laplace_noise"),
        pround(F.col("true_count") + noise, 6).alias("released_count"),
        F.lit(float(DP_EPSILON)).alias("epsilon"),
        F.lit(float(DP_SENSITIVITY)).alias("sensitivity"),
    ).orderBy("source", "lang")


QUERIES["dp_group_counts"] = dp_group_counts


def _dp_sql() -> str:
    from ..functions.portable import sql_uniform01

    u = sql_uniform01("'dp:' || source || '|' || lang")
    b = DP_SENSITIVITY / DP_EPSILON
    noise = (
        f"-{b} * sign(({u}) - 0.5)"
        f" * ln(1.0 - 2 * abs(({u}) - 0.5))"
    )
    return f"""
        WITH counts AS (
          SELECT source, lang, count(DISTINCT doc_id) AS true_count
          FROM documents GROUP BY source, lang
        )
        SELECT source, lang, true_count,
               {sql_pround(noise, 6)} AS laplace_noise,
               {sql_pround(f"true_count + ({noise})", 6)}
                 AS released_count,
               CAST({float(DP_EPSILON)} AS DOUBLE) AS epsilon,
               CAST({float(DP_SENSITIVITY)} AS DOUBLE) AS sensitivity
        FROM counts
        ORDER BY source, lang
    """


ORACLES["dp_group_counts"] = _dp_sql()
