"""Round-3 corpus analytics: the audits a 100 TB pretraining corpus
needs after dedup/curation — characteristic terms per source (TF-IDF),
vocabulary coverage, incremental-ingest dedup, cross-source mirror
detection, sub-document duplication, and sketch-method agreement.

The reference has no analog (its text hygiene stops at
drop_duplicates — src/processing-jobs/gtfs-static-job.py:140-145);
these follow the public C4/RefinedWeb/Gopher-style corpus-audit
recipes, re-expressed as Spark plans.

Scale design:
- TF-IDF and vocabulary coverage aggregate the exploded token stream
  with map-side combine; their outputs are vocabulary-sized (bounded by
  language, ~10^6-10^7 terms even at 100 TB), so the per-source rank
  window and the single-partition coverage window run on audit-sized
  relations, never the corpus.
- Incremental dedup and the cross-source matrix reuse the MinHash-LSH
  verified pair list (banded equi-join candidates, never all-pairs);
  the pair relation is output-sized, so the classification joins are
  cheap regardless of corpus size.
- Chunk-level duplication is one hash-grouped aggregation over the
  map-side chunk explode — the same single-shuffle shape as dedup_exact
  at chunk grain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..caching import persisted as _persisted
from ..catalog import load_table, load_table_spread
from ..functions.portable import (
    SQL_TOKENS,
    davg,
    pround,
    sql_davg,
    spark_sql_uniform01,
    sql_pround,
    tokens,
    word_tokens,
)
from ..session import scoped_conf
from .dedup import _SQL_SHINGLES, _shingle_arr
from . import dedup as _dedup
from . import textops as _textops

TFIDF_TOP_K = 5
VOCAB_SIZES = (100, 1000, 10000)
# Incremental-ingest split: docs with doc_id % INC_MOD == INC_REM play
# the "incoming batch"; the rest are the already-ingested base corpus.
INC_MOD = 7
INC_REM = 3
# Collocation audit: bigrams must occur at least this often to be PMI-
# ranked (raw PMI is maximized by one-off pairs), report the top K.
PMI_MIN_COUNT = 5
PMI_TOP_K = 25


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per source by TF-IDF
    (tf = term occurrences in the source, idf = ln(N_docs / df)).

    Rank is taken on the ROUNDED score with the term as tie-break, so
    the ordering is engine-portable.

    One corpus-scale shuffle only: tokens aggregate once on
    (tok, source, doc_id); tf and df both derive from that relation
    ((tok, doc) rows are unique since a doc has one source, so
    df = per-tok row count). df is PRE-AGGREGATED to a vocabulary-sized
    relation and joined back on tok (round-3 verdict item 6) rather
    than computed as a window over the vocabulary×sources relation —
    the grouped fold carries no per-(tok,source) window state and its
    exchange is AQE-coalescible; the vocabulary-sized per_source
    relation feeds both sides, so it is persisted once.
    """
    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    toks = word_tokens(docs, "doc_id", "source")
    n_docs = load_table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    per_doc = toks.groupBy("tok", "source", "doc_id").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    per_source = _persisted(
        per_doc.groupBy("tok", "source").agg(
            F.sum("cnt").alias("tf"),
            F.count(F.lit(1)).alias("docs_in_source"),
        )
    )
    dfq = per_source.groupBy("tok").agg(
        F.sum("docs_in_source").alias("df")
    )
    scored = per_source.join(dfq, "tok")
    score = pround(
        F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
    )
    w = Window.partitionBy("source").orderBy(F.desc("score"), "tok")
    return (
        scored.crossJoin(F.broadcast(n_docs))
        .withColumn("score", score)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("source", "tok", "tf", "df", "score", "rank")
        .orderBy("source", "rank")
    )


def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fraction of all token occurrences covered by the top-V vocabulary
    for V in VOCAB_SIZES — the curve a tokenizer-vocab decision is read
    from. The rank window is a single partition, but it runs on the
    vocabulary (language-bounded), not the corpus; the grand total
    comes from a whole-relation window over the same single-partition
    exchange rather than a second pass over the token stream."""
    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    counts = word_tokens(docs).groupBy("tok").agg(
        F.count(F.lit(1)).alias("n")
    )
    ranked = counts.withColumn(
        "rnk", F.row_number().over(Window.orderBy(F.desc("n"), "tok"))
    ).withColumn("total_tokens", F.sum("n").over(Window.partitionBy()))
    sizes = spark.createDataFrame(
        [(v,) for v in VOCAB_SIZES], "vocab_size int"
    )
    return (
        ranked.join(F.broadcast(sizes), F.col("rnk") <= F.col("vocab_size"))
        .groupBy("vocab_size", "total_tokens")
        .agg(F.sum("n").alias("covered_tokens"))
        .select(
            "vocab_size",
            "covered_tokens",
            "total_tokens",
            pround(
                F.col("covered_tokens") / F.col("total_tokens"), 6
            ).alias("coverage"),
        )
        .orderBy("vocab_size")
    )


def _near_dup_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric (doc, nbr) view of the MinHash-LSH verified pair list.
    Both union branches consume the pair list, so it is persisted once
    rather than re-running the LSH pipeline per branch."""
    pairs = _persisted(_dedup.dedup_minhash_lsh(spark, sf_dir))
    return pairs.select(
        F.col("a_id").alias("doc_id"), F.col("b_id").alias("nbr")
    ).union(
        pairs.select(F.col("b_id").alias("doc_id"), F.col("a_id").alias("nbr"))
    )


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: classify each incoming-batch document
    (doc_id % INC_MOD == INC_REM) against the already-ingested base —
    `dup_of_base` if it has a verified near-dup in the base corpus,
    `dup_in_batch` if its earliest near-dup is an earlier doc of the
    same batch, else `new`; dup_of carries the kept representative.

    This is the steady-state shape of corpus dedup at 100 TB: the daily
    crawl is deduped against the existing corpus without re-deduping
    the corpus against itself. The neighbor relation is the LSH pair
    list (output-sized), so the classification is two cheap joins.
    """
    nb = _near_dup_neighbors(spark, sf_dir)
    is_inc = (F.col("nbr") % INC_MOD) == INC_REM
    agg = nb.groupBy("doc_id").agg(
        F.min(F.when(~is_inc, F.col("nbr"))).alias("base_rep"),
        F.min(
            F.when(is_inc & (F.col("nbr") < F.col("doc_id")), F.col("nbr"))
        ).alias("batch_rep"),
    )
    incoming = load_table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") % INC_MOD) == INC_REM
    )
    verdict = (
        F.when(F.col("base_rep").isNotNull(), F.lit("dup_of_base"))
        .when(F.col("batch_rep").isNotNull(), F.lit("dup_in_batch"))
        .otherwise(F.lit("new"))
    )
    return (
        incoming.join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            verdict.alias("verdict"),
            F.coalesce("base_rep", "batch_rep").alias("dup_of"),
        )
        .orderBy("doc_id")
    )


def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pair counts per unordered source pair — the
    mirror/syndication detector (which sources republish each other's
    documents). Joins the LSH pair list to the doc→source mapping
    twice; the matrix is at most |sources|² rows."""
    pairs = _dedup.dedup_minhash_lsh(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    a = src.select(
        F.col("doc_id").alias("a_id"), F.col("source").alias("sa")
    )
    b = src.select(
        F.col("doc_id").alias("b_id"), F.col("source").alias("sb")
    )
    return (
        pairs.join(a, "a_id")
        .join(b, "b_id")
        .groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_dup_pairs"))
        .orderBy("source_a", "source_b")
    )


def chunk_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document duplication: per source, the fraction of
    CHUNK_TOKENS-token chunks (textops.doc_chunking grain) whose text
    repeats within the source — the RefinedWeb-style signal that docs
    share boilerplate even when whole-doc dedup passes. One hash-grouped
    aggregation over the map-side chunk explode."""
    chunks = _textops.doc_chunking(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        chunks.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.countDistinct(F.md5("chunk_text")).alias("n_distinct_chunks"),
        )
        .select(
            "source",
            "n_chunks",
            "n_distinct_chunks",
            pround(
                1.0 - F.col("n_distinct_chunks") / F.col("n_chunks"), 6
            ).alias("dup_rate"),
        )
        .orderBy("source")
    )


def dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row audit of how the two production near-dup sketches agree:
    pair counts found by MinHash-LSH vs SimHash, their intersection,
    union, and the Jaccard of the two pair sets. Full outer join of two
    output-sized pair lists."""
    m = _dedup.dedup_minhash_lsh(spark, sf_dir).select(
        "a_id", "b_id", F.lit(1).alias("in_m")
    )
    s = _dedup.dedup_simhash(spark, sf_dir).select(
        "a_id", "b_id", F.lit(1).alias("in_s")
    )
    both = m.join(s, ["a_id", "b_id"], "full_outer")
    return both.agg(
        F.count("in_m").alias("n_minhash"),
        F.count("in_s").alias("n_simhash"),
        F.count(F.when(F.col("in_m").isNotNull() & F.col("in_s").isNotNull(),
                       1)).alias("n_both"),
        F.count(F.lit(1)).alias("n_either"),
        pround(
            F.count(
                F.when(
                    F.col("in_m").isNotNull() & F.col("in_s").isNotNull(), 1
                )
            )
            / F.count(F.lit(1)),
            6,
        ).alias("method_jaccard"),
    )


def _bigram_arr(c):
    """Token-bigram array (WITH multiplicity — LM counts need it), pure
    map-side: zip the token array with its own 1-shifted slice; the
    null-padded tail concats to null and is filtered off."""
    toks = tokens(c)
    shifted = F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))
    pairs = F.zip_with(
        toks, shifted, lambda a, b: F.concat(a, F.lit(" "), b)
    )
    return F.filter(pairs, lambda x: x.isNotNull())


def lm_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KenLM-style quality filter stand-in: score every document's
    average token-bigram log-probability under the corpus's own bigram
    model (unigram-free MLE: p(bg) = count(bg) / total bigrams), plus
    the perplexity proxy exp(-avg). Low-probability docs are the
    gibberish/boilerplate candidates a perplexity filter drops.

    Determinism: the per-doc mean is a decimal-exact fold (davg) over
    ln values, so accumulation order cannot flip the rounded digit, and
    the perplexity is derived from the already-rounded mean.

    Scale: two linear passes over the exploded bigram stream (model
    aggregate, then per-doc score join+aggregate); the model relation is
    bigram-vocabulary-sized and the join is a hash equi-join on the
    bigram — never all-pairs. Docs with < 2 tokens have no bigrams and
    drop out (both engines). The exploded bigram stream feeds both the
    model aggregate and the scoring join, so it is persisted once
    (Spark re-executes shared subplans per consumer otherwise — two
    corpus-scale tokenize+explode passes instead of one).
    """
    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    bg = _persisted(
        docs.select(
            "doc_id", F.explode(_bigram_arr(F.col("text"))).alias("bg")
        )
    )
    model = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("cnt"))
    total = model.agg(F.sum("cnt").alias("total"))
    scored = (
        bg.join(model, "bg")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            davg(F.log(F.col("cnt") / F.col("total")), 6).alias(
                "avg_logprob"
            ),
        )
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        "avg_logprob",
        pround(F.exp(-F.col("avg_logprob")), 4).alias("ppl_proxy"),
    ).orderBy("doc_id")


def shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of its distinct 3-gram word
    shingles that occur in NO other document — the inverse boilerplate
    signal (novelty 1.0 = fully original text, near 0 = assembled from
    corpus-common fragments).

    Scale: shingle explode + one groupBy on the shingle (document
    frequency) + one groupBy back on the doc — two linear shuffles,
    the same shape as the dedup shingle pipeline. The exploded shingle
    stream feeds both the frequency aggregate and the scoring join, so
    it is persisted once."""
    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    sh = _persisted(
        docs.select(
            "doc_id", F.explode(_shingle_arr(F.col("text"))).alias("sh")
        )
    )
    sh_df = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    return (
        sh.join(sh_df, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias(
                "n_novel"
            ),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            pround(F.col("n_novel") / F.col("n_shingles"), 6).alias(
                "novelty"
            ),
        )
        .orderBy("doc_id")
    )


def token_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: the top-K token bigrams by pointwise mutual
    information, PMI = ln(p(ab) / (p(a)·p(b))) with p(ab) over the
    bigram stream and p(a), p(b) over the unigram stream, restricted to
    bigrams seen >= PMI_MIN_COUNT times (raw PMI is maximized by
    hapaxes). High-PMI pairs are the multi-word expressions a tokenizer
    or phrase-mining pass should treat as units — the standard
    collocation audit (Church & Hanks 1990) run before building a
    vocabulary.

    Determinism: PMI is one fixed double expression over four integer
    counts (identical in both engines); ranking orders by the ROUNDED
    pmi with the bigram string as tie-break, so the top-K cut is
    engine-portable.

    Scale: one corpus-scale aggregate per stream (unigram counts,
    bigram counts — both with map-side partial aggregation); the
    PMI join runs on the bigram-VOCABULARY relation (already filtered
    to cnt >= PMI_MIN_COUNT, so the hash joins against the unigram
    vocabulary are post-threshold-sized), totals are 1-row broadcasts,
    and the final top-K compiles to TakeOrderedAndProject — no
    full-relation sort."""
    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    uni = (
        word_tokens(docs)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    uni = _persisted(uni)
    total_uni = uni.agg(F.sum("cnt").alias("total_uni"))
    bg = docs.select(F.explode(_bigram_arr(F.col("text"))).alias("bg"))
    bic = _persisted(
        bg.groupBy("bg").agg(F.count(F.lit(1)).alias("cnt_ab"))
    )
    total_bi = bic.agg(F.sum("cnt_ab").alias("total_bi"))
    parts = F.split(F.col("bg"), " ")
    a = uni.select(
        F.col("tok").alias("w1"), F.col("cnt").alias("cnt_a")
    )
    b = uni.select(
        F.col("tok").alias("w2"), F.col("cnt").alias("cnt_b")
    )
    pmi = F.log(
        (F.col("cnt_ab").cast("double") / F.col("total_bi"))
        / (
            (F.col("cnt_a").cast("double") / F.col("total_uni"))
            * (F.col("cnt_b").cast("double") / F.col("total_uni"))
        )
    )
    return (
        bic.filter(F.col("cnt_ab") >= PMI_MIN_COUNT)
        .withColumn("w1", parts[0])
        .withColumn("w2", parts[1])
        .join(a, "w1")
        .join(b, "w2")
        .crossJoin(F.broadcast(total_uni))
        .crossJoin(F.broadcast(total_bi))
        .select(
            F.col("bg").alias("bigram"),
            "cnt_ab",
            "cnt_a",
            "cnt_b",
            pround(pmi, 6).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "bigram")
        .limit(PMI_TOP_K)
    )


QUERIES = {
    "lm_bigram_logprob": lm_bigram_logprob,
    "shingle_novelty": shingle_novelty,
    "tfidf_top_terms": tfidf_top_terms,
    "vocab_coverage": vocab_coverage,
    "dedup_incremental": dedup_incremental,
    "cross_source_dup_matrix": cross_source_dup_matrix,
    "chunk_dup_rate": chunk_dup_rate,
    "dedup_method_agreement": dedup_method_agreement,
    "token_pmi_bigrams": token_pmi_bigrams,
}

_SQL_WORD_TOKENS = f"""
    SELECT doc_id, source, tok
    FROM (SELECT doc_id, source,
                 unnest({SQL_TOKENS}) AS tok
          FROM documents) t
    WHERE tok != ''
"""

_SQL_MINHASH_PAIRS = _dedup.ORACLES["dedup_minhash_lsh"]
_SQL_SIMHASH_PAIRS = _dedup.ORACLES["dedup_simhash"]
_SQL_CHUNKS = _textops.ORACLES["doc_chunking"]

def sql_bigrams(extra_cols: str = "") -> str:
    """The token-bigram stream as SQL, optionally carrying extra
    document columns (e.g. ``"source, "``) — ONE definition so every
    bigram-LM oracle (lm_bigram_logprob here, rho_loss_selection in
    selection.py) derives from the same tokenization."""
    return f"""
    SELECT doc_id, {extra_cols}
           unnest(list_transform(
             range(1, greatest(len(toks), 1)),
             i -> toks[i] || ' ' || toks[i+1]
           )) AS bg
    FROM (SELECT doc_id, {extra_cols} {SQL_TOKENS} AS toks
          FROM documents) d
    WHERE len(toks) >= 2
"""


_SQL_BIGRAMS = sql_bigrams()

ORACLES = {
    "lm_bigram_logprob": f"""
        WITH bg AS ({_SQL_BIGRAMS}),
        model AS (SELECT bg AS g, count(*) AS cnt FROM bg GROUP BY bg),
        tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM model),
        scored AS (
          SELECT doc_id, count(*) AS n_bigrams,
                 {sql_davg('ln(cnt::DOUBLE / total)', 6)} AS avg_logprob
          FROM bg JOIN model ON bg.bg = model.g, tot
          GROUP BY doc_id
        )
        SELECT doc_id, n_bigrams, avg_logprob,
               {sql_pround('exp(-avg_logprob)', 4)} AS ppl_proxy
        FROM scored
        ORDER BY doc_id
    """,
    "shingle_novelty": f"""
        WITH sh AS ({_SQL_SHINGLES}),
        dfq AS (SELECT sh AS g, count(*) AS df FROM sh GROUP BY sh)
        SELECT doc_id,
               count(*) AS n_shingles,
               CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_novel,
               {sql_pround(
                   'sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)::DOUBLE '
                   '/ count(*)', 6)} AS novelty
        FROM sh JOIN dfq ON sh.sh = dfq.g
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    "tfidf_top_terms": f"""
        WITH t AS ({_SQL_WORD_TOKENS}),
        n AS (SELECT count(*) AS n_docs FROM documents),
        dfq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM t GROUP BY tok),
        tf AS (SELECT source, tok, count(*) AS tf FROM t GROUP BY source, tok)
        SELECT source, tok, tf, df, score, rank
        FROM (
          SELECT source, tok, tf, df,
                 {sql_pround('tf * ln(n_docs::DOUBLE / df)', 6)} AS score,
                 row_number() OVER (
                   PARTITION BY source
                   ORDER BY {sql_pround('tf * ln(n_docs::DOUBLE / df)', 6)}
                     DESC, tok
                 ) AS rank
          FROM tf JOIN dfq USING (tok), n
        ) r
        WHERE rank <= {TFIDF_TOP_K}
        ORDER BY source, rank
    """,
    "vocab_coverage": f"""
        WITH counts AS (
          SELECT tok, count(*) AS n FROM ({_SQL_WORD_TOKENS}) t GROUP BY tok
        ),
        ranked AS (
          SELECT n, row_number() OVER (ORDER BY n DESC, tok) AS rnk
          FROM counts
        ),
        tot AS (SELECT CAST(sum(n) AS BIGINT) AS total_tokens FROM counts)
        SELECT v.vocab_size,
               CAST(sum(r.n) AS BIGINT) AS covered_tokens,
               total_tokens,
               {sql_pround('sum(r.n)::DOUBLE / total_tokens', 6)} AS coverage
        FROM (VALUES {", ".join(f"({v})" for v in VOCAB_SIZES)})
               v(vocab_size)
        JOIN ranked r ON r.rnk <= v.vocab_size, tot
        GROUP BY v.vocab_size, total_tokens
        ORDER BY v.vocab_size
    """,
    "dedup_incremental": f"""
        WITH pairs AS ({_SQL_MINHASH_PAIRS}),
        nb AS (
          SELECT a_id AS doc_id, b_id AS nbr FROM pairs
          UNION ALL
          SELECT b_id AS doc_id, a_id AS nbr FROM pairs
        ),
        agg AS (
          SELECT doc_id,
                 min(CASE WHEN nbr % {INC_MOD} != {INC_REM}
                          THEN nbr END) AS base_rep,
                 min(CASE WHEN nbr % {INC_MOD} = {INC_REM} AND nbr < doc_id
                          THEN nbr END) AS batch_rep
          FROM nb GROUP BY doc_id
        )
        SELECT d.doc_id, d.source,
               CASE WHEN base_rep IS NOT NULL THEN 'dup_of_base'
                    WHEN batch_rep IS NOT NULL THEN 'dup_in_batch'
                    ELSE 'new' END AS verdict,
               coalesce(base_rep, batch_rep) AS dup_of
        FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
        WHERE d.doc_id % {INC_MOD} = {INC_REM}
        ORDER BY d.doc_id
    """,
    "cross_source_dup_matrix": f"""
        WITH pairs AS ({_SQL_MINHASH_PAIRS})
        SELECT least(da.source, db.source) AS source_a,
               greatest(da.source, db.source) AS source_b,
               count(*) AS n_dup_pairs
        FROM pairs p
        JOIN documents da ON da.doc_id = p.a_id
        JOIN documents db ON db.doc_id = p.b_id
        GROUP BY 1, 2
        ORDER BY source_a, source_b
    """,
    "chunk_dup_rate": f"""
        WITH chunks AS ({_SQL_CHUNKS})
        SELECT d.source,
               count(*) AS n_chunks,
               count(DISTINCT md5(chunk_text)) AS n_distinct_chunks,
               {sql_pround(
                   '1.0 - count(DISTINCT md5(chunk_text))::DOUBLE '
                   '/ count(*)', 6)} AS dup_rate
        FROM chunks c JOIN documents d ON c.doc_id = d.doc_id
        GROUP BY d.source
        ORDER BY d.source
    """,
    "dedup_method_agreement": f"""
        WITH m AS ({_SQL_MINHASH_PAIRS}),
        s AS ({_SQL_SIMHASH_PAIRS}),
        j AS (
          SELECT coalesce(m.a_id, s.a_id) AS a_id,
                 coalesce(m.b_id, s.b_id) AS b_id,
                 m.a_id IS NOT NULL AS in_m,
                 s.a_id IS NOT NULL AS in_s
          FROM m FULL OUTER JOIN s
            ON m.a_id = s.a_id AND m.b_id = s.b_id
        )
        SELECT count(*) FILTER (WHERE in_m) AS n_minhash,
               count(*) FILTER (WHERE in_s) AS n_simhash,
               count(*) FILTER (WHERE in_m AND in_s) AS n_both,
               count(*) AS n_either,
               {sql_pround(
                   '(count(*) FILTER (WHERE in_m AND in_s))::DOUBLE '
                   '/ count(*)', 6)} AS method_jaccard
        FROM j
    """,
    "token_pmi_bigrams": f"""
        WITH t AS ({_SQL_WORD_TOKENS}),
        uni AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok),
        tu AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_uni FROM uni),
        bg AS ({_SQL_BIGRAMS}),
        bic AS (SELECT bg AS g, count(*) AS cnt_ab FROM bg GROUP BY bg),
        tb AS (
          SELECT CAST(sum(cnt_ab) AS BIGINT) AS total_bi FROM bic
        )
        SELECT g AS bigram, cnt_ab,
               a.cnt AS cnt_a, b.cnt AS cnt_b,
               {sql_pround(
                   'ln((cnt_ab::DOUBLE / total_bi) / '
                   '((a.cnt::DOUBLE / total_uni) '
                   '* (b.cnt::DOUBLE / total_uni)))', 6)} AS pmi
        FROM bic
        CROSS JOIN tu CROSS JOIN tb
        JOIN uni a ON string_split(g, ' ')[1] = a.tok
        JOIN uni b ON string_split(g, ' ')[2] = b.tok
        WHERE cnt_ab >= {PMI_MIN_COUNT}
        ORDER BY pmi DESC, bigram
        LIMIT {PMI_TOP_K}
    """,
}


DOC_TERMS_K = 3  # keywords per document


def doc_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DOCUMENT keyword extraction: top-DOC_TERMS_K terms by
    tf-idf (tf = in-doc occurrences, idf = ln(N/df)) — the doc-grain
    twin of tfidf_top_terms, i.e. the keyword column a search index or
    topic labeler materializes for every document.

    Scale: one corpus-scale (doc, tok) aggregate; df is pre-aggregated
    to the vocabulary and joined back on tok; the per-doc rank window
    partitions on doc_id. Rank on the ROUNDED score with the term as
    tie-break, so the ordering is engine-portable."""
    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    toks = word_tokens(docs, "doc_id")
    n_docs = load_table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    per_doc = _persisted(
        toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    )
    dfq = per_doc.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    score = pround(
        F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "tok")
    return (
        per_doc.join(dfq, "tok")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("score", score)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= DOC_TERMS_K)
        .select("doc_id", "tok", "tf", "df", "score", "rank")
        .orderBy("doc_id", "rank")
    )


QUERIES["doc_top_terms"] = doc_top_terms

ORACLES["doc_top_terms"] = f"""
    WITH t AS ({_SQL_WORD_TOKENS}),
    n AS (SELECT count(*) AS n_docs FROM documents),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY doc_id, tok),
    dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok)
    SELECT doc_id, tok, tf, df, score, rank
    FROM (
      SELECT doc_id, tok, tf, df,
             {sql_pround('tf * ln(n_docs::DOUBLE / df)', 6)} AS score,
             row_number() OVER (
               PARTITION BY doc_id
               ORDER BY {sql_pround('tf * ln(n_docs::DOUBLE / df)', 6)}
                 DESC, tok
             ) AS rank
      FROM tf JOIN dfq USING (tok), n
    ) r
    WHERE rank <= {DOC_TERMS_K}
    ORDER BY doc_id, rank
"""


# Okapi BM25 ranked retrieval: the classic probabilistic relevance
# function (Robertson & Zaragoza 2009; the +1-inside-the-log idf
# variant Lucene ships, so idf is never negative). Fixed query set
# over the corpus vocabulary — retrieval against a 100 TB corpus is
# the "find me training docs about X" primitive that tfidf_top_terms
# (per-source profile) and inverted_index_sample (posting lists) stop
# short of.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 10
BM25_QUERY_TERMS = (
    (0, "spark"), (0, "query"), (0, "join"),
    (1, "customer"), (1, "table"), (1, "scan"),
    (2, "stream"), (2, "window"), (2, "batch"),
)


def bm25_retrieval_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k documents per query by Okapi BM25 (k1=1.2, b=0.75).

    Plan shape for 100 TB: ONE corpus tokenize pass — a persisted
    (doc_id, dl, query-vocabulary token array) projection feeds both
    the tf explode (pre-filtered map-side to the query vocabulary, so
    the aggregate shuffles only the matching slice) and the N/avgdl
    stats aggregate (round-8: the stats previously re-split every
    document, a second full corpus scan the sf1 tier billed); df and
    the corpus stats are vocabulary-/one-row-sized broadcasts.

    Portability: tf/df/dl/N are exact integers, both engines evaluate
    the identically-shaped double expression, each per-term score is
    9dp-quantized and decimal-summed (order-independent), and the rank
    orders by that exact sum with doc_id tie-break."""
    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    vocab = sorted({t for _, t in BM25_QUERY_TERMS})
    toks = F.filter(tokens("text"), lambda t: t != "")
    base = _persisted(
        docs.select(
            "doc_id",
            F.size(toks).alias("dl"),
            F.filter(toks, lambda t: t.isin(*vocab)).alias("qtoks"),
        )
    )
    exploded = base.select(
        "doc_id", "dl", F.explode("qtoks").alias("tok")
    )
    tf = exploded.groupBy("doc_id", "dl", "tok").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dfq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    stats = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dl").alias("sum_dl"),
    )
    q = spark.createDataFrame(
        list(BM25_QUERY_TERMS), "query_id int, tok string"
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n")
    idf = F.log(
        F.lit(1.0)
        + (F.col("n").cast("double") - F.col("df") + 0.5)
        / (F.col("df") + 0.5)
    )
    tfc = (F.col("tf") * (BM25_K1 + 1.0)) / (
        F.col("tf")
        + BM25_K1 * (1.0 - BM25_B + BM25_B * (F.col("dl") / avgdl))
    )
    scored = (
        tf.join(F.broadcast(dfq), "tok")
        .join(F.broadcast(q), "tok")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "doc_id",
            pround(idf * tfc, 9).alias("ts"),
        )
    )
    agg = scored.groupBy("query_id", "doc_id").agg(
        F.sum(F.col("ts").cast("decimal(28,9)")).cast("double").alias(
            "score_x"
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_x").desc(), F.col("doc_id").asc()
    )
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BM25_TOP_K)
        .select(
            "query_id",
            "rank",
            "doc_id",
            pround("score_x", 6).alias("score"),
        )
        .orderBy("query_id", "rank")
    )


QUERIES["bm25_retrieval_topk"] = bm25_retrieval_topk

_SQL_BM25_Q = "VALUES " + ", ".join(
    f"({qid}, '{t}')" for qid, t in BM25_QUERY_TERMS
)
_SQL_BM25_TS = (
    "ln(1.0 + (n::DOUBLE - df + 0.5) / (df + 0.5))"
    f" * ((tf * ({BM25_K1} + 1.0))"
    f" / (tf + {BM25_K1} * (1.0 - {BM25_B}"
    f" + {BM25_B} * (dl / (sum_dl::DOUBLE / n)))))"
)

ORACLES["bm25_retrieval_topk"] = f"""
    WITH dld AS (
      SELECT doc_id,
             len(list_filter({SQL_TOKENS},
                             x -> x <> '')) AS dl,
             text
      FROM documents
    ),
    stats AS (SELECT count(*) AS n, sum(dl)::BIGINT AS sum_dl FROM dld),
    toks AS (
      SELECT doc_id, dl, unnest({SQL_TOKENS}) AS tok
      FROM dld
    ),
    q(query_id, tok) AS ({_SQL_BM25_Q}),
    tf AS (
      SELECT doc_id, dl, tok, count(*) AS tf
      FROM toks WHERE tok IN (SELECT tok FROM q)
      GROUP BY doc_id, dl, tok
    ),
    dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    scored AS (
      SELECT q.query_id, t.doc_id,
             {sql_pround(_SQL_BM25_TS, 9)} AS ts
      FROM tf t JOIN dfq USING (tok) JOIN q ON q.tok = t.tok
      CROSS JOIN stats
    ),
    agg AS (
      SELECT query_id, doc_id,
             (sum((ts)::DECIMAL(28,9)))::DOUBLE AS score_x
      FROM scored GROUP BY query_id, doc_id
    )
    SELECT query_id, rank, doc_id, {sql_pround("score_x", 6)} AS score
    FROM (
      SELECT query_id, doc_id, score_x,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY score_x DESC, doc_id ASC
             ) AS rank
      FROM agg
    ) r
    WHERE rank <= {BM25_TOP_K}
    ORDER BY query_id, rank
"""


# --- one distributed NMF multiplicative update (topic model round) ----------

NMF_K = 4  # topics
NMF_TOP = 5  # reported terms per topic
NMF_EPS = 1e-9  # divide guard in the multiplicative rule


def _nmf_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus tf matrix V in long form (one corpus token shuffle),
    persisted — shared by the single-round and unrolled-rounds keys."""
    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    return _persisted(
        word_tokens(docs, "doc_id")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("double").alias("v"))
    )


def _nmf_init(spark: SparkSession, sf_dir: str):
    """Shared NMF setup: the corpus tf matrix V in long form (one corpus
    token shuffle) and the md5-uniform deterministic inits of both
    factors — W (doc × topic) and H (topic × term), both long-form
    relations, never dense matrices."""
    from ..functions.portable import uniform01

    v = _nmf_v(spark, sf_dir)
    topics = spark.range(NMF_K).select(F.col("id").cast("int").alias("topic"))
    w = _persisted(
        v.select("doc_id")
        .distinct()
        .join(F.broadcast(topics))
        .select(
            "doc_id",
            "topic",
            uniform01(
                F.concat(
                    F.lit("nmfw:"),
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("topic").cast("string"),
                )
            ).alias("w"),
        )
    )
    # persisted like W: every consumer of the init H (the update
    # joins, the Gram folds, the objective's L1 fold) otherwise
    # re-runs the vocabulary distinct + one md5 per (topic, tok)
    h = _persisted(
        v.select("tok").distinct().join(F.broadcast(topics)).select(
            "topic",
            "tok",
            uniform01(
                F.concat(
                    F.lit("nmfh:"),
                    F.col("topic").cast("string"),
                    F.lit(":"),
                    F.col("tok"),
                )
            ).alias("h"),
        )
    )
    return v, w, h


def nmf_topic_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One multiplicative NMF update round (Lee & Seung 2001, NIPS) of
    the topic-term factor H over the corpus tf matrix V ≈ W·H — topic
    modeling as the engine runs it: H' = H ⊙ (WᵀV) ⊘ (WᵀW·H + ε),
    reported as the top NMF_TOP terms per topic after the update.
    Deterministic md5-uniform init for BOTH factors, so the whole
    round — init, the two Gram products, the elementwise update, the
    rank — sits under the oracle hash gate (pyspark.ml's LDA/ALS are
    rows-only by nature; this is the oracle-checkable factorization
    slice, the same split the distributed-Lloyd keys make for IVF).

    Scale: V is the one corpus token shuffle (tf counts); W lives in
    long form (doc, topic, w) and joins V on doc_id — co-partitioned
    hash joins, never a dense matrix; WᵀV and WᵀW are decimal-exact
    folds to k×vocab / k×k relations, after which everything is
    topic-sized. Further rounds = repeat with lineage truncation (the
    unrolled-loop pattern of BPE/PageRank/Lloyd).

    Portability: every sum that crosses a partition boundary is an
    exact DECIMAL fold of identically-computed double products; the
    update quantizes to 9dp before ranking with term tie-break."""
    from ..functions.portable import dsum_exact

    v, w, h = _nmf_init(spark, sf_dir)
    wtv = (
        w.join(v, "doc_id")
        .groupBy("topic", "tok")
        .agg(dsum_exact(F.col("w") * F.col("v")).alias("wtv"))
    )
    w2 = w.select(
        "doc_id", F.col("topic").alias("topic2"), F.col("w").alias("w2")
    )
    wtw = (
        w.join(w2, "doc_id")
        .groupBy("topic", "topic2")
        .agg(dsum_exact(F.col("w") * F.col("w2")).alias("g"))
    )
    wtwh = (
        F.broadcast(wtw)
        .join(
            h.select(
                F.col("topic").alias("topic2"), "tok", F.col("h").alias("h2")
            ),
            "topic2",
        )
        .groupBy("topic", "tok")
        .agg(dsum_exact(F.col("g") * F.col("h2")).alias("den"))
    )
    updated = (
        h.join(wtv, ["topic", "tok"], "left")
        .join(wtwh, ["topic", "tok"], "left")
        .select(
            "topic",
            "tok",
            pround(
                F.col("h")
                * F.coalesce(F.col("wtv"), F.lit(0.0))
                / (F.coalesce(F.col("den"), F.lit(0.0)) + F.lit(NMF_EPS)),
                9,
            ).alias("h_new"),
        )
    )
    rk = Window.partitionBy("topic").orderBy(F.desc("h_new"), "tok")
    return (
        updated.withColumn("rank", F.row_number().over(rk))
        .filter(F.col("rank") <= NMF_TOP)
        .select("topic", "rank", "tok", "h_new")
        .orderBy("topic", "rank")
    )


QUERIES["nmf_topic_round"] = nmf_topic_round


def _nmf_sql() -> str:
    from ..functions.portable import sql_uniform01

    uw = sql_uniform01("'nmfw:' || CAST(doc_id AS VARCHAR) || ':' || CAST(topic AS VARCHAR)")
    uh = sql_uniform01("'nmfh:' || CAST(topic AS VARCHAR) || ':' || tok")
    return f"""
        WITH v AS (
          SELECT doc_id, tok, count(*)::DOUBLE AS v
          FROM (SELECT doc_id,
                       unnest({SQL_TOKENS}) AS tok
                FROM documents) t
          WHERE tok != ''
          GROUP BY doc_id, tok
        ),
        topics AS (SELECT unnest(range({NMF_K}))::INT AS topic),
        w AS (
          SELECT doc_id, topic, {uw} AS w
          FROM (SELECT DISTINCT doc_id FROM v) d CROSS JOIN topics
        ),
        h AS (
          SELECT topic, tok, {uh} AS h
          FROM (SELECT DISTINCT tok FROM v) t CROSS JOIN topics
        ),
        wtv AS (
          SELECT topic, tok,
                 (sum((w.w * v.v)::DECIMAL(28,6)))::DOUBLE AS wtv
          FROM w JOIN v USING (doc_id)
          GROUP BY topic, tok
        ),
        wtw AS (
          SELECT a.topic, b.topic AS topic2,
                 (sum((a.w * b.w)::DECIMAL(28,6)))::DOUBLE AS g
          FROM w a JOIN w b USING (doc_id)
          GROUP BY a.topic, b.topic
        ),
        wtwh AS (
          SELECT wtw.topic, h2.tok,
                 (sum((wtw.g * h2.h)::DECIMAL(28,6)))::DOUBLE AS den
          FROM wtw JOIN h h2 ON h2.topic = wtw.topic2
          GROUP BY wtw.topic, h2.tok
        ),
        updated AS (
          SELECT h.topic, h.tok,
                 {sql_pround(
                     'h.h * coalesce(wtv.wtv, 0.0)'
                     f' / (coalesce(wtwh.den, 0.0) + {NMF_EPS})', 9
                 )} AS h_new
          FROM h
          LEFT JOIN wtv ON wtv.topic = h.topic AND wtv.tok = h.tok
          LEFT JOIN wtwh ON wtwh.topic = h.topic AND wtwh.tok = h.tok
        )
        SELECT topic, rank, tok, h_new FROM (
          SELECT *, CAST(row_number() OVER (
                   PARTITION BY topic ORDER BY h_new DESC, tok) AS INT)
                   AS rank
          FROM updated
        ) r WHERE rank <= {NMF_TOP}
        ORDER BY topic, rank
    """


ORACLES["nmf_topic_round"] = _nmf_sql()


NMF_ROUNDS = 3  # unrolled alternating (H, W) multiplicative rounds


def _snround(x: str, n: int) -> str:
    """Spark-SQL string twin of functions.portable.pround — `d`
    suffixes force DOUBLE literals (bare float literals parse as
    DECIMAL in Spark SQL, which would change every downstream type)."""
    s = repr(float(10**n)) + "d"
    return f"floor(({x}) * {s} + 0.5d) / {s}"


def _sd6(x: str) -> str:
    """One addend of the exact decimal folds — IDENTICAL to what
    dsum_exact(pround(c, 6)) feeds its sum in the long form."""
    return f"cast({_snround(x, 6)} as decimal(28,6))"


# --- nmf_topic_rounds expression strings, built at IMPORT time -------
# Round-10 (guide §7.3 driver-side planning cost): building the k²-term
# Column trees through py4j cost ~1.5 s of pure driver time per
# invocation (hundreds of round trips per tree even when built once per
# call). Each expression is now ONE prebuilt SQL string parsed JVM-side
# by a single F.expr call; string assembly is pure Python at import.
# The parsed trees are operator-for-operator the Column builders'
# (the pround twin above, portable.spark_sql_uniform01), so every output
# value is unchanged — re-proven against the unchanged chained-CTE oracle.
_NMF_KS = range(NMF_K)
_NMF_WTV_AGGS = [
    f"cast(sum({_sd6(f'w{k} * v')}) as double) as wtv{k}" for k in _NMF_KS
]
# L1 masses folded INTO the Gram aggregates (same relation, same
# addends -> identical values; two fewer aggregate subtrees per round)
_NMF_WM = (
    _snround(
        "cast(sum("
        + " + ".join(f"cast(w{k} as decimal(28,6))" for k in _NMF_KS)
        + ") as double)",
        6,
    )
    + " as w_l1"
)
_NMF_HM = (
    _snround(
        "cast(sum("
        + " + ".join(f"cast(h{k} as decimal(28,6))" for k in _NMF_KS)
        + ") as double)",
        6,
    )
    + " as h_l1"
)
_NMF_WTW_AGGS = [
    f"cast(sum({_sd6(f'w{i} * w{j}')}) as double) as g{i}_{j}"
    for i in _NMF_KS
    for j in _NMF_KS
] + [_NMF_WM]
_NMF_HHT_AGGS = [
    f"cast(sum({_sd6(f'h{i} * h{j}')}) as double) as hg{i}_{j}"
    for i in _NMF_KS
    for j in _NMF_KS
] + [_NMF_HM]
_NMF_VHT_AGGS = [
    f"cast(sum({_sd6(f'v * h{k}')}) as double) as vht{k}" for k in _NMF_KS
]
_NMF_XH_AGG = (
    "cast(sum("
    + " + ".join(_sd6(f"wtv{k} * h{k}") for k in _NMF_KS)
    + ") as double) as xh"
)
_NMF_GG_COL = (
    "cast("
    + " + ".join(_sd6(f"g{i}_{j} * hg{i}_{j}") for i in _NMF_KS for j in _NMF_KS)
    + " as double) as gg"
)
_NMF_H_UPD = [
    _snround(
        f"h{k} * coalesce(wtv{k}, 0.0d) / (cast("
        + " + ".join(_sd6(f"g{k}_{j} * h{j}") for j in _NMF_KS)
        + f" as double) + {NMF_EPS!r}d)",
        9,
    )
    + f" as h{k}"
    for k in _NMF_KS
]
_NMF_W_UPD = [
    _snround(
        f"w{k} * coalesce(vht{k}, 0.0d) / (cast("
        + " + ".join(_sd6(f"w{j} * hg{k}_{j}") for j in _NMF_KS)
        + f" as double) + {NMF_EPS!r}d)",
        9,
    )
    + f" as w{k}"
    for k in _NMF_KS
]
_NMF_OBJ_COL = _snround("v2 - 2.0d * xh + gg", 6) + " as objective"
# md5-uniform inits, same seed strings as the long form
# ("nmfw:<doc>:<topic>" / "nmfh:<topic>:<tok>"), topic a compile-time
# literal per column
_NMF_W_INIT = [
    spark_sql_uniform01(f"concat('nmfw:', cast(doc_id as string), ':{k}')")
    + f" as w{k}"
    for k in _NMF_KS
]
_NMF_H_INIT = [
    spark_sql_uniform01(f"concat('nmfh:{k}:', tok)") + f" as h{k}"
    for k in _NMF_KS
]
_NMF_GCOLS = [f"g{i}_{j}" for i in _NMF_KS for j in _NMF_KS]
_NMF_HGCOLS = [f"hg{i}_{j}" for i in _NMF_KS for j in _NMF_KS]


def nmf_topic_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NMF_ROUNDS unrolled alternating multiplicative rounds (Lee &
    Seung 2001, NIPS — round-8 verdict item 4) with the PER-ROUND
    reconstruction objective J = ||V − WH||²_F as the oracle-checked
    convergence evidence: one row per round (round 0 = the md5-uniform
    init) carrying the objective and the L1 mass of both factors.
    Theorem 1's guarantee — J non-increasing under each multiplicative
    update — is asserted over these rows in tests and is visible in the
    hashed output itself.

    Each round: H ← H ⊙ (WᵀV) ⊘ (WᵀW·H + ε), then
    W ← W ⊙ (VHᵀ) ⊘ (W·HHᵀ + ε). The objective never materializes the
    dense doc×term reconstruction: J = ||V||² − 2·Σ(WᵀV ⊙ H)
    + Σ(WᵀW ⊙ HHᵀ), all three terms folds over relations the updates
    already compute (k×vocab, k×k) — O(nnz·k) per round, topic-sized
    after the Gram folds, regardless of corpus size.

    Scale (round-9): factors are carried WIDE — one row per doc/term
    with NMF_K topic columns — killing the ×k join fan-out; per round
    only the two fundamental corpus-scale joins remain (V⋈W on doc_id,
    V⋈H on tok) and WᵀW/HHᵀ collapse to 1-row aggregates. Factors are
    quantized to 9dp and eagerly localCheckpoint-ed per round (the
    BPE/PageRank/Lloyd lineage-truncation pattern), so the plan never
    grows with the round count.

    Round-10 (ALS-style partitioner-aware iteration — guide §2.4
    "remove shuffles outright", the MLlib ALS co-partitioning recipe):
    V is materialized in TWO pinned layouts, hash(doc_id, P) and
    hash(tok, P) (user-specified repartition counts are never
    AQE-coalesced, so the partitioning is stable across rounds), the
    factor inits derive from the matching copy via an exchange-free
    distinct, and AQE is disabled while the per-round checkpoints
    execute so every checkpoint captures hash(key, P) (see the toggle
    comment below). Result: every per-round join (H⋈WᵀV on tok, W⋈VHᵀ
    on doc_id, V⋈factor) is co-partitioned and EXCHANGE-FREE — the
    only per-round exchanges left are the two fundamental Gram
    aggregations (wtv by tok, vht by doc_id) and the 1-row Gram folds
    (h-update frame: 3 → 1 counted exchanges,
    plans/r10/nmf_topic_rounds_roundplans_{before,after}.txt). P rides
    spark.sql.shuffle.partitions ($SPARK_GRAFT_SHUFFLE), so the layout
    is scale-adaptive, exactly the fixed-partitioner iteration ALS
    runs at cluster scale. The L1-mass objective sums fold into the
    Gram aggregates (same relation, same addends — identical values).
    Physical placement only: every decimal addend is unchanged and
    decimal addition is exact + order-independent, so all output
    values are bit-identical — re-proven against the unchanged
    chained-CTE oracle and by a committed same-session A/B (values
    compared row-for-row).

    The AQE-off scope (``session.scoped_conf``) is session-wide while
    the rounds are built: a query running concurrently on the same
    SparkSession would see AQE off. Construction assumes one query at a
    time per session."""
    from ..functions.portable import dsum_exact

    v = _nmf_v(spark, sf_dir)
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    v_doc = _persisted(v.repartition(p, "doc_id"))
    v_tok = _persisted(v.repartition(p, "tok"))

    # AQE is disabled while the per-round checkpoints execute: an
    # AdaptiveSparkPlan exposes no stable outputPartitioning, so a
    # localCheckpoint taken under AQE forgets it was hash(key, P) and
    # every downstream co-partitioned join re-exchanges BOTH factor
    # sides (verified empirically; with AQE off the LogicalRDD carries
    # HashPartitioning and the joins plan exchange-free). The toggle
    # covers only this operator's construction; the final action and
    # every other query keep the session AQE settings.
    with scoped_conf(spark, "spark.sql.adaptive.enabled", "false"):
        # inits: distinct on the matching pinned copy keeps hash(key, p);
        # persisted like the long form's _nmf_init factors (round-9)
        w = _persisted(
            v_doc.select("doc_id").distinct().selectExpr("doc_id", *_NMF_W_INIT)
        )
        h = _persisted(
            v_tok.select("tok").distinct().selectExpr("tok", *_NMF_H_INIT)
        )
        v2 = _persisted(
            v.agg(dsum_exact(pround(F.col("v") * F.col("v"), 6)).alias("v2"))
        )

        def w_grams(w):
            # WᵀV: the one corpus-scale join of the H half-round —
            # co-partitioned on doc_id (exchange-free), aggregated to
            # term grain (the fundamental per-round exchange);
            # checkpointed (2 consumers: H update + objective)
            wtv = (
                v_doc.join(w, "doc_id")
                .groupBy("tok")
                .agg(*[F.expr(e) for e in _NMF_WTV_AGGS])
                .localCheckpoint(eager=True)
            )
            # WᵀW (+ W L1 mass): ONE 1-row aggregate (k² in-row
            # products) — the long form's doc-grain self-join collapsed
            wtw = w.agg(*[F.expr(e) for e in _NMF_WTW_AGGS])
            return wtv, wtw

        def h_gram(h):
            # HHᵀ (+ H L1 mass): 1-row aggregate over the term grain
            return h.agg(*[F.expr(e) for e in _NMF_HHT_AGGS])

        def objective_row(rnd, wtv, wtw, hht, h, w):
            # Σ(WᵀV ⊙ H): co-partitioned tok join, then the exact fold —
            # the same addend multiset as the long form's (topic,tok)
            # fold; L1 masses read off the Gram rows (no extra aggs)
            xh = wtv.join(h, "tok").agg(F.expr(_NMF_XH_AGG))
            gg = wtw.join(hht).selectExpr(_NMF_GG_COL, "h_l1", "w_l1")
            return (
                v2.join(xh)
                .join(gg)
                .selectExpr(
                    f"cast({rnd} as int) as round",
                    _NMF_OBJ_COL,
                    "h_l1",
                    "w_l1",
                )
            )

        wtv, wtw = w_grams(w)
        rows = [objective_row(0, wtv, wtw, h_gram(h), h, w)]
        for _ in range(NMF_ROUNDS):
            # H ← H ⊙ (WᵀV) ⊘ (WᵀW·H + ε): co-partitioned term-grain
            # join + the broadcast 1-row Gram; (WᵀW·H)_k = Σ_j g_kj·h_j
            # is a k-term in-row decimal sum
            h = (
                h.join(wtv, "tok", "left")
                .join(F.broadcast(wtw.select(*_NMF_GCOLS)))
                .selectExpr("tok", *_NMF_H_UPD)
                .localCheckpoint(eager=True)
            )
            hht = h_gram(h)
            # VHᵀ: the one corpus-scale join of the W half-round —
            # co-partitioned on tok, aggregated to doc grain
            vht = (
                v_tok.join(h, "tok")
                .groupBy("doc_id")
                .agg(*[F.expr(e) for e in _NMF_VHT_AGGS])
            )
            # W ← W ⊙ (VHᵀ) ⊘ (W·HHᵀ + ε): (W·HHᵀ)_k = Σ_j w_j·hg_kj
            # (HHᵀ symmetric) — map-side against the broadcast Gram
            w = (
                w.join(vht, "doc_id", "left")
                .join(F.broadcast(hht.select(*_NMF_HGCOLS)))
                .selectExpr("doc_id", *_NMF_W_UPD)
                .localCheckpoint(eager=True)
            )
            wtv, wtw = w_grams(w)
            rows.append(objective_row(len(rows), wtv, wtw, hht, h, w))
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("round")


QUERIES["nmf_topic_rounds"] = nmf_topic_rounds


def _nmf_rounds_sql() -> str:
    """Chained-CTE mirror of the unrolled alternating rounds: per round
    r the CTEs h{r}/w{r} apply the two multiplicative updates from the
    round-(r-1) factors and Grams, and obj{r} folds the three
    objective terms. Generated by the same loop count (NMF_ROUNDS) the
    Spark side unrolls."""
    from ..functions.portable import sql_dsum, sql_uniform01

    uw = sql_uniform01(
        "'nmfw:' || CAST(doc_id AS VARCHAR) || ':' || CAST(topic AS VARCHAR)"
    )
    uh = sql_uniform01("'nmfh:' || CAST(topic AS VARCHAR) || ':' || tok")
    dec = "DECIMAL(28,6)"
    parts = [
        f"""
        WITH v AS MATERIALIZED (
          SELECT doc_id, tok, count(*)::DOUBLE AS v
          FROM (SELECT doc_id,
                       unnest({SQL_TOKENS}) AS tok
                FROM documents) t
          WHERE tok != ''
          GROUP BY doc_id, tok
        ),
        topics AS MATERIALIZED (SELECT unnest(range({NMF_K}))::INT AS topic),
        w0 AS MATERIALIZED (
          SELECT doc_id, topic, {uw} AS w
          FROM (SELECT DISTINCT doc_id FROM v) d CROSS JOIN topics
        ),
        h0 AS MATERIALIZED (
          SELECT topic, tok, {uh} AS h
          FROM (SELECT DISTINCT tok FROM v) t CROSS JOIN topics
        ),
        v2 AS MATERIALIZED (SELECT (sum(({sql_pround('v * v', 6)})::{dec}))::DOUBLE AS v2 FROM v)"""
    ]

    def grams(r):
        return f""",
        wtv{r} AS MATERIALIZED (
          SELECT topic, tok, (sum(({sql_pround('w.w * v.v', 6)})::{dec}))::DOUBLE AS wtv
          FROM w{r} w JOIN v USING (doc_id)
          GROUP BY topic, tok
        ),
        wtw{r} AS MATERIALIZED (
          SELECT a.topic, b.topic AS topic2,
                 (sum(({sql_pround('a.w * b.w', 6)})::{dec}))::DOUBLE AS g
          FROM w{r} a JOIN w{r} b USING (doc_id)
          GROUP BY a.topic, b.topic
        )"""

    def obj(r):
        return f""",
        obj{r} AS MATERIALIZED (
          SELECT {r}::INT AS round,
                 {sql_pround('v2.v2 - 2.0 * xh_t.xh + gg_t.gg', 6)}
                   AS objective,
                 hm.h_l1, wm.w_l1
          FROM v2,
            (SELECT (sum(({sql_pround('wtv.wtv * h.h', 6)})::{dec}))::DOUBLE AS xh
             FROM wtv{r} wtv JOIN h{r} h USING (topic, tok)) xh_t,
            (SELECT (sum(({sql_pround('wtw.g * hht.hg', 6)})::{dec}))::DOUBLE AS gg
             FROM wtw{r} wtw JOIN hht{r} hht USING (topic, topic2)) gg_t,
            (SELECT {sql_dsum('h', 6)} AS h_l1 FROM h{r}) hm,
            (SELECT {sql_dsum('w', 6)} AS w_l1 FROM w{r}) wm
        )"""

    def hht(r):
        return f""",
        hht{r} AS MATERIALIZED (
          SELECT a.topic, b.topic AS topic2,
                 (sum(({sql_pround('a.h * b.h', 6)})::{dec}))::DOUBLE AS hg
          FROM h{r} a JOIN h{r} b USING (tok)
          GROUP BY a.topic, b.topic
        )"""

    parts.append(grams(0))
    parts.append(hht(0))
    parts.append(obj(0))
    for r in range(1, NMF_ROUNDS + 1):
        p = r - 1
        parts.append(f""",
        wtwh{r} AS MATERIALIZED (
          SELECT wtw.topic, h2.tok,
                 (sum(({sql_pround('wtw.g * h2.h', 6)})::{dec}))::DOUBLE AS den
          FROM wtw{p} wtw JOIN h{p} h2 ON h2.topic = wtw.topic2
          GROUP BY wtw.topic, h2.tok
        ),
        h{r} AS MATERIALIZED (
          SELECT h.topic, h.tok,
                 {sql_pround(
                     'h.h * coalesce(wtv.wtv, 0.0)'
                     f' / (coalesce(wtwh.den, 0.0) + {NMF_EPS})', 9
                 )} AS h
          FROM h{p} h
          LEFT JOIN wtv{p} wtv
            ON wtv.topic = h.topic AND wtv.tok = h.tok
          LEFT JOIN wtwh{r} wtwh
            ON wtwh.topic = h.topic AND wtwh.tok = h.tok
        )""")
        parts.append(hht(r))
        parts.append(f""",
        vht{r} AS MATERIALIZED (
          SELECT doc_id, topic,
                 (sum(({sql_pround('v.v * h.h', 6)})::{dec}))::DOUBLE AS vht
          FROM v JOIN h{r} h USING (tok)
          GROUP BY doc_id, topic
        ),
        whh{r} AS MATERIALIZED (
          SELECT w.doc_id, hht.topic,
                 (sum(({sql_pround('w.w * hht.hg', 6)})::{dec}))::DOUBLE AS den
          FROM w{p} w JOIN hht{r} hht ON hht.topic2 = w.topic
          GROUP BY w.doc_id, hht.topic
        ),
        w{r} AS MATERIALIZED (
          SELECT w.doc_id, w.topic,
                 {sql_pround(
                     'w.w * coalesce(vht.vht, 0.0)'
                     f' / (coalesce(whh.den, 0.0) + {NMF_EPS})', 9
                 )} AS w
          FROM w{p} w
          LEFT JOIN vht{r} vht
            ON vht.doc_id = w.doc_id AND vht.topic = w.topic
          LEFT JOIN whh{r} whh
            ON whh.doc_id = w.doc_id AND whh.topic = w.topic
        )""")
        parts.append(grams(r))
        parts.append(obj(r))
    union = "\n        UNION ALL\n        ".join(
        f"SELECT * FROM obj{r}" for r in range(NMF_ROUNDS + 1)
    )
    parts.append(f"\n        {union}\n        ORDER BY round")
    return "".join(parts)


ORACLES["nmf_topic_rounds"] = _nmf_rounds_sql()
