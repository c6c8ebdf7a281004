"""Text analysis over the ``documents`` table: language-ID, quality
scoring, token counting, fingerprinting, corpus stats.

The reference's only text handling is GTFS CSV normalization
(src/dag/gtfs-static-job.py:95-137 lowercases/strips ids); these are the
LLM-training-data text operators the brief adds as first-class
components.

All hot paths are built-in column expressions (split / filter /
regexp_count / md5) — whole-stage codegen, no Python UDFs. Each op is
one map-side pass; ``doc_fingerprint`` and ``doc_stats`` add exactly one
shuffle on their group key.

Portability notes: token arrays come from the same whitespace
normalization both engines see; regexes restricted to character classes
that Java regex and RE2 treat identically; marker-set membership uses
explicit IN lists.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
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
from .dedup import _SQL_SHINGLES, _shingles

# Marker stopwords per language (argmax with fixed priority order below).
MARKERS = {
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "la", "de", "y", "es"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "de", "et", "est"),
    "zh": ("de", "le", "shi", "he", "zai"),
}
LANG_ORDER = ("en", "es", "de", "fr", "zh")
FINGERPRINT_K = 8
_BPE_RE = "[a-z]+|[0-9]|[^a-z0-9 ]"


def _marker_score(toks: Column, lang: str) -> Column:
    members = MARKERS[lang]
    return F.size(F.filter(toks, lambda t: t.isin(*members)))


def _sql_marker_score(lang: str) -> str:
    inlist = ", ".join(f"'{m}'" for m in MARKERS[lang])
    return f"len(list_filter(toks, t -> t IN ({inlist})))"


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language ID: score each language's marker set over
    the token list; argmax with fixed priority order (ties -> earlier in
    LANG_ORDER)."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", "lang", tokens("text").alias("toks"))
    scored = d.select(
        "doc_id",
        "lang",
        *[
            _marker_score(F.col("toks"), lg).alias(f"s_{lg}")
            for lg in LANG_ORDER
        ],
    )
    # the last language is the ELSE branch, as in the oracle: a NULL
    # text (every score NULL) predicts it
    pred = F.lit(LANG_ORDER[-1])
    for lg in reversed(LANG_ORDER[:-1]):
        cond = None
        for other in LANG_ORDER:
            if other == lg:
                continue
            c = F.col(f"s_{lg}") >= F.col(f"s_{other}")
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, F.lit(lg)).otherwise(pred)
    best = F.greatest(*[F.col(f"s_{lg}") for lg in LANG_ORDER])
    return scored.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        pred.alias("pred_lang"),
        best.alias("marker_hits"),
    )


def lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the lang_id heuristic: labeled vs predicted
    language counts (the audit view a curation pipeline reports; the
    shared-vocabulary synthetic corpus concentrates predictions on
    'en', which is itself the informative finding)."""
    ids = lang_id(spark, sf_dir)
    return ids.groupBy("actual_lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokens + BPE-ish regex tokens (letter runs, single
    digits, single punctuation) per document."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(tokens("text")).alias("ws_tokens"),
        F.regexp_count(norm("text"), F.lit(_BPE_RE)).alias("bpe_tokens"),
    )


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality in [0,1]: length, token-count, stopword-density
    and punctuation components, equally weighted."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        norm("text").alias("nt"),
        tokens("text").alias("toks"),
    ).select(
        "doc_id",
        F.length("nt").alias("n_chars"),
        F.size("toks").alias("n_toks"),
        _marker_score(F.col("toks"), "en").alias("stops"),
        F.regexp_count(F.col("nt"), F.lit("[^a-z0-9 ]")).alias("punct"),
    )
    len_c = F.least(F.lit(1.0), F.col("n_chars") / F.lit(500.0))
    tok_c = F.least(F.lit(1.0), F.col("n_toks") / F.lit(100.0))
    stop_c = F.least(
        F.lit(1.0), F.col("stops") * F.lit(10.0) / F.col("n_toks")
    )
    punct_c = F.lit(1.0) - F.least(
        F.lit(1.0), F.try_divide(F.col("punct") * F.lit(5.0), "n_chars")
    )
    return d.select(
        "doc_id",
        F.round(len_c, 6).alias("len_component"),
        F.round(stop_c, 6).alias("stop_component"),
        F.round(
            (len_c + tok_c + stop_c + punct_c) / F.lit(4.0), 6
        ).alias("quality"),
    )


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k sketch: the K smallest md5-derived 3-gram shingle hashes
    per document, joined into a stable string (docs with >= 3 tokens)."""
    sh = _shingles(spark, sf_dir).withColumn("h", hash60(F.col("sh")))
    return sh.groupBy("doc_id").agg(
        F.concat_ws(
            ",",
            F.slice(F.sort_array(F.collect_list("h")), 1, FINGERPRINT_K),
        ).alias("fingerprint"),
        F.count(F.lit(1)).alias("n_shingles"),
    )


def doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (source, lang) corpus profile."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source", "lang", "n_chars", F.size(tokens("text")).alias("nt")
    )
    return d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        F.round(F.avg("nt"), 2).alias("avg_tokens"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


CHUNK_TOKENS = 64
CHUNK_STRIDE = 48  # 16-token overlap


def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-bounded chunking with overlap: each document becomes
    ceil((n - overlap) / stride) chunks of <= CHUNK_TOKENS whitespace
    tokens, striding CHUNK_STRIDE (the standard LLM-pretraining window).
    A trailing window that would sit entirely inside the previous chunk
    (n mod stride <= overlap) is not emitted. Map-side only: sequence +
    explode, no shuffle."""
    overlap = CHUNK_TOKENS - CHUNK_STRIDE
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", tokens("text").alias("toks"))
    n = F.size("toks")
    # last start = largest k*stride that still contributes a token the
    # previous window doesn't already cover (k*stride + overlap < n)
    starts = F.sequence(
        F.lit(0),
        F.greatest(
            F.floor((n - overlap - 1) / CHUNK_STRIDE).cast("int"),
            F.lit(0),
        )
        * CHUNK_STRIDE,
        F.lit(CHUNK_STRIDE),
    )
    chunks = d.select(
        "doc_id",
        "toks",
        n.alias("n_toks"),
        F.posexplode(starts).alias("chunk_idx", "start"),
    )
    return chunks.select(
        "doc_id",
        "chunk_idx",
        F.array_join(
            F.slice("toks", F.col("start") + 1, CHUNK_TOKENS), " "
        ).alias("chunk_text"),
        F.least(
            F.lit(CHUNK_TOKENS), F.col("n_toks") - F.col("start")
        ).alias("chunk_tokens"),
    )


PII_PATTERNS = {
    "email": r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}",
    "phone": r"\+?[0-9][0-9 ()-]{7,}[0-9]",
}


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: count and redact email/phone patterns (the
    synthetic corpus contains none — the contract is the plumbing and
    the zero counts; the regexes are RE2/Java-compatible)."""
    docs = load_table(spark, sf_dir, "documents")
    nt = norm("text")
    scrubbed = nt
    for tag, pat in PII_PATTERNS.items():
        scrubbed = F.regexp_replace(scrubbed, pat, f"<{tag}>")
    return docs.select(
        "doc_id",
        F.regexp_count(nt, F.lit(PII_PATTERNS["email"])).alias("n_emails"),
        F.regexp_count(nt, F.lit(PII_PATTERNS["phone"])).alias("n_phones"),
        F.md5(scrubbed).alias("scrubbed_md5"),
        F.length(scrubbed).alias("scrubbed_len"),
    )


QUERIES = {
    "lang_id": lang_id,
    "lang_confusion": lang_confusion,
    "token_count": token_count,
    "quality_score": quality_score,
    "doc_fingerprint": doc_fingerprint,
    "doc_stats": doc_stats,
    "doc_chunking": doc_chunking,
    "pii_scrub": pii_scrub,
}


def _sql_pred_lang() -> str:
    cases = []
    for lg in LANG_ORDER[:-1]:
        conds = " AND ".join(
            f"s_{lg} >= s_{o}" for o in LANG_ORDER if o != lg
        )
        cases.append(f"WHEN {conds} THEN '{lg}'")
    return "CASE " + " ".join(cases) + f" ELSE '{LANG_ORDER[-1]}' END"


_SQL_SCORED = "SELECT doc_id, lang, " + ", ".join(
    f"{_sql_marker_score(lg)} AS s_{lg}" for lg in LANG_ORDER
) + f" FROM (SELECT doc_id, lang, {SQL_TOKENS} AS toks FROM documents) t"

ORACLES = {
    "lang_id": f"""
        SELECT doc_id, lang AS actual_lang,
               {_sql_pred_lang()} AS pred_lang,
               greatest({", ".join(f"s_{lg}" for lg in LANG_ORDER)})
                 AS marker_hits
        FROM ({_SQL_SCORED}) s
    """,
    "lang_confusion": f"""
        SELECT lang AS actual_lang,
               {_sql_pred_lang()} AS pred_lang,
               count(*) AS n_docs
        FROM ({_SQL_SCORED}) s
        GROUP BY lang, 2
    """,
    "token_count": f"""
        SELECT doc_id,
               len({SQL_TOKENS}) AS ws_tokens,
               len(regexp_extract_all({SQL_NORM}, '{_BPE_RE}'))
                 AS bpe_tokens
        FROM documents
    """,
    "quality_score": f"""
        WITH d AS (
          SELECT doc_id,
                 len(nt) AS n_chars, len(toks) AS n_toks,
                 {_sql_marker_score("en")} AS stops,
                 len(regexp_extract_all(nt, '[^a-z0-9 ]')) AS punct
          FROM (SELECT doc_id, {SQL_NORM} AS nt, {SQL_TOKENS} AS toks
                FROM documents) x
        )
        SELECT doc_id,
               round(least(1.0, n_chars / 500.0), 6) AS len_component,
               round(least(1.0, stops * 10.0 / n_toks), 6) AS stop_component,
               round((least(1.0, n_chars / 500.0)
                      + least(1.0, n_toks / 100.0)
                      + least(1.0, stops * 10.0 / n_toks)
                      + (1.0 - least(1.0, punct * 5.0 / n_chars))) / 4.0,
                     6) AS quality
        FROM d
    """,
    "doc_fingerprint": f"""
        WITH s AS ({_SQL_SHINGLES}),
        hashed AS (
          SELECT doc_id, {sql_hash60("sh")} AS h FROM s
        )
        SELECT doc_id,
               array_to_string(
                 (list_sort(list(h)))[1:{FINGERPRINT_K}], ',') AS fingerprint,
               count(*) AS n_shingles
        FROM hashed
        GROUP BY doc_id
    """,
    "doc_chunking": f"""
        WITH d AS (
          SELECT doc_id, {SQL_TOKENS} AS toks FROM documents
        ),
        chunks AS (
          SELECT doc_id, len(toks) AS n_toks, toks,
                 unnest(range(0, greatest(
                   (len(toks) - {CHUNK_TOKENS - CHUNK_STRIDE} - 1)
                     // {CHUNK_STRIDE}, 0) + 1))
                   AS chunk_idx
          FROM d
        )
        SELECT doc_id, chunk_idx,
               array_to_string(
                 toks[chunk_idx * {CHUNK_STRIDE} + 1 :
                      chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS}],
                 ' ') AS chunk_text,
               least({CHUNK_TOKENS},
                     n_toks - chunk_idx * {CHUNK_STRIDE}) AS chunk_tokens
        FROM chunks
    """,
    "pii_scrub": f"""
        SELECT doc_id,
               len(regexp_extract_all(nt, '{PII_PATTERNS["email"]}'))
                 AS n_emails,
               len(regexp_extract_all(nt, '{PII_PATTERNS["phone"]}'))
                 AS n_phones,
               md5(regexp_replace(
                     regexp_replace(nt, '{PII_PATTERNS["email"]}',
                                    '<email>', 'g'),
                     '{PII_PATTERNS["phone"]}', '<phone>', 'g'))
                 AS scrubbed_md5,
               length(regexp_replace(
                        regexp_replace(nt, '{PII_PATTERNS["email"]}',
                                       '<email>', 'g'),
                        '{PII_PATTERNS["phone"]}', '<phone>', 'g'))
                 AS scrubbed_len
        FROM (SELECT doc_id, {SQL_NORM} AS nt FROM documents) x
    """,
    "doc_stats": f"""
        SELECT source, lang, count(*) AS n_docs,
               round(avg(n_chars), 2) AS avg_chars,
               round(avg(len({SQL_TOKENS})), 2) AS avg_tokens,
               min(n_chars) AS min_chars,
               max(n_chars) AS max_chars
        FROM documents
        GROUP BY source, lang
    """,
}


def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility audit per language: BPE-ish regex tokens per
    whitespace word (fertility) and characters per BPE token — the
    numbers a tokenizer owner reads per language before fixing a vocab
    budget (high fertility = the tokenizer fragments that language,
    inflating sequence length and training cost for the same text).

    Uses the SAME two tokenizations as ``token_count`` so the two keys
    audit one contract. Ratios divide exact integer corpus sums (not
    averages of per-doc ratios — short docs would dominate) and round
    once; a language with zero whitespace tokens reports NULL fertility
    rather than a division artifact.

    Scale: map-side token counting (regexp_count — no explode), ONE
    languages-sized aggregate; no joins."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.select(
        "lang",
        "n_chars",
        F.size(tokens("text")).alias("ws"),
        F.regexp_count(norm("text"), F.lit(_BPE_RE)).alias("bpe"),
    )
    agg = per.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws").alias("ws_tokens"),
        F.sum("bpe").alias("bpe_tokens"),
        F.sum("n_chars").alias("sum_chars"),
    )
    ws_nz = F.when(F.col("ws_tokens") > 0, F.col("ws_tokens"))
    bpe_nz = F.when(F.col("bpe_tokens") > 0, F.col("bpe_tokens"))
    return agg.select(
        "lang",
        "n_docs",
        "ws_tokens",
        "bpe_tokens",
        pround(F.col("bpe_tokens") / ws_nz, 4).alias("fertility"),
        pround(F.col("sum_chars") / bpe_nz, 4).alias("chars_per_token"),
    ).orderBy("lang")


QUERIES["tokenizer_fertility"] = tokenizer_fertility

ORACLES["tokenizer_fertility"] = f"""
    WITH per AS (
      SELECT lang, n_chars,
             len({SQL_TOKENS}) AS ws,
             len(regexp_extract_all({SQL_NORM}, '{_BPE_RE}')) AS bpe
      FROM documents
    ),
    agg AS (
      SELECT lang, count(*) AS n_docs,
             (sum(ws))::BIGINT AS ws_tokens,
             (sum(bpe))::BIGINT AS bpe_tokens,
             (sum(n_chars))::BIGINT AS sum_chars
      FROM per GROUP BY lang
    )
    SELECT lang, n_docs, ws_tokens, bpe_tokens,
           {sql_pround(
               'bpe_tokens::DOUBLE / nullif(ws_tokens, 0)', 4
           )} AS fertility,
           {sql_pround(
               'sum_chars::DOUBLE / nullif(bpe_tokens, 0)', 4
           )} AS chars_per_token
    FROM agg ORDER BY lang
"""


# --- BPE merge induction (Sennrich et al. 2016, arXiv:1508.07909) --------

BPE_TOP_MERGES = 20


def bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One byte-pair-encoding merge round over the corpus: count every
    adjacent character pair inside each word, weighted by the word's
    corpus frequency, and rank the top BPE_TOP_MERGES candidates — the
    first iteration of BPE vocabulary induction (tokenizer training's
    inner loop; subsequent rounds re-run this over the re-segmented
    vocabulary).

    Scale: ONE corpus-scale token shuffle builds the word-frequency
    vocabulary; the character-pair explode runs over the VOCABULARY
    (distinct words x avg word length — tiny next to the corpus), so a
    100x corpus with the same vocabulary only changes the weights.
    This vocab-not-corpus shape is exactly why real BPE trainers
    aggregate word counts first.

    Determinism: pair counts are exact integers; ranking orders by
    (count DESC, pair ASC)."""
    from pyspark.sql.window import Window

    from ..catalog import load_table_spread

    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    words = (
        docs.select(F.explode(tokens("text")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs = words.select(
        "freq",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair"),
    )
    w_rank = Window.orderBy(F.col("n").desc(), F.col("pair").asc())
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").cast("bigint").alias("n"))
        .withColumn("merge_rank", F.row_number().over(w_rank))
        .filter(F.col("merge_rank") <= BPE_TOP_MERGES)
        .select("merge_rank", "pair", "n")
        .orderBy("merge_rank")
    )


QUERIES["bpe_merge_pairs"] = bpe_merge_pairs

ORACLES["bpe_merge_pairs"] = f"""
    WITH words AS (
      SELECT w, count(*) AS freq
      FROM (
        SELECT unnest({SQL_TOKENS}) AS w FROM documents
      ) t
      WHERE length(w) >= 2
      GROUP BY w
    ),
    pairs AS (
      SELECT substr(w, i, 2) AS pair, freq
      FROM (
        SELECT w, freq, unnest(range(1, length(w))) AS i FROM words
      ) p
    )
    SELECT merge_rank, pair, n FROM (
      SELECT pair, CAST(sum(freq) AS BIGINT) AS n,
             row_number() OVER (
               ORDER BY sum(freq) DESC, pair ASC) AS merge_rank
      FROM pairs GROUP BY pair
    ) r
    WHERE merge_rank <= {BPE_TOP_MERGES}
    ORDER BY merge_rank
"""


# --- multi-round BPE vocabulary induction (round-6 verdict item 5) --------

BPE_ROUNDS = 5  # unrolled merge->re-segment rounds


def bpe_vocab_k_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE_ROUNDS rounds of byte-pair-encoding induction (Sennrich et
    al. 2016, arXiv:1508.07909) — the full trainer inner loop, not just
    round 1 (`bpe_merge_pairs`): each round counts adjacent SYMBOL
    pairs over the word-frequency vocabulary, merges the single winning
    pair everywhere (greedy left-to-right, the reference algorithm's
    rule), and re-segments for the next round. Output: one row per
    round — the merge learned, its pair count at selection time, and
    the total corpus token count after applying it (the fertility
    curve a tokenizer-budget decision is read from).

    Representation: a word's segmentation is its symbols joined by
    single spaces with leading/trailing spaces (" l o w "); symbols
    never contain spaces, so merging pair "a b" is the literal
    replacement of " a b " with " ab ". One replace() pass is greedy
    left-to-right but non-overlapping occurrences share their
    delimiter space ("a b a b" matches once); a SECOND identical
    replace() catches exactly the occurrences the first pass skipped,
    and two passes are always sufficient (misses are never adjacent —
    each sits next to a symbol merged in pass one). This makes the
    whole K-round algorithm expressible as chained projections on BOTH
    engines, so the oracle hash-checks every round.

    Scale: the corpus is touched ONCE (the word-frequency aggregate —
    the same vocab-not-corpus shape as bpe_merge_pairs); each round
    then runs explode + aggregate + a 1-row argmax + a broadcast
    crossJoin over the VOCABULARY relation only. Round results are
    eagerly localCheckpoint-ed (the dedup_clusters lineage-truncation
    pattern), so round r+1 never recomputes rounds 1..r AND the final
    plan stays shallow — the lazy-persist form compiled one plan
    nesting all five rounds and spent ~10 s in analysis/codegen
    (measured 15.6 s -> 5.2 s at sf0.01).

    Determinism: exact integer pair counts, winner total-ordered by
    (count DESC, pair ASC), literal (non-regex) replaces."""
    from ..catalog import load_table_spread

    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    # localCheckpoint (the dedup_clusters lineage-truncation pattern)
    # instead of persist(): with lazy persists the final 5-round union
    # is ONE plan nesting every round's explode+aggregate+crossJoin —
    # analysis/codegen of that tree cost ~10s of the key's ~16s wall.
    # Eager checkpoints keep each round's plan shallow; the vocabulary
    # relation being checkpointed is tiny (distinct words).
    vocab = (
        docs.select(F.explode(tokens("text")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            "freq",
            F.concat(
                F.lit(" "), F.regexp_replace(F.col("w"), "(.)", "$1 ")
            ).alias("seq"),
        )
        .localCheckpoint(eager=True)
    )
    rows = []
    for r in range(1, BPE_ROUNDS + 1):
        syms = F.split(F.trim(F.col("seq")), " ")
        sz = F.size(syms)
        pairs = vocab.select(
            "freq",
            F.explode(
                F.zip_with(
                    F.slice(syms, F.lit(1), sz - 1),
                    F.slice(syms, F.lit(2), sz - 1),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                )
            ).alias("pair"),
        )
        # Argmax as ONE reduce (min over (-n, pair) struct order ==
        # count DESC, pair ASC) — a whole-relation row_number window
        # here would sort the pair vocabulary in a single task per
        # round.
        winner = (
            pairs.groupBy("pair")
            .agg(F.sum("freq").cast("bigint").alias("n"))
            .agg(
                F.min_by(
                    F.struct("pair", "n"),
                    F.struct(
                        (-F.col("n")).alias("negn"),
                        F.col("pair").alias("p"),
                    ),
                ).alias("w")
            )
            .select(F.col("w.pair").alias("pair"), F.col("w.n").alias("n"))
            .localCheckpoint(eager=True)
        )
        pat = F.concat(F.lit(" "), F.col("pair"), F.lit(" "))
        rep = F.concat(
            F.lit(" "),
            F.replace(F.col("pair"), F.lit(" "), F.lit("")),
            F.lit(" "),
        )
        vocab = (
            vocab.crossJoin(F.broadcast(winner)).select(
                "freq",
                F.replace(
                    F.replace(F.col("seq"), pat, rep), pat, rep
                ).alias("seq"),
            )
            .localCheckpoint(eager=True)
        )
        n_spaces = F.length("seq") - F.length(
            F.replace(F.col("seq"), F.lit(" "), F.lit(""))
        )
        toks = vocab.agg(
            F.sum(F.col("freq") * (n_spaces - 1))
            .cast("bigint")
            .alias("vocab_tokens")
        )
        rows.append(
            winner.crossJoin(toks).select(
                F.lit(r).alias("round"),
                "pair",
                F.replace(F.col("pair"), F.lit(" "), F.lit("")).alias(
                    "merged"
                ),
                F.col("n").alias("pair_count"),
                "vocab_tokens",
            )
        )
    out = rows[0]
    for more in rows[1:]:
        out = out.unionByName(more)
    return out.orderBy("round")


QUERIES["bpe_vocab_k_rounds"] = bpe_vocab_k_rounds


def _bpe_round_ctes(n_rounds: int) -> str:
    """Chained CTEs replaying the identical K rounds in DuckDB (the
    event_pagerank unroll pattern)."""
    ctes = []
    for r in range(1, n_rounds + 1):
        prev = "v0" if r == 1 else f"v{r - 1}"
        ctes.append(
            f"""
    p{r} AS (
      SELECT s[i] || ' ' || s[i + 1] AS pair, freq
      FROM (
        SELECT freq, s, unnest(range(1, len(s))) AS i
        FROM (
          SELECT freq, string_split(trim(seq), ' ') AS s FROM {prev}
        ) q
      ) t
    ),
    w{r} AS (
      SELECT pair, CAST(sum(freq) AS BIGINT) AS n
      FROM p{r} GROUP BY pair
      ORDER BY n DESC, pair ASC LIMIT 1
    ),
    v{r} AS (
      SELECT freq,
             replace(replace(seq,
                 ' ' || pair || ' ', ' ' || replace(pair, ' ', '') || ' '),
                 ' ' || pair || ' ', ' ' || replace(pair, ' ', '') || ' ')
               AS seq
      FROM {prev}, w{r}
    ),
    r{r} AS (
      SELECT {r} AS round, pair, replace(pair, ' ', '') AS merged,
             n AS pair_count,
             (SELECT CAST(sum(freq * (length(seq)
                 - length(replace(seq, ' ', '')) - 1)) AS BIGINT)
              FROM v{r}) AS vocab_tokens
      FROM w{r}
    )"""
        )
    return ",".join(ctes)


ORACLES["bpe_vocab_k_rounds"] = f"""
    WITH words AS (
      SELECT w, count(*) AS freq
      FROM (SELECT unnest({SQL_TOKENS}) AS w FROM documents) t
      WHERE length(w) >= 2 GROUP BY w
    ),
    v0 AS (
      SELECT freq,
             ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS seq
      FROM words
    ),{_bpe_round_ctes(BPE_ROUNDS)}
    SELECT * FROM (
      {" UNION ALL ".join(f"SELECT * FROM r{r}"
                          for r in range(1, BPE_ROUNDS + 1))}
    ) u ORDER BY round
"""
