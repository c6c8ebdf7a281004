"""Quality/split family (operators/quality.py): leakage guarantees on
crafted duplicate corpora and internal-consistency invariants."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_project_spark.operators import quality

from tests.conftest import SF_DIR


def _write_docs(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).withColumn("n_chars", F.length("text"))
    d = tmp_path / "sf"
    df.write.parquet(str(d / "documents.parquet"))
    return str(d)


def test_split_never_leaks_exact_duplicates(spark, tmp_path):
    """Identical (post-normalization) text must land on ONE side even
    across doc_ids/sources — the whole point of the content-hash
    split."""
    dup = "the quick brown fox jumps over the lazy dog"
    rows = [(i, dup, "en", f"src{i % 3}") for i in range(30)] + [
        (100 + i, f"unique doc number {i} with its own words", "en", "srcX")
        for i in range(30)
    ]
    sf = _write_docs(spark, tmp_path, rows)
    out = {r["split"]: r for r in quality.train_test_split(spark, sf).collect()}
    for r in out.values():
        assert r["leaked_hashes"] == 0
    # the 30 dup docs share one hash, so per-split docs >= hashes
    total_docs = sum(r["n_docs"] for r in out.values())
    total_hashes = sum(r["n_hashes"] for r in out.values())
    assert total_docs == 60
    assert total_hashes == 31


def test_split_deterministic(spark):
    a = {
        (r["split"], r["n_docs"], r["n_hashes"])
        for r in quality.train_test_split(spark, SF_DIR).collect()
    }
    b = {
        (r["split"], r["n_docs"], r["n_hashes"])
        for r in quality.train_test_split(spark, SF_DIR).collect()
    }
    assert a == b
    assert {s for s, *_ in a} <= {"train", "test"}


def test_gopher_counts_consistent(spark):
    for r in quality.gopher_rule_flags(spark, SF_DIR).collect():
        fails = (
            r["n_fail_word_count"]
            + r["n_fail_mean_word_len"]
            + r["n_fail_stopwords"]
            + r["n_fail_repetition"]
        )
        # pass + (docs failing >= 1 rule) == docs; fails counts overlap
        assert r["n_pass"] <= r["n_docs"]
        assert fails >= r["n_docs"] - r["n_pass"]
        assert 0.0 <= r["pass_rate"] <= 1.0


def test_gopher_rules_fire_on_crafted_docs(spark, tmp_path):
    rows = [
        # too short (5 words) + no stopwords
        (1, "alpha beta gamma delta epsilon", "en", "s"),
        # repetitive: one token repeated 30x -> distinct ratio 1/30
        (2, " ".join(["spam"] * 30), "en", "s"),
        # healthy: 30 distinct short words incl. stopwords
        (
            3,
            "the cat sat on a mat and the dog ran off to see "
            "what was out in the big wide world again today is "
            "fine and all good here now",
            "en",
            "s",
        ),
    ]
    sf = _write_docs(spark, tmp_path, rows)
    flags = {
        r["doc_id"]: r
        for r in quality._rule_flags(
            __import__(
                "big_data_project_spark.catalog", fromlist=["load_table"]
            ).load_table(spark, sf, "documents")
        ).collect()
    }
    assert flags[1]["fail_word_count"] and flags[1]["fail_stopwords"]
    assert flags[2]["fail_repetition"]
    assert not flags[3]["fail_word_count"]
    assert not flags[3]["fail_stopwords"]
    assert not flags[3]["fail_repetition"]


def test_balance_audit_totals_match_split(spark):
    bal = quality.split_balance_audit(spark, SF_DIR).collect()
    split = {r["split"]: r["n_docs"] for r in quality.train_test_split(spark, SF_DIR).collect()}
    assert sum(r["n_docs"] for r in bal) == sum(split.values())
    assert sum(r["n_test"] for r in bal) == split.get("test", 0)


def test_lang_rebalance_thins_overrepresented_langs(spark):
    from big_data_project_spark.operators import curation

    rows = curation.lang_rebalance_sample(spark, SF_DIR).collect()
    assert rows, "corpus has languages"
    by_chars = sorted(rows, key=lambda r: r["lang_chars"])
    smallest = by_chars[0]
    # the smallest language keeps everything
    assert smallest["target_frac"] == 1.0
    assert smallest["n_kept"] == smallest["n_docs"]
    for r in rows:
        assert 0 < r["target_frac"] <= 1.0
        assert 0 <= r["n_kept"] <= r["n_docs"]
        assert (r["kept_chars"] or 0) <= r["lang_chars"]
    # at least one over-represented language is actually thinned
    if len(rows) > 1:
        assert any(r["n_kept"] < r["n_docs"] for r in rows)


def test_sequence_packing_conserves_tokens(spark):
    from collections import defaultdict

    from big_data_project_spark.operators import curation
    from big_data_project_spark.operators.curation import PACK_BUDGET_TOKENS
    from big_data_project_spark.functions.portable import tokens
    from big_data_project_spark.catalog import load_table
    from pyspark.sql import functions as F

    rows = curation.sequence_packing_bins(spark, SF_DIR).collect()
    per_source = defaultdict(list)
    for r in rows:
        per_source[r["source"]].append(r)
    totals = {
        r["source"]: r["t"]
        for r in load_table(spark, SF_DIR, "documents")
        .groupBy("source")
        .agg(F.sum(F.size(tokens(F.col("text")))).alias("t"))
        .collect()
    }
    assert set(per_source) == set(totals)
    for src, bins in per_source.items():
        # packing conserves tokens and bins are contiguous from 0
        assert sum(b["bin_tokens"] for b in bins) == totals[src]
        ids = sorted(b["bin"] for b in bins)
        assert ids == list(range(len(ids)))
        # contiguous fill: by the end of every non-final bin the
        # cumulative stream has passed that bin's budget boundary
        # (individual bins may be under-full when a straddling doc
        # carried its tokens forward)
        cum = 0
        ordered = sorted(bins, key=lambda b: b["bin"])
        for b in ordered[:-1]:
            cum += b["bin_tokens"]
            assert cum >= (b["bin"] + 1) * PACK_BUDGET_TOKENS
            assert b["bin_tokens"] > 0
