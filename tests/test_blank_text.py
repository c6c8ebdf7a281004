"""Blank (``''``, whitespace-only) and NULL document texts (the
blank_docs_dir and null_docs_dir fixtures): every key whose oracle
tokenizes ``documents.text`` matches its DuckDB oracle. The key list is
every oracle that spells the shared normalization, so a new text key
joins the gate by itself. The NULL copy also runs the keys that read
``documents.text`` or ``n_chars`` without tokenizing it (NULL_KEYS)."""

from __future__ import annotations

import duckdb
import pytest

from big_data_project_spark.catalog import TABLES, table_path
from big_data_project_spark.functions.portable import SQL_NORM
from big_data_project_spark.operators import multimodal
from big_data_project_spark.registry import ORACLES, QUERIES

from tests.test_oracle_parity import _normalize

TEXT_KEYS = sorted(k for k, sql in ORACLES.items() if SQL_NORM in sql)
# every multimodal key has an oracle; its payload is the encoded text, so
# a NULL text is a NULL payload. doc_length_quantiles ranks n_chars,
# which is NULL beside a NULL text
NULL_KEYS = sorted(multimodal.QUERIES) + ["doc_length_quantiles"]


def _connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{table_path(sf_dir, name)}'"
        )
    return con


@pytest.fixture(scope="module", params=["blank_docs_dir", "null_docs_dir"])
def docs_copy(request):
    """(sf_dir, DuckDB connection over it) for each documents copy."""
    sf_dir = request.getfixturevalue(request.param)
    con = _connect(sf_dir)
    yield sf_dir, con
    con.close()


@pytest.fixture(scope="module")
def null_copy(null_docs_dir):
    con = _connect(null_docs_dir)
    yield null_docs_dir, con
    con.close()


def _blank_counts(sf_dir: str) -> tuple:
    """(empty, whitespace-only, NULL) text counts of the copy."""
    return duckdb.execute(
        "SELECT count(*) FILTER (text = ''),"
        " count(*) FILTER (text <> '' AND trim(text, ' \t') = ''),"
        " count(*) FILTER (text IS NULL)"
        f" FROM '{table_path(sf_dir, 'documents')}'"
    ).fetchone()


def test_copies_hold_blank_and_null_texts(blank_docs_dir, null_docs_dir):
    assert all(_blank_counts(blank_docs_dir))
    empty, ws, null = _blank_counts(null_docs_dir)
    assert (empty, ws) == (0, 0) and null > 0
    assert len(TEXT_KEYS) >= 79


def _check(spark, sf_dir, con, name):
    sdf = QUERIES[name](spark, sf_dir)
    cols = [c.lower() for c in sdf.columns]
    got = _normalize([tuple(r) for r in sdf.collect()], cols)
    res = con.execute(ORACLES[name])
    want_cols = [d[0].lower() for d in res.description]
    want = _normalize(res.fetchall(), want_cols)
    assert sorted(cols) == sorted(want_cols)
    assert len(got) == len(want), f"{name}: row count {len(got)} vs {len(want)}"
    mismatches = [(g, w) for g, w in zip(got, want) if g != w]
    assert not mismatches, f"{name}: first mismatches {mismatches[:5]}"


@pytest.mark.parametrize("name", TEXT_KEYS)
def test_blank_text_matches_oracle(spark, docs_copy, name):
    _check(spark, *docs_copy, name)


@pytest.mark.parametrize("name", NULL_KEYS)
def test_null_text_matches_oracle(spark, null_copy, name):
    _check(spark, *null_copy, name)
