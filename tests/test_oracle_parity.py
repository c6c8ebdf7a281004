"""Mirror of the driver's t2 gate: every oracle-backed query must match
its DuckDB oracle on row count, schema (column names), and values."""

from __future__ import annotations

import math

import pytest

from big_data_project_spark.registry import ORACLES, QUERIES

from tests.conftest import SF_DIR


def _normalize(rows, colnames):
    """Sort columns by name, stringify timestamps, round floats; return a
    sorted list of row tuples for order-insensitive comparison."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if v is None:
                vals.append("NULL")
            elif isinstance(v, float):
                if math.isnan(v):
                    vals.append("NaN")
                else:
                    vals.append(f"{round(v, 6):.6f}")
            elif hasattr(v, "isoformat"):
                vals.append(v.isoformat())
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, duck, name):
    conf_before = spark.conf.getAll
    sdf = QUERIES[name](spark, SF_DIR)
    spark_cols = [c.lower() for c in sdf.columns]
    spark_rows = [tuple(r) for r in sdf.collect()]
    # no query construction or execution may leave the session conf changed
    assert spark.conf.getAll == conf_before, f"{name}: session conf changed"

    res = duck.execute(ORACLES[name])
    duck_cols = [d[0].lower() for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )

    got = _normalize(spark_rows, spark_cols)
    want = _normalize(duck_rows, duck_cols)
    mismatches = [(g, w) for g, w in zip(got, want) if g != w]
    assert not mismatches, f"{name}: first mismatches {mismatches[:5]}"


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_query_without_oracle_leaves_conf_unchanged(spark, name):
    """The conf half of the gate above, for the keys with no oracle."""
    conf_before = spark.conf.getAll
    QUERIES[name](spark, SF_DIR).collect()
    assert spark.conf.getAll == conf_before, f"{name}: session conf changed"
