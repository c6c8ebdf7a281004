"""NULL user_id, event_type and value rows (the null_events_dir
fixture): the hourly family and the event-sequence operators match
their DuckDB oracles, and the stream walkers match their batch twins."""

from __future__ import annotations

from collections import Counter

import duckdb
import pytest

from big_data_project_spark.catalog import table_path
from big_data_project_spark.operators.behavior import PATH_TOP_K
from big_data_project_spark.registry import ORACLES, QUERIES
from big_data_project_spark.streaming import pipeline

from tests.test_oracle_parity import _normalize

NULL_ORACLE_KEYS = [
    "active_users_hourly",
    "events_hourly",
    "delay_hourly",
    "demand_hourly",
    "weather_hourly",
    "headway_hourly",
    "ml_dataset_hourly",
    "prediction_baseline",
    "kpi_hourly",
    "peak_hours_summary",
    "event_transition_matrix",
    "event_path_trigrams",
]


@pytest.fixture(scope="module")
def null_duck(null_events_dir):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{table_path(null_events_dir, 'events')}/*.parquet'"
    )
    yield con
    con.close()


@pytest.mark.parametrize("name", NULL_ORACLE_KEYS)
def test_null_rows_match_oracle(spark, null_duck, null_events_dir, name):
    sdf = QUERIES[name](spark, null_events_dir)
    cols = [c.lower() for c in sdf.columns]
    got = _normalize([tuple(r) for r in sdf.collect()], cols)
    res = null_duck.execute(ORACLES[name])
    want = _normalize(res.fetchall(), [d[0].lower() for d in res.description])
    assert len(got) == len(want), f"{name}: row count {len(got)} vs {len(want)}"
    mismatches = [(g, w) for g, w in zip(got, want) if g != w]
    assert not mismatches, f"{name}: first mismatches {mismatches[:5]}"


def _streamed(stream, name, key_cols) -> Counter:
    out = pipeline.run_available_now(stream, name, "append").collect()
    counts: Counter = Counter()
    for r in out:
        counts[tuple(r[c] for c in key_cols)] += r["n"]
    return counts


def test_null_rows_stream_twins_equal_batch(spark, null_events_dir):
    """Summed stream_transitions and stream_path_trigrams counts equal
    event_transition_matrix and the event_path_trigrams ranking: a pair
    or triple into a NULL type is dropped, one out of a NULL type is
    kept, and a triple through one counts under the NULL path."""
    src = table_path(null_events_dir, "events")
    pairs = _streamed(
        pipeline.stream_transitions(spark, src),
        "null_transitions",
        ["from_type", "to_type"],
    )
    batch = QUERIES["event_transition_matrix"](spark, null_events_dir).collect()
    assert any(r.from_type is None for r in batch)
    assert pairs == Counter({(r.from_type, r.to_type): r.n for r in batch})

    paths = _streamed(
        pipeline.stream_path_trigrams(spark, src), "null_paths", ["path"]
    )
    ranked = sorted(paths.items(), key=lambda kv: (-kv[1], kv[0][0] is None, kv[0]))
    batch = QUERIES["event_path_trigrams"](spark, null_events_dir).collect()
    assert any(r.path is None for r in batch)
    assert [(p, n) for (p,), n in ranked[:PATH_TOP_K]] == [(r.path, r.n) for r in batch]
