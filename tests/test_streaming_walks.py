"""The per-user event-time walk driver of streaming/pipeline.py, the
shared route-window aggregate, and the served-table probe."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from big_data_project_spark.streaming import pipeline

# Output and state schemas of every walker, as DDL. The state schema is
# part of a checkpoint's contract: a change here breaks resuming.
WALKERS = {
    "_sessionize_fn": (
        "user_id bigint, session_start timestamp, session_end timestamp, "
        "n_events bigint, total_value double",
        "start bigint, last bigint, n bigint, total double",
    ),
    "_sessionize_timeout_fn": (
        "user_id bigint, session_start timestamp, session_end timestamp, "
        "n_events bigint, total_value double",
        "start bigint, last bigint, n bigint, total double",
    ),
    "_funnel_fn": (
        "user_id bigint, stage bigint, fv timestamp, fc timestamp, "
        "fp timestamp",
        "fv bigint, fc bigint, fp bigint",
    ),
    "_transition_fn": (
        "from_type string, to_type string, n bigint",
        "last_ts bigint, last_event_id bigint, last_type string",
    ),
    "_attrib_fn": (
        "attributed_type string, n_purchases bigint, value_sum double",
        "last_touch string",
    ),
    "_paths_fn": (
        "path string, n bigint",
        "prev2_type string, prev1_type string",
    ),
}

# One user's events in time order: two gaps over 30 minutes (three
# sessions), and a click and a purchase at the same instant, ordered by
# event_id.
EVENTS = [
    (1, "2026-01-01 09:00:00", "view", 1.0),
    (2, "2026-01-01 09:05:00", "click", 2.0),
    (3, "2026-01-01 09:05:00", "purchase", 3.0),
    (4, "2026-01-01 10:00:00", "view", 0.5),
    (5, "2026-01-01 10:10:00", "purchase", 4.0),
    (6, "2026-01-01 10:20:00", "click", 1.5),
    (7, "2026-01-01 11:30:00", "purchase", 2.5),
    (8, "2026-01-01 11:40:00", "view", 1.0),
]


class FakeState:
    hasTimedOut = False

    def __init__(self):
        self.exists, self.get, self.timeout_ms = False, None, None

    def update(self, value):
        self.exists, self.get = True, value

    def setTimeoutTimestamp(self, ms):
        self.timeout_ms = ms


def _chunk(rows):
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "event_type", "value"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    return pdf


def _walk(fn, chunks):
    st = FakeState()
    frames = list(fn((7,), iter(chunks), st))
    out = pd.concat(frames, ignore_index=True) if frames else None
    return out, (st.get, st.timeout_ms)


@pytest.mark.parametrize("name", sorted(WALKERS))
def test_walker_sorts_whole_group(spark, name):
    """Two Arrow chunks given in reverse time order yield the same rows
    and the same final state as one sorted chunk: the driver sorts once
    over the whole group. The walker's output and state schemas are the
    ones pinned above."""
    fn = getattr(pipeline, name)
    out_ddl, state_ddl = WALKERS[name]
    assert fn.out == StructType.fromDDL(out_ddl)
    assert fn.state_schema == StructType.fromDDL(state_ddl)

    want, want_state = _walk(fn, [_chunk(EVENTS)])
    got, got_state = _walk(
        fn, [_chunk(EVENTS[4:][::-1]), _chunk(EVENTS[:4][::-1])]
    )
    assert want is not None and len(want) > 0
    assert list(want.columns) == fn.out.fieldNames()
    pd.testing.assert_frame_equal(got, want)
    assert got_state == want_state


def test_stream_events_hourly_null_route_matches_oracle(spark, tmp_path):
    """Rows with a NULL event_type or a NULL value through
    stream_events_hourly equal the events_hourly oracle LEFT JOIN the
    delay_hourly oracle: the NULL route carries no average delay, and
    a group whose values are all NULL averages to NULL."""
    import duckdb

    from big_data_project_spark.registry import ORACLES

    src = str(tmp_path / "nl_src")
    rows = [
        (1, "2026-01-01 10:05:00", 7, "r1", 1.5, "{}"),
        (2, "2026-01-01 10:20:00", 7, "r1", None, "{}"),
        (3, "2026-01-01 10:40:00", 8, None, 4.0, "{}"),
        (4, "2026-01-01 11:00:00", 8, None, None, "{}"),
        (5, "2026-01-01 12:00:00", 9, "r2", None, "{}"),
        (6, "2026-01-01 10:50:00", 8, None, 6.25, "{}"),
        (7, "2026-01-01 10:10:00", 7, "r1", 2.25, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.to_timestamp("ts")).coalesce(1).write.parquet(src)
    got = [
        (r.route_id, r.hour_ts, r.vehicle_events, r.avg_delay_seconds)
        for r in pipeline.run_available_now(
            pipeline.stream_events_hourly(spark, src), "null_route_hourly"
        ).collect()
    ]

    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{src}/*.parquet')"
        )
        want = con.execute(
            f"""SELECT v.route_id, v.hour_ts, v.vehicle_events, d.avg_delay_seconds
                FROM ({ORACLES['events_hourly']}) v
                LEFT JOIN ({ORACLES['delay_hourly']}) d USING (route_id, hour_ts)"""
        ).fetchall()
    finally:
        con.close()
    assert any(r[0] is None for r in want) and any(r[3] is None for r in want)
    assert sorted(got, key=repr) == sorted(want, key=repr)


def test_read_or_none_missing_and_empty(spark, tmp_path):
    """A target not written yet and a directory with no parquet files
    both read as None; a parquet directory reads as its rows."""
    from big_data_project_spark.plans.sinks import _read_or_none

    empty = tmp_path / "empty"
    empty.mkdir()
    assert _read_or_none(spark, str(tmp_path / "missing")) is None
    assert _read_or_none(spark, str(empty)) is None
    written = str(tmp_path / "written")
    spark.range(3).write.parquet(written)
    assert _read_or_none(spark, written).count() == 3
