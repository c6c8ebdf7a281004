"""Kafka-envelope decode/encode (sources/kafka.py): the broker-free
seam between `readStream.format("kafka")` and the streaming pipeline.

Spark's Kafka source emits a fixed envelope (key/value binary, topic,
partition, offset, timestamp, timestampType) regardless of broker, so
the decode transform is fully testable on hand-built frames with those
columns — which is exactly what these tests do, including driving an
ENVELOPE-SHAPED file stream through decode -> stream_events_hourly and
checking batch equivalence end-to-end.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_project_spark.catalog import load_table
from big_data_project_spark.functions.portable import davg
from big_data_project_spark.sources.kafka import (
    decode_events_envelope,
    encode_events_envelope,
)
from big_data_project_spark.streaming import pipeline

from tests.conftest import SF_DIR


def test_envelope_round_trip_is_lossless(spark):
    """encode -> decode reproduces every typed event column exactly
    (props JSON string included), with kafka_ts NULL pre-broker."""
    events = load_table(spark, SF_DIR, "events")
    enc = encode_events_envelope(events, "events")
    assert [f.name for f in enc.schema.fields] == ["key", "value", "topic"]
    assert enc.schema["value"].dataType.simpleString() == "binary"

    dec = decode_events_envelope(enc)
    got = sorted(
        map(
            tuple,
            dec.select(
                "event_id", "ts", "user_id", "event_type", "value", "props"
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            events.select(
                "event_id", "ts", "user_id", "event_type", "value", "props"
            ).collect(),
        )
    )
    assert got == want
    assert dec.filter(F.col("kafka_ts").isNotNull()).count() == 0


def test_envelope_key_preserves_user_partitioning(spark):
    """The encode side keys records by user_id (as a utf8 binary), the
    property a keyed topic needs for the stateful twins' per-user
    ordering assumption."""
    # orderBy before limit: a bare limit() is not deterministic across
    # the two collect actions below
    events = load_table(spark, SF_DIR, "events").orderBy("event_id").limit(50)
    rows = encode_events_envelope(events, "t").select(
        F.col("key").cast("string").alias("k")
    ).collect()
    users = [r.user_id for r in events.select("user_id").collect()]
    assert sorted(int(r.k) for r in rows) == sorted(users)


def test_malformed_payloads_route_or_drop(spark):
    """Payloads that are not JSON OBJECTS — byte garbage, well-formed
    non-objects (bare number/string/array), AND a Kafka tombstone
    (NULL value) — decode to all-NULL rows (kept for a dead-letter
    sink) and ALL disappear under drop_malformed."""
    raw = spark.createDataFrame(
        [
            ('{"event_id": 1, "ts": "2026-01-01 00:00:00", "user_id": 2,'
             ' "event_type": "view", "value": 1.5, "props": "{}"}',),
            ("this is not json",),
            ("42",),
            ('"hello"',),
            ("[1, 2, 3]",),
            (None,),  # compacted-topic tombstone
        ],
        "v string",
    ).select(F.col("v").cast("binary").alias("value"))
    kept = decode_events_envelope(raw).collect()
    assert len(kept) == 6
    assert sorted(
        (r.event_id is None) for r in kept
    ) == [False, True, True, True, True, True]
    # dead-letter routing: EVERY non-object row (tombstone included)
    # has a non-NULL corrupt_payload; well-formed rows carry NULL
    for r in kept:
        if r.event_id is None:
            assert r.corrupt_payload is not None
        else:
            assert r.corrupt_payload is None
    assert {
        bytes(r.corrupt_payload).decode()
        for r in kept
        if r.corrupt_payload is not None
    } == {"this is not json", "42", '"hello"', "[1, 2, 3]", ""}
    dropped = decode_events_envelope(raw, drop_malformed=True).collect()
    assert len(dropped) == 1 and dropped[0].event_type == "view"
    assert "corrupt_payload" not in dropped[0].asDict()


def test_streamed_envelope_hourly_equals_batch(spark, tmp_path):
    """End-to-end: an envelope-shaped file stream (the Kafka source's
    exact column contract) decoded and fed to stream_events_hourly as
    an injected source matches the batch hourly rollup — proving the
    Kafka path is decode + config, no library edits."""
    events = load_table(spark, SF_DIR, "events")
    src = str(tmp_path / "kafka_shaped")
    enc = encode_events_envelope(events, "events").withColumn(
        "timestamp", F.lit("2026-01-01 00:00:00").cast("timestamp")
    )
    enc.write.parquet(src)

    raw = spark.readStream.schema(
        "key binary, value binary, topic string, timestamp timestamp"
    ).parquet(src)
    streamed = pipeline.run_available_now(
        pipeline.stream_events_hourly(
            spark, decode_events_envelope(raw).drop("kafka_ts")
        ),
        "kafka_hourly",
    )
    batch = (
        events.groupBy(
            F.date_trunc("hour", "ts").alias("hour_ts"),
            F.col("event_type").alias("route_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("vehicle_events"),
            davg("value", 4).alias("avg_delay_seconds"),
        )
    )
    got = sorted(map(tuple, streamed.collect()))
    want = sorted(map(tuple, batch.collect()))
    assert got == want


def test_native_session_window_equals_batch(spark, tmp_path):
    """The JVM-native session_window aggregation reproduces the batch
    lag-rule sessions exactly on the microsecond feed (session count,
    per-session bounds, event counts, value sums)."""
    from big_data_project_spark.streaming.pipeline import (
        sessionize_batch,
        stream_sessions_native,
    )

    events = load_table(spark, SF_DIR, "events")
    src = str(tmp_path / "sess_native_src")
    events.write.parquet(src)
    streamed = pipeline.run_available_now(
        stream_sessions_native(spark, src),
        "native_sessions",
        output_mode="complete",
    ).collect()
    batch = sessionize_batch(spark, SF_DIR).collect()
    assert len(streamed) == len(batch)
    key = lambda r: (r.user_id, r.session_start)  # noqa: E731
    got = {key(r): r for r in streamed}
    want = {key(r): r for r in batch}
    assert set(got) == set(want)
    for k, g in got.items():
        w = want[k]
        assert g.session_end == w.session_end
        assert g.n_events == w.n_events
        assert g.total_value == pytest.approx(
            w.total_value or 0.0, abs=1e-3
        ) or (g.total_value is None and w.total_value is None)


def test_native_session_checkpoint_recovery(spark, tmp_path):
    """Two availableNow runs over a growing source with a SHARED
    checkpoint: the engine-managed session state must survive the
    restart, MERGE the second run's in-gap event into the recovered
    open session, and emit it as ONE session row once a later event
    pushes the watermark past its close."""
    from big_data_project_spark.streaming.pipeline import (
        stream_sessions_native,
    )

    src = str(tmp_path / "ns_src")
    ckpt = str(tmp_path / "ns_ckpt")
    out = str(tmp_path / "ns_out")
    schema = (
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string"
    )

    def push(rows):
        spark.createDataFrame(rows, schema).withColumn(
            "ts", F.to_timestamp("ts")
        ).coalesce(1).write.mode("append").parquet(src)

    def run_once():
        q = (
            stream_sessions_native(spark, src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    push([
        (1, "2026-01-01 10:00:00", 7, "view", 1.0, "{}"),
        (2, "2026-01-01 10:05:00", 7, "click", 2.0, "{}"),
    ])
    run_once()
    # in-gap event must MERGE into the recovered session; the far
    # user-8 event advances the watermark (2h) past the merged
    # session's close so it finally emits
    push([
        (3, "2026-01-01 10:20:00", 7, "purchase", 3.0, "{}"),
        (4, "2026-01-02 10:00:00", 8, "view", 0.0, "{}"),
    ])
    run_once()

    rows = [
        r for r in spark.read.parquet(out).collect() if r.user_id == 7
    ]
    assert len(rows) == 1
    s = rows[0]
    assert s.n_events == 3
    assert s.session_start.isoformat() == "2026-01-01T10:00:00"
    assert s.session_end.isoformat() == "2026-01-01T10:20:00"
    assert s.total_value == 6.0
