"""Wire-format tests for the GTFS-RT-style protobuf feed on crafted
binary fixtures (the oracle-parity suite covers the full round-trip
rollup)."""

from __future__ import annotations

import pandas as pd
import pytest

from big_data_project_spark.sources.protofeed import (
    _enc_int,
    _enc_len,
    _enc_tag,
    _enc_varint,
    decode_feed,
    decode_trip_update_entity,
    encode_feed,
    encode_trip_update_entity,
)

from tests.conftest import SF_DIR


def test_varint_boundaries():
    for v in (0, 1, 127, 128, 300, 2**31 - 1, -1, -2**31):
        b = encode_trip_update_entity("e", "t", "r", v)
        assert decode_trip_update_entity(b)[3] == v


def test_roundtrip_with_and_without_route():
    assert decode_trip_update_entity(
        encode_trip_update_entity("42", "t42", "route_7", -250)
    ) == ("42", "t42", "route_7", -250)
    assert decode_trip_update_entity(
        encode_trip_update_entity("42", "t42", None, 0)
    ) == ("42", "t42", None, 0)


def test_unknown_fields_are_skipped():
    """A real parser ignores fields it doesn't know: splice varint,
    length-delimited, i32, and i64 fields with unused numbers into the
    entity and between submessage fields."""
    body = encode_trip_update_entity("e9", "t9", "r9", 77)
    spliced = (
        _enc_int(15, 12345)  # unknown varint before known fields
        + body
        + _enc_len(14, b"\x01\x02\x03")  # unknown bytes after
        + _enc_tag(13, 5)
        + b"\x00\x01\x02\x03"  # unknown i32
        + _enc_tag(12, 1)
        + b"\x00" * 8  # unknown i64
    )
    assert decode_trip_update_entity(spliced) == ("e9", "t9", "r9", 77)


def test_truncated_payload_raises():
    body = encode_trip_update_entity("e1", "t1", "r1", 5)
    with pytest.raises((IndexError, ValueError)):
        decode_trip_update_entity(body[:-2] + b"\x80")


def test_feed_message_entity_roundtrip_all_kinds():
    """The nested FeedMessage graph round-trips every field the
    reference poller reads, per entity shape, including the HasField
    branches (bearing only on even ids, speed only when value exists,
    departure only on odd stop indices, header_text only when the
    event_type exists)."""
    from big_data_project_spark.sources.protofeed import (
        _decode_entity,
        _encode_entity_from_event,
    )

    # kind 0: vehicle, even id -> bearing present, value -> speed
    v = _decode_entity(_encode_entity_from_event(6, 123, "r7", 3.5, 1_700_000_000))
    assert v["entity_kind"] == "vehicle"
    assert v["entity_id"] == "e6" and v["vehicle_id"] == "v123"
    assert v["trip_id"] == "t123" and v["route_id"] == "r7"
    assert v["latitude"] == pytest.approx(44.006, abs=1e-5)
    assert v["longitude"] == pytest.approx(26.123, abs=1e-5)
    assert v["bearing"] == 6.0 and v["speed"] == 3.5
    assert v["vehicle_ts"] == pd.Timestamp(1_700_000_000, unit="s")

    # kind 0, odd-ish: id 12 even but NULL value / NULL route
    v2 = _decode_entity(_encode_entity_from_event(3 * 5, 4, None, None, 0))
    assert v2["speed"] is None and v2["route_id"] is None
    assert v2["bearing"] is None or v2["entity_id"] == "e15"  # 15 odd: no bearing
    assert _decode_entity(
        _encode_entity_from_event(15, 4, None, None, 0)
    )["bearing"] is None

    # kind 1: trip update, uid%3==2 -> two stop updates
    t = _decode_entity(_encode_entity_from_event(7, 5, "r1", 9.9, 0))
    assert t["entity_kind"] == "trip_update"
    assert t["delay_seconds"] == 9 and t["n_stop_updates"] == 2
    assert t["sum_arrival_delay"] == 9 + (9 + 1)  # k=0,1
    assert t["sum_departure_delay"] == 9 - 1  # only k=1
    t0 = _decode_entity(_encode_entity_from_event(7, 3, "r1", 9.9, 0))
    assert t0["n_stop_updates"] == 0
    assert t0["sum_arrival_delay"] == 0 and t0["sum_departure_delay"] == 0

    # kind 2: alert
    a = _decode_entity(_encode_entity_from_event(14, 8, "storm", None, 0))
    assert a["entity_kind"] == "alert"
    assert a["cause"] == 1 + 14 % 12 and a["effect"] == 1 + 8 % 11
    assert a["description"] == "storm"
    a2 = _decode_entity(_encode_entity_from_event(14, 8, None, None, 0))
    assert a2["description"] is None


def test_feed_message_output_independent_of_batching(spark):
    """Entities are row-deterministic, so the decoded table must be
    identical whether the events arrive as 1 FeedMessage or many."""
    from big_data_project_spark.catalog import load_table
    from big_data_project_spark.sources.protofeed import (
        decode_feed_messages,
        encode_feed_messages,
    )

    ev = load_table(spark, SF_DIR, "events").limit(120)
    one = decode_feed_messages(encode_feed_messages(ev.coalesce(1)))
    many = decode_feed_messages(encode_feed_messages(ev.repartition(7)))
    key = lambda r: r.entity_id  # noqa: E731
    got_one = sorted(map(tuple, one.collect()), key=lambda t: t[1])
    got_many = sorted(map(tuple, many.collect()), key=lambda t: t[1])
    assert got_one == got_many
    assert len(got_one) == 120
    # all three entity shapes present
    kinds = {t[0] for t in got_one}
    assert kinds == {"vehicle", "trip_update", "alert"}


def test_fused_roundtrip_equals_two_stage(spark):
    """The round-9 fused encode→decode stage (roundtrip_feed_entities,
    ONE mapInPandas crossing) must produce exactly the rows of the
    two-stage decode(encode(·)) path it replaced — including the
    float32 wire quantization and every nullable Int64 column."""
    from big_data_project_spark.catalog import load_table
    from big_data_project_spark.sources.protofeed import (
        decode_feed_messages,
        encode_feed_messages,
        roundtrip_feed_entities,
    )

    ev = load_table(spark, SF_DIR, "events").limit(150)
    staged = decode_feed_messages(encode_feed_messages(ev))
    fused = roundtrip_feed_entities(ev)
    assert staged.schema == fused.schema
    key = lambda t: (t[0], t[1])  # noqa: E731 (entity_kind, entity_id)
    got_staged = sorted(map(tuple, staged.collect()), key=key)
    got_fused = sorted(map(tuple, fused.collect()), key=key)
    assert got_staged == got_fused
    assert len(got_fused) == 150


def test_spark_encode_decode_identity(spark):
    from big_data_project_spark.catalog import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, SF_DIR, "events").limit(200)
    decoded = decode_feed(encode_feed(ev))
    got = {
        r.entity_id: (r.trip_id, r.route_id, r.delay_centi)
        for r in decoded.collect()
    }
    import math

    want = {
        str(r.event_id): (
            f"t{r.event_id}",
            r.event_type,
            int(math.floor(r.value * 100)),
        )
        for r in ev.collect()
    }
    assert got == want


def test_fast_wire_matches_reference():
    """Round-10: the batch-vectorized wire fast path (_encode_batch /
    _entities_frame) must be BYTE-identical to the per-row reference
    encoder and VALUE-identical to the per-row reference decoder over
    every entity shape and null/presence branch (kind = eid % 3,
    bearing on even eids, 0-2 stop updates via uid % 3, NULL
    etype/value, negative delays and pre-1970 timestamps)."""
    import pandas as pd

    from big_data_project_spark.sources.protofeed import (
        _ENTITY_COLS,
        _decode_entity,
        _dec_fields,
        _enc_int,
        _enc_len,
        _encode_batch,
        _encode_entity_from_event,
        _entities_frame,
    )

    rows = []
    i = 0
    for eid in range(12):
        for uid in (0, 1, 2, 5):
            for etype in (None, f"r{eid % 4}"):
                for val in (None, 3.7, -250.9, 1e6):
                    ts = pd.Timestamp("1969-12-01") if i % 7 == 0 else (
                        pd.Timestamp("2024-05-06 07:08:09")
                        + pd.Timedelta(seconds=i)
                    )
                    rows.append((eid + i * 15, uid, etype, val, ts))
                    i += 1
    b = pd.DataFrame(
        rows, columns=["event_id", "user_id", "event_type", "value", "ts"]
    )

    # reference bytes: header + per-row reference encoder
    parts = [_enc_len(1, _enc_len(1, b"2.0") + _enc_int(3, 0))]
    for eid, uid, etype, val, ts in rows:
        parts.append(
            _enc_len(
                2,
                _encode_entity_from_event(
                    int(eid),
                    uid,
                    etype,
                    val,
                    int(pd.Timestamp(ts).value // 1_000_000_000),
                ),
            )
        )
    ref_payload = b"".join(parts)
    assert _encode_batch(b) == ref_payload

    # reference decode: per-row dict walk
    ref_rows = [
        _decode_entity(v) for f, _w, v in _dec_fields(ref_payload) if f == 2
    ]
    ref = pd.DataFrame(ref_rows, columns=_ENTITY_COLS)
    for c in (
        "delay_seconds", "n_stop_updates", "sum_arrival_delay",
        "sum_departure_delay", "cause", "effect",
    ):
        ref[c] = pd.array(ref[c], dtype="Int64")
    ref["vehicle_ts"] = pd.to_datetime(ref["vehicle_ts"])
    got = _entities_frame([ref_payload])
    pd.testing.assert_frame_equal(got, ref)


def test_foreign_fixed_width_fields_in_inner_messages(spark):
    """A foreign FeedMessage carrying fixed32 and fixed64 fields inside
    a VehicleDescriptor, an alert's TranslatedString and its Translation
    decodes identically through decode_feed_messages and the per-row
    reference decoder. Each fixed-width payload is laid out so that
    reading it as a varint would resynchronize onto a bogus
    length-delimited field 1 and overwrite the real value."""
    from big_data_project_spark.sources.protofeed import (
        _dec_fields,
        _decode_entity,
        decode_feed_messages,
    )

    fixed64 = _enc_tag(9, 1) + b"\x01\x0a\x03xyz\x00\x00"
    fixed32 = _enc_tag(9, 5) + b"\x01\x0a\x01q"
    vehicle = _enc_len(1, b"e0") + _enc_len(
        4,
        _enc_len(1, _enc_len(1, b"t0") + _enc_len(5, b"r0"))
        + _enc_len(8, _enc_len(1, b"v0") + fixed64 + fixed32),
    )
    translation = _enc_len(1, b"storm") + fixed64 + fixed32 + _enc_len(2, b"en")
    alert = _enc_len(1, b"e2") + _enc_len(
        5,
        _enc_int(6, 3)
        + _enc_int(7, 4)
        + _enc_len(10, fixed32 + _enc_len(1, translation) + fixed64),
    )
    payload = (
        _enc_len(1, _enc_len(1, b"2.0"))
        + _enc_len(2, vehicle)
        + _enc_len(2, alert)
    )

    ref = [_decode_entity(v) for f, _w, v in _dec_fields(payload) if f == 2]
    assert ref[0]["vehicle_id"] == "v0"
    assert ref[1]["description"] == "storm"
    feed = spark.createDataFrame([(payload,)], "payload binary")
    got = [r.asDict() for r in decode_feed_messages(feed).collect()]
    assert got == ref
