"""Wire-format tests for the GTFS-RT protobuf codec on crafted binary
fixtures and a committed golden payload (the oracle-parity suite covers
the full round-trip rollups)."""

from __future__ import annotations

import json
import math
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from big_data_project_spark.sources.protofeed import (
    _ENTITY_COLS,
    _FEED_HEADER,
    _enc_int,
    _enc_len,
    _enc_tag,
    _enc_trip,
    _enc_trip_update,
    _enc_varint,
    _encode_batch,
    _encode_entity,
    _entities_batch,
    _entity_row,
    _feed_rows,
    _varint,
    decode_feed,
    decode_feed_messages,
    encode_feed,
    roundtrip_feed_entities,
)

from tests.conftest import SF_DIR

DATA = os.path.join(os.path.dirname(__file__), "data")
_EVENT_COLS = ["event_id", "user_id", "event_type", "value", "ts"]


def _row(buf: bytes) -> dict:
    return dict(zip(_ENTITY_COLS, _entity_row(buf)))


def _flat(eid: str, trip_id: str, route_id, delay) -> bytes:
    """proto_delay_hourly's one-entity payload: FeedEntity{id,
    TripUpdate{trip, delay}}."""
    tu = _enc_trip_update(_enc_trip(trip_id.encode(), route_id), delay)
    return _enc_len(1, eid.encode()) + _enc_len(3, tu)


def _flat_fields(buf: bytes) -> tuple:
    r = _row(buf)
    return r["entity_id"], r["trip_id"], r["route_id"], r["delay_seconds"]


def _events_batch(rows) -> pa.RecordBatch:
    """An Arrow batch of events rows with Spark's microsecond UTC ts."""
    types = [pa.int64(), pa.int64(), pa.string(), pa.float64(),
             pa.timestamp("us", tz="UTC")]
    cols = list(zip(*rows))
    return pa.RecordBatch.from_arrays(
        [pa.array(c, t) for c, t in zip(cols, types)], names=_EVENT_COLS
    )


def test_varint_boundaries():
    for v in (0, 1, 127, 128, 300, 2**31 - 1, -1, -2**31, -2**63):
        b = _enc_varint(v)
        assert _varint(b, 0, len(b)) == (v, len(b))
        assert _flat_fields(_flat("e", "t", "r", v))[3] == v


def test_roundtrip_with_and_without_route():
    assert _flat_fields(_flat("42", "t42", "route_7", -250)) == (
        "42", "t42", "route_7", -250,
    )
    assert _flat_fields(_flat("42", "t42", None, 0)) == ("42", "t42", None, 0)
    # a NULL delay is omitted on the wire and decodes as NULL
    assert _flat_fields(_flat("42", "t42", "r", None)) == (
        "42", "t42", "r", None,
    )


def test_unknown_fields_are_skipped():
    """A real parser ignores fields it doesn't know: splice varint,
    length-delimited, i32, and i64 fields with unused numbers into the
    entity and into its TripUpdate."""
    unknown = (
        _enc_int(15, 12345)  # unknown varint
        + _enc_len(14, b"\x01\x02\x03")  # unknown bytes
        + _enc_tag(13, 5)
        + b"\x00\x01\x02\x03"  # unknown i32
        + _enc_tag(12, 1)
        + b"\x00" * 8  # unknown i64
    )
    tu = _enc_trip_update(_enc_trip(b"t9", "r9"), 77)
    spliced = (
        _enc_int(15, 12345)
        + _enc_len(1, b"e9")
        + _enc_len(3, unknown + tu + unknown)
        + unknown
    )
    assert _flat_fields(spliced) == ("e9", "t9", "r9", 77)


def test_truncated_payload_raises():
    body = _flat("e1", "t1", "r1", 5)
    with pytest.raises(ValueError):
        _entity_row(body[:-2] + b"\x80")


def test_every_cut_inside_an_entity_raises():
    """A FeedMessage cut anywhere inside an entity's bytes raises: the
    varint, fixed-width value or length-delimited field that runs past
    the end of its message is detected, never read short."""
    rows = [(6, 123, "r7", 3.5, 0), (7, 5, "r1", 9.9, 0),
            (14, 8, "storm", None, 0)]
    for row in rows:
        payload = _encode_batch(_events_batch([row]))
        for cut in range(len(_FEED_HEADER) + 1, len(payload)):
            with pytest.raises(ValueError):
                _feed_rows([payload[:cut]])
        assert len(_feed_rows([payload])) == 1


def test_truncated_feed_message_fails_decode(spark):
    """decode_feed_messages on a FeedMessage of 4 events cut by 3 bytes
    fails the query instead of emitting a short last row."""
    t = pq.read_table(os.path.join(SF_DIR, "events.parquet"))
    ev = t.select(_EVENT_COLS).slice(0, 4).to_pylist()
    payload = _encode_batch(_events_batch([tuple(r.values()) for r in ev]))
    assert len(_feed_rows([payload])) == 4
    feed = spark.createDataFrame([(payload[:-3],)], "payload binary")
    with pytest.raises(Exception, match="runs past"):
        decode_feed_messages(feed).collect()


def test_feed_message_entity_roundtrip_all_kinds():
    """The nested FeedMessage graph round-trips every field the
    reference poller reads, per entity shape, including the HasField
    branches (bearing only on even ids, speed only when value exists,
    departure only on odd stop indices, header_text only when the
    event_type exists)."""
    # kind 0: vehicle, even id -> bearing present, value -> speed
    v = _row(_encode_entity(6, 123, "r7", 3.5, 1_700_000_000))
    assert v["entity_kind"] == "vehicle"
    assert v["entity_id"] == "e6" and v["vehicle_id"] == "v123"
    assert v["trip_id"] == "t123" and v["route_id"] == "r7"
    assert v["latitude"] == pytest.approx(44.006, abs=1e-5)
    assert v["longitude"] == pytest.approx(26.123, abs=1e-5)
    assert v["bearing"] == 6.0 and v["speed"] == 3.5
    assert v["vehicle_ts"] == 1_700_000_000  # epoch seconds on the wire

    # kind 0, odd id 15: no bearing; NULL value / NULL route
    v2 = _row(_encode_entity(15, 4, None, None, 0))
    assert v2["speed"] is None and v2["route_id"] is None
    assert v2["bearing"] is None and v2["entity_id"] == "e15"

    # kind 1: trip update, uid%3==2 -> two stop updates
    t = _row(_encode_entity(7, 5, "r1", 9.9, 0))
    assert t["entity_kind"] == "trip_update"
    assert t["delay_seconds"] == 9 and t["n_stop_updates"] == 2
    assert t["sum_arrival_delay"] == 9 + (9 + 1)  # k=0,1
    assert t["sum_departure_delay"] == 9 - 1  # only k=1
    t0 = _row(_encode_entity(7, 3, "r1", 9.9, 0))
    assert t0["n_stop_updates"] == 0
    assert t0["sum_arrival_delay"] == 0 and t0["sum_departure_delay"] == 0

    # kind 2: alert
    a = _row(_encode_entity(14, 8, "storm", None, 0))
    assert a["entity_kind"] == "alert"
    assert a["cause"] == 1 + 14 % 12 and a["effect"] == 1 + 8 % 11
    assert a["description"] == "storm"
    a2 = _row(_encode_entity(14, 8, None, None, 0))
    assert a2["description"] is None


def test_feed_message_output_independent_of_batching(spark):
    """Entities are row-deterministic, so the decoded table must be
    identical whether the events arrive as 1 FeedMessage or many."""
    from big_data_project_spark.catalog import load_table

    ev = load_table(spark, SF_DIR, "events").limit(120)
    one = roundtrip_feed_entities(ev.coalesce(1))
    many = roundtrip_feed_entities(ev.repartition(7))
    got_one = sorted(map(tuple, one.collect()), key=lambda t: t[1])
    got_many = sorted(map(tuple, many.collect()), key=lambda t: t[1])
    assert got_one == got_many
    assert len(got_one) == 120
    # all three entity shapes present
    kinds = {t[0] for t in got_one}
    assert kinds == {"vehicle", "trip_update", "alert"}


def test_fused_roundtrip_equals_two_stage(spark):
    """The fused encode→decode stage (roundtrip_feed_entities, ONE
    mapInArrow crossing) produces exactly the rows and schema of
    decode_feed_messages over the encoder's FeedMessage payloads —
    including the float32 wire quantization and every nullable
    integer and timestamp column."""
    from big_data_project_spark.catalog import load_table

    ev = load_table(spark, SF_DIR, "events").orderBy("event_id").limit(150)
    rows = [tuple(r) for r in ev.select(_EVENT_COLS).collect()]
    payloads = [
        (_encode_batch(_events_batch(rows[i : i + 40])),)
        for i in range(0, len(rows), 40)
    ]
    staged = decode_feed_messages(
        spark.createDataFrame(payloads, "payload binary")
    )
    fused = roundtrip_feed_entities(ev)
    assert staged.schema == fused.schema
    key = lambda t: (t[0], t[1])  # noqa: E731 (entity_kind, entity_id)
    got_staged = sorted(map(tuple, staged.collect()), key=key)
    got_fused = sorted(map(tuple, fused.collect()), key=key)
    assert got_staged == got_fused
    assert len(got_fused) == 150


def test_spark_encode_decode_identity(spark):
    from big_data_project_spark.catalog import load_table

    ev = load_table(spark, SF_DIR, "events").limit(200)
    decoded = decode_feed(encode_feed(ev))
    got = {
        r.entity_id: (r.trip_id, r.route_id, r.delay_centi)
        for r in decoded.collect()
    }
    want = {
        str(r.event_id): (
            f"t{r.event_id}",
            r.event_type,
            int(math.floor(r.value * 100)),
        )
        for r in ev.collect()
    }
    assert got == want


def test_proto_delay_hourly_null_value_matches_oracle(spark, tmp_path):
    """A NULL value encodes no delay; the decoded delay is NULL, so
    n_updates still counts the row and avg_delay_s skips it, exactly as
    the oracle's count(*) / avg over floor(value*100)/100.0 does."""
    from big_data_project_spark.sources.protofeed import (
        ORACLES,
        proto_delay_hourly,
    )

    from tests.test_oracle_parity import _normalize

    src = os.path.join(SF_DIR, "events.parquet")
    dst = str(tmp_path / "events.parquet")
    con = duckdb.connect()
    con.execute(
        f"COPY (SELECT * REPLACE (CASE WHEN event_id % 5 = 0 THEN NULL"
        f" ELSE value END AS value) FROM '{src}') TO '{dst}' (FORMAT parquet)"
    )
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{dst}'")
    assert con.execute(
        "SELECT count(*) FROM events WHERE value IS NULL"
    ).fetchone()[0] > 0
    res = con.execute(ORACLES["proto_delay_hourly"])
    want_cols = [d[0] for d in res.description]
    want = _normalize(res.fetchall(), want_cols)
    con.close()

    sdf = proto_delay_hourly(spark, str(tmp_path))
    got = _normalize([tuple(r) for r in sdf.collect()], sdf.columns)
    assert sorted(sdf.columns) == sorted(want_cols)
    assert got == want


def test_codec_matches_golden_payload():
    """The encoder reproduces the committed golden FeedMessage byte for
    byte and the decoder reproduces its committed rows exactly, over
    every entity shape and null/presence branch (kind = eid % 3,
    bearing on even eids, 0-2 stop updates via uid % 3, NULL
    etype/value, negative delays and pre-1970 timestamps)."""
    rows = []
    i = 0
    for eid in range(12):
        for uid in (0, 1, 2, 5):
            for etype in (None, f"r{eid % 4}"):
                for val in (None, 3.7, -250.9, 1e6):
                    # microseconds: 1969-12-01, or 2024-05-06 07:08:09 + i s
                    ts = -2_678_400 if i % 7 == 0 else 1_714_979_289 + i
                    rows.append((eid + i * 15, uid, etype, val, ts * 10**6))
                    i += 1
    with open(os.path.join(DATA, "protofeed_golden.bin"), "rb") as f:
        golden = f.read()
    with open(os.path.join(DATA, "protofeed_golden_rows.json")) as f:
        want = json.load(f)

    assert _encode_batch(_events_batch(rows)) == golden
    assert want["columns"] == list(_ENTITY_COLS)
    got = _feed_rows([golden])
    assert got == want["rows"]
    # the Arrow batch carries the epoch seconds as UTC microseconds
    ts = _entities_batch(got).column("vehicle_ts").cast(pa.int64())
    k = _ENTITY_COLS.index("vehicle_ts")
    assert ts.to_pylist() == [
        None if r[k] is None else r[k] * 10**6 for r in want["rows"]
    ]


def test_foreign_fixed_width_fields_in_inner_messages(spark):
    """A foreign FeedMessage carrying fixed32 and fixed64 fields inside
    a VehicleDescriptor, an alert's TranslatedString and its Translation
    decodes to the values it carries. Each fixed-width payload is laid
    out so that reading it as a varint would resynchronize onto a bogus
    length-delimited field 1 and overwrite the real value."""
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

    empty = dict.fromkeys(_ENTITY_COLS)
    want = [
        {**empty, "entity_kind": "vehicle", "entity_id": "e0",
         "trip_id": "t0", "route_id": "r0", "vehicle_id": "v0"},
        {**empty, "entity_kind": "alert", "entity_id": "e2", "cause": 3,
         "effect": 4, "description": "storm"},
    ]
    feed = spark.createDataFrame([(payload,)], "payload binary")
    got = [r.asDict() for r in decode_feed_messages(feed).collect()]
    assert got == want
