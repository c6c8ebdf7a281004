"""Protobuf-envelope feed: one GTFS-RT codec run under mapInArrow.

Parity target: the reference's realtime source is one GTFS-RT
``FeedMessage()`` parse (poller.py:69) walked entity by entity by the
poller's three process_* functions (poller.py:75-188). No protobuf
runtime is assumed: this module is the one encoder and the one decoder
for the subset of the public gtfs-realtime.proto the poller reads:

  FeedMessage{header=1, entity=2}
  FeedHeader{gtfs_realtime_version=1, timestamp=3}
  FeedEntity{id=1, trip_update=3, vehicle=4, alert=5}
  TripUpdate{trip=1, stop_time_update=2, delay=5}
  TripDescriptor{trip_id=1, route_id=5}
  StopTimeUpdate{stop_sequence=1, arrival=2, departure=3, stop_id=4}
  StopTimeEvent{delay=1}
  VehiclePosition{trip=1, position=2, timestamp=5, vehicle=8}
  Position{latitude=1, longitude=2, bearing=3, speed=5}  (float32)
  VehicleDescriptor{id=1}
  Alert{cause=6, effect=7, header_text=10}
  TranslatedString{translation=1}; Translation{text=1, language=2}

Encoding: ``_encode_entity`` derives one FeedEntity deterministically
from an events row (kind = event_id % 3) and exercises optional
presence the way the poller tests HasField; proto_delay_hourly's flat
FeedEntity{id, TripUpdate{trip, delay}} comes from the same trip-update
helper. Decoding: ``_walk`` is one loop driven by a spec table per
message. A table maps a (field, wire type) tag to one action; every
other tag is skipped by its wire type (varint, i64, length-delimited,
i32) as a real parser does. A varint,
fixed-width value or length-delimited field that runs past the end of
its enclosing message raises ValueError, and so does a group wire type.

Every stage is a ``mapInArrow`` (one Python crossing per Arrow batch)
that builds its output RecordBatch straight from the row tuples.
Because encode∘decode is the identity on the typed fields, both keys
are oracle-checked: the DuckDB oracles recompute the same rows from the
raw events table, so a wire-format bug anywhere in the round trip
breaks the hash gate. Position floats are packed with struct '<f'
(IEEE round-to-nearest-even, the quantization DuckDB's CAST(x AS REAL)
applies), so the re-widened doubles match bit for bit.
"""

from __future__ import annotations

import math
import struct
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema

from ..catalog import load_table, load_table_spread
from ..functions.portable import davg, pround, sql_davg, sql_pround
from ..functions.time import hour_trunc

# --- wire format (protobuf encoding spec) ------------------------------

_VARINT, _I64, _LEN, _I32 = 0, 1, 2, 5
_VB = [bytes([i]) for i in range(128)]  # one-byte varints
_pack_f = struct.Struct("<f").pack
_unpack_f = struct.Struct("<f").unpack_from


def _enc_varint(v: int) -> bytes:
    if 0 <= v < 128:
        return _VB[v]
    if v < 0:  # two's-complement 64-bit, as protobuf int32/int64 do
        v += 1 << 64
    out = bytearray()
    while v > 0x7F:
        out.append(v & 0x7F | 0x80)
        v >>= 7
    out.append(v)
    return bytes(out)


def _enc_tag(field: int, wire: int) -> bytes:
    return _enc_varint(field << 3 | wire)


def _enc_len(field: int, payload: bytes) -> bytes:
    return _enc_tag(field, _LEN) + _enc_varint(len(payload)) + payload


def _enc_int(field: int, v: int) -> bytes:
    return _enc_tag(field, _VARINT) + _enc_varint(v)


def _enc_f32(field: int, v: float) -> bytes:
    return _enc_tag(field, _I32) + _pack_f(v)


def _varint(buf: bytes, i: int, end: int) -> tuple[int, int]:
    """(value, next offset) of the varint at buf[i]; values of 2**63
    and up are negative int64s. Raises ValueError when the varint runs
    past ``end`` or is longer than 10 bytes."""
    v = shift = 0
    while i < end and shift < 70:
        b = buf[i]
        i += 1
        v |= (b & 0x7F) << shift
        if b < 0x80:
            return (v - (1 << 64) if v >= 1 << 63 else v), i
        shift += 7
    raise ValueError(f"truncated or overlong varint at offset {i}")


# --- the one encoder ---------------------------------------------------


def _enc_trip(trip_id: bytes, route_id: str | None) -> bytes:
    """TripDescriptor; route_id is omitted when NULL."""
    trip = _enc_len(1, trip_id)
    if route_id is not None:
        trip += _enc_len(5, route_id.encode())
    return trip


def _enc_trip_update(
    trip: bytes, delay: int | None, uid: int = 0, n_stops: int = 0
) -> bytes:
    """TripUpdate: stop k carries stop_sequence k+1, stop_id s{uid+k},
    arrival delay+k and, on odd k only, departure delay-k. The delay
    field is omitted when ``delay`` is None."""
    parts = [_enc_len(1, trip)]
    for k in range(n_stops):
        stu = _enc_int(1, k + 1) + _enc_len(4, b"s%d" % (uid + k))
        stu += _enc_len(2, _enc_int(1, delay + k))  # arrival
        if k % 2 == 1:
            stu += _enc_len(3, _enc_int(1, delay - k))  # departure
        parts.append(_enc_len(2, stu))
    if delay is not None:
        parts.append(_enc_int(5, delay))
    return b"".join(parts)


def _encode_entity(
    eid: int, uid: int, etype: str | None, value: float | None, epoch_s: int
) -> bytes:
    """One FeedEntity for an events row, shape by event_id % 3
    (0=vehicle, 1=trip_update, 2=alert): bearing only on even ids,
    speed only when value is present, user_id % 3 stop updates, and
    route_id / header_text only when event_type is present."""
    kind = eid % 3
    ent = _enc_len(1, b"e%d" % eid)
    if kind == 2:
        alert = _enc_int(6, 1 + eid % 12) + _enc_int(7, 1 + uid % 11)
        if etype is not None:
            tr = _enc_len(1, etype.encode()) + _enc_len(2, b"en")
            alert += _enc_len(10, _enc_len(1, tr))
        return ent + _enc_len(5, alert)
    trip = _enc_trip(b"t%d" % uid, etype)
    if kind == 1:
        d = math.floor(value) if value is not None else 0
        return ent + _enc_len(3, _enc_trip_update(trip, d, uid, uid % 3))
    pos = _enc_f32(1, 44.0 + (eid % 1000) * 0.001)
    pos += _enc_f32(2, 26.0 + (uid % 1000) * 0.001)
    if eid % 2 == 0:
        pos += _enc_f32(3, float(eid % 360))
    if value is not None:
        pos += _enc_f32(5, value)
    vp = _enc_len(1, trip) + _enc_len(2, pos) + _enc_int(5, epoch_s)
    return ent + _enc_len(4, vp + _enc_len(8, _enc_len(1, b"v%d" % uid)))


_FEED_HEADER = _enc_len(1, _enc_len(1, b"2.0") + _enc_int(3, 0))


def _encode_batch(b: pa.RecordBatch) -> bytes:
    """One FeedMessage (header, then one entity per row) for an Arrow
    batch of events rows. ``ts`` is in microseconds, as Spark ships it;
    epoch seconds are floored, so pre-1970 instants round down like
    date_trunc('second')."""
    micros = np.asarray(b.column("ts").cast(pa.int64()))
    epochs = (micros // 1_000_000).tolist()
    cols = ("event_id", "user_id", "event_type", "value")
    parts = [_FEED_HEADER]
    for row in zip(*(b.column(c).to_pylist() for c in cols), epochs):
        parts.append(_enc_len(2, _encode_entity(*row)))
    return b"".join(parts)


# --- the one decoder: a spec table per message, one walk ---------------

# vehicle_ts is epoch seconds on the wire; the batch is cast to the
# microsecond timestamps Spark reads
_S, _D, _L = pa.string(), pa.float64(), pa.int64()
_ROW_ARROW = pa.schema(
    [
        ("entity_kind", _S), ("entity_id", _S), ("trip_id", _S),
        ("route_id", _S), ("vehicle_id", _S), ("latitude", _D),
        ("longitude", _D), ("bearing", _D), ("speed", _D),
        ("vehicle_ts", pa.timestamp("s", tz="UTC")),
        ("delay_seconds", _L), ("n_stop_updates", _L),
        ("sum_arrival_delay", _L), ("sum_departure_delay", _L),
        ("cause", pa.int32()), ("effect", pa.int32()),
        ("description", _S),
    ]
)
_ENTITY_SCHEMA = from_arrow_schema(_ROW_ARROW)
_ENTITY_ARROW = to_arrow_schema(_ENTITY_SCHEMA)
_ENTITY_COLS = _ROW_ARROW.names
_COL = {c: i for i, c in enumerate(_ENTITY_COLS)}

# Actions. STR/INT/F32 set a column, ADD adds a varint to it; MSG walks
# a sub-message into the same row, COUNT also adds 1 to a column; KIND
# sets the entity kind (and zeroes the shape's counters) and walks its
# message; ROW walks a FeedEntity into a fresh row of the output list.
_STR, _INT, _F32, _ADD, _MSG, _COUNT, _KIND, _ROW = range(8)


def _spec(fields: dict) -> dict:
    """A spec table {tag: (op, col, sub-spec)} from {(field, wire): (op,
    column name | {column name: value} | None[, sub-spec])}; column
    names become row indices."""
    out = {}
    for (field, wire), (op, col, *sub) in fields.items():
        if isinstance(col, dict):
            col = tuple((_COL[c], v) for c, v in col.items())
        elif col is not None:
            col = _COL[col]
        out[field << 3 | wire] = (op, col, sub[0] if sub else None)
    return out


_TRIP = _spec({(1, _LEN): (_STR, "trip_id"), (5, _LEN): (_STR, "route_id")})
_ARRIVAL = _spec({(1, _VARINT): (_ADD, "sum_arrival_delay")})
_DEPARTURE = _spec({(1, _VARINT): (_ADD, "sum_departure_delay")})
_STOP_TIME_UPDATE = _spec(
    {(2, _LEN): (_MSG, None, _ARRIVAL), (3, _LEN): (_MSG, None, _DEPARTURE)}
)
_TRIP_UPDATE = _spec(
    {
        (1, _LEN): (_MSG, None, _TRIP),
        (2, _LEN): (_COUNT, "n_stop_updates", _STOP_TIME_UPDATE),
        (5, _VARINT): (_INT, "delay_seconds"),
    }
)
_POSITION = _spec(
    {
        (1, _I32): (_F32, "latitude"),
        (2, _I32): (_F32, "longitude"),
        (3, _I32): (_F32, "bearing"),
        (5, _I32): (_F32, "speed"),
    }
)
_VEHICLE_DESCRIPTOR = _spec({(1, _LEN): (_STR, "vehicle_id")})
_VEHICLE = _spec(
    {
        (1, _LEN): (_MSG, None, _TRIP),
        (2, _LEN): (_MSG, None, _POSITION),
        (5, _VARINT): (_INT, "vehicle_ts"),
        (8, _LEN): (_MSG, None, _VEHICLE_DESCRIPTOR),
    }
)
_TRANSLATION = _spec({(1, _LEN): (_STR, "description")})
_TRANSLATED_STRING = _spec({(1, _LEN): (_MSG, None, _TRANSLATION)})
_ALERT = _spec(
    {
        (6, _VARINT): (_INT, "cause"),
        (7, _VARINT): (_INT, "effect"),
        (10, _LEN): (_MSG, None, _TRANSLATED_STRING),
    }
)
_TU_KIND = {
    "entity_kind": "trip_update",
    "n_stop_updates": 0,
    "sum_arrival_delay": 0,
    "sum_departure_delay": 0,
}
_FEED_ENTITY = _spec(
    {
        (1, _LEN): (_STR, "entity_id"),
        (3, _LEN): (_KIND, _TU_KIND, _TRIP_UPDATE),
        (4, _LEN): (_KIND, {"entity_kind": "vehicle"}, _VEHICLE),
        (5, _LEN): (_KIND, {"entity_kind": "alert"}, _ALERT),
    }
)
_FEED_MESSAGE = {2 << 3 | _LEN: (_ROW, None, _FEED_ENTITY)}


def _walk(buf: bytes, i: int, end: int, spec: dict, row: list) -> None:
    """Apply ``spec`` to the message in buf[i:end]: each field whose tag
    the table names runs its action on ``row``, every other field is
    skipped by wire type."""
    while i < end:
        # one-byte keys and lengths (nearly all of them) are read inline:
        # about a third less walk time on the sf0.1 events feed
        key = buf[i]
        if key < 0x80:
            i += 1
        else:
            key, i = _varint(buf, i, end)
        wire = key & 7
        if wire == _VARINT:
            v, i = _varint(buf, i, end)
        else:
            if wire == _LEN:
                if i < end and buf[i] < 0x80:
                    n, i = buf[i], i + 1
                else:
                    n, i = _varint(buf, i, end)
            elif wire == _I32:
                n = 4
            elif wire == _I64:
                n = 8
            else:
                raise ValueError(f"unsupported wire type {wire}")
            v, i = i, i + n
            if n < 0 or i > end:
                raise ValueError(f"field {key >> 3} runs past its message")
        act = spec.get(key)
        if act is None:
            continue
        op, col, sub = act
        if op == _STR:
            row[col] = buf[v:i].decode()
        elif op == _MSG:
            _walk(buf, v, i, sub, row)
        elif op == _F32:
            row[col] = _unpack_f(buf, v)[0]
        elif op == _INT:
            row[col] = v
        elif op == _ADD:
            row[col] += v
        elif op == _COUNT:
            row[col] += 1
            _walk(buf, v, i, sub, row)
        elif op == _KIND:
            for c, x in col:
                row[c] = x
            _walk(buf, v, i, sub, row)
        else:  # _ROW
            r = [None] * len(_ENTITY_COLS)
            _walk(buf, v, i, sub, r)
            row.append(r)


def _entity_row(buf: bytes) -> list:
    """One FeedEntity payload -> its row in _ENTITY_COLS order
    (vehicle_ts in epoch seconds)."""
    row = [None] * len(_ENTITY_COLS)
    _walk(buf, 0, len(buf), _FEED_ENTITY, row)
    return row


def _feed_rows(payloads) -> list:
    """One row per FeedEntity of each FeedMessage payload."""
    rows: list = []
    for buf in payloads:
        _walk(buf, 0, len(buf), _FEED_MESSAGE, rows)
    return rows


def _entities_batch(rows: list) -> pa.RecordBatch:
    """Entity rows -> one Arrow batch in _ENTITY_ARROW's schema."""
    cols = list(zip(*rows)) if rows else [()] * len(_ENTITY_COLS)
    arrays = [pa.array(c, f.type) for c, f in zip(cols, _ROW_ARROW)]
    return pa.RecordBatch.from_arrays(arrays, schema=_ROW_ARROW).cast(
        _ENTITY_ARROW
    )


# --- Spark stages --------------------------------------------------------


def encode_feed(events: DataFrame) -> DataFrame:
    """events rows -> (payload binary, ts): one FeedEntity{id, TripUpdate}
    per event. delay is floor(value*100) centiseconds, so the varint
    survives the round trip exactly; it is omitted when value is NULL."""

    def enc(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            cols = ("event_id", "event_type", "value")
            payloads = []
            for eid, rid, val in zip(*(b.column(c).to_pylist() for c in cols)):
                delay = None if val is None else math.floor(val * 100)
                tu = _enc_trip_update(_enc_trip(b"t%d" % eid, rid), delay)
                payloads.append(_enc_len(1, b"%d" % eid) + _enc_len(3, tu))
            yield pa.RecordBatch.from_arrays(
                [pa.array(payloads, pa.binary()), b.column("ts")],
                names=["payload", "ts"],
            )

    return events.select("event_id", "event_type", "value", "ts").mapInArrow(
        enc, "payload binary, ts timestamp"
    )


def decode_feed(feed: DataFrame) -> DataFrame:
    """(payload binary, ts) -> typed trip-update rows."""
    cols = ["entity_id", "trip_id", "route_id", "delay_seconds"]

    def dec(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            rows = [_entity_row(p) for p in b.column("payload").to_pylist()]
            e = _entities_batch(rows).select(cols)
            yield pa.RecordBatch.from_arrays(
                [*e.columns, b.column("ts")],
                names=[*cols[:3], "delay_centi", "ts"],
            )

    return feed.mapInArrow(
        dec,
        "entity_id string, trip_id string, route_id string,"
        " delay_centi long, ts timestamp",
    )


def proto_delay_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delay rollup computed FROM THE BINARY FEED: encode events as
    GTFS-RT entities, decode them back, aggregate. The oracle computes
    the same numbers from the raw rows, so the whole wire-format path is
    inside the checked contract."""
    decoded = decode_feed(encode_feed(load_table(spark, sf_dir, "events")))
    return (
        decoded.filter(F.col("route_id").isNotNull())
        .groupBy(F.col("route_id"), hour_trunc("ts").alias("hour_ts"))
        .agg(
            F.count(F.lit(1)).alias("n_updates"),
            davg(F.col("delay_centi") / 100.0, 4).alias("avg_delay_s"),
        )
    )


def decode_feed_messages(feed: DataFrame) -> DataFrame:
    """(payload binary) FeedMessages -> one typed row per FeedEntity."""

    def dec(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            yield _entities_batch(_feed_rows(b.column("payload").to_pylist()))

    return feed.mapInArrow(dec, _ENTITY_SCHEMA)


def roundtrip_feed_entities(events: DataFrame) -> DataFrame:
    """Fused encode→decode: ONE mapInArrow stage encodes each Arrow
    batch as a FeedMessage and decodes it straight back, so the binary
    payload never crosses to the JVM and back. Entity content is
    row-deterministic, so the rows equal those of decode_feed_messages
    over the same events encoded batch by batch in any grouping."""

    def rt(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            if b.num_rows:
                yield _entities_batch(_feed_rows([_encode_batch(b)]))

    return events.select(
        "event_id", "user_id", "event_type", "value", "ts"
    ).mapInArrow(rt, _ENTITY_SCHEMA)


def proto_feed_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed per-entity table decoded FROM THE BINARY FeedMessage graph
    — the Spark twin of the reference poller's three process_* walks
    (poller.py:75-188), one query over all three entity shapes. Floats
    are displayed at 6dp after the float32 wire quantization both
    engines share.

    Scale: encode→decode is ONE fused Arrow-batched mapInArrow stage,
    the rest is map-side projection. The input loads through
    load_table_spread so the per-entity Python work runs on every core
    even when the local parquet is a single split (at real scale the
    spread guard is a no-op and the pipeline is shuffle-free end to
    end)."""
    ev = load_table_spread(spark, sf_dir, "events", "event_id")
    decoded = roundtrip_feed_entities(ev)
    floats = ("latitude", "longitude", "bearing", "speed")
    return decoded.select(
        *(pround(c, 6).alias(c) if c in floats else c for c in _ENTITY_COLS)
    )


QUERIES = {
    "proto_delay_hourly": proto_delay_hourly,
    "proto_feed_entities": proto_feed_entities,
}

ORACLES = {
    "proto_delay_hourly": f"""
        SELECT event_type AS route_id,
               date_trunc('hour', ts) AS hour_ts,
               count(*) AS n_updates,
               {sql_davg("floor(value * 100) / 100.0", 4)} AS avg_delay_s
        FROM events
        WHERE event_type IS NOT NULL
        GROUP BY event_type, date_trunc('hour', ts)
    """,
    # recomputes the per-entity rows straight from events using the
    # same deterministic mapping the encoder applies (kind =
    # event_id % 3); REAL casts reproduce the float32 wire
    # quantization bit-for-bit before the shared 6dp rounding
    "proto_feed_entities": f"""
        SELECT
          CASE event_id % 3 WHEN 0 THEN 'vehicle'
               WHEN 1 THEN 'trip_update' ELSE 'alert' END AS entity_kind,
          'e' || CAST(event_id AS VARCHAR) AS entity_id,
          CASE WHEN event_id % 3 IN (0, 1)
               THEN 't' || CAST(user_id AS VARCHAR) END AS trip_id,
          CASE WHEN event_id % 3 IN (0, 1) THEN event_type END AS route_id,
          CASE WHEN event_id % 3 = 0
               THEN 'v' || CAST(user_id AS VARCHAR) END AS vehicle_id,
          CASE WHEN event_id % 3 = 0 THEN {sql_pround(
              "((44.0 + (event_id % 1000) * 0.001)::REAL)::DOUBLE", 6
          )} END AS latitude,
          CASE WHEN event_id % 3 = 0 THEN {sql_pround(
              "((26.0 + (user_id % 1000) * 0.001)::REAL)::DOUBLE", 6
          )} END AS longitude,
          CASE WHEN event_id % 3 = 0 AND event_id % 2 = 0 THEN {sql_pround(
              "((event_id % 360)::REAL)::DOUBLE", 6
          )} END AS bearing,
          CASE WHEN event_id % 3 = 0 AND value IS NOT NULL THEN {sql_pround(
              "(value::REAL)::DOUBLE", 6
          )} END AS speed,
          CASE WHEN event_id % 3 = 0
               THEN date_trunc('second', ts) END AS vehicle_ts,
          CASE WHEN event_id % 3 = 1
               THEN coalesce(floor(value)::BIGINT, 0) END AS delay_seconds,
          CASE WHEN event_id % 3 = 1
               THEN user_id % 3 END AS n_stop_updates,
          CASE WHEN event_id % 3 = 1
               THEN (user_id % 3) * coalesce(floor(value)::BIGINT, 0)
                    + (CASE WHEN user_id % 3 = 2 THEN 1 ELSE 0 END)
               END AS sum_arrival_delay,
          CASE WHEN event_id % 3 = 1
               THEN (CASE WHEN user_id % 3 = 2
                          THEN coalesce(floor(value)::BIGINT, 0) - 1
                          ELSE 0 END)
               END AS sum_departure_delay,
          CASE WHEN event_id % 3 = 2
               THEN (1 + event_id % 12)::INT END AS cause,
          CASE WHEN event_id % 3 = 2
               THEN (1 + user_id % 11)::INT END AS effect,
          CASE WHEN event_id % 3 = 2 THEN event_type END AS description
        FROM events
    """,
}
