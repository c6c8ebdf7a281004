"""Seeded input generator for the benchmark.

Every input a workload feeds the engine is built here from ``--seed``:
the TPC-H-style star schema plus the ``events`` feed (the sf-dir layout
``big_data_project_spark.catalog`` reads), the realtime poll files and
their pre-encoded GTFS-RT FeedMessage payloads. The same (seed, size)
always gives byte-identical inputs; builds are cached per (seed, size)
under the work directory and the build is timed on its own.

Column names, types and value domains follow the repository's test-data
tables (one single-rowgroup parquet file per table); row counts scale
with ``size`` the way TPC-H scale factors do (size 0.01 = 60k lineitem
rows, 10k events).
"""

from __future__ import annotations

import json
import os
import shutil
import struct
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "red", "blue", "new", "hot", "cold", "old", "large"]
PART_NOUN = ["ring", "widget", "bolt", "rod", "plate", "gear", "anvil", "gizmo"]
SF_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# Realtime feed shape: one poll carries about one hour of event time.
RT_POLLS = 24
RT_EVENTS_PER_HOUR_PER_SF = 50_000
RT_START = np.datetime64("2024-02-01T00:00:00", "us")

FORMAT_VERSION = 2  # bump when the generated data changes


def _write(table: pd.DataFrame, path: str, schema: pa.Schema) -> None:
    pq.write_table(
        pa.Table.from_pandas(table, schema=schema, preserve_index=False),
        path,
        row_group_size=max(1, len(table)),
    )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _events(rng, n: int, n_users: int, start, hours: int, first_id: int = 0):
    """``n`` events over ``hours`` hours from ``start``, time-sorted.

    Timestamps are whole milliseconds: a gap of whole milliseconds in
    minutes never lies exactly half-way between two 6-dp decimals, so
    the engine's and DuckDB's double-to-DECIMAL(28,6) casts agree on
    every headway (with microseconds about one seed in twenty hits a
    half-way gap that the two casts round apart)."""
    offs = np.sort(rng.integers(0, hours * 3_600_000, n)) * 1000
    return pd.DataFrame(
        {
            "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "ts": start + offs.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


_EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def build_sf_dir(sf_dir: str, seed: int, size: float) -> dict[str, int]:
    """Write the eight tables the workloads read; returns row counts."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(sf_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * size))
    n_supp = max(10, int(10_000 * size))
    n_part = max(200, int(200_000 * size))
    n_ord = max(1_500, int(1_500_000 * size))
    n_li = max(6_000, int(6_000_000 * size))
    n_ev = max(1_000, int(1_000_000 * size))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _write(
        pd.DataFrame({"r_regionkey": np.arange(5), "r_name": REGIONS}),
        f"{sf_dir}/region.parquet",
        pa.schema([("r_regionkey", i32), ("r_name", s)]),
    )
    _write(
        pd.DataFrame(
            {
                "n_nationkey": np.arange(25),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": np.arange(25) % 5,
            }
        ),
        f"{sf_dir}/nation.parquet",
        pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]),
    )
    _write(
        pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(SEGMENTS, n_cust),
            }
        ),
        f"{sf_dir}/customer.parquet",
        pa.schema(
            [
                ("c_custkey", i64),
                ("c_name", s),
                ("c_nationkey", i32),
                ("c_acctbal", f64),
                ("c_mktsegment", s),
            ]
        ),
    )
    _write(
        pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        f"{sf_dir}/supplier.parquet",
        pa.schema(
            [("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)]
        ),
    )
    pk = np.arange(n_part)
    _write(
        pd.DataFrame(
            {
                "p_partkey": pk,
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(PART_TYPES, n_part),
                "p_size": rng.integers(1, 51, n_part),
                "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
            }
        ),
        f"{sf_dir}/part.parquet",
        pa.schema(
            [
                ("p_partkey", i64),
                ("p_name", s),
                ("p_brand", s),
                ("p_type", s),
                ("p_size", i32),
                ("p_retailprice", f64),
            ]
        ),
    )
    _write(
        pd.DataFrame(
            {
                "o_orderkey": np.arange(n_ord),
                "o_custkey": rng.integers(0, n_cust, n_ord),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
                "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
                "o_orderpriority": rng.choice(PRIORITIES, n_ord),
            }
        ),
        f"{sf_dir}/orders.parquet",
        pa.schema(
            [
                ("o_orderkey", i64),
                ("o_custkey", i64),
                ("o_orderstatus", s),
                ("o_totalprice", f64),
                ("o_orderdate", ts),
                ("o_orderpriority", s),
            ]
        ),
    )
    _write(
        pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, n_ord, n_li),
                "l_partkey": rng.integers(0, n_part, n_li),
                "l_suppkey": rng.integers(0, n_supp, n_li),
                "l_linenumber": rng.integers(1, 8, n_li),
                "l_quantity": rng.integers(1, 51, n_li).astype(float),
                "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
                "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
                "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
                "l_returnflag": rng.choice(["A", "N", "R"], n_li),
                "l_linestatus": rng.choice(["F", "O"], n_li),
                "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
            }
        ),
        f"{sf_dir}/lineitem.parquet",
        pa.schema(
            [
                ("l_orderkey", i64),
                ("l_partkey", i64),
                ("l_suppkey", i64),
                ("l_linenumber", i32),
                ("l_quantity", f64),
                ("l_extendedprice", f64),
                ("l_discount", f64),
                ("l_tax", f64),
                ("l_returnflag", s),
                ("l_linestatus", s),
                ("l_shipdate", ts),
            ]
        ),
    )
    ev = _events(
        rng, n_ev, max(10, n_cust // 10), np.datetime64("2024-01-01", "us"), 30 * 24
    )
    _write(ev, f"{sf_dir}/events.parquet", _EVENTS_SCHEMA)
    return {
        "customer": n_cust,
        "supplier": n_supp,
        "part": n_part,
        "orders": n_ord,
        "lineitem": n_li,
        "events": n_ev,
    }


# --- GTFS-RT FeedMessage encoding (public protobuf wire format) ---------
#
# The benchmark encodes the realtime payloads itself, independently of
# the engine's codec, so decoding them is a real round trip. Entity
# shape follows the mapping the proto_feed_entities oracle states:
# kind = event_id % 3 (0 vehicle, 1 trip_update, 2 alert).


def _varint(v: int) -> bytes:
    v &= (1 << 64) - 1  # negative int64 values are ten-byte varints
    out = bytearray()
    while v >= 0x80:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)
    return bytes(out)


def _ld(field: int, payload: bytes) -> bytes:
    return _varint(field << 3 | 2) + _varint(len(payload)) + payload


def _vi(field: int, v: int) -> bytes:
    return _varint(field << 3) + _varint(v)


def _f32(field: int, v: float) -> bytes:
    return _varint(field << 3 | 5) + struct.pack("<f", v)


def encode_entity(eid: int, uid: int, etype: str, value: float, epoch_s: int) -> bytes:
    trip = _ld(1, f"t{uid}".encode()) + _ld(5, etype.encode())
    kind = eid % 3
    head = _ld(1, f"e{eid}".encode())
    if kind == 0:
        pos = _f32(1, 44.0 + (eid % 1000) * 0.001) + _f32(2, 26.0 + (uid % 1000) * 0.001)
        if eid % 2 == 0:
            pos += _f32(3, float(eid % 360))
        pos += _f32(5, value)
        vp = _ld(1, trip) + _ld(2, pos) + _vi(5, epoch_s) + _ld(8, _ld(1, f"v{uid}".encode()))
        return head + _ld(4, vp)
    if kind == 1:
        d = int(np.floor(value))
        tu = _ld(1, trip)
        for k in range(uid % 3):
            stu = _vi(1, k + 1) + _ld(4, f"s{uid + k}".encode())
            stu += _ld(2, _vi(1, d + k))
            if k % 2 == 1:
                stu += _ld(3, _vi(1, d - k))
            tu += _ld(2, stu)
        return head + _ld(3, tu + _vi(5, d))
    alert = _vi(6, 1 + eid % 12) + _vi(7, 1 + uid % 11)
    alert += _ld(10, _ld(1, _ld(1, etype.encode()) + _ld(2, b"en")))
    return head + _ld(5, alert)


_FEED_HEADER = _ld(1, _ld(1, b"2.0") + _vi(3, 0))


def encode_feed_message(ev: pd.DataFrame) -> bytes:
    epochs = ev["ts"].to_numpy().astype("datetime64[s]").astype(np.int64)
    parts = [_FEED_HEADER]
    for eid, uid, et, val, es in zip(
        ev["event_id"].tolist(),
        ev["user_id"].tolist(),
        ev["event_type"].tolist(),
        ev["value"].tolist(),
        epochs.tolist(),
    ):
        parts.append(_ld(2, encode_entity(eid, uid, et, val, es)))
    return b"".join(parts)


def build_realtime(rt_dir: str, seed: int, size: float) -> dict[str, int]:
    """Poll files for the realtime loop: ``RT_POLLS`` polls, each about
    one hour of event time with seeded boundaries, shuffled within each
    hour (out of order, never later than the 2-hour watermark). Every
    poll gets its events parquet file and its FeedMessage payloads
    (one message per vehicle batch of at most 250 entities)."""
    rng = np.random.default_rng([seed, 2])
    per_hour = max(100, int(RT_EVENTS_PER_HOUR_PER_SF * size))
    ev = _events(rng, per_hour * RT_POLLS, 150, RT_START, RT_POLLS, first_id=10**9)
    hour = ev["ts"].to_numpy().astype("datetime64[h]")
    order = np.lexsort((rng.random(len(ev)), hour))
    ev = ev.iloc[order].reset_index(drop=True)
    # seeded poll boundaries: about one hour each, jittered by +-40%
    sizes = np.maximum(1, np.round(per_hour * rng.uniform(0.6, 1.4, RT_POLLS)))
    cuts = np.minimum(np.cumsum(sizes).astype(int), len(ev))
    cuts[-1] = len(ev)
    os.makedirs(rt_dir, exist_ok=True)
    start = 0
    for p, end in enumerate(cuts):
        chunk = ev.iloc[start:end]
        _write(chunk, f"{rt_dir}/poll{p:04d}.parquet", _EVENTS_SCHEMA)
        payloads = [
            encode_feed_message(chunk.iloc[i : i + 250]) for i in range(0, len(chunk), 250)
        ]
        pq.write_table(
            pa.table({"payload": pa.array(payloads, pa.binary())}),
            f"{rt_dir}/poll{p:04d}.feed.parquet",
        )
        start = end
    return {"polls": RT_POLLS, "events": len(ev)}


def ensure_inputs(work: str, seed: int, size: float) -> dict:
    """Build (or reuse) the inputs for (seed, size). Returns a manifest
    with the paths, row counts and the build time of this call."""
    root = os.path.join(work, "inputs", f"seed{seed}-sf{size:g}-v{FORMAT_VERSION}")
    manifest_path = os.path.join(root, "manifest.json")
    t0 = time.perf_counter()
    if os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            manifest = json.load(fh)
        manifest["cached"] = True
    else:
        tmp = root + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        rows = build_sf_dir(os.path.join(tmp, "sf"), seed, size)
        rows["realtime"] = build_realtime(os.path.join(tmp, "rt"), seed, size)
        manifest = {"seed": seed, "size": size, "rows": rows}
        with open(os.path.join(tmp, "manifest.json"), "w") as fh:
            json.dump(manifest, fh)
        shutil.rmtree(root, ignore_errors=True)
        os.replace(tmp, root)
        manifest["cached"] = False
    manifest["sf_dir"] = os.path.join(root, "sf")
    manifest["rt_dir"] = os.path.join(root, "rt")
    manifest["build_s"] = time.perf_counter() - t0
    return manifest
