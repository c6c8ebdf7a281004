"""Oracle gate: compare what the engine produced with the registry's
DuckDB oracle SQL (``registry.ORACLES``) on the same generated input.

Results are compared the way ``tools/drive_contract.py`` does: same
sorted column names, same row count and the same order-insensitive
value hash (floats rounded to 6 dp, timestamps in ISO form, NULL as a
token). Decimals are compared as floats, so a DECIMAL column on one
side and a DOUBLE on the other hash alike.
"""

from __future__ import annotations

import decimal
import glob
import hashlib
import math

import duckdb

from big_data_project_spark.registry import ORACLES

from .gen import SF_TABLES


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{round(v, 6):.6f}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def value_hash(rows, cols) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    lines = sorted("|".join(_norm(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


class Result:
    """A result set reduced to what the gate compares."""

    def __init__(self, cols, rows) -> None:
        self.cols = sorted(c.lower() for c in cols)
        self.n = len(rows)
        self.hash = value_hash(rows, list(cols))

    def __eq__(self, other) -> bool:
        return (self.cols, self.n, self.hash) == (other.cols, other.n, other.hash)

    def __repr__(self) -> str:
        return f"Result(rows={self.n}, cols={self.cols}, hash={self.hash[:8]})"


def _query(con, sql: str) -> Result:
    res = con.execute(sql)
    return Result([d[0] for d in res.description], res.fetchall())


class SfOracle:
    """Oracle answers for the generated sf-dir, computed once per key."""

    def __init__(self, sf_dir: str) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 4")
        for t in SF_TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        self._expected: dict[str, Result] = {}

    def expected(self, key: str) -> Result:
        if key not in self._expected:
            self._expected[key] = _query(self.con, ORACLES[key])
        return self._expected[key]

    def check_rows(self, key: str, cols, rows) -> bool:
        return Result(cols, rows) == self.expected(key)

    def check_parquet(self, key: str, path: str) -> bool:
        """Compare a parquet directory the engine wrote with the oracle."""
        got = _query(self.con, f"SELECT * FROM read_parquet('{path}/*.parquet')")
        return got == self.expected(key)

    def close(self) -> None:
        self.con.close()


class StreamOracle:
    """Oracles for the realtime loop over every event delivered so far."""

    def __init__(self) -> None:
        from big_data_project_spark.functions.portable import sql_pround

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 4")
        self._round = sql_pround

    def _events_view(self, files: list[str]) -> None:
        lst = ", ".join(f"'{f}'" for f in files)
        self.con.execute(f"CREATE OR REPLACE VIEW events AS SELECT * FROM read_parquet([{lst}])")

    def served_matches(self, event_files: list[str], served_path: str) -> bool:
        """The served hourly rollup equals the batch events_hourly /
        delay_hourly oracles over the delivered events."""
        self._events_view(event_files)
        want = _query(
            self.con,
            f"""SELECT v.route_id, v.hour_ts, v.vehicle_events, d.avg_delay_seconds
                FROM ({ORACLES['events_hourly']}) v
                LEFT JOIN ({ORACLES['delay_hourly']}) d USING (route_id, hour_ts)""",
        )
        files = glob.glob(f"{served_path}/*/*.parquet")
        if not files:
            return False
        got = _query(
            self.con,
            f"""SELECT route_id, hour_ts, vehicle_events, avg_delay_seconds
                FROM read_parquet('{served_path}/*/*.parquet', hive_partitioning = true)""",
        )
        return got == want

    def decoded_matches(self, event_files: list[str], decoded_path: str) -> bool:
        """The decoded entity table equals the proto_feed_entities oracle
        over the delivered events (floats at 6 dp on both sides)."""
        self._events_view(event_files)
        want = _query(self.con, ORACLES["proto_feed_entities"])
        r = self._round
        got = _query(
            self.con,
            f"""SELECT entity_kind, entity_id, trip_id, route_id, vehicle_id,
                       {r('latitude', 6)} AS latitude, {r('longitude', 6)} AS longitude,
                       {r('bearing', 6)} AS bearing, {r('speed', 6)} AS speed,
                       vehicle_ts, delay_seconds, n_stop_updates, sum_arrival_delay,
                       sum_departure_delay, cause, effect, description
                FROM read_parquet('{decoded_path}/*.parquet')""",
        )
        return got == want

    def close(self) -> None:
        self.con.close()
