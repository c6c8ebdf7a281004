"""Tests for the source modules (GTFS static, JSON feeds), the export
writers, Structured Streaming batch-equivalence, stateful
sessionization, and the pyspark.ml demand model."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from big_data_project_spark.catalog import load_table
from big_data_project_spark.ml import demand
from big_data_project_spark.plans import exports
from big_data_project_spark.sources import gtfs, jsonfeed
from big_data_project_spark.streaming import pipeline

from tests.conftest import SF_DIR

# ---------------------------------------------------------------- GTFS


@pytest.fixture(scope="module")
def gtfs_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("gtfs")
    (d / "routes.txt").write_text(
        "route_id,route_short_name\nR1 ,10\nR2,20\nR2,20b\n"
    )
    (d / "stops.txt").write_text(
        "stop_id,stop_name,stop_lat,stop_lon\nS1,Alpha,44.1,26.0\n"
        "S2,Beta,44.2,26.1\n"
    )
    (d / "trips.txt").write_text(
        "trip_id,route_id,service_id\nT1,R1,C1\nT2,R2,C1\n"
        "T3,MISSING,C1\nT4,R1,NOSVC\n"
    )
    (d / "stop_times.txt").write_text(
        "trip_id,stop_id,stop_sequence\nT1,S1,1\nT1,S2,2\nT1,S2,2\n"
        "T2,S1,1\nT3,S1,1\nT1,GHOST,3\n"
    )
    (d / "calendar.txt").write_text("service_id,monday\nC1,1\n")
    return str(d)


def test_gtfs_referential_filtering_and_dedup(spark, gtfs_dir):
    frames = gtfs.validate_gtfs(gtfs.read_gtfs(spark, gtfs_dir))
    trips = {r["trip_id"] for r in frames["trips"].collect()}
    # T3: unknown route; T4: unknown service
    assert trips == {"T1", "T2"}
    st = [
        (r["trip_id"], r["stop_id"], r["stop_sequence"])
        for r in frames["stop_times"].collect()
    ]
    # duplicate (T1,S2,2) collapsed; GHOST stop and T3 rows dropped.
    # NB: stop_times keeps T3 out because the semi-join uses the
    # *route-filtered* trips, mirroring the reference's filter order.
    assert sorted(st) == [("T1", "S1", 1), ("T1", "S2", 2), ("T2", "S1", 1)]
    assert frames["stop_times"].schema["stop_sequence"].dataType.simpleString() == "int"
    routes = {r["route_id"] for r in frames["routes"].collect()}
    assert routes == {"R1", "R2"}  # "R1 " trimmed, R2 deduped


def test_gtfs_geometry_and_checksum(spark, gtfs_dir):
    frames = gtfs.validate_gtfs(gtfs.read_gtfs(spark, gtfs_dir))
    s1 = frames["stops"].filter(F.col("stop_id") == "S1").head()
    assert s1["geom"]["type"] == "Point"
    assert s1["geom"]["coordinates"] == [26.0, 44.1]
    chk = gtfs.feed_checksum(spark, gtfs_dir)
    rows = {r["file"]: r["sha256"] for r in chk.collect()}
    assert set(rows) == {f"{n}.txt" for n in gtfs.GTFS_FILES}
    assert all(len(v) == 64 for v in rows.values())


# ------------------------------------------------------------ JSON feeds


def test_normalize_weather(spark):
    payload = json.dumps(
        {
            "current": {
                "time": "2026-01-19T15:00",
                "temperature_2m": -3.5,
                "precipitation": 1.2,
                "wind_speed_10m": 7.0,
                "weather_code": 61,
            }
        }
    )
    raw = spark.createDataFrame([(payload,)], "payload string")
    r = jsonfeed.normalize_weather(raw).head()
    assert r["temperature_c"] == -3.5
    assert r["precipitation_mm"] == 1.2
    assert r["weather_code"] == "61"
    assert r["observed_at"].isoformat().startswith("2026-01-19T15:00")


def test_normalize_vehicle_positions(spark):
    payload = json.dumps(
        {
            "vehicle": {
                "vehicle": {"id": "V9"},
                "trip": {"trip_id": "T1", "route_id": "R1"},
                "position": {"latitude": 44.43, "longitude": 26.09},
                "timestamp": 1737300000,
            }
        }
    )
    raw = spark.createDataFrame([(payload,)], "payload string")
    r = jsonfeed.normalize_vehicle_positions(raw).head()
    assert (r["vehicle_id"], r["route_id"]) == ("V9", "R1")
    assert r["latitude"] == 44.43


# -------------------------------------------------------------- exports


def test_export_json_files(spark, tmp_path):
    written = exports.export_json(spark, SF_DIR, str(tmp_path))
    assert set(written) == {
        "route_suggestions_latest.json",
        "needs_data_latest.json",
        "top_priority_latest.json",
        "summary_latest.json",
        "peak_hours_latest.json",
        "routes_geo_latest.json",
    }
    for name, path in written.items():
        with open(path) as f:
            payload = json.load(f)
        if name == "summary_latest.json":
            assert payload["total_routes"] == (
                payload["needs_data"] + payload["suggestions"]
            )
        elif name == "needs_data_latest.json":
            assert isinstance(payload, list)  # may legitimately be empty
        else:
            assert isinstance(payload, list) and payload


# ------------------------------------------------------------- streaming


def test_stream_hourly_equals_batch(spark, tmp_path):
    events = load_table(spark, SF_DIR, "events")
    src = str(tmp_path / "events_stream")
    events.write.parquet(src)

    streamed = pipeline.run_available_now(
        pipeline.stream_events_hourly(spark, src), "stream_hourly"
    )
    from big_data_project_spark.functions.portable import davg

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


def test_stream_dedup_drops_redelivered_events(spark, tmp_path):
    """An at-least-once feed (every event delivered twice, in two files)
    dedupes to exactly the batch-distinct rows."""
    events = load_table(spark, SF_DIR, "events").limit(200)
    src = str(tmp_path / "events_redelivered")
    events.write.parquet(src)
    events.write.mode("append").parquet(src)

    streamed = pipeline.run_available_now(
        pipeline.stream_dedup_events(spark, src),
        "stream_dedup",
        output_mode="append",
    )
    assert streamed.count() == events.count()
    got = sorted(r["event_id"] for r in streamed.collect())
    want = sorted(r["event_id"] for r in events.collect())
    assert got == want


def test_sessionize_stream_closes_gapped_sessions(spark, tmp_path):
    rows = [
        (1, "2026-01-01 10:00:00", 7, "a", 1.0, "{}"),
        (2, "2026-01-01 10:10:00", 7, "a", 2.0, "{}"),
        (3, "2026-01-01 12:00:00", 7, "a", 3.0, "{}"),  # new session
        (4, "2026-01-01 09:00:00", 8, "a", 4.0, "{}"),
    ]
    df = (
        spark.createDataFrame(
            rows,
            "event_id long, ts string, user_id long, event_type string, "
            "value double, props string",
        )
        .withColumn("ts", F.to_timestamp("ts"))
    )
    src = str(tmp_path / "sessions_src")
    df.write.parquet(src)
    sdf = spark.readStream.schema(pipeline.EVENTS_SCHEMA).parquet(src)
    out = pipeline.run_available_now(
        pipeline.sessionize_stream(spark, sdf), "sessions_out", output_mode="append"
    )
    closed = [
        (r["user_id"], r["n_events"], r["total_value"])
        for r in out.collect()
    ]
    # user 7's first session closed by the 2-hour gap; user 8's single
    # session and user 7's second stay open in state (append semantics).
    assert closed == [(7, 2, 3.0)]


def test_sessionize_timeout_flushes_quiet_users(spark, tmp_path):
    """With event-time timeouts, a quiet user's session closes once the
    watermark (advanced by OTHER users' later events in a second run)
    passes last_event + gap."""
    schema = (
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string"
    )
    src = str(tmp_path / "to_src")
    ckpt = str(tmp_path / "to_ckpt")
    out_dir = str(tmp_path / "to_out")

    def run_once():
        sdf = spark.readStream.schema(pipeline.EVENTS_SCHEMA).parquet(src)
        q = (
            pipeline.sessionize_stream_timeout(spark, sdf)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    rows1 = [
        (1, "2026-01-01 10:00:00", 7, "a", 1.0, "{}"),
        (2, "2026-01-01 10:10:00", 7, "a", 2.0, "{}"),
    ]
    spark.createDataFrame(rows1, schema).withColumn(
        "ts", F.to_timestamp("ts")
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()

    # a different user's much-later event advances the watermark far
    # past user 7's last_event + 30 min -> the timeout fires.
    rows2 = [(3, "2026-01-02 00:00:00", 9, "a", 0.0, "{}")]
    spark.createDataFrame(rows2, schema).withColumn(
        "ts", F.to_timestamp("ts")
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()
    run_once()  # one more batch so the new watermark evaluates timeouts

    got = {
        (r["user_id"], r["n_events"], r["total_value"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert (7, 2, 3.0) in got


def test_batch_sessionization_micro(spark, tmp_path):
    rows = [
        (1, "2026-01-01 10:00:00", 7, "a", 1.0, "{}"),
        (2, "2026-01-01 10:10:00", 7, "a", 2.0, "{}"),
        (3, "2026-01-01 12:00:00", 7, "a", 3.0, "{}"),
        (4, "2026-01-01 09:00:00", 8, "a", 4.0, "{}"),
    ]
    df = (
        spark.createDataFrame(
            rows,
            "event_id long, ts string, user_id long, event_type string, "
            "value double, props string",
        )
        .withColumn("ts", F.to_timestamp("ts"))
    )
    d = tmp_path / "sf"
    df.write.parquet(str(d / "events.parquet"))
    out = {
        (r["user_id"], r["session_id"]): (r["n_events"], r["total_value"])
        for r in pipeline.sessionize_batch(spark, str(d)).collect()
    }
    assert out == {(7, 0): (2, 3.0), (7, 1): (1, 3.0), (8, 0): (1, 4.0)}


def test_stream_demand_equals_batch(spark, tmp_path):
    """Stream-static join twin must reproduce the batch demand rollup."""
    from big_data_project_spark.operators.hourly import demand_hourly

    events = load_table(spark, SF_DIR, "events")
    src = str(tmp_path / "demand_stream")
    events.write.parquet(src)
    streamed = pipeline.run_available_now(
        pipeline.stream_demand_hourly(spark, src, SF_DIR), "stream_demand"
    )
    want = {
        (r["route_id"], str(r["hour_ts"])): r["passengers"]
        for r in demand_hourly(spark, SF_DIR).collect()
    }
    got = {
        (r["route_id"], str(r["hour_ts"])): r["passengers"]
        for r in streamed.collect()
    }
    # both sides aggregate via dsum (order-independent), so equality
    # is exact, not approximate
    assert got == want


def test_sql_view_surface(spark):
    """spark.sql over the registered view names matches the operators."""
    from big_data_project_spark.views import register_analytics_views

    register_analytics_views(spark, SF_DIR)
    n_sql = spark.sql(
        "SELECT count(*) AS n FROM kpi_hourly WHERE is_peak_hour = 1"
    ).head()["n"]
    from big_data_project_spark.operators.kpi import kpi_hourly

    n_df = kpi_hourly(spark, SF_DIR).filter(F.col("is_peak_hour") == 1).count()
    assert n_sql == n_df
    assert spark.sql("SELECT * FROM suggestions_latest").count() > 0
    # alert views join by name like the reference's SQL surface
    joined = spark.sql(
        """SELECT count(*) AS n FROM kpi_alerts_hourly k
           JOIN alerts_hourly a USING (route_id, hour_ts)"""
    ).head()["n"]
    assert joined > 0
    assert spark.sql("SELECT * FROM alerts_latest_per_type").count() > 0
    # round-4 monitoring tier: the anomaly/trend views read by name
    assert spark.sql("SELECT * FROM delay_anomaly_hours").count() > 0
    assert spark.sql(
        """SELECT count(*) AS n FROM delay_cusum_changepoint c
           JOIN headway_regularity h USING (route_id)"""
    ).head()["n"] > 0
    # product-analytics tier: funnel/retention dashboard views
    funnel = spark.sql(
        "SELECT * FROM funnel_conversion ORDER BY stage"
    ).collect()
    assert [r["stage"] for r in funnel] == [1, 2, 3]
    assert spark.sql(
        """SELECT count(*) AS n FROM retention_cohorts
           WHERE day_offset = 0 AND retention = 1.0"""
    ).head()["n"] > 0
    assert spark.sql(
        "SELECT count(*) AS n FROM dau_rolling_wau WHERE dau > wau"
    ).head()["n"] == 0
    assert spark.sql(
        """SELECT count(*) AS n FROM event_transition_matrix
           WHERE prob < 0 OR prob > 1"""
    ).head()["n"] == 0


def test_stream_interval_join(spark, tmp_path):
    """Positions x updates for the same vehicle within ±30 min."""
    schema = (
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string"
    )
    pos_rows = [
        (1, "2026-01-01 10:00:00", 7, "r1", 1.0, "{}"),
        (2, "2026-01-01 12:00:00", 7, "r1", 2.0, "{}"),
        (3, "2026-01-01 10:00:00", 8, "r2", 3.0, "{}"),
    ]
    upd_rows = [
        (10, "2026-01-01 10:20:00", 7, "r1", 120.0, "{}"),  # joins pos 1
        (11, "2026-01-01 11:00:00", 7, "r1", 60.0, "{}"),   # joins neither
        (12, "2026-01-01 09:40:00", 8, "r2", 30.0, "{}"),   # joins pos 3
    ]
    pos_dir = str(tmp_path / "pos")
    upd_dir = str(tmp_path / "upd")
    for rows, d in ((pos_rows, pos_dir), (upd_rows, upd_dir)):
        spark.createDataFrame(rows, schema).withColumn(
            "ts", F.to_timestamp("ts")
        ).write.parquet(d)
    out = pipeline.run_available_now(
        pipeline.stream_interval_join(spark, pos_dir, upd_dir),
        "interval_join",
        output_mode="append",
    )
    got = sorted(
        (r["vehicle_id"], str(r["pos_ts"]), r["delay_seconds"])
        for r in out.collect()
    )
    assert got == [
        (7, "2026-01-01 10:00:00", 120.0),
        (8, "2026-01-01 10:00:00", 30.0),
    ]


def test_stream_incremental_checkpoint(spark, tmp_path):
    """Two availableNow runs over a growing directory with a shared
    checkpoint: the second run must process ONLY the new file (state
    recovery), and late rows must still land in their event-time hour."""
    src = str(tmp_path / "incr_src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    rows1 = [
        (1, "2026-01-01 10:05:00", 7, "r1", 1.0, "{}"),
        (2, "2026-01-01 11:05:00", 7, "r1", 3.0, "{}"),
    ]
    schema = (
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string"
    )
    df1 = spark.createDataFrame(rows1, schema).withColumn(
        "ts", F.to_timestamp("ts")
    )
    df1.coalesce(1).write.mode("append").parquet(src)

    def run_once():
        sdf = pipeline.stream_events_hourly(spark, src)
        q = (
            sdf.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    # late row for hour 10 arrives after hour 11 was seen; watermark is
    # 2h so the 10:00 window is still open and must absorb it.
    rows2 = [(3, "2026-01-01 10:50:00", 8, "r1", 5.0, "{}")]
    df2 = spark.createDataFrame(rows2, schema).withColumn(
        "ts", F.to_timestamp("ts")
    )
    df2.coalesce(1).write.mode("append").parquet(src)
    run_once()

    # append mode emits only watermark-closed windows; force a final
    # flush by advancing event time far beyond the watermark.
    rows3 = [(4, "2026-01-02 12:00:00", 9, "r1", 0.0, "{}")]
    df3 = spark.createDataFrame(rows3, schema).withColumn(
        "ts", F.to_timestamp("ts")
    )
    df3.coalesce(1).write.mode("append").parquet(src)
    run_once()

    got = {
        (str(r["hour_ts"]), r["route_id"]): (
            r["vehicle_events"],
            r["avg_delay_seconds"],
        )
        for r in spark.read.parquet(out).collect()
    }
    assert got[("2026-01-01 10:00:00", "r1")] == (2, 3.0)  # late row merged
    assert got[("2026-01-01 11:00:00", "r1")] == (1, 3.0)


def test_upsert_parquet_last_writer_wins(spark, tmp_path):
    from big_data_project_spark.plans import sinks

    target = str(tmp_path / "target.parquet")
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10)], "k long, v string, ver long"
    )
    merged = sinks.upsert_parquet(spark, target, base, ["k"], "ver")
    assert merged.count() == 2
    delta = spark.createDataFrame(
        [(2, "b2", 11), (3, "c", 11), (2, "b_old", 9)],
        "k long, v string, ver long",
    )
    merged = sinks.upsert_parquet(spark, target, delta, ["k"], "ver")
    got = {r["k"]: (r["v"], r["ver"]) for r in merged.collect()}
    # k=2: ver 11 beats both the existing ver 10 and the stale ver 9
    assert got == {1: ("a", 10), 2: ("b2", 11), 3: ("c", 11)}


def test_write_partitioned_prunes(spark, tmp_path):
    from big_data_project_spark.plans import sinks

    path = str(tmp_path / "part_out")
    ev = load_table(spark, SF_DIR, "events").withColumn(
        "hour", F.hour("ts")
    )
    sinks.write_partitioned(ev.limit(200), path, ["hour"])
    back = spark.read.parquet(path)
    plan = back.filter(F.col("hour") == 3)._jdf.queryExecution().toString()
    assert back.count() == 200
    assert "PartitionFilters" in plan or "hour=3" in plan


def test_materialize_hourly_converges_to_batch(spark, tmp_path):
    """Two incremental materialization runs over a growing feed must end
    equal to the one-shot batch rollup (the upsert converges)."""
    src = str(tmp_path / "mat_src")
    target = str(tmp_path / "mat_target")
    ckpt = str(tmp_path / "mat_ckpt")
    events = load_table(spark, SF_DIR, "events")
    first, second = events.randomSplit([0.5, 0.5], seed=7)

    first.write.mode("append").parquet(src)
    pipeline.materialize_hourly(spark, src, target, ckpt)
    second.write.mode("append").parquet(src)
    pipeline.materialize_hourly(spark, src, target, ckpt)

    served = {
        (r["route_id"], str(r["hour_ts"])): r["vehicle_events"]
        for r in spark.read.parquet(target).collect()
    }
    batch = {
        (r["event_type"], str(r["hour_ts"])): r["n"]
        for r in events.groupBy(
            F.col("event_type"), F.date_trunc("hour", "ts").alias("hour_ts")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert served == batch


def test_materialize_hourly_multi_batch_matches_batch_rollups(spark, tmp_path):
    """One availableNow run over three files, one per micro-batch, where
    the last file holds rows hours older than the event time already
    seen: every batch after the first is planned after the previous
    upsert restored its scoped AQE setting. The served table must equal
    the batch events_hourly / delay_hourly rollups, the caller's conf
    must be unchanged, and no micro-batch may stay persisted."""
    from big_data_project_spark.caching import release_caches

    src = str(tmp_path / "mb_src")
    target = str(tmp_path / "mb_target")
    ckpt = str(tmp_path / "mb_ckpt")
    events = load_table(spark, SF_DIR, "events")
    lo, hi = events.agg(
        F.min(F.unix_timestamp("ts")), F.max(F.unix_timestamp("ts"))
    ).first()
    t1, t2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
    secs = F.unix_timestamp("ts")
    for cond in (secs < t1, secs >= t2, (secs >= t1) & (secs < t2)):
        events.filter(cond).coalesce(1).write.mode("append").parquet(src)

    release_caches()
    spark.catalog.clearCache()
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    jsc = spark.sparkContext._jsc
    persisted = set(jsc.getPersistentRDDs().keySet())
    stream = (
        spark.readStream.schema(pipeline.EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    pipeline.materialize_hourly(spark, stream, target, ckpt)

    assert len(list((tmp_path / "mb_ckpt" / "commits").glob("[0-9]*"))) == 3
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe
    assert set(jsc.getPersistentRDDs().keySet()) == persisted
    _assert_served_matches_batch_rollups(spark, target)


def _assert_served_matches_batch_rollups(spark, target: str) -> None:
    """The served table equals the batch events_hourly / delay_hourly
    rollups of the SF_DIR events."""
    from big_data_project_spark.operators.hourly import (
        delay_hourly,
        events_hourly,
    )

    served = {
        (r["route_id"], r["hour_ts"]): (
            r["vehicle_events"],
            r["avg_delay_seconds"],
        )
        for r in spark.read.parquet(target).collect()
    }
    counts = {
        (r["route_id"], r["hour_ts"]): r["vehicle_events"]
        for r in events_hourly(spark, SF_DIR).collect()
    }
    delays = {
        (r["route_id"], r["hour_ts"]): (
            r["trip_update_events"],
            r["avg_delay_seconds"],
        )
        for r in delay_hourly(spark, SF_DIR).collect()
    }
    assert {k: v[0] for k, v in served.items()} == counts
    assert {k: v for k, v in served.items() if k[0] is not None} == delays


def test_materialize_hourly_rewrites_only_touched_dates(spark, tmp_path):
    """A poll whose events all fall on a later date leaves every file of
    the earlier date's partition byte-identical: only the groups the
    poll changed are emitted and merged."""
    import hashlib

    src = str(tmp_path / "od_src")
    target = tmp_path / "od_target"
    ckpt = str(tmp_path / "od_ckpt")
    schema = (
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string"
    )

    def poll(rows):
        spark.createDataFrame(rows, schema).withColumn(
            "ts", F.to_timestamp("ts")
        ).coalesce(1).write.mode("append").parquet(src)
        pipeline.materialize_hourly(spark, src, str(target), ckpt)

    def snapshot(date):
        return {
            f.name: (f.stat().st_size, hashlib.sha256(f.read_bytes()).hexdigest())
            for f in (target / f"hour_date={date}").iterdir()
        }

    poll(
        [
            (1, "2026-01-01 10:05:00", 7, "r1", 1.0, "{}"),
            (2, "2026-01-01 23:10:00", 7, "r2", 2.0, "{}"),
            (3, "2026-01-02 09:00:00", 8, "r1", 4.0, "{}"),
        ]
    )
    before = snapshot("2026-01-01")
    assert before
    poll(
        [
            (4, "2026-01-02 09:30:00", 8, "r1", 6.0, "{}"),
            (5, "2026-01-02 14:00:00", 9, "r2", 8.0, "{}"),
        ]
    )
    assert snapshot("2026-01-01") == before
    served = {
        (str(r["hour_ts"]), r["route_id"]): (
            r["vehicle_events"],
            r["avg_delay_seconds"],
        )
        for r in spark.read.parquet(str(target)).collect()
    }
    assert served == {
        ("2026-01-01 10:00:00", "r1"): (1, 1.0),
        ("2026-01-01 23:00:00", "r2"): (1, 2.0),
        ("2026-01-02 09:00:00", "r1"): (2, 5.0),
        ("2026-01-02 14:00:00", "r2"): (1, 8.0),
    }


def _recorded_shards(ckpt) -> int:
    """The shuffle-partition count the latest offset-log entry of a
    checkpoint recorded (its second line is the batch metadata)."""
    latest = max(
        (f for f in (ckpt / "offsets").iterdir() if f.name.isdigit()),
        key=lambda f: int(f.name),
    )
    meta = json.loads(latest.read_text().splitlines()[1])
    return int(meta["conf"]["spark.sql.shuffle.partitions"])


def _state_shard_dirs(ckpt) -> set[str]:
    return {d.name for d in (ckpt / "state" / "0").iterdir() if d.name.isdigit()}


def _one_wave(spark) -> int:
    return min(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        spark.sparkContext.defaultParallelism,
    )


def test_fresh_checkpoint_takes_one_wave_of_state_shards(spark, tmp_path):
    """A new materialize_hourly checkpoint records min(shuffle
    partitions, defaultParallelism) in its offset log and creates that
    many state-store shards; the session's conf is left as it was."""
    src = str(tmp_path / "sh_src")
    ckpt = tmp_path / "sh_ckpt"
    load_table(spark, SF_DIR, "events").limit(300).write.parquet(src)
    conf = spark.conf.getAll
    pipeline.materialize_hourly(spark, src, str(tmp_path / "sh_t"), str(ckpt))
    assert spark.conf.getAll == conf
    n = _one_wave(spark)
    assert _recorded_shards(ckpt) == n
    assert _state_shard_dirs(ckpt) == {str(i) for i in range(n)}


def test_every_stream_start_leaves_the_session_conf_alone(spark, tmp_path):
    """The memory-sink harness, the serving loop and the sketch sinks'
    drain loop all start through the one availableNow helper: the
    caller's conf is identical before and after each, and the drain
    loop's checkpoint records the same one-wave shard count."""
    src = str(tmp_path / "cf_src")
    load_table(spark, SF_DIR, "events").limit(200).write.parquet(src)
    seen = []

    def start_memory():
        pipeline.run_available_now(
            pipeline.events_source(spark, src).groupBy("event_type").count(),
            "cf_memory",
        ).collect()

    def start_serving():
        pipeline.materialize_hourly(
            spark, src, str(tmp_path / "cf_t"), str(tmp_path / "cf_ckpt")
        )

    def start_drain():
        pipeline._drain(
            pipeline.events_source(spark, src),
            lambda df, bid: seen.append(bid),
            str(tmp_path / "cf_drain"),
        )

    for start in (start_memory, start_serving, start_drain):
        conf = spark.conf.getAll
        start()
        assert spark.conf.getAll == conf, start.__name__
    assert seen == [0]
    assert _recorded_shards(tmp_path / "cf_drain") == _one_wave(spark)


def test_checkpoint_keeps_its_shard_count_on_resume(
    spark, tmp_path, monkeypatch
):
    """A checkpoint first written with 32 state shards resumes at 32,
    whatever the helper would pick for a new one, and the served table
    still equals the batch rollups."""
    src = str(tmp_path / "rs_src")
    target = str(tmp_path / "rs_t")
    ckpt = tmp_path / "rs_ckpt"
    events = load_table(spark, SF_DIR, "events")
    first, second = events.randomSplit([0.5, 0.5], seed=11)
    real = pipeline._state_partitions
    calls = []

    def thirty_two_first(s):
        calls.append(s)
        return 32 if len(calls) == 1 else real(s)

    monkeypatch.setattr(pipeline, "_state_partitions", thirty_two_first)
    first.write.mode("append").parquet(src)
    pipeline.materialize_hourly(spark, src, target, str(ckpt))
    assert _recorded_shards(ckpt) == 32
    second.write.mode("append").parquet(src)
    pipeline.materialize_hourly(spark, src, target, str(ckpt))

    assert len(calls) == 2
    assert len(list((ckpt / "commits").glob("[0-9]*"))) == 2
    assert _recorded_shards(ckpt) == 32
    assert _state_shard_dirs(ckpt) == {str(i) for i in range(32)}
    _assert_served_matches_batch_rollups(spark, target)


def test_served_loop_null_branches_match_oracle(spark, tmp_path):
    """Rows with a NULL value or a NULL event_type, delivered over two
    micro-batches that both touch the NULL-route and the NULL-value
    groups: the served table equals the events_hourly oracle LEFT JOIN
    the delay_hourly oracle in DuckDB (the benchmark's served-table
    gate), so the NULL route carries no average delay and a group whose
    values are all NULL averages to NULL."""
    import duckdb

    from big_data_project_spark.registry import ORACLES

    src = str(tmp_path / "nl_src")
    target = tmp_path / "nl_t"
    ckpt = tmp_path / "nl_ckpt"
    schema = (
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string"
    )
    polls = [
        [
            (1, "2026-01-01 10:05:00", 7, "r1", 1.5, "{}"),
            (2, "2026-01-01 10:20:00", 7, "r1", None, "{}"),
            (3, "2026-01-01 10:40:00", 8, None, 4.0, "{}"),
            (4, "2026-01-01 11:00:00", 8, None, None, "{}"),
            (5, "2026-01-01 12:00:00", 9, "r2", None, "{}"),
        ],
        [
            (6, "2026-01-01 10:50:00", 8, None, 6.25, "{}"),
            (7, "2026-01-01 12:30:00", 9, "r2", None, "{}"),
            (8, "2026-01-01 11:15:00", 9, None, None, "{}"),
            (9, "2026-01-02 09:00:00", 7, "r1", None, "{}"),
            (10, "2026-01-01 10:10:00", 7, "r1", 2.25, "{}"),
        ],
    ]
    for rows in polls:
        spark.createDataFrame(rows, schema).withColumn(
            "ts", F.to_timestamp("ts")
        ).coalesce(1).write.mode("append").parquet(src)
        pipeline.materialize_hourly(spark, src, str(target), str(ckpt))
    assert len(list((ckpt / "commits").glob("[0-9]*"))) == 2

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
        got = con.execute(
            f"""SELECT route_id, hour_ts, vehicle_events, avg_delay_seconds
                FROM read_parquet('{target}/*/*.parquet', hive_partitioning = true)"""
        ).fetchall()
    finally:
        con.close()
    assert any(r[0] is None for r in want) and any(r[3] is None for r in want)
    assert sorted(got, key=repr) == sorted(want, key=repr)


# -------------------------------------------------------------------- ML


def test_rf_demand_model_metrics(spark):
    m = demand.rf_demand_model(spark, SF_DIR).head()
    assert m["model_name"] == "rf_next_hour"
    assert m["rows_test"] > 0
    assert m["mae"] >= 0.0 and m["rmse"] >= m["mae"]


def test_rf_predictions_cover_test_split_only(spark):
    """The predictions cover exactly the training-frame rows after
    Spark's exact SPLIT_RATIO quantile of the hour, approxQuantile(err=0):
    the rule the RF split is held to."""
    df = demand.training_frame(spark, SF_DIR)
    t = F.unix_timestamp("hour_ts")
    cut = df.select(t.alias("t")).approxQuantile(
        "t", [demand.SPLIT_RATIO], 0.0
    )[0]
    want = df.filter(t > F.lit(cut)).select("route_id", "hour_ts")
    preds = demand.rf_demand_predictions(spark, SF_DIR)
    got = preds.select("route_id", "hour_ts")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert preds.filter(F.col("y_pred").isNull()).count() == 0


def test_rf_run_lineage(spark):
    """Predictions join back to the ml_runs row on run_id (the
    reference's demand_predictions_history ↔ ml_runs relation), the
    run_id is deterministic, and run metadata is faithful."""
    import json as _json

    runs = demand.rf_demand_model(spark, SF_DIR)
    preds = demand.rf_demand_predictions(spark, SF_DIR)
    run = runs.head()
    assert run["run_id"] == demand.run_id(SF_DIR)  # deterministic
    assert run["run_id"] != demand.run_id(SF_DIR + "/other")
    assert _json.loads(run["features"]) == demand.FEATURES
    assert run["rows_used"] == demand.training_frame(spark, SF_DIR).count()
    assert run["model_version"] == demand.MODEL_VERSION
    # every prediction row carries the run's lineage triplet
    orphan = preds.join(
        runs.select("run_id", "model_name", "model_version"),
        ["run_id", "model_name", "model_version"],
        "left_anti",
    )
    assert orphan.count() == 0
    assert preds.count() == run["rows_test"]


def test_bucketed_join_skips_exchange(spark, tmp_path):
    """Both sides bucketed on the join key with the same count -> the
    join plan has NO shuffle at all (the write-time bucketing is the
    amortized shuffle); with sortBy, the streams zip without a Sort on
    the bucketed key either."""
    from big_data_project_spark.catalog import load_table
    from big_data_project_spark.plans import sinks

    orders = load_table(spark, SF_DIR, "orders")
    cust = load_table(spark, SF_DIR, "customer")
    sinks.write_bucketed(
        orders, "orders_b", "o_custkey", 8, sort_col="o_custkey",
        path=str(tmp_path / "orders_b"),
    )
    sinks.write_bucketed(
        cust, "customer_b", "c_custkey", 8, sort_col="c_custkey",
        path=str(tmp_path / "customer_b"),
    )
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("orders_b").join(
            spark.table("customer_b"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # no shuffle on either side
        # sanity: result matches the unbucketed join
        n_plain = orders.join(
            cust, orders.o_custkey == cust.c_custkey
        ).count()
        assert joined.count() == n_plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS customer_b")


def test_stream_funnel_equals_batch(spark, tmp_path):
    """Draining the whole events table through the stateful funnel must
    reproduce the batch per-user funnel exactly (stage AND stage-entry
    timestamps), taking the max-stage row per user."""
    from big_data_project_spark.catalog import load_table
    from big_data_project_spark.operators import behavior

    src = str(tmp_path / "funnel_src")
    load_table(spark, "/root/testdata/sf0.001", "events").write.parquet(src)
    out = pipeline.run_available_now(
        pipeline.stream_funnel(spark, src),
        "funnel_out",
        output_mode="append",
    ).collect()
    latest = {}
    for r in out:
        if r["user_id"] not in latest or r["stage"] > latest[r["user_id"]]["stage"]:
            latest[r["user_id"]] = r
    batch = {}
    for r in behavior._user_funnel(spark, "/root/testdata/sf0.001").collect():
        stage = 3 if r["fp"] else 2 if r["fc"] else 1 if r["fv"] else 0
        if stage >= 1:
            batch[r["user_id"]] = (stage, r["fv"], r["fc"], r["fp"])
    assert set(latest) == set(batch)
    for uid, r in latest.items():
        assert (r["stage"], r["fv"], r["fc"], r["fp"]) == batch[uid]


def test_stream_funnel_state_machine_across_batches():
    """Direct state-machine check: stage advances accumulate across
    batches and each advance emits exactly one row."""
    import pandas as pd

    from big_data_project_spark.streaming.pipeline import _funnel_fn

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    def batch(rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "event_type"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        return pdf

    st = FakeState()
    # batch 1: view then a too-early click (before the view) -> stage 1
    out1 = list(
        _funnel_fn(
            (7,),
            iter([batch([(1, "2026-01-01 09:00:00", "click"),
                         (2, "2026-01-01 10:00:00", "view")])]),
            st,
        )
    )
    assert len(out1) == 1 and out1[0]["stage"].iloc[0] == 1
    # batch 2: qualifying click -> stage 2
    out2 = list(
        _funnel_fn(
            (7,), iter([batch([(3, "2026-01-01 10:30:00", "click")])]), st
        )
    )
    assert len(out2) == 1 and out2[0]["stage"].iloc[0] == 2
    # batch 3: no advance -> no emission
    out3 = list(
        _funnel_fn(
            (7,), iter([batch([(4, "2026-01-01 10:40:00", "click")])]), st
        )
    )
    assert out3 == []
    # batch 4: purchase after the click -> stage 3
    out4 = list(
        _funnel_fn(
            (7,), iter([batch([(5, "2026-01-01 11:00:00", "purchase")])]), st
        )
    )
    assert len(out4) == 1 and out4[0]["stage"].iloc[0] == 3
