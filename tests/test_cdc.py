"""CDC seam: envelope round trip, latest-state fold, and the
MERGE-with-delete parquet sink (idempotence, stale redelivery, the
tombstone resurrection guard, and streaming foreachBatch convergence)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from big_data_project_spark.catalog import load_table
from big_data_project_spark.sources.cdc import (
    apply_cdc_log,
    cdc_latest_state,
    decode_cdc_envelope,
    encode_cdc_log,
    merge_cdc_parquet,
    read_cdc_state,
)

from tests.conftest import SF_DIR

LOG_SCHEMA = (
    "op string, ts timestamp, seq long, key long, "
    "after struct<user_id long, event_type string, value double>"
)


def _log(spark, rows):
    return spark.createDataFrame(rows, LOG_SCHEMA)


def _t(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def test_envelope_round_trip_is_lossless(spark):
    """Every events row survives encode -> decode bit-identically:
    microsecond timestamps, full-precision doubles, delete ops with a
    NULL after-image."""
    ev = load_table(spark, SF_DIR, "events").limit(500)
    decoded = decode_cdc_envelope(encode_cdc_log(ev), drop_malformed=True)
    got = {
        r.seq: r for r in decoded.collect()
    }
    for r in ev.collect():
        d = got[r.event_id]
        assert d.key == r.user_id
        assert d.ts == r.ts  # microsecond-exact
        expect_op = {"signup": "c", "error": "d"}.get(r.event_type, "u")
        assert d.op == expect_op
        if expect_op == "d":
            assert d.after is None
        else:
            assert d.after.user_id == r.user_id
            assert d.after.event_type == r.event_type
            assert d.after.value == r.value  # double-exact


def test_malformed_payloads_keep_bytes_tombstones_keep_empty(spark):
    raw = spark.createDataFrame(
        [
            (b"1", b'{"op":"c","ts":"2024-01-01T00:00:00.000001+00:00",'
             b'"seq":1,"key":1,"after":{"user_id":1,'
             b'"event_type":"signup","value":1.5}}'),
            (b"2", b"not json"),
            (b"3", None),  # tombstone
            (b"4", b"[1,2,3]"),  # well-formed non-object
        ],
        "key binary, value binary",
    )
    out = decode_cdc_envelope(raw).collect()
    by_payload = {bytes(r.corrupt_payload) if r.corrupt_payload is not None
                  else None: r for r in out}
    assert None in by_payload  # the good row
    assert by_payload[None].op == "c"
    assert b"not json" in by_payload
    assert b"" in by_payload  # tombstone keeps empty bytes
    assert b"[1,2,3]" in by_payload
    assert len(decode_cdc_envelope(raw, drop_malformed=True).collect()) == 1


def test_apply_latest_op_wins_and_deletes_drop(spark):
    log = _log(
        spark,
        [
            ("c", _t("2024-01-01T00:00:00"), 1, 10,
             (10, "signup", 1.0)),
            ("u", _t("2024-01-01T00:00:02"), 3, 10,
             (10, "click", 3.0)),
            ("u", _t("2024-01-01T00:00:01"), 2, 10,
             (10, "view", 2.0)),
            ("c", _t("2024-01-01T00:00:00"), 4, 20,
             (20, "signup", 1.0)),
            ("d", _t("2024-01-01T00:00:05"), 5, 20, None),
        ],
    )
    out = {r.key: r for r in apply_cdc_log(log).collect()}
    assert set(out) == {10}
    assert out[10].seq == 3 and out[10].after.event_type == "click"
    assert out[10].n_ops == 3
    with_d = {r.key: r for r in apply_cdc_log(log, keep_deletes=True).collect()}
    assert with_d[20].op == "d"


def test_cdc_latest_state_drops_users_whose_last_op_is_error(spark):
    from pyspark.sql.window import Window

    ev = load_table(spark, SF_DIR, "events")
    w_last = (
        ev.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(
                    F.col("ts").desc(), F.col("event_id").desc()
                )
            ),
        )
        .filter("rn = 1")
        .collect()
    )
    survivors = {r.user_id for r in w_last if r.event_type != "error"}
    out = {r.user_id for r in cdc_latest_state(spark, SF_DIR).collect()}
    assert out == survivors


def test_merge_batches_converge_to_single_shot(spark, tmp_path):
    """Applying the changelog in 3 time-ordered batches equals applying
    it at once."""
    ev = load_table(spark, SF_DIR, "events").limit(3000)
    decoded = decode_cdc_envelope(encode_cdc_log(ev), drop_malformed=True)
    decoded.cache()
    qs = decoded.approxQuantile("seq", [0.33, 0.66], 0.0)
    path = str(tmp_path / "serving")
    for lo, hi in [(None, qs[0]), (qs[0], qs[1]), (qs[1], None)]:
        b = decoded
        if lo is not None:
            b = b.filter(F.col("seq") > lo)
        if hi is not None:
            b = b.filter(F.col("seq") <= hi)
        merge_cdc_parquet(spark, path, b)
    incremental = {
        (r.key, r["__ts"], r["__seq"]): (r.event_type, r.value)
        for r in read_cdc_state(spark, path).collect()
    }
    single = {
        (r.key, r.ts, r.seq): (r.after.event_type, r.after.value)
        for r in apply_cdc_log(decoded).collect()
    }
    decoded.unpersist()
    assert incremental == single


def test_merge_is_idempotent_under_redelivery(spark, tmp_path):
    path = str(tmp_path / "serving")
    b1 = _log(
        spark,
        [
            ("c", _t("2024-01-01T00:00:00"), 1, 1, (1, "signup", 1.0)),
            ("u", _t("2024-01-01T00:00:01"), 2, 1, (1, "click", 2.0)),
        ],
    )
    merge_cdc_parquet(spark, path, b1)
    before = sorted(read_cdc_state(spark, path).collect())
    merge_cdc_parquet(spark, path, b1)  # redelivered verbatim
    after = sorted(read_cdc_state(spark, path).collect())
    assert before == after


def test_stale_update_after_delete_does_not_resurrect(spark, tmp_path):
    """The tombstone guard: u(v2) delivered, d(v5) applied, then u(v2)
    REDELIVERED — the key must stay deleted (without a persisted
    tombstone the stale row would silently come back)."""
    path = str(tmp_path / "serving")
    upd = _log(
        spark,
        [("u", _t("2024-01-01T00:00:02"), 2, 7, (7, "click", 2.0))],
    )
    dele = _log(spark, [("d", _t("2024-01-01T00:00:05"), 5, 7, None)])
    merge_cdc_parquet(spark, path, upd)
    assert read_cdc_state(spark, path).count() == 1
    merge_cdc_parquet(spark, path, dele)
    assert read_cdc_state(spark, path).count() == 0
    merge_cdc_parquet(spark, path, upd)  # stale redelivery
    assert read_cdc_state(spark, path).count() == 0
    # and a genuinely newer update DOES recreate the key
    newer = _log(
        spark,
        [("u", _t("2024-01-01T00:00:09"), 9, 7, (7, "view", 3.0))],
    )
    merge_cdc_parquet(spark, path, newer)
    live = read_cdc_state(spark, path).collect()
    assert len(live) == 1 and live[0].event_type == "view"


def test_streaming_foreach_batch_converges_with_batch_apply(
    spark, tmp_path
):
    """availableNow stream of envelope rows -> foreachBatch
    merge_cdc_parquet == one-shot apply_cdc_log of the same log."""
    ev = load_table(spark, SF_DIR, "events").limit(2000)
    src = str(tmp_path / "envelopes")
    encode_cdc_log(ev).write.parquet(src)
    path = str(tmp_path / "serving")
    raw = spark.readStream.schema("key binary, value binary").parquet(src)
    decoded = decode_cdc_envelope(raw, drop_malformed=True)

    def sink(batch, _bid):
        merge_cdc_parquet(batch.sparkSession, path, batch)

    q = (
        decoded.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.key, r["__seq"]): (r.event_type, r.value)
        for r in read_cdc_state(spark, path).collect()
    }
    expect = {
        (r.key, r.seq): (r.after.event_type, r.after.value)
        for r in apply_cdc_log(
            decode_cdc_envelope(encode_cdc_log(ev), drop_malformed=True)
        ).collect()
    }
    assert got == expect


def test_scd2_history_intervals_chain_per_key(spark):
    """Intervals per key are contiguous (valid_to == next valid_from),
    exactly one is_current row per surviving key, deletes carry NULL
    state, and op counts reconcile with the raw log."""
    from big_data_project_spark.sources.cdc import cdc_scd2_history

    rows = cdc_scd2_history(spark, SF_DIR).collect()
    ev_n = load_table(spark, SF_DIR, "events").count()
    assert len(rows) == ev_n
    by_key: dict = {}
    for r in rows:
        by_key.setdefault(r.key, []).append(r)
    for key, hist in by_key.items():
        hist.sort(key=lambda r: (r.valid_from, r.seq))
        for a, b in zip(hist, hist[1:]):
            assert a.valid_to == b.valid_from
            assert a.is_current == 0
        last = hist[-1]
        assert last.valid_to is None
        assert last.is_current == (0 if last.op == "d" else 1)
        for r in hist:
            if r.op == "d":
                assert r.event_type is None and r.value is None
            else:
                assert r.event_type is not None


def test_tombstone_ttl_compaction_drops_only_expired_markers(
    spark, tmp_path
):
    from big_data_project_spark.sources.cdc import compact_cdc_tombstones

    path = str(tmp_path / "serving")
    log = _log(
        spark,
        [
            ("u", _t("2024-01-01T00:00:01"), 1, 1, (1, "click", 1.0)),
            ("d", _t("2024-01-01T00:00:02"), 2, 2, None),  # old tombstone
            ("d", _t("2024-06-01T00:00:00"), 3, 3, None),  # fresh tombstone
        ],
    )
    merge_cdc_parquet(spark, path, log)
    assert spark.read.parquet(path).count() == 3
    compact_cdc_tombstones(spark, path, _t("2024-03-01T00:00:00"))
    remaining = {r.key: r.op for r in spark.read.parquet(path).collect()}
    assert remaining == {1: "u", 3: "d"}  # live row + fresh marker only
    # live state is unchanged by compaction
    assert {r.key for r in read_cdc_state(spark, path).collect()} == {1}


@pytest.mark.parametrize("compact", [False, True], ids=["read", "compact"])
def test_interrupted_merge_is_completed_before_the_table_is_read(
    spark, tmp_path, compact
):
    """A merge that died after marking its stage is completed BEFORE
    read_cdc_state or the tombstone compaction reads the table: the
    read serves the merged row, and the compaction keeps it instead of
    rewriting the pre-merge table over it."""
    import shutil

    from big_data_project_spark.plans import sinks
    from big_data_project_spark.sources.cdc import compact_cdc_tombstones

    path = str(tmp_path / "serving")
    merged = str(tmp_path / "merged")
    first = _log(
        spark, [("u", _t("2024-01-01T00:00:01"), 1, 1, (1, "a", 1.0))]
    )
    second = _log(
        spark, [("u", _t("2024-01-01T00:00:02"), 2, 2, (2, "b", 2.0))]
    )
    merge_cdc_parquet(spark, path, first)
    # The crash state of the second merge: its complete, marked stage
    # next to the table it was about to replace.
    merge_cdc_parquet(spark, merged, first)
    merge_cdc_parquet(spark, merged, second)
    shutil.copytree(merged, path + ".staging")
    open(f"{path}.staging/{sinks._SWAP_MARK}", "w").close()

    if compact:
        compact_cdc_tombstones(spark, path, _t("2024-03-01T00:00:00"))
    assert {r.key for r in read_cdc_state(spark, path).collect()} == {1, 2}


def test_round_trip_survives_adversarial_strings_and_doubles(spark):
    """JSON escaping and double fidelity: quotes, backslashes, newlines,
    unicode, and extreme-magnitude doubles all survive encode -> decode
    bit-identically."""
    rows = [
        (1, _t("2024-01-01T00:00:00.000001"), 1, 'qu"ote', 1.5),
        (2, _t("2024-01-01T00:00:00.999999"), 2, "back\\slash", -0.0),
        (3, _t("2024-12-31T23:59:59.123456"), 3, "new\nline\ttab", 1e308),
        (4, _t("2024-01-01T12:00:00"), 4, "unicode-é中文", 5e-324),
        (5, _t("2024-01-01T12:00:00"), 5, "", 0.1 + 0.2),
        (6, _t("2024-01-01T12:00:00"), 6, "{}[],:", -1.7976931348623157e308),
    ]
    ev = spark.createDataFrame(
        [(eid, ts, uid, et, v, "{}") for uid, ts, eid, et, v in rows],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    decoded = {
        r.seq: r
        for r in decode_cdc_envelope(
            encode_cdc_log(ev), drop_malformed=True
        ).collect()
    }
    assert len(decoded) == len(rows)
    for uid, ts, eid, et, v in rows:
        d = decoded[eid]
        assert d.ts == ts
        assert d.after.event_type == et
        assert d.after.value == v, (et, d.after.value, v)
