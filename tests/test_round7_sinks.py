"""Round 7: sink durability (crash recovery of the staged swap) and
snapshot-isolated versioned tables (round-6 verdict item 6 + advice).

Crash states are SIMULATED by reproducing the exact on-disk layout an
interruption leaves behind (move/delete directories with os/shutil) and
then letting the next read or write self-heal via recover_staging.
"""

from __future__ import annotations

import os
import shutil
import threading
import time

import pytest
from pyspark.sql.types import StringType

from big_data_project_spark.plans import sinks


def _write_table(spark, path, rows, schema="k long, v string, ver long"):
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(path)


def _rows(spark, path):
    return {r["k"]: (r["v"], r["ver"]) for r in spark.read.parquet(path).collect()}


# --- recover_staging: every crash state of stage_swap_parquet ---------------


def test_recover_completes_swap_from_marked_stage(spark, tmp_path):
    """Crash after the stage finished but before the renames: the stage
    carries the completeness marker and recovery finishes the commit
    (the advice scenario: the only NEWER copy sat in .staging)."""
    target = str(tmp_path / "t")
    _write_table(spark, target, [(1, "old", 1)])
    _write_table(spark, target + ".staging", [(1, "new", 2), (2, "b", 2)])
    open(os.path.join(target + ".staging", sinks._SWAP_MARK), "w").close()

    action = sinks.recover_staging(spark, target)
    assert action == "completed_swap"
    assert _rows(spark, target) == {1: ("new", 2), 2: ("b", 2)}
    assert not os.path.exists(target + ".staging")
    assert not os.path.exists(target + ".old")
    # marker never leaks into the live table
    assert not os.path.exists(os.path.join(target, sinks._SWAP_MARK))


def test_recover_completes_swap_when_target_missing(spark, tmp_path):
    """Crash between set-aside and swap-in: target gone, aside holds the
    old copy, the marked stage holds the new table — recovery installs
    the stage and drops the aside."""
    target = str(tmp_path / "t")
    _write_table(spark, target + ".old", [(1, "old", 1)])
    _write_table(spark, target + ".staging", [(1, "new", 2)])
    open(os.path.join(target + ".staging", sinks._SWAP_MARK), "w").close()

    assert sinks.recover_staging(spark, target) == "completed_swap"
    assert _rows(spark, target) == {1: ("new", 2)}
    assert not os.path.exists(target + ".old")


def test_recover_restores_aside_without_stage(spark, tmp_path):
    """Crash with the old table set aside and NO complete stage: the
    aside copy is the table — restore it."""
    target = str(tmp_path / "t")
    _write_table(spark, target + ".old", [(1, "old", 1)])

    assert sinks.recover_staging(spark, target) == "restored_from_aside"
    assert _rows(spark, target) == {1: ("old", 1)}


def test_recover_drops_incomplete_stage(spark, tmp_path):
    """Stage without the completeness marker = the staging write itself
    died; the live table was never touched — discard the stage."""
    target = str(tmp_path / "t")
    _write_table(spark, target, [(1, "live", 1)])
    _write_table(spark, target + ".staging", [(9, "partial", 9)])

    assert sinks.recover_staging(spark, target) == "dropped_incomplete_stage"
    assert _rows(spark, target) == {1: ("live", 1)}
    assert not os.path.exists(target + ".staging")


def test_recover_drops_stale_aside(spark, tmp_path):
    """Crash between swap-in and the final cleanup: live table is the
    new copy, aside is the superseded one — drop the aside."""
    target = str(tmp_path / "t")
    _write_table(spark, target, [(1, "new", 2)])
    _write_table(spark, target + ".old", [(1, "old", 1)])

    assert sinks.recover_staging(spark, target) == "dropped_stale_aside"
    assert _rows(spark, target) == {1: ("new", 2)}
    assert not os.path.exists(target + ".old")


def test_read_helpers_self_heal(spark, tmp_path):
    """read_upsert_table and the next upsert both run recovery, so an
    interrupted swap heals on the next touch without operator action."""
    target = str(tmp_path / "t")
    _write_table(spark, target + ".staging", [(1, "new", 2)])
    open(os.path.join(target + ".staging", sinks._SWAP_MARK), "w").close()
    # target missing entirely (crash after set-aside + aside lost is not
    # recoverable; here: first-ever write crashed pre-rename)
    got = sinks.read_upsert_table(spark, target)
    assert {r["k"] for r in got.collect()} == {1}

    # and an upsert over a healed table proceeds normally
    merged = sinks.upsert_parquet(
        spark,
        target,
        spark.createDataFrame([(2, "b", 3)], "k long, v string, ver long"),
        ["k"],
        "ver",
    )
    assert {r["k"] for r in merged.collect()} == {1, 2}


def test_recover_replays_partitioned_overwrite(spark, tmp_path):
    """Partitioned-upsert crash mid dynamic overwrite: the marked stage
    holds the fully-merged touched partitions; recovery replays the
    overwrite so no partition is left half-written."""
    target = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 1, "d1"), (3, "c", 1, "d2")],
        "k long, v string, ver long, pd string",
    )
    sinks.upsert_parquet(spark, target, base, ["k"], "ver", partition_col="pd")

    # Build the stage exactly as upsert_parquet would for a d1-only
    # delta (merged touched partition), marker included.
    stage = target + ".staging"
    spark.createDataFrame(
        [(1, "a2", 2, "d1"), (2, "b", 2, "d1")],
        "k long, v string, ver long, pd string",
    ).write.mode("overwrite").partitionBy("pd").parquet(stage)
    open(os.path.join(stage, sinks._PART_MARK), "w").close()
    # Simulate the crash: d1 half-deleted by the interrupted overwrite.
    shutil.rmtree(os.path.join(target, "pd=d1"))

    assert sinks.recover_staging(spark, target) == (
        "replayed_partition_overwrite"
    )
    got = {r["k"]: (r["v"], r["pd"]) for r in spark.read.parquet(target).collect()}
    assert got == {1: ("a2", "d1"), 2: ("b", "d1"), 3: ("c", "d2")}
    assert not os.path.exists(stage)


def test_stage_swap_leaves_no_debris_and_single_write(spark, tmp_path):
    target = str(tmp_path / "t")
    _write_table(spark, target, [(1, "a", 1)])
    out = sinks.stage_swap_parquet(
        spark,
        spark.createDataFrame([(1, "a2", 2)], "k long, v string, ver long"),
        target,
    )
    assert {r["v"] for r in out.collect()} == {"a2"}
    assert not os.path.exists(target + ".staging")
    assert not os.path.exists(target + ".old")
    assert not os.path.exists(os.path.join(target, sinks._SWAP_MARK))


# --- snapshot-isolated versioned table --------------------------------------


def test_snapshot_upsert_merges_and_versions(spark, tmp_path):
    root = str(tmp_path / "snap")
    d1 = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1)], "k long, v string, ver long"
    )
    sinks.upsert_snapshot(spark, root, d1, ["k"], "ver")
    d2 = spark.createDataFrame(
        [(2, "b2", 2), (3, "c", 2)], "k long, v string, ver long"
    )
    got = sinks.upsert_snapshot(spark, root, d2, ["k"], "ver")
    assert {r["k"]: r["v"] for r in got.collect()} == {
        1: "a",
        2: "b2",
        3: "c",
    }
    vs = sinks.snapshot_versions(spark, root)
    assert [v for v, _ in vs] == [1, 2]  # keep=2 retains both


def test_snapshot_retention_prunes_old_versions(spark, tmp_path):
    root = str(tmp_path / "snap")
    for i in range(1, 5):
        sinks.write_snapshot(
            spark,
            spark.createDataFrame([(i,)], "k long"),
            root,
            keep=2,
        )
    vs = sinks.snapshot_versions(spark, root)
    assert [v for v, _ in vs] == [3, 4]
    assert sinks.read_snapshot(spark, root).collect()[0]["k"] == 4


def test_snapshot_reader_binds_to_immutable_version(spark, tmp_path):
    """A reader resolved BEFORE a commit still scans its own complete
    snapshot afterwards — the isolation the plain swap cannot give."""
    root = str(tmp_path / "snap")
    sinks.write_snapshot(
        spark, spark.createDataFrame([(1, "v1")], "k long, tag string"), root
    )
    bound = sinks.read_snapshot(spark, root)  # binds to v-00000001
    sinks.write_snapshot(
        spark,
        spark.createDataFrame([(1, "v2"), (2, "v2")], "k long, tag string"),
        root,
    )
    # new readers see v2; the bound reader still sees exactly v1
    assert sinks.read_snapshot(spark, root).count() == 2
    assert [r["tag"] for r in bound.collect()] == ["v1"]


def test_snapshot_uncommitted_version_is_invisible(spark, tmp_path):
    """A crashed writer's directory (no _COMMITTED marker) is never
    served and is reclaimed by the next writer of that version."""
    root = str(tmp_path / "snap")
    sinks.write_snapshot(spark, spark.createDataFrame([(1,)], "k long"), root)
    # fake a crashed writer of v2: data present, marker absent
    crashed = os.path.join(root, "v-00000002")
    spark.createDataFrame([(99,)], "k long").write.parquet(crashed)
    assert [v for v, _ in sinks.snapshot_versions(spark, root)] == [1]
    assert sinks.read_snapshot(spark, root).collect()[0]["k"] == 1
    # next commit takes version 2, replacing the debris
    sinks.write_snapshot(spark, spark.createDataFrame([(2,)], "k long"), root)
    assert sinks.read_snapshot(spark, root).collect()[0]["k"] == 2


def test_snapshot_concurrent_reader_never_sees_partial(spark, tmp_path):
    """Reader loop during a stream of upserts: every resolved read is a
    complete committed state {1..n} for some n — never a partial write,
    never a missing table (round-6 verdict item 6 'Done' criterion)."""
    root = str(tmp_path / "snap")
    sinks.upsert_snapshot(
        spark,
        root,
        spark.createDataFrame([(1, 1)], "k long, ver long"),
        ["k"],
        "ver",
    )
    valid = {frozenset(range(1, n + 1)) for n in range(1, 7)}
    seen: list[frozenset] = []
    errors: list[Exception] = []
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                ks = frozenset(
                    r["k"] for r in sinks.read_snapshot(spark, root).collect()
                )
                seen.append(ks)
            except Exception as exc:  # noqa: BLE001 — the test's assertion
                errors.append(exc)
            time.sleep(0.01)

    t = threading.Thread(target=reader)
    t.start()
    try:
        for n in range(2, 7):
            sinks.upsert_snapshot(
                spark,
                root,
                spark.createDataFrame([(n, n)], "k long, ver long"),
                ["k"],
                "ver",
                keep=3,
            )
    finally:
        stop.set()
        t.join()
    assert not errors, errors[:3]
    assert seen, "reader never completed a read"
    bad = [s for s in seen if s not in valid]
    assert not bad, f"partial states observed: {bad[:3]}"


# --- round 9: injected swap-in failure on a FIRST-EVER write ----------------


class _FailSwapIn:
    """FileSystem proxy that vetoes the stage→target rename (the swap-in)
    while letting every other call through — simulates the rename itself
    failing (permissions, remote-store hiccup) rather than a crash."""

    def __init__(self, fs):
        self._fs = fs
        self.vetoed = 0

    def rename(self, src, dst):
        if str(src).endswith(".staging") and not str(dst).endswith(
            (".staging", ".old")
        ):
            self.vetoed += 1
            return False
        return self._fs.rename(src, dst)

    def __getattr__(self, name):
        return getattr(self._fs, name)


def test_failed_first_write_is_not_committed_by_next_read(
    spark, tmp_path, monkeypatch
):
    """Round-8 advice #1 regression test, failure INJECTED (not layout-
    simulated): first-ever write to the table, the swap-in rename fails
    AFTER the stage is marked complete. The caller is told the write
    failed — so the next touch (a plain READ) must NOT silently commit
    the abandoned batch. The unmarked stage is debris, dropped on the
    next recovery pass."""
    target = str(tmp_path / "t")
    real = sinks._hadoop_path
    proxies = []

    def patched(sp, path):
        fs, hpath = real(sp, path)
        proxy = _FailSwapIn(fs)
        proxies.append(proxy)
        return proxy, hpath

    monkeypatch.setattr(sinks, "_hadoop_path", patched)
    df = spark.createDataFrame([(1, "a", 1)], "k long, v string, ver long")
    with pytest.raises(IOError, match="swap-in failed"):
        sinks.stage_swap_parquet(spark, df, target)
    assert any(p.vetoed for p in proxies)
    # the failed stage must no longer carry the completeness marker
    assert os.path.exists(target + ".staging")
    assert not os.path.exists(
        os.path.join(target + ".staging", sinks._SWAP_MARK)
    )
    monkeypatch.undo()

    # Recovery classifies the unmarked stage as incomplete debris...
    assert sinks.recover_staging(spark, target) == "dropped_incomplete_stage"
    assert not os.path.exists(target + ".staging")
    assert not os.path.exists(target)
    # ...so the next READ cannot surface the batch the caller was told
    # failed.
    assert sinks._read_or_none(spark, target) is None


def _swap_new_rows(spark, target):
    df = spark.createDataFrame([(1, "new", 2)], "k long, v string, ver long")
    sinks.stage_swap_parquet(spark, df, target)


def _compact(spark, target):
    sinks.compact_parquet(spark, target)


@pytest.mark.parametrize(
    "write",
    [
        pytest.param(_swap_new_rows, id="stage_swap_parquet"),
        pytest.param(_compact, id="compact_parquet"),
    ],
)
def test_failed_overwrite_restores_original_and_discards_stage(
    spark, tmp_path, monkeypatch, write
):
    """Same injection over an EXISTING table, for both writers that
    commit by swap-in: the original is restored, the caller sees the
    failure, and the next read serves the ORIGINAL rows (never the
    abandoned batch)."""
    target = str(tmp_path / "t")
    _write_table(spark, target, [(1, "orig", 1)])
    real = sinks._hadoop_path

    def patched(sp, path):
        fs, hpath = real(sp, path)
        return _FailSwapIn(fs), hpath

    monkeypatch.setattr(sinks, "_hadoop_path", patched)
    with pytest.raises(IOError, match="original restored"):
        write(spark, target)
    monkeypatch.undo()

    assert _rows(spark, target) == {1: ("orig", 1)}
    # failed-from-caller's-view stage was discarded outright
    assert not os.path.exists(target + ".staging")
    got = sinks.read_upsert_table(spark, target)
    assert {(r["k"], r["v"]) for r in got.collect()} == {(1, "orig")}


# --- one commit protocol: compaction, partition typing, no conf writes -----


def test_interrupted_compaction_completes_on_recovery(
    spark, tmp_path, monkeypatch
):
    """A compaction that dies right after writing its marked stage is
    completed by the next recover_staging like any interrupted swap:
    the table then serves the compacted files, with the same rows."""
    target = str(tmp_path / "t")
    for i in range(4):
        spark.createDataFrame(
            [(i, f"v{i}", 1)], "k long, v string, ver long"
        ).write.mode("append").parquet(target)

    class _Crash(Exception):
        pass

    def crash(*_args):
        raise _Crash

    monkeypatch.setattr(sinks, "_swap_in", crash)
    with pytest.raises(_Crash):
        sinks.compact_parquet(spark, target, target_bytes=1 << 30)
    monkeypatch.undo()
    assert os.path.exists(os.path.join(target + ".staging", sinks._SWAP_MARK))

    assert sinks.recover_staging(spark, target) == "completed_swap"
    assert _rows(spark, target) == {i: (f"v{i}", 1) for i in range(4)}
    data = [f for f in os.listdir(target) if not f.startswith(("_", "."))]
    assert len(data) == 1
    assert not os.path.exists(target + ".staging")


def test_partitioned_upsert_keeps_zero_padded_partition_values(
    spark, tmp_path
):
    """A string partition value "01" is written as pd=01/ and read back
    as "01", on the first write and on a merge: the partition column
    takes the delta's declared type, never a type inferred from the
    directory name (INT 1, rewritten as pd=1/)."""
    target = str(tmp_path / "t")
    schema = "k long, v string, ver long, pd string"

    def upsert(rows):
        return sinks.upsert_parquet(
            spark, target, spark.createDataFrame(rows, schema), ["k"],
            "ver", partition_col="pd",
        )

    def part_dirs():
        return sorted(d for d in os.listdir(target) if d.startswith("pd="))

    first = upsert([(1, "a", 1, "01"), (2, "b", 1, "02")])
    assert part_dirs() == ["pd=01", "pd=02"]
    assert {(r["k"], r["pd"]) for r in first.collect()} == {
        (1, "01"), (2, "02"),
    }
    merged = upsert([(1, "a2", 2, "01"), (3, "c", 2, "01")])
    assert part_dirs() == ["pd=01", "pd=02"]
    assert {r["k"]: (r["v"], r["pd"]) for r in merged.collect()} == {
        1: ("a2", "01"), 2: ("b", "02"), 3: ("c", "01"),
    }


def test_partition_sinks_write_no_session_conf(spark, tmp_path, monkeypatch):
    """A partitioned upsert, a replayed partition stage and a
    partitioned compaction type partition columns through the reader
    schema, so none of them sets or unsets a session conf that a query
    planned on the same session meanwhile would see."""
    from pyspark.sql.conf import RuntimeConfig

    target = str(tmp_path / "t")
    schema = "k long, v string, ver long, pd string"
    base = spark.createDataFrame(
        [(1, "a", 1, "01"), (2, "b", 1, "02")], schema
    )
    staged = spark.createDataFrame([(1, "a2", 2, "01")], schema)
    calls = []
    for name in ("set", "unset"):
        real = getattr(RuntimeConfig, name)

        def record(self, *args, _name=name, _real=real):
            calls.append((_name, *args))
            return _real(self, *args)

        monkeypatch.setattr(RuntimeConfig, name, record)

    sinks.upsert_parquet(spark, target, base, ["k"], "ver", partition_col="pd")
    staged.write.mode("overwrite").partitionBy("pd").parquet(
        target + ".staging"
    )
    open(os.path.join(target + ".staging", sinks._PART_MARK), "w").close()
    assert sinks.recover_staging(spark, target) == (
        "replayed_partition_overwrite"
    )
    sinks.compact_parquet(spark, target, partition_cols=["pd"])
    assert calls == []
    got = {r["k"]: (r["v"], r["pd"]) for r in sinks._read_or_none(
        spark, target, partition_types={"pd": StringType()}
    ).collect()}
    assert got == {1: ("a2", "01"), 2: ("b", "02")}
