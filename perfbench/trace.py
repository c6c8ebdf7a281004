"""Tracing for the traced run: spans, counters, and the readers for
Spark's own execution records.

Spans are recorded around calls into the engine's public functions,
from this directory only: the tracer swaps each traced function for a
wrapper in every loaded ``big_data_project_spark`` module that holds a
reference to it, and puts the originals back on ``uninstall``. Nothing
inside the package changes.

A span is (id, name, start, end, parent, op). ``op`` ties every span to
the workload operation that caused it. A layer's self time is its
spans' duration minus the part covered by their child spans.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import sys
import time
from collections import defaultdict

PKG = "big_data_project_spark"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        self._stack: list[int] = []
        self.op: int | None = None
        self._patched: list[tuple[object, str, object]] = []

    # --- spans ---------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def count(self, name: str, n: float = 1) -> None:
        self.counts[name][self.op] += n

    def counted(self, name: str, op_ids) -> float:
        return sum(v for op, v in self.counts[name].items() if op in op_ids)

    def self_times(self, op_ids=None) -> dict[str, float]:
        """Self time per span name, over the spans of ``op_ids``."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is None or (op_ids is not None and s["op"] not in op_ids):
                continue
            out[s["name"]] += (s["end"] - s["start"]) - child[s["id"]]
        return out

    def totals(self, name: str, op_ids=None) -> tuple[int, float]:
        """(calls, total seconds) of the outermost spans called ``name``."""
        by_id = {s["id"]: s for s in self.spans}
        n, t = 0, 0.0
        for s in self.spans:
            if s["name"] != name or s["end"] is None:
                continue
            if op_ids is not None and s["op"] not in op_ids:
                continue
            p, nested = s["parent"], False
            while p is not None:
                if by_id[p]["name"] == name:
                    nested = True
                    break
                p = by_id[p]["parent"]
            if not nested:
                n += 1
                t += s["end"] - s["start"]
        return n, t

    # --- wrapping the engine's public functions -------------------------

    def _swap(self, original, wrapper) -> None:
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PKG or mod_name.startswith(PKG + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if val is original:
                    self._patched.append((mod, attr, original))
                    setattr(mod, attr, wrapper)

    def wrap(self, module: str, func: str, span: str, on_call=None) -> None:
        """Record a span named ``span`` around every call of
        ``module.func``; ``on_call(args, kwargs, rec)`` may add counts
        once the span record ``rec`` is finished. A function the
        package no longer has is skipped."""
        mod = sys.modules.get(module)
        original = getattr(mod, func, None) if mod is not None else None
        if original is None:
            return
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(span) as rec:
                result = original(*args, **kwargs)
            if on_call is not None:
                on_call(args, kwargs, rec)
            return result

        wrapper.__wrapped__ = original
        self._swap(original, wrapper)

    def wrap_registry(self, queries: dict) -> None:
        """Span every ``QUERIES[name](spark, dir)`` call (construction)
        and keep the built frames so their Catalyst phases can be read."""
        self.built: list[tuple[int | None, str, object]] = []
        for name, fn in list(queries.items()):

            def wrapper(spark, sf_dir, _fn=fn, _name=name):
                with self.span("query.construct", key=_name):
                    df = _fn(spark, sf_dir)
                self.built.append((self.op, _name, df))
                return df

            self._patched.append((queries, name, fn))
            queries[name] = wrapper

    def record_catalyst(self, op: int) -> None:
        """Add the Catalyst phase times of the frames built during ``op``
        to its counts, then drop the frames. A frame that was written
        rather than collected was never planned itself (the write plans
        its own copy), so it is planned here, after the operation's
        timing, to read its optimization and planning times."""
        keep = []
        for built_op, _key, df in self.built:
            if built_op != op:
                keep.append((built_op, _key, df))
                continue
            df._jdf.queryExecution().executedPlan()
            for phase, ms in catalyst_phases_ms(df).items():
                self.counts[f"catalyst.{phase}_ms"][op] += ms
        self.built = keep

    def uninstall(self) -> None:
        for target, attr, original in reversed(self._patched):
            if isinstance(target, dict):
                target[attr] = original
            else:
                setattr(target, attr, original)
        self._patched.clear()


def install_layer_wraps(tracer: Tracer) -> None:
    """The layer boundaries traced in every workload."""
    import importlib

    for m in ("catalog", "caching", "rollups", "registry", "plans.sinks"):
        importlib.import_module(f"{PKG}.{m}")
    tracer.wrap(f"{PKG}.catalog", "load_table", "catalog.load_table")
    tracer.wrap(f"{PKG}.catalog", "load_table_spread", "catalog.load_table")
    tracer.wrap(
        f"{PKG}.caching", "persisted", "caching.persisted",
        on_call=lambda a, k, rec: tracer.count("cache.entries_registered"),
    )
    tracer.wrap(f"{PKG}.caching", "release_caches", "caching.release_caches")
    _wrap_shared_rollup(tracer)
    tracer.wrap(
        f"{PKG}.plans.sinks", "upsert_parquet", "sinks.upsert_parquet",
        on_call=lambda a, k, rec: _count_rewrite(tracer, a, k, rec),
    )
    from big_data_project_spark.registry import QUERIES

    tracer.wrap_registry(QUERIES)


def _wrap_shared_rollup(tracer: Tracer) -> None:
    """Count rollup-tier lookups, and misses as the calls that had to
    run the build function they were handed."""
    mod = sys.modules.get(f"{PKG}.rollups")
    original = getattr(mod, "shared_rollup", None)
    if original is None:
        return

    def wrapper(spark, sf_dir, name, build):
        def counted_build(*a, **k):
            tracer.count("rollups.misses")
            tracer.count("cache.entries_registered")
            return build(*a, **k)

        tracer.count("rollups.lookups")
        with tracer.span("rollups.shared_rollup"):
            return original(spark, sf_dir, name, counted_build)

    wrapper.__wrapped__ = original
    tracer._swap(original, wrapper)


def _count_rewrite(tracer: Tracer, args, kwargs, rec) -> None:
    """Rows the upsert rewrote: the rows of every parquet file under the
    target written during the call (footer reads, no Spark job)."""
    import pyarrow.parquet as pq

    target = kwargs.get("target_path", args[1] if len(args) > 1 else None)
    start = time.time() - (rec["end"] - rec["start"])
    rows = 0
    for path in glob.glob(os.path.join(target, "**", "*.parquet"), recursive=True):
        try:
            if os.path.getmtime(path) >= start - 0.01:
                rows += pq.ParquetFile(path).metadata.num_rows
        except OSError:
            continue
    tracer.count("sinks.rows_rewritten", rows)


def catalyst_phases_ms(df) -> dict[str, float]:
    """Analysis / optimization / planning time Catalyst recorded for
    ``df``'s own query execution (phases it has not run are absent)."""
    out = {}
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs()
    return out


# --- Spark's execution record ---------------------------------------------


def read_event_log(log_dir: str, t0_ms: float, t1_ms: float) -> dict[str, float]:
    """Jobs, stages and task metrics from the event logs in ``log_dir``,
    counting only what was submitted inside [t0_ms, t1_ms] (epoch ms)."""
    out = defaultdict(float)
    for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path) or path.endswith(".crc"):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if t0_ms <= ev.get("Submission Time", 0) <= t1_ms:
                        out["jobs"] += 1
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if t0_ms <= info.get("Submission Time", 0) <= t1_ms:
                        out["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    if not t0_ms <= info.get("Launch Time", 0) <= t1_ms:
                        continue
                    out["tasks"] += 1
                    out["executor_run_ms"] += m.get("Executor Run Time", 0)
                    out["executor_cpu_ns"] += m.get("Executor CPU Time", 0)
                    out["gc_ms"] += m.get("JVM GC Time", 0)
                    sr = m.get("Shuffle Read Metrics", {})
                    out["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    out["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return out


def make_stream_listener(tracer: Tracer):
    """A StreamingQueryListener that records each micro-batch's
    progress: durations, state-store size and input rows. Progress
    arrives asynchronously; ``timestamp`` (the trigger's start, ISO
    UTC) places a batch in its operation's time window."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: list[dict] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            self.progress.append(
                {
                    "timestamp": p.timestamp,
                    "batch": p.batchId,
                    "duration_ms": dict(p.durationMs),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
                    "input_rows": p.numInputRows,
                }
            )

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return _Listener()
