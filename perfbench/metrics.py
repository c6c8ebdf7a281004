"""Turn one run's timings, spans and Spark records into the metrics the
benchmark prints, plus a full report saved under the work directory."""

from __future__ import annotations

import datetime
import glob
import json
import math
import os
import statistics

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "ops_per_s": "1/s",
}

DAG_JOBS = (
    "gtfs_static_job", "mock_passenger_flow_job", "weather_job", "build_kpi_job",
    "ml_job", "generate_suggestions_job", "export_suggestions_json_job",
    "export_routes_geo_job",
)
PER_LAYER = {
    "session.get_spark_s": "s",
    "catalog.load_table_calls": "count",
    "catalog.load_table_s": "s",
    "query.construct_s": "s",
    "query.execute_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "rollups.shared_rollup_lookups": "count",
    "rollups.shared_rollup_hit_ratio": "ratio",
    "cache.entries_registered": "count",
    "caching.release_caches_s": "s",
    "cache.entries_after_release": "count",
    **{f"dag.{j}_s": "s" for j in DAG_JOBS},
    "protofeed.decode_s": "s",
    "protofeed.entities_per_s": "1/s",
    "streaming.materialize_hourly_s": "s",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.state_rows_total": "count",
    "streaming.state_memory_bytes": "bytes",
    "sinks.upsert_parquet_s": "s",
    "sinks.rows_rewritten": "count",
    "sinks.rewrite_ratio": "ratio",
    "trace.overhead_frac": "ratio",
}


def highest_supported_percentile(values: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile with at least ten samples above it."""
    n = len(values)
    if n < 11:
        return None
    p = math.floor(100 * (n - 10) / n)
    v = sorted(values)
    return p, v[min(n - 1, math.ceil(p / 100 * n) - 1)]


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def _epoch(ts: str) -> float:
    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def assemble(b, ctx, wl) -> tuple[dict, dict]:
    measured = [o for o in b.ops if not o["warmup"] and o["latency_s"] is not None]
    lat = [o["latency_s"] for o in measured]
    attempted = max(1, len(b.ops))
    failed = min(attempted, sum(not o["ok"] for o in b.ops) + b.run_failures)
    correct = failed == 0 and bool(measured)

    e2e = {
        "setup_s": _median(ctx.get("setup", {}).get("repeats_s", [])),
        "op_p50_s": _median(lat),
        "ops_per_s": len(lat) / sum(lat) if lat else 0.0,
    }
    report = {
        "workload": b.args.workload,
        "seed": b.seed,
        "size": b.args.size,
        "trace": b.args.trace,
        "op_unit": wl.op_unit,
        "end_to_end": e2e,
        "ops": b.ops,
        "failures": b.failures,
        "tail": None,
    }
    tail = highest_supported_percentile(lat)
    if tail is not None:
        report["tail"] = {"percentile": tail[0], "value_s": tail[1], "samples": len(lat)}
    items = sum(o["items"] for o in measured)
    report["items_per_s"] = items / sum(lat) if lat else 0.0
    report["cpu_s_per_op"] = ctx.get("window", {}).get("cpu_s", 0.0) / max(1, len(lat))
    if b.args.workload == "realtime_ingest" and len(lat) >= 4:
        q = len(lat) // 4
        report["poll_growth"] = (sum(lat[-q:]) / q) / (sum(lat[:q]) / q)

    if b.args.trace:
        layers = _per_layer(b, ctx, measured, e2e)
        report["per_layer"] = layers
        report["self_time_s"] = dict(b.tracer.self_times({o["i"] for o in measured}))
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    result = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    return result, report


def _per_layer(b, ctx, measured, e2e) -> dict:
    from perfbench.trace import read_event_log

    tr = b.tracer
    ids = {o["i"] for o in measured}
    n = max(1, len(measured))
    m = dict.fromkeys(PER_LAYER, 0.0)
    if tr is None:  # the session never came up; the run is already failed
        return m
    m["session.get_spark_s"] = _median(ctx["setup"]["get_spark_s"])

    calls, secs = tr.totals("catalog.load_table", ids)
    m["catalog.load_table_calls"] = calls / n
    m["catalog.load_table_s"] = secs / n
    m["query.construct_s"] = tr.totals("query.construct", ids)[1] / n
    m["query.execute_s"] = tr.self_times(ids).get("dag.job", 0.0) / n

    for k in ("analysis", "optimization", "planning"):
        m[f"catalyst.{k}_ms"] = tr.counted(f"catalyst.{k}_ms", ids) / n

    if measured:
        t0 = min(o["epoch_start"] for o in measured) * 1000
        t1 = max(o["epoch_end"] for o in measured) * 1000
        ex = read_event_log(b.event_log, t0, t1)
        m["exec.jobs"] = ex["jobs"] / n
        m["exec.stages"] = ex["stages"] / n
        m["exec.tasks"] = ex["tasks"] / n
        m["exec.executor_run_s"] = ex["executor_run_ms"] / 1e3 / n
        m["exec.executor_cpu_s"] = ex["executor_cpu_ns"] / 1e9 / n
        m["exec.gc_s"] = ex["gc_ms"] / 1e3 / n
        m["exec.shuffle_read_bytes"] = ex["shuffle_read_bytes"] / n
        m["exec.shuffle_write_bytes"] = ex["shuffle_write_bytes"] / n
        m["exec.spill_bytes"] = ex["spill_bytes"] / n

    lookups = tr.counted("rollups.lookups", ids)
    m["rollups.shared_rollup_lookups"] = lookups / n
    if lookups:
        m["rollups.shared_rollup_hit_ratio"] = 1 - tr.counted("rollups.misses", ids) / lookups
    m["cache.entries_registered"] = tr.counted("cache.entries_registered", ids) / n
    if b.release_calls:
        m["caching.release_caches_s"] = _median([dt for dt, _ in b.release_calls])
        m["cache.entries_after_release"] = max(left for _, left in b.release_calls)

    for job in DAG_JOBS:
        m[f"dag.{job}_s"] = sum(o.get("job_s", {}).get(job, 0.0) for o in measured) / n

    dec_calls, dec_s = tr.totals("protofeed.decode", ids)
    m["protofeed.decode_s"] = dec_s / n
    if dec_s:
        m["protofeed.entities_per_s"] = sum(o["items"] for o in measured) / dec_s
    m["streaming.materialize_hourly_s"] = tr.totals("streaming.materialize_hourly", ids)[1] / n
    progress = [
        p for p in getattr(getattr(b, "listener", None), "progress", [])
        if measured and t0 / 1000 - 0.5 <= _epoch(p["timestamp"]) <= t1 / 1000
    ]
    for key, name in (("addBatch", "add_batch"), ("queryPlanning", "query_planning"),
                      ("walCommit", "wal_commit")):
        m[f"streaming.{name}_ms"] = sum(p["duration_ms"].get(key, 0) for p in progress) / n
    if progress:
        m["streaming.state_rows_total"] = max(p["state_rows"] for p in progress)
        m["streaming.state_memory_bytes"] = max(p["state_bytes"] for p in progress)
    m["sinks.upsert_parquet_s"] = tr.totals("sinks.upsert_parquet", ids)[1] / n
    rewritten = tr.counted("sinks.rows_rewritten", ids)
    m["sinks.rows_rewritten"] = rewritten / n
    touched = sum(o.get("touched_groups", 0) for o in measured)
    if touched:
        m["sinks.rewrite_ratio"] = rewritten / touched

    untraced = [
        r["end_to_end"]["op_p50_s"] for r in _saved(b, trace=0)
        if r["end_to_end"]["op_p50_s"] > 0
    ]
    if untraced:
        m["trace.overhead_frac"] = e2e["op_p50_s"] / statistics.median(untraced) - 1
    return m


def _saved(b, trace: int) -> list[dict]:
    pattern = os.path.join(
        b.work, "results", f"{b.args.workload}-sf{b.args.size:g}-s*-t{trace}-*.json"
    )
    out = []
    for path in glob.glob(pattern):
        with open(path) as fh:
            r = json.load(fh)
        if r["result"]["correct"]:
            out.append(r["report"])
    return out


def save(b, ctx, report, result) -> None:
    d = os.path.join(b.work, "results")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(
        d, f"{b.args.workload}-sf{b.args.size:g}-s{b.seed}-t{b.args.trace}-{os.getpid()}.json"
    )
    with open(path, "w") as fh:
        json.dump({"context": ctx, "report": report, "result": result}, fh, default=str)
    report["saved_to"] = path


def summary_lines(b, ctx, report, result) -> list[str]:
    lines = [f"# {report['workload']} seed={b.seed} size={b.args.size:g} "
             f"trace={b.args.trace} ops={len(b.ops)} failed={result['failed']}"]
    for f in b.failures[:20]:
        lines.append(f"# FAIL {f.splitlines()[-1] if f.strip() else f}")
    for k, v in result["metrics"].items():
        lines.append(f"{k} {v['value']:.6g} {v['unit']}")
    extra = {
        k: report[k] for k in ("tail", "items_per_s", "cpu_s_per_op", "poll_growth")
        if k in report
    }
    lines.append("# context " + json.dumps({**ctx, **extra}, default=str))
    lines.append(f"# report {report.get('saved_to')}")
    return lines
