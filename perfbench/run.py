"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The inputs are generated from
``--seed`` (cached per seed and size under ``.perfbench_work/``), the
engine runs on ``local[k]`` with k = min(4, cores), and every operation
is checked against the DuckDB oracles. With ``--trace 0`` the last line
of standard output carries the end-to-end metrics; with ``--trace 1``
the per-layer metrics of a traced run. The exit code is 0 when every
operation succeeded and matched its oracle, 1 otherwise, and 2 when the
engine cannot be imported.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import sys
import time
import traceback

SETUP_REPEATS = 3
WORK = ".perfbench_work"


class Bench:
    """State of one run: session, inputs, tracer, timings, failures."""

    def __init__(self, args, root: str) -> None:
        self.args = args
        self.seed = args.seed
        self.corrupt = args.corrupt_output
        self.root = root
        self.work = os.path.join(root, WORK)
        self.run_dir = os.path.join(
            self.work, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
        )
        self.tracer = None
        self.spark = None
        self.ops: list[dict] = []
        self.failures: list[str] = []
        self.release_calls: list[tuple[float, int]] = []
        self.run_failures = 0
        self._op_end = None

    def span(self, name: str, **attrs):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, **attrs)

    def mark_op_end(self, t0: float, **attrs) -> None:
        self._op_end = (time.perf_counter() - t0, attrs)

    def tracer_job(self, name: str, fn):
        def traced(spark):
            with self.tracer.span("dag.job", job=name):
                return fn(spark)

        return traced

    def release_caches_checked(self, release_caches) -> None:
        """release_caches(), then count the RDDs still persisted."""
        t0 = time.perf_counter()
        release_caches()
        dt = time.perf_counter() - t0
        left = self.spark.sparkContext._jsc.getPersistentRDDs().size()
        self.release_calls.append((dt, left))
        if left:
            self.run_failures += 1
            self.failures.append(f"{left} persisted RDDs left after release_caches()")


# --- session -----------------------------------------------------------------


def configure_env(b: Bench, cores: int) -> None:
    """Pin the engine's settings and keep every file inside the checkout."""
    tmp = os.path.join(b.work, "tmp")
    local = os.path.join(b.run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [b.root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(b.run_dir, "warehouse"),
        # -XX:-UsePerfData: the JVM would otherwise keep its perf counters
        # under /tmp/hsperfdata_<user>, outside the checkout
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
        ),
    }
    if b.args.trace:
        b.event_log = os.path.join(b.run_dir, "eventlog")
        os.makedirs(b.event_log)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + b.event_log
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
        + " pyspark-shell"
    )


def start_session(b: Bench, tables) -> dict:
    """Launch the JVM, then set up SETUP_REPEATS more times in it (stop
    the session, get_spark, warm-up query, resolve every input table).
    setup_s is the median of the repeats."""
    from big_data_project_spark.catalog import load_table
    from big_data_project_spark.session import get_spark

    def setup():
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        t1 = time.perf_counter()
        spark.range(1 << 16).selectExpr("sum(id)").collect()
        for t in tables:
            load_table(spark, b.sf_dir, t).schema
        return spark, time.perf_counter() - t0, t1 - t0

    b.spark, launch_s, _ = setup()
    repeats, get_spark_s = [], []
    for _ in range(SETUP_REPEATS):
        b.spark.stop()
        b.spark, total, gs = setup()
        repeats.append(total)
        get_spark_s.append(gs)
    return {"launch_s": launch_s, "repeats_s": repeats, "get_spark_s": get_spark_s}


def stop_session(b: Bench) -> list[int]:
    """Stop Spark and the JVM it runs in, and wait for every process
    this run started to end. Returns pids that had to be killed."""
    from perfbench import host

    from pyspark import SparkContext

    pids = host.tree_pids() - {os.getpid()}
    if b.spark is not None:
        with contextlib.suppress(Exception):
            b.spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        with contextlib.suppress(Exception):
            gw.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    return host.wait_tree_exit(pids)


# --- the run -----------------------------------------------------------------


def run_ops(b: Bench, wl, seconds: float, monitor) -> dict:
    from perfbench import host

    def one(i: int, warm: bool) -> None:
        if b.tracer is not None:
            b.tracer.op = i
        b._op_end = None
        rec = {"i": i, "warmup": warm, "ok": False, "latency_s": None, "items": 0}
        rec["epoch_start"] = time.time()
        try:
            items, payload = wl.op(i)
            rec["latency_s"], attrs = b._op_end
            rec.update(attrs, items=items)
            rec["epoch_end"] = time.time()
            bad = wl.verify(i, payload)
            rec["ok"] = not bad
            b.failures.extend(bad)
        except Exception:
            rec["epoch_end"] = time.time()
            b.failures.append(f"op {i}: {traceback.format_exc(limit=3)}")
        if b.tracer is not None:
            b.tracer.op = None
            b.tracer.record_catalyst(i)
        b.ops.append(rec)

    i = 0
    for _ in range(wl.warmup_ops):
        one(i, True)
        i += 1
    window = host.CoTenantWindow(monitor)
    cpu0 = monitor.tree_jiffies()
    t0 = time.perf_counter()
    measured = 0
    while True:
        one(i, False)
        i += 1
        measured += 1
        if time.perf_counter() - t0 >= seconds and measured >= wl.min_ops:
            break
    return {
        "window_s": time.perf_counter() - t0,
        "cpu_s": (monitor.tree_jiffies() - cpu0) / host.CLK_TCK,
        "cotenant_busy_cores": window.busy_cores(),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", type=float, default=0.01, help="input scale factor")
    ap.add_argument(
        "--corrupt-output", action="store_true",
        help="self-test hook: duplicate a served file before the first oracle check",
    )
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import big_data_project_spark.registry
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {root}: {exc}", file=sys.stderr)
        return 2
    pkg_file = big_data_project_spark.registry.__file__
    if not os.path.abspath(pkg_file).startswith(os.path.join(root, "")):
        print(f"perfbench: the engine imported from {pkg_file}, not from {root}",
              file=sys.stderr)
        return 2
    from perfbench import gen, host, metrics
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    b = Bench(args, root)
    phases, t_phase = {}, time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = now - t_phase
        t_phase = now

    cores = min(4, len(os.sched_getaffinity(0)))
    ctx = {"nproc": os.cpu_count(), "cpus_usable": len(os.sched_getaffinity(0)),
           "local_k": cores, "load_before": host.snapshot(),
           "cpu_yardstick_s": host.cpu_yardstick_s()}
    monitor = host.TreeMonitor().start()
    manifest = gen.ensure_inputs(b.work, args.seed, args.size)
    b.manifest, b.sf_dir, b.rt_dir = manifest, manifest["sf_dir"], manifest["rt_dir"]
    ctx["inputs"] = {k: manifest[k] for k in ("size", "rows", "cached", "build_s")}
    os.makedirs(b.run_dir)
    configure_env(b, cores)
    phase("inputs")

    from perfbench.oracle import SfOracle

    b.oracle = SfOracle(b.sf_dir)
    wl = WORKLOADS[args.workload](b)
    killed: list[int] = []
    try:
        ctx["setup"] = start_session(b, gen.SF_TABLES)
        phase("session")
        if args.trace:
            from perfbench import trace

            b.tracer = trace.Tracer()
            trace.install_layer_wraps(b.tracer)
            if args.workload == "realtime_ingest":
                b.listener = trace.make_stream_listener(b.tracer)
                b.spark.streams.addListener(b.listener)
        wl.prepare()
        ctx["window"] = run_ops(b, wl, args.seconds, monitor)
        phase("ops")
        from big_data_project_spark.caching import release_caches

        b.release_caches_checked(release_caches)
        wl.finish()
        if b.tracer is not None:
            b.tracer.uninstall()
    except Exception:
        b.run_failures += 1
        b.failures.append(f"run: {traceback.format_exc(limit=5)}")
    finally:
        b.oracle.close()
        phase("finish")
        killed = stop_session(b)
        monitor.stop()
        phase("teardown")
    ctx["phases_s"] = phases
    ctx["killed_pids"] = killed
    ctx["load_after"] = host.snapshot()
    ctx["peak_rss_mb"] = monitor.peak_rss_bytes / 2**20

    result, report = metrics.assemble(b, ctx, wl)
    metrics.save(b, ctx, report, result)
    shutil.rmtree(b.run_dir, ignore_errors=True)
    for line in metrics.summary_lines(b, ctx, report, result):
        print(line)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
