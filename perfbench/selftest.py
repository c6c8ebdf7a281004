"""Smoke self-test of the benchmark at a tiny input size.

    python3 perfbench/selftest.py            # from the root of a checkout

Runs every workload once, traced, at size 0.001 and checks that every
metric BENCHMARK.json names is reported, finite and with its unit, that
the traced runs attribute their time (DAG jobs sum to the makespan,
decode plus materialize to the poll latency, each within 5%), and that
a deliberately corrupted result trips the oracle gate (non-zero exit,
``correct`` false). Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import math
import subprocess
import sys

SIZE = "0.001"
SEED = "7"


def run(workload: str, trace: int, *extra: str) -> tuple[int, dict, dict]:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload, "--seed", SEED,
        "--seconds", "1", "--trace", str(trace), "--size", SIZE, *extra,
    ]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if not lines:
        raise SystemExit(f"{workload}: no output (exit {p.returncode})\n{p.stderr[-3000:]}")
    result = json.loads(lines[-1])
    saved = next(ln.split(" ", 2)[2] for ln in lines if ln.startswith("# report "))
    with open(saved) as fh:
        report = json.load(fh)["report"]
    return p.returncode, result, report


def check_metrics(where: str, got: dict, spec: list[dict], errors: list[str]) -> None:
    for m in spec:
        v = got.get(m["name"])
        if v is None:
            errors.append(f"{where}: metric {m['name']} missing")
        elif not isinstance(v["value"], (int, float)) or not math.isfinite(v["value"]):
            errors.append(f"{where}: metric {m['name']} not finite: {v['value']}")
        elif v["unit"] != m["unit"]:
            errors.append(f"{where}: metric {m['name']} unit {v['unit']} != {m['unit']}")
    extra = set(got) - {m["name"] for m in spec}
    if extra:
        errors.append(f"{where}: unexpected metrics {sorted(extra)}")


def within(a: float, b: float, frac: float) -> bool:
    return b > 0 and abs(a - b) <= frac * b


def main() -> int:
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    errors: list[str] = []
    for w in (x["name"] for x in spec["workloads"]):
        code, result, report = run(w, 1)
        print(f"{w}: exit {code} correct={result['correct']} "
              f"attempted={result['attempted']} failed={result['failed']}")
        if code != 0 or not result["correct"] or result["failed"]:
            errors.append(f"{w}: traced run failed: {report['failures'][:3]}")
        check_metrics(f"{w} traced", result["metrics"], spec["per_layer"], errors)
        e2e = {
            m["name"]: {"value": report["end_to_end"][m["name"]], "unit": m["unit"]}
            for m in spec["end_to_end"] if m["name"] in report["end_to_end"]
        }
        check_metrics(f"{w} end-to-end", e2e, spec["end_to_end"], errors)
        layers, op = report["per_layer"], report["end_to_end"]["op_p50_s"]
        if w == "hourly_dag":
            jobs = sum(v for k, v in layers.items() if k.startswith("dag."))
            print(f"  dag jobs {jobs:.3f} s vs makespan {op:.3f} s")
            if not within(jobs, op, 0.05):
                errors.append(f"dag jobs sum {jobs:.3f} s not within 5% of {op:.3f} s")
        if w == "realtime_ingest":
            polls = [o["latency_s"] for o in report["ops"] if not o["warmup"]]
            mean = sum(polls) / len(polls)
            parts = layers["protofeed.decode_s"] + layers["streaming.materialize_hourly_s"]
            print(f"  decode+materialize {parts:.3f} s vs poll {mean:.3f} s")
            if not within(parts, mean, 0.05):
                errors.append(f"decode+materialize {parts:.3f} s not within 5% of {mean:.3f} s")

    code, result, report = run("realtime_ingest", 0, "--corrupt-output")
    print(f"corrupted served rollup: exit {code} correct={result['correct']} "
          f"failed={result['failed']}")
    if code == 0 or result["correct"] or result["failed"] < 1:
        errors.append("a corrupted result did not trip the oracle gate")
    check_metrics("corrupted run", result["metrics"], spec["end_to_end"], errors)

    for e in errors:
        print("ERROR", e)
    print("SELFTEST", "PASS" if not errors else f"FAIL ({len(errors)})")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
