"""Paired A/B of one benchmark workload between two checkouts.

Usage: python tools/ab_pairs.py --parent DIR --change DIR --workload W
       --pairs N --seeds 7 11 13

Each pair runs ``perfbench/run.py --trace 0`` once in each checkout on
the pair's seed (the seeds are cycled), alternating which side runs
first, for the ``run_seconds`` the parent's BENCHMARK.json sets. For
every end-to-end metric of that file it prints each pair's
change/parent ratio, the change's win count (ties count for neither
side), and each side's median and quartiles. A gain holds when the
change wins at least nine tenths of the pairs and the medians differ,
in the metric's better direction, by more than the distance between
the parent's quartiles. Exits 1 when any run failed or missed its
oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def run_side(root: str, workload: str, seed: int, seconds: float) -> dict:
    """One untraced benchmark run in ``root``: its result line, parsed."""
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", f"{seconds:g}", "--trace", "0",
    ]
    proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        result = {"correct": False, "metrics": {}}
    result["exit_code"] = proc.returncode
    if proc.returncode != 0:
        result["stderr_tail"] = proc.stderr.strip().splitlines()[-5:]
    return result


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def compare(pairs: list[tuple[float, float]], better: str) -> dict:
    """Win count and both sides' quartiles for (parent, change) pairs."""
    sign = 1 if better == "lower" else -1
    wins = sum(1 for p, c in pairs if sign * (p - c) > 0)
    parent = quartiles([p for p, _ in pairs])
    change = quartiles([c for _, c in pairs])
    gain = sign * (parent[1] - change[1])
    return {
        "wins": wins,
        "pairs": len(pairs),
        "parent": parent,
        "change": change,
        "holds": wins >= 0.9 * len(pairs) and gain > parent[2] - parent[0],
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    args = ap.parse_args(argv)

    with open(os.path.join(args.parent, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]
    sides = {"parent": args.parent, "change": args.change}

    runs = []
    for i in range(args.pairs):
        seed = args.seeds[i % len(args.seeds)]
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {"pair": i}
        for side in order:
            pair[side] = run_side(sides[side], args.workload, seed, seconds)
        runs.append(pair)
        ok = all(pair[s]["correct"] and pair[s]["exit_code"] == 0 for s in sides)
        vals = " ".join(
            f"{s}.{k}={v['value']:.4g}"
            for s in sides for k, v in pair[s]["metrics"].items()
        )
        print(f"pair {i} seed={seed} first={order[0]} {vals}"
              + ("" if ok else " FAILED"), file=sys.stderr, flush=True)

    failed = [
        (r["pair"], s) for r in runs for s in sides
        if not (r[s]["correct"] and r[s]["exit_code"] == 0)
    ]
    print(f"# workload={args.workload} pairs={args.pairs} seeds={args.seeds} "
          f"seconds={seconds:g} failed_runs={len(failed)}")
    for pair_no, side in failed:
        print(f"# FAILED pair {pair_no} {side}: {runs[pair_no][side].get('stderr_tail')}")
    for name in better:
        pairs = [
            (r["parent"]["metrics"][name]["value"], r["change"]["metrics"][name]["value"])
            for r in runs
            if name in r["parent"]["metrics"] and name in r["change"]["metrics"]
        ]
        if not pairs:
            print(f"{name}: no complete pairs")
            continue
        res = compare(pairs, better[name])
        ratios = " ".join(f"{c / p:.3f}" if p else "inf" for p, c in pairs)
        fmt = "median {1:.4g} (q1 {0:.4g}, q3 {2:.4g})".format
        print(f"{name} ({better[name]} is better)")
        print(f"  change/parent per pair: {ratios}")
        print(f"  parent {fmt(*res['parent'])}")
        print(f"  change {fmt(*res['change'])}")
        print(f"  change wins {res['wins']}/{res['pairs']}; "
              f"gain {'holds' if res['holds'] else 'does not hold'}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
