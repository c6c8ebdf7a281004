"""Paired A/B of one benchmark workload between two checkouts.

Usage: python tools/ab_pairs.py --parent DIR --change DIR --workload W
       --pairs N --seeds 7 11 13 [--trace]

Each pair runs ``perfbench/run.py --trace 0`` once in each checkout on
the pair's seed (the seeds are cycled), alternating which side runs
first, for the ``run_seconds`` the parent's BENCHMARK.json sets. For
every end-to-end metric of that file it prints each pair's
change/parent ratio, the change's win count (ties count for neither
side), and each side's median and quartiles. A gain holds when the
change wins at least nine tenths of the pairs and the medians differ,
in the metric's better direction, by more than the distance between
the parent's quartiles. With ``--trace`` every pair also runs
``perfbench/run.py --trace 1`` once in each checkout, in the same
order, and the same rule is applied to every per-layer metric of the
parent's BENCHMARK.json in its own better direction: one traced run
per side is too noisy to show a layer change smaller than about 40%.
Exits 1 when any run failed or missed its oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def run_side(
    root: str, workload: str, seed: int, seconds: float, trace: bool = False
) -> dict:
    """One benchmark run in ``root``: its result line, parsed."""
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", f"{seconds:g}",
        "--trace", "1" if trace else "0",
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


def selected_metrics(bench: dict, trace: bool) -> dict[str, tuple[bool, str]]:
    """The metrics to compare, each mapped to (read from the traced
    runs, better direction): every end-to-end metric of the untraced
    runs, plus every per-layer metric of the traced runs with
    ``trace``."""
    out = {m["name"]: (False, m["better"]) for m in bench["end_to_end"]}
    if trace:
        out.update({m["name"]: (True, m["better"]) for m in bench["per_layer"]})
    return out


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
    ap.add_argument("--trace", action="store_true",
                    help="also compare the per-layer metrics of traced runs")
    args = ap.parse_args(argv)

    with open(os.path.join(args.parent, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    metrics = selected_metrics(bench, args.trace)
    seconds = bench["run_seconds"]
    sides = {"parent": args.parent, "change": args.change}
    kinds = (False, True) if args.trace else (False,)

    runs = []
    for i in range(args.pairs):
        seed = args.seeds[i % len(args.seeds)]
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {}
        for traced in kinds:
            for side in order:
                pair[side, traced] = run_side(
                    sides[side], args.workload, seed, seconds, traced
                )
        runs.append(pair)
        ok = all(r["correct"] and r["exit_code"] == 0 for r in pair.values())
        vals = " ".join(
            f"{s}.{k}={v['value']:.4g}"
            for s in sides for k, v in pair[s, False]["metrics"].items()
        )
        print(f"pair {i} seed={seed} first={order[0]} {vals}"
              + ("" if ok else " FAILED"), file=sys.stderr, flush=True)

    failed = [
        (i, k) for i, pair in enumerate(runs) for k, r in pair.items()
        if not (r["correct"] and r["exit_code"] == 0)
    ]
    print(f"# workload={args.workload} pairs={args.pairs} seeds={args.seeds} "
          f"seconds={seconds:g} trace={args.trace} failed_runs={len(failed)}")
    for pair_no, (side, traced) in failed:
        print(f"# FAILED pair {pair_no} {side}{' traced' if traced else ''}: "
              f"{runs[pair_no][side, traced].get('stderr_tail')}")
    for name, (traced, better) in metrics.items():
        pairs = [
            (p["metrics"][name]["value"], c["metrics"][name]["value"])
            for p, c in ((r["parent", traced], r["change", traced]) for r in runs)
            if name in p["metrics"] and name in c["metrics"]
        ]
        if not pairs:
            print(f"{name}: no complete pairs")
            continue
        res = compare(pairs, better)
        ratios = " ".join(f"{c / p:.3f}" if p else "inf" for p, c in pairs)
        fmt = "median {1:.4g} (q1 {0:.4g}, q3 {2:.4g})".format
        print(f"{name} ({better} is better)")
        print(f"  change/parent per pair: {ratios}")
        print(f"  parent {fmt(*res['parent'])}")
        print(f"  change {fmt(*res['change'])}")
        print(f"  change wins {res['wins']}/{res['pairs']}; "
              f"gain {'holds' if res['holds'] else 'does not hold'}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
