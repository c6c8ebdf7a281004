"""Paired cold sweep of the bench.py headline keys between two checkouts.

Usage: python tools/ab_keys.py --parent DIR --change DIR --sf-dir DIR
       [--passes N] [--keys K ...]

Each pass runs one sweep per checkout, each in its own Python process
and JVM, alternating which side runs first. A sweep times every key of
``bench.HEADLINE`` that is a registry query (or the ``--keys`` given)
cold: before each key it calls ``caching.release_caches()`` and
``spark.catalog.clearCache()``, then times construction plus a write to
the noop sink, so every tier the key reads is rebuilt inside its time.
It prints, per key, each side's median over the passes, the
change/parent ratio of the medians and the number of passes the change
was faster in, then the summed medians.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def sweep(sf_dir: str, keys: list[str]) -> dict[str, float]:
    """Cold seconds per key, in the checkout at the working directory."""
    sys.path.insert(0, os.getcwd())
    from bench import HEADLINE
    from big_data_project_spark.caching import release_caches
    from big_data_project_spark.registry import QUERIES
    from big_data_project_spark.session import get_spark

    spark = get_spark("ab_keys")
    out = {}
    try:
        spark.range(1).write.format("noop").mode("overwrite").save()  # JVM warm-up
        for name in keys or [k for k in HEADLINE if k in QUERIES]:
            release_caches()
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            out[name] = time.perf_counter() - t0
    finally:
        release_caches()
        spark.stop()
    return out


def run_side(root: str, sf_dir: str, keys: list[str]) -> dict[str, float]:
    cmd = [sys.executable, os.path.abspath(__file__), "--sweep", "--sf-dir", sf_dir]
    if keys:
        cmd += ["--keys", *keys]
    proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    if proc.returncode != 0:
        raise SystemExit(f"sweep in {root} failed:\n{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--keys", nargs="+", default=[])
    ap.add_argument("--sweep", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.sweep:
        print(json.dumps(sweep(args.sf_dir, args.keys)))
        return 0
    if not (args.parent and args.change):
        ap.error("--parent and --change are required")

    sides = {"parent": args.parent, "change": args.change}
    runs: dict[str, list[dict[str, float]]] = {"parent": [], "change": []}
    for i in range(args.passes):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            runs[side].append(run_side(sides[side], args.sf_dir, args.keys))
        print(f"pass {i} first={order[0]} done", file=sys.stderr, flush=True)

    keys = [k for k in runs["parent"][0] if k in runs["change"][0]]
    med = {
        side: {k: statistics.median(r[k] for r in runs[side]) for k in keys}
        for side in sides
    }
    print(f"# sf_dir={args.sf_dir} passes={args.passes} keys={len(keys)}")
    print(f"{'key':<32} {'parent_s':>9} {'change_s':>9} {'ratio':>6} wins")
    for k in keys:
        p, c = med["parent"][k], med["change"][k]
        wins = sum(rc[k] < rp[k] for rp, rc in zip(runs["parent"], runs["change"]))
        print(f"{k:<32} {p:9.3f} {c:9.3f} {c / p if p else float('inf'):6.2f} "
              f"{wins}/{args.passes}")
    tp, tc = sum(med["parent"].values()), sum(med["change"].values())
    print(f"{'TOTAL':<32} {tp:9.3f} {tc:9.3f} {tc / tp if tp else float('inf'):6.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
