#!/usr/bin/env python3
"""Paired, alternating crawlbench runs in two checkouts.

Usage: paired_bench.py <dirA> <dirB> --workload W [--seeds 1,2] [--pairs N]
                       [--trace 0|1] [--dry-run]

Each pair runs `python3 crawlbench/run.py` once in each checkout, one after
the other, per seed. The checkout that goes first alternates from pair to
pair (A B, B A, A B, ...), so a host that drifts faster or slower over the
session does not favour either side. Every run's metrics, `correct`,
`failed` and `attempted` are printed as it finishes; the per-checkout
medians per seed follow at the end. `--dry-run` prints the run order and
starts nothing.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys


def plan(seeds, pairs):
    """The run order: (pair, seed, side) with side 0 = A, 1 = B."""
    order = []
    for p in range(pairs):
        for seed in seeds:
            sides = (0, 1) if p % 2 == 0 else (1, 0)
            order.extend((p, seed, s) for s in sides)
    return order


def run_one(checkout, workload, seed, trace):
    cmd = [sys.executable, "crawlbench/run.py", "--workload", workload,
           "--seed", str(seed), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1]), None
    except (IndexError, json.JSONDecodeError):
        return None, f"exit {proc.returncode}: {(proc.stderr or proc.stdout)[-1500:]}"


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("dir_a")
    ap.add_argument("dir_b")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1", help="comma-separated, e.g. 1,2")
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--dry-run", action="store_true")
    args = ap.parse_args(argv)
    dirs = [os.path.abspath(args.dir_a), os.path.abspath(args.dir_b)]
    seeds = [int(s) for s in args.seeds.split(",")]
    names = "AB"

    for d in dirs:
        if not os.path.isfile(os.path.join(d, "crawlbench", "run.py")):
            sys.exit(f"[paired_bench] no crawlbench/run.py under {d}")
    print(f"# A = {dirs[0]}")
    print(f"# B = {dirs[1]}")
    order = plan(seeds, args.pairs)
    if args.dry_run:
        for p, seed, s in order:
            print(f"pair {p + 1} seed {seed} {names[s]}: python3 crawlbench/run.py "
                  f"--workload {args.workload} --seed {seed} --trace {args.trace}")
        return

    samples = {}  # (seed, side) -> [metrics dict]
    for p, seed, s in order:
        result, err = run_one(dirs[s], args.workload, seed, args.trace)
        head = f"pair {p + 1} seed {seed} {names[s]}"
        if result is None:
            print(f"{head}: RUN FAILED {err}", flush=True)
            continue
        values = {k: m["value"] for k, m in result["metrics"].items()}
        samples.setdefault((seed, s), []).append(values)
        body = " ".join(f"{k}={v:.6g}" for k, v in values.items())
        print(f"{head}: correct={result['correct']} failed={result['failed']} "
              f"attempted={result['attempted']} {body}", flush=True)

    for seed in seeds:
        a, b = samples.get((seed, 0), []), samples.get((seed, 1), [])
        print(f"# medians, seed {seed}: A n={len(a)}, B n={len(b)}")
        for k in sorted({k for r in a + b for k in r}):
            ma = statistics.median([r[k] for r in a if k in r]) if a else None
            mb = statistics.median([r[k] for r in b if k in r]) if b else None
            ratio = f"{mb / ma:.3f}" if ma and mb is not None else "-"
            fa = "-" if ma is None else f"{ma:.6g}"
            fb = "-" if mb is None else f"{mb:.6g}"
            print(f"{k} A={fa} B={fb} B/A={ratio}")


if __name__ == "__main__":
    main()
