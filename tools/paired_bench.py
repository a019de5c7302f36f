#!/usr/bin/env python3
"""Paired, alternating crawlbench runs in two checkouts.

Usage: paired_bench.py <dirA> <dirB> --workload W [--seeds 1,2] [--pairs N]
                       [--trace 0|1] [--dry-run]

Each pair runs `python3 crawlbench/run.py` once in each checkout, one after
the other, per seed. The checkout that goes first alternates from pair to
pair (A B, B A, A B, ...), so a host that drifts faster or slower over the
session does not favour either side. Every run's metrics, `correct`,
`failed` and `attempted` are printed as it finishes. At the end, per seed
and metric, over the pairs where both runs finished: each side's Q1, median
and Q3, how many pairs B won, tied and lost, and a `claim met` line. A
metric's better direction is read from BENCHMARK.json (`end_to_end`, then
`per_layer`). A claim is met when there are at least 10 pairs, B wins at
least nine tenths of them (ties count for neither side), and the medians
differ in B's favour by more than A's interquartile range. `--dry-run`
prints the run order and starts nothing.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_PAIRS = 10
WIN_SHARE = 0.9


def plan(seeds, pairs):
    """The run order: (pair, seed, side) with side 0 = A, 1 = B."""
    order = []
    for p in range(pairs):
        for seed in seeds:
            sides = (0, 1) if p % 2 == 0 else (1, 0)
            order.extend((p, seed, s) for s in sides)
    return order


def directions(path=os.path.join(ROOT, "BENCHMARK.json")):
    """Metric name -> "lower" or "higher", as BENCHMARK.json declares it."""
    with open(path) as fh:
        bench = json.load(fh)
    out = {m["name"]: m["better"] for m in bench.get("per_layer", [])}
    out.update({m["name"]: m["better"] for m in bench["end_to_end"]})
    return out


def quartiles(xs):
    """(Q1, median, Q3) of the samples, quartiles by the inclusive method."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(pairs, better):
    """One metric's paired samples [(a, b), ...] against the claim rule.

    `better` is "lower", "higher" or None (no declared direction: no wins
    are counted and no claim can be met)."""
    a = [x for x, _ in pairs]
    b = [y for _, y in pairs]
    qa, qb = quartiles(a), quartiles(b)
    ties = sum(1 for x, y in pairs if x == y)
    if better == "lower":
        wins = sum(1 for x, y in pairs if y < x)
        shift = qa[1] - qb[1]
    elif better == "higher":
        wins = sum(1 for x, y in pairs if y > x)
        shift = qb[1] - qa[1]
    else:
        wins, shift = None, None
    iqr_a = qa[2] - qa[0]
    met = (wins is not None and len(pairs) >= MIN_PAIRS
           and wins >= WIN_SHARE * len(pairs) and shift > iqr_a)
    return {"n": len(pairs), "a": qa, "b": qb, "wins": wins, "ties": ties,
            "losses": None if wins is None else len(pairs) - wins - ties,
            "shift": shift, "iqr_a": iqr_a, "claim_met": met}


def report(seed, metric, better, r):
    """The summary lines of one (seed, metric)."""
    fmt = "/".join(["{:.6g}"] * 3)
    lines = [f"{metric} [{better or '-'}] seed {seed} n={r['n']}: "
             f"A q1/med/q3={fmt.format(*r['a'])} B q1/med/q3={fmt.format(*r['b'])}"]
    if r["wins"] is None:
        lines.append(f"claim met {metric} seed {seed}: no (no declared direction)")
        return lines
    lines[0] += (f" B/A={r['b'][1] / r['a'][1]:.3f}" if r["a"][1] else "") + \
        f" B won {r['wins']} tied {r['ties']} lost {r['losses']}"
    why = (f"B won {r['wins']}/{r['n']} pairs (need {WIN_SHARE:.0%} of >= {MIN_PAIRS}), "
           f"median shift {r['shift']:.6g} vs A IQR {r['iqr_a']:.6g}")
    lines.append(f"claim met {metric} seed {seed}: {'yes' if r['claim_met'] else 'no'} ({why})")
    return lines


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

    better = directions()
    samples = {}  # (seed, side) -> {pair: metrics dict}
    for p, seed, s in order:
        result, err = run_one(dirs[s], args.workload, seed, args.trace)
        head = f"pair {p + 1} seed {seed} {names[s]}"
        if result is None:
            print(f"{head}: RUN FAILED {err}", flush=True)
            continue
        values = {k: m["value"] for k, m in result["metrics"].items()}
        samples.setdefault((seed, s), {})[p] = values
        body = " ".join(f"{k}={v:.6g}" for k, v in values.items())
        print(f"{head}: correct={result['correct']} failed={result['failed']} "
              f"attempted={result['attempted']} {body}", flush=True)

    for seed in seeds:
        a, b = samples.get((seed, 0), {}), samples.get((seed, 1), {})
        both = sorted(set(a) & set(b))
        print(f"# seed {seed}: {len(both)} complete pairs (A ran {len(a)}, B ran {len(b)})")
        for k in sorted({k for p in both for k in a[p]} & {k for p in both for k in b[p]}):
            pairs = [(a[p][k], b[p][k]) for p in both if k in a[p] and k in b[p]]
            for line in report(seed, k, better.get(k), summarize(pairs, better.get(k))):
                print(line)

if __name__ == "__main__":
    main()
