"""Crawl-engine benchmark: one workload, one seed, one run.

    python3 crawlbench/run.py --workload crawl_rounds --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source if needed (build.py), runs
the workload in one JVM at local[<cores>], checks the outputs, and prints
every metric by name and unit; the last line of stdout is the result JSON.
--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 runs
with the benchmark's Spark listener and reports the per-layer metrics.
Each finished operation is recorded in .bench_build/records/ as it ends,
so a killed run still leaves its records. The JVM runs in this process's
process group and exits when this process dies (its stdin closes).
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import metrics  # noqa: E402

HERE = build.HERE
ROOT = build.ROOT
STATE = os.path.join(ROOT, ".bench_build")
GOLDENS = os.path.join(HERE, "goldens.json")
DATA = os.path.join(HERE, "data", "sf0.001")
JVM_TIMEOUT_S = 160

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

_child = None


def heap():
    """Half the machine's memory in GiB, clamped to [2, 8], as the test
    suite sizes its JVM."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def alive(pid):
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True


def owners(work):
    """Pids that may own a work dir: the run.py that named it and the JVM
    that recorded itself in it."""
    pids = [os.path.basename(work).split("-")[0]]
    try:
        with open(os.path.join(work, "jvm.pid")) as fh:
            pids.append(fh.read().strip())
    except OSError:
        pass
    return [int(p) for p in pids if p.isdigit()]


def sweep_stale_work():
    """Delete work dirs that no live process owns (a run killed together
    with its JVM by SIGKILL cannot clean up after itself)."""
    base = os.path.join(STATE, "work")
    for name in os.listdir(base) if os.path.isdir(base) else []:
        work = os.path.join(base, name)
        if not any(alive(p) for p in owners(work)):
            shutil.rmtree(work, ignore_errors=True)


def stop_child():
    """Stop the JVM (SIGTERM, so its shutdown hook deletes its work dir;
    SIGKILL after 15 s) and wait until it has ended."""
    p = _child
    if p is None or p.poll() is not None:
        return
    p.terminate()
    try:
        p.wait(timeout=15)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()


def on_signal(signum, _frame):
    stop_child()
    raise SystemExit(128 + signum)


def load_records(path):
    out = []
    if os.path.exists(path):
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    try:
                        out.append(json.loads(line))
                    except json.JSONDecodeError:
                        break  # a line cut short by a kill
    return out


def load_json(path, default):
    if not os.path.exists(path):
        return default
    with open(path) as fh:
        return json.load(fh)


def run_jvm(args, classes, jars, paths):
    global _child
    work, records, spans, log = paths
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(os.path.dirname(records), exist_ok=True)
    cmd = [build.java()]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{heap()}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false",
            "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}", "crawlbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--data", DATA, "--records", records, "--spans", spans]
    with open(log, "w") as logfh:
        # stdin stays an open pipe that nothing writes: the JVM exits when it closes
        _child = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=logfh,
                                  stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            return _child.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"[crawlbench] JVM exceeded {JVM_TIMEOUT_S} s; stopping it", file=sys.stderr)
            return None
        finally:
            stop_child()
            _child.stdin.close()
            shutil.rmtree(work, ignore_errors=True)


def write_golden(workload, seed, records, results):
    """Record this run's outputs as the golden for (workload, seed), or for
    the workload if its inputs do not depend on the seed. Only a run whose
    seed-independent checks all pass may become a golden."""
    bad = [r for r in results if not r[1]]
    if bad or any(not r["ok"] for r in metrics.of_kind(records, "op")):
        raise SystemExit(f"[crawlbench] not writing a golden from a failing run: {bad}")
    goldens = load_json(GOLDENS, {})
    checks = metrics.checks_by_name(records)
    ops = metrics.of_kind(records, "op")
    if workload == "crawl_rounds":
        entry = {"rounds": {str(r["id"]): [r[k] for k in metrics.COUNTERS]
                            for r in ops if r["name"] == "round"},
                 **{k: checks[k]["value"] for k in ("frontier_digest", "seen_digest", "expand_digest")
                    if k in checks}}
    else:
        entry = {r["query"]: r["digest"] for r in ops if "query" in r}
    if workload in metrics.SEEDED:
        old = goldens.setdefault(workload, {}).get(str(seed), {})
        entry["rounds"] = {**old.get("rounds", {}), **entry["rounds"]}
        goldens[workload][str(seed)] = {**old, **entry}
    else:
        goldens[workload] = {**goldens.get(workload, {}), **entry}
    with open(GOLDENS, "w") as fh:
        json.dump(goldens, fh, indent=1, sort_keys=True)
        fh.write("\n")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-golden", action="store_true",
                    help="store this run's outputs as the golden")
    args = ap.parse_args(argv)

    bench = load_json(os.path.join(ROOT, "BENCHMARK.json"), None)
    if bench is None:
        sys.exit("[crawlbench] BENCHMARK.json not found at the checkout root")
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        sys.exit(f"[crawlbench] unknown workload {args.workload}")
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    try:
        classes = build.build()
        jars = build.spark_jars()
    except build.BuildError as e:
        sys.exit(f"[crawlbench] build failed: {e}")

    sweep_stale_work()
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    work = os.path.join(STATE, "work", f"{os.getpid()}-{time.time_ns()}")
    rec_dir = os.path.join(STATE, "records")
    records_path = os.path.join(rec_dir, run_id + ".jsonl")
    spans_path = os.path.join(rec_dir, run_id + ".spans.json")
    log_path = os.path.join(rec_dir, run_id + ".log")
    rc = run_jvm(args, classes, jars, (work, records_path, spans_path, log_path))
    records = load_records(records_path)
    if rc != 0 or not metrics.of_kind(records, "summary"):
        with open(log_path, errors="replace") as fh:
            tail = fh.read()[-3000:]
        sys.exit(f"[crawlbench] run failed (exit {rc}); records kept in {records_path}\n{tail}")

    golden = None if args.write_golden else \
        metrics.golden_for(load_json(GOLDENS, {}), args.workload, args.seed)
    spans = load_json(spans_path, {"jobs": [], "stages": []})
    try:
        result, results = metrics.evaluate(records, spans, bench, golden, args.workload, args.trace)
    except metrics.MissingMetric as e:
        sys.exit(f"[crawlbench] traced run incomplete: {e}")
    if args.write_golden:
        write_golden(args.workload, args.seed, records, results)

    config = metrics.of_kind(records, "config")[0]
    print(f"# workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"local[{config['cores']}], heap {config['heap_max_mb']:.0f} MB, "
          f"golden {'yes' if golden else 'no'}, samples {metrics.sample_counts(records, args.workload)}")
    for name, ok, detail in results:
        if not ok:
            print(f"# FAILED check {name}: {detail}")
    for r in metrics.of_kind(records, "op"):
        if not r["ok"]:
            print(f"# FAILED op {r['name']} {r['id']}: {r.get('error')}")
    for name, m in result["metrics"].items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
