"""Turn one run's records (and, for traced runs, its spans) into the
benchmark's metrics and verdict.

The JVM side only measures and records; every metric and every output check
is derived here, so the rules are plain functions that the tests in
test_bench.py exercise without starting Spark.
"""

import statistics

# Per-layer metric prefixes each workload measures. A listed metric whose
# prefix applies to the workload must have been measured, or the traced run
# fails; the others are reported as 0 (the layer did no work there).
APPLIES = {
    "crawl_rounds": ("plans.", "sources.", "operators.seen.", "functions.", "spark."),
    "operator_queries": ("operators.graph.", "query_s.", "queries.", "spark."),
}

GRAPH_QUERIES = ("q_dedup_clusters", "q_dedup_clusters_stars", "q_pagerank")

# Workloads whose inputs are generated from the seed, so their goldens are
# kept per seed; operator_queries reads fixed tables and has one golden.
SEEDED = ("crawl_rounds",)

# commit call sites CrawlRound tags its write jobs with: "commit:<name> r<N>"
COMMIT_TABLES = {"frontier": "frontier", "seen": "url_seen", "host_state": "host_state",
                 "fetch_log": "fetch_log"}

COUNTERS = ("admitted", "fetched200", "candidates", "new_urls", "dedup_dropped")

MB = 1048576.0


class MissingMetric(Exception):
    """A per-layer metric that applies to the workload was not measured."""


def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def of_kind(records, kind):
    return [r for r in records if r.get("kind") == kind]


def checks_by_name(records):
    return {r["name"]: r for r in of_kind(records, "check")}


def golden_for(goldens, workload, seed):
    """The golden entry a run is checked against, or None."""
    g = goldens.get(workload, {})
    return g.get(str(seed)) if workload in SEEDED else (g or None)


# ---------------------------------------------------------------- units ----

def run_s(op):
    """An operation's wall time less the time the hypervisor took from it.

    `steal_s` is CPU time this guest's runnable vCPUs spent waiting for the
    host; spread over the operation's average number of busy threads
    (`cpu_s / wall_s`, at least 1) it is the wall the operation lost to
    other guests. On a shared host those episodes come and go within
    minutes, and without this correction they swing timings by 30-40%."""
    wall = op["wall_s"]
    busy = max(op.get("cpu_s", 0.0) / wall, 1.0) if wall > 0 else 1.0
    return max(wall - op.get("steal_s", 0.0) / busy, 0.0)


def units(records, workload):
    """The measured unit operations of a workload as (t0_ms, t1_ms, run_s,
    items, [ops]) tuples: a crawl round or a query pass. Units holding a
    failed operation are left out of every timing."""
    ops = [r for r in of_kind(records, "op") if r.get("measured")]
    if workload == "operator_queries":
        passes = {}
        for r in ops:
            passes.setdefault(r["pass"], []).append(r)
        groups = [passes[p] for p in sorted(passes)]
    else:
        groups = [[r] for r in ops]
    out = []
    for g in groups:
        if all(r["ok"] for r in g):
            out.append((min(r["t0_ms"] for r in g), max(r["t1_ms"] for r in g),
                        sum(run_s(r) for r in g), sum(r["items"] for r in g), g))
    return out


# ---------------------------------------------------------- end to end ----

def end_to_end(records, workload):
    setup_s = sum(r["s"] for r in of_kind(records, "setup"))
    us = units(records, workload)
    checks = checks_by_name(records)
    disk = checks.get("state_mb" if workload == "crawl_rounds" else "write_mb_per_pass")
    return {
        "setup_s": setup_s,
        "items_per_s": sum(u[3] for u in us) / sum(u[2] for u in us) if us else 0.0,
        "op_s_p50": median([u[2] for u in us]),
        "disk_mb": disk["value"] if disk else 0.0,
    }


def sample_counts(records, workload):
    return {"units": len(units(records, workload))}


# -------------------------------------------------------------- checks ----

def check_outputs(records, workload, golden):
    """Output checks as a list of (name, ok, detail). `golden` is this
    workload's golden entry for the run's seed, or None for a seed without
    goldens (the seed-independent checks still run)."""
    ops = of_kind(records, "op")
    checks = checks_by_name(records)
    out = []

    def expect(name, got, want):
        out.append((name, got == want, f"got {got!r}, want {want!r}"))

    if workload == "crawl_rounds":
        rounds = {r["id"]: r for r in ops if r["name"] == "round" and r["ok"]}
        window = [r for r in rounds.values() if r["measured"]]
        out.append(("window_crosses_compaction",
                    any(r["frontier_compacted"] or r["seen_compacted"] for r in window),
                    "no measured round compacted the frontier or the seen set"))
        for rid in sorted(rounds):
            g = golden and golden["rounds"].get(str(rid))
            if g is not None:
                expect(f"round{rid}.counters", [rounds[rid][k] for k in COUNTERS], g)
        for name in ("frontier_digest", "seen_digest"):
            if golden and name in checks:
                expect(name, checks[name]["value"], golden[name])
        if "frontier_minus_seen" in checks:
            expect("frontier_subset_of_seen", checks["frontier_minus_seen"]["value"], 0)
        if "seen_rows" in checks and "seed_rows" in checks:
            last = checks["seen_rows"]["round"]
            contiguous = sorted(rounds) == list(range(1, last + 1))
            want = checks["seed_rows"]["value"] + sum(
                rounds[r]["new_urls"] for r in rounds if r <= last)
            expect("seen_rows_eq_seeds_plus_new",
                   checks["seen_rows"]["value"] if contiguous else None, want)
        # traced runs only: the expandOnce reps over the same corpus
        rows = sorted({r["rows"] for r in ops if r["name"] == "expand" and r["ok"]})
        if "expand_digest" in checks:
            d = checks["expand_digest"]["value"]
            expect("expand_rows_eq_digest_rows", rows, [int(d.split(":")[0])])
            if golden and "expand_digest" in golden:
                expect("expand_digest", d, golden["expand_digest"])
    elif workload == "operator_queries":
        digests = {}
        for r in ops:
            if r["name"] in ("query", "query_full") and r["ok"]:
                digests.setdefault(r["query"], set()).add(r["digest"])
        for q in sorted(digests):
            ds = sorted(digests[q])
            out.append((f"{q}.stable", len(ds) == 1, f"digests {ds}"))
            if golden and q in golden:
                expect(f"{q}.digest", ds[0] if len(ds) == 1 else ds, golden[q])
    return out


def required_checks(workload):
    """Checks a complete run must produce; a missing one is a failed check."""
    return {
        "crawl_rounds": ("frontier_minus_seen", "seen_rows", "seed_rows", "state_mb",
                         "frontier_digest", "seen_digest"),
        "operator_queries": ("write_mb_per_pass",),
    }[workload]


# ----------------------------------------------------------- per layer ----

def union_s(intervals, lo, hi):
    """Seconds covered by the union of [a, b] ms intervals clipped to
    [lo, hi]."""
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total / 1000.0


def jobs_in(jobs, t0, t1):
    return [j for j in jobs if t0 <= j["t0"] <= t1 and j["t1"] >= 0]


def commit_table(job):
    site = job["site"]
    if not site.startswith("commit:"):
        return None
    return COMMIT_TABLES.get(site[len("commit:"):].split(" ")[0])


def round_phases(op, jobs):
    """Split one round's wall into admit / writes / stats / other.

    Jobs before the round's first `commit:` job are admit, the `commit:`
    jobs (and anything started while they run) are writes, jobs after the
    last commit job are stats; other is the rest of the wall (driver work
    between jobs). Intervals are clipped to the round's window, so the four
    parts sum to the wall exactly."""
    lo = op["t0_ms"]
    hi = lo + op["wall_s"] * 1000.0
    js = jobs_in(jobs, op["t0_ms"], op["t1_ms"])
    commits = [j for j in js if commit_table(j)]
    if commits:
        w0 = min(j["t0"] for j in commits)
        w1 = max(j["t1"] for j in commits)
    else:
        w0 = w1 = hi
    admit = [j for j in js if j["t0"] < w0 and not commit_table(j)]
    stats = [j for j in js if j["t0"] >= w1 and not commit_table(j)]
    phase = {
        "admit": union_s([(j["t0"], min(j["t1"], w0)) for j in admit], lo, hi),
        "writes": union_s([(w0, w1)], lo, hi) if commits else 0.0,
        "stats": union_s([(j["t0"], j["t1"]) for j in stats], max(lo, w1), hi),
    }
    phase["other"] = op["wall_s"] - sum(phase.values())
    by_table = {}
    for j in commits:
        by_table.setdefault(commit_table(j), []).append((j["t0"], j["t1"]))
    return phase, {t: union_s(iv, lo, hi) for t, iv in by_table.items()}, admit


def stages_of(jobs, stages):
    ids = {s for j in jobs for s in j["stages"]}
    return [s for s in stages if s["id"] in ids]


def spark_layer(us, jobs, stages, cores):
    n = len(us)
    ops = [o for u in us for o in u[4]]
    wall = sum(o["wall_s"] for o in ops)
    ujobs = [jobs_in(jobs, u[0], u[1]) for u in us]
    alljobs = [j for js in ujobs for j in js]
    st = stages_of(alljobs, stages)
    covered = sum(union_s([(j["t0"], j["t1"]) for j in js], u[0], u[1]) for u, js in zip(us, ujobs))
    return {
        "spark.jobs": len(alljobs) / n,
        "spark.stages": len(st) / n,
        "spark.tasks": sum(s["tasks"] for s in st) / n,
        "spark.driver_gap_s": max(0.0, wall - covered) / n,
        "spark.busy_share": sum(s["run_ms"] for s in st) / 1000.0 / (wall * cores),
        "spark.shuffle_write_mb": sum(s["shuffle_write"] for s in st) / MB / n,
        "spark.shuffle_read_mb": sum(s["shuffle_read"] for s in st) / MB / n,
        "spark.spill_mb": sum(s["spill"] for s in st) / MB / n,
        "spark.gc_s": sum(o["d_gc_ms"] for o in ops) / 1000.0 / n,
        "spark.codegen_compiles": sum(o["d_codegen_compiles"] for o in ops) / n,
        "spark.codegen_s": sum(o["d_codegen_ms"] for o in ops) / 1000.0 / n,
        "spark.steal_s": sum(o["steal_s"] for o in ops) / n,
    }


def crawl_layers(records, us, jobs, stages):
    ops = [u[4][0] for u in us]
    m = {}
    phases, tables, scan_tasks, njobs = [], [], [], []
    for op in ops:
        p, t, admit = round_phases(op, jobs)
        phases.append(p)
        tables.append(t)
        scan_tasks.append(sum(s["tasks"] for s in stages_of(admit, stages)))
        njobs.append(len(jobs_in(jobs, op["t0_ms"], op["t1_ms"])))
    for k in ("admit", "writes", "stats", "other"):
        m[f"plans.{k}_s"] = mean([p[k] for p in phases])
    m["plans.round_s"] = mean([op["wall_s"] for op in ops])
    m["plans.jobs_per_round"] = mean(njobs)
    m["plans.admitted"] = mean([op["admitted"] for op in ops])
    m["plans.candidates"] = mean([op["candidates"] for op in ops])
    cand = sum(op["candidates"] for op in ops)
    adm = sum(op["admitted"] for op in ops)
    m["plans.new_ratio"] = sum(op["new_urls"] for op in ops) / cand if cand else 0.0
    m["plans.fetch_hit_ratio"] = sum(op["fetched200"] for op in ops) / adm if adm else 0.0
    for t in COMMIT_TABLES.values():
        m[f"sources.commit_s.{t}"] = mean([x.get(t, 0.0) for x in tables])
    rounds = {r["id"]: r for r in of_kind(records, "op") if r["name"] == "round" and r["ok"]}
    deltas = [(rounds[op["id"]]["state_bytes"] - rounds[op["id"] - 1]["state_bytes"],
               rounds[op["id"]]["state_files"] - rounds[op["id"] - 1]["state_files"])
              for op in ops if op["id"] - 1 in rounds]
    if deltas:
        m["sources.write_mb_per_round"] = mean([d[0] for d in deltas]) / MB
        m["sources.files_per_round"] = mean([d[1] for d in deltas])
    m["sources.frontier_chain_len"] = max(op["frontier_chain_len"] for op in ops)
    m["sources.admit_scan_tasks"] = mean(scan_tasks)
    expand = [r for r in of_kind(records, "op")
              if r["name"] == "expand" and r["ok"] and r["id"] > 2]
    if expand:
        m["plans.expand_urls_per_s"] = expand[0]["items"] / median([r["wall_s"] for r in expand])
    m["sources.compactions"] = sum(int(op["frontier_compacted"]) + int(op["seen_compacted"])
                                   for op in ops)
    return m


def query_layers(records, jobs):
    ops = [r for r in of_kind(records, "op") if r["ok"] and (
        (r["name"] == "query" and r["measured"]) or (r["name"] == "query_full" and r["pass"] == 1))]
    by_q = {}
    for r in ops:
        by_q.setdefault(r["query"], []).append(r)
    m = {f"query_s.{q}": median([r["wall_s"] for r in rs]) for q, rs in by_q.items()}
    m["queries.graph_s"] = sum(m[f"query_s.{q}"] for q in GRAPH_QUERIES if f"query_s.{q}" in m)
    m["queries.other_s"] = sum(v for k, v in m.items()
                               if k.startswith("query_s.") and k[len("query_s."):] not in GRAPH_QUERIES)
    for q in GRAPH_QUERIES:
        rs = [r for r in by_q.get(q, []) if r["name"] == "query"]
        if not rs:
            continue
        js = [jobs_in(jobs, r["t0_ms"], r["t1_ms"]) for r in rs]
        m[f"operators.graph.jobs.{q}"] = median([len(j) for j in js])
        m[f"operators.graph.driver_gap_s.{q}"] = median([
            max(0.0, r["wall_s"] - union_s([(x["t0"], x["t1"]) for x in j], r["t0_ms"], r["t1_ms"]))
            for r, j in zip(rs, js)])
        m[f"operators.graph.codegen_compiles.{q}"] = median([r["d_codegen_compiles"] for r in rs])
    return m


def per_layer(records, spans, workload, names):
    """Every listed per-layer metric for a traced run; raises MissingMetric
    when one that applies to this workload was not measured."""
    jobs, stages = spans["jobs"], spans["stages"]
    cores = of_kind(records, "config")[0]["cores"]
    us = units(records, workload)
    measured = {}
    if us:
        measured.update(spark_layer(us, jobs, stages, cores))
        if workload == "crawl_rounds":
            measured.update(crawl_layers(records, us, jobs, stages))
    if workload == "operator_queries":
        measured.update(query_layers(records, jobs))
    for r in of_kind(records, "window_end"):
        measured["spark.heap_retained_mb"] = r["heap_retained_mb"]
    for r in of_kind(records, "layer"):
        measured[r["name"]] = r["value"]
    out = {}
    missing = []
    for name in names:
        if name in measured:
            out[name] = float(measured[name])
        elif name.startswith(APPLIES[workload]):
            missing.append(name)
        else:
            out[name] = 0.0
    if missing:
        raise MissingMetric(f"{workload}: not measured: {', '.join(missing)}")
    return out


# ------------------------------------------------------------- verdict ----

def evaluate(records, spans, bench, golden, workload, trace):
    """The result object run.py prints: correct / attempted / failed and the
    end-to-end (trace 0) or per-layer (trace 1) metrics with their units."""
    ops = of_kind(records, "op")
    results = check_outputs(records, workload, golden)
    present = checks_by_name(records)
    results += [(f"present.{c}", c in present, "missing") for c in required_checks(workload)]
    if not of_kind(records, "summary"):
        results.append(("summary", False, "run did not finish"))
    attempted = len(ops) + len(results)
    failed = sum(1 for r in ops if not r["ok"]) + sum(1 for r in results if not r[1])
    if trace:
        values = per_layer(records, spans, workload, [m["name"] for m in bench["per_layer"]])
        spec = bench["per_layer"]
    else:
        values = end_to_end(records, workload)
        spec = bench["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}, results
