"""Tests of the benchmark's own rules (no Spark needed):

    python3 crawlbench/test_bench.py
"""

import copy
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402
import run  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)
LAYER_NAMES = [m["name"] for m in BENCH["per_layer"]]


def crawl_run(rounds=(1, 2, 3), measured_from=2):
    """Records and spans of a small traced crawl run: per round, one admit
    job, four overlapping commit jobs and one stats job."""
    records = [{"kind": "config", "cores": 4},
               {"kind": "setup", "part": "session", "s": 5.0},
               {"kind": "setup", "part": "input", "s": 2.0},
               {"kind": "setup", "part": "warmup", "s": 4.0}]
    jobs, stages = [], []
    seen = 100
    for r in rounds:
        t0 = r * 10_000
        records.append({
            "kind": "op", "name": "round", "id": r, "measured": r >= measured_from,
            "t0_ms": t0, "t1_ms": t0 + 6000, "wall_s": 6.0, "ok": True, "items": 50,
            "admitted": 50, "fetched200": 40, "candidates": 200, "new_urls": 150,
            "dedup_dropped": 50, "frontier_compacted": r == 3, "seen_compacted": r == 3,
            "state_bytes": r * 1048576, "state_files": r * 100, "frontier_chain_len": r,
            "d_codegen_compiles": 10, "d_codegen_ms": 500, "d_gc_ms": 100,
            "cpu_s": 12.0, "steal_s": 0.0})
        seen += 150
        site = f" r{r}"
        spec = [("", 100, 1500), ("commit:frontier" + site, 1600, 3000),
                ("commit:seen" + site, 1600, 4200), ("commit:host_state" + site, 1700, 2500),
                ("commit:fetch_log" + site, 1650, 3900), ("", 4300, 4800)]
        for i, (s, a, b) in enumerate(spec):
            jid = len(jobs)
            jobs.append({"id": jid, "site": s, "t0": t0 + a, "t1": t0 + b, "ok": True,
                         "stages": [jid]})
            stages.append({"id": jid, "attempt": 0, "tasks": 4, "t0": t0 + a, "t1": t0 + b,
                           "run_ms": 1000, "gc_ms": 0, "shuffle_write": 1024,
                           "shuffle_read": 1024, "spill": 0, "failed": False})
    last = rounds[-1]
    records += [
        {"kind": "check", "name": "state_mb", "value": 3.0},
        {"kind": "check", "name": "frontier_digest", "value": "10:123", "round": last},
        {"kind": "check", "name": "seen_digest", "value": "20:456", "round": last},
        {"kind": "check", "name": "frontier_minus_seen", "value": 0, "round": last},
        {"kind": "check", "name": "seen_rows", "value": seen, "round": last},
        {"kind": "check", "name": "seed_rows", "value": 100},
        {"kind": "layer", "name": "operators.seen.sidecar_mb", "value": 1.5},
        {"kind": "layer", "name": "functions.extract_links_us_per_page", "value": 30.0},
        {"kind": "layer", "name": "functions.extract_text_us_per_page", "value": 50.0},
        {"kind": "layer", "name": "functions.resolve_canon_us_per_link", "value": 2.0},
        {"kind": "layer", "name": "functions.links_per_page", "value": 20.0},
        {"kind": "op", "name": "expand", "id": 3, "measured": False, "t0_ms": 90_000,
         "t1_ms": 91_000, "wall_s": 1.0, "ok": True, "items": 5000, "rows": 10},
        {"kind": "check", "name": "expand_digest", "value": "10:99"},
        {"kind": "window_end", "heap_retained_mb": 300.0},
        {"kind": "summary", "elapsed_s": 60.0},
    ]
    golden = {"rounds": {str(r): [50, 40, 200, 150, 50] for r in rounds},
              "frontier_digest": "10:123", "seen_digest": "20:456", "expand_digest": "10:99"}
    return records, {"jobs": jobs, "stages": stages}, golden


class CorrectnessChecks(unittest.TestCase):
    def test_golden_run_is_correct(self):
        records, spans, golden = crawl_run()
        result, _ = metrics.evaluate(records, spans, BENCH, golden, "crawl_rounds", 0)
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)

    def test_perturbed_golden_registers_a_failed_op(self):
        records, spans, golden = crawl_run()
        for key, bad in (("seen_digest", "20:457"), ("rounds", None)):
            g = copy.deepcopy(golden)
            if key == "rounds":
                g["rounds"]["2"][3] += 1
            else:
                g[key] = bad
            result, checks = metrics.evaluate(records, spans, BENCH, g, "crawl_rounds", 0)
            self.assertFalse(result["correct"], key)
            self.assertEqual(result["failed"], 1, key)
            self.assertEqual(len([c for c in checks if not c[1]]), 1)

    def test_window_without_a_compaction_fails(self):
        records, spans, golden = crawl_run()
        flat = [dict(r, frontier_compacted=False, seen_compacted=False)
                if r.get("name") == "round" else r for r in records]
        result, checks = metrics.evaluate(flat, spans, BENCH, golden, "crawl_rounds", 0)
        self.assertFalse(result["correct"])
        self.assertEqual([c[0] for c in checks if not c[1]], ["window_crosses_compaction"])

    def test_goldens_per_seed_only_for_seeded_inputs(self):
        goldens = {"crawl_rounds": {"1": {"a": 1}}, "operator_queries": {"q_x": "1:2"}}
        self.assertEqual(metrics.golden_for(goldens, "crawl_rounds", 1), {"a": 1})
        self.assertIsNone(metrics.golden_for(goldens, "crawl_rounds", 3))
        self.assertEqual(metrics.golden_for(goldens, "operator_queries", 3), {"q_x": "1:2"})

    def test_invariants_hold_without_a_golden(self):
        records, spans, _ = crawl_run()
        self.assertTrue(metrics.evaluate(records, spans, BENCH, None, "crawl_rounds", 0)[0]["correct"])
        broken = [dict(r, value=r["value"] + 1) if r.get("name") == "seen_rows" else r
                  for r in records]
        self.assertFalse(metrics.evaluate(broken, spans, BENCH, None, "crawl_rounds", 0)[0]["correct"])

    def test_thrown_query_is_failed_not_fast(self):
        def q(name, p, ok, wall, digest="1:1"):
            return {"kind": "op", "name": "query", "id": f"{name}#{p}", "measured": p > 0,
                    "t0_ms": p * 100_000, "t1_ms": p * 100_000 + int(wall * 1000), "wall_s": wall,
                    "ok": ok, "items": 1 if ok else 0, "query": name, "pass": p, "digest": digest}
        records = [{"kind": "config", "cores": 4},
                   {"kind": "check", "name": "write_mb_per_pass", "value": 1.0},
                   {"kind": "window_end", "heap_retained_mb": 100.0},
                   {"kind": "summary"},
                   q("q_a", 0, True, 1.0), q("q_b", 0, True, 1.0),
                   q("q_a", 1, True, 1.0), q("q_b", 1, True, 2.0),
                   q("q_a", 2, True, 1.0), q("q_b", 2, False, 0.01)]
        result, _ = metrics.evaluate(records, None, BENCH, None, "operator_queries", 0)
        self.assertFalse(result["correct"])
        self.assertEqual(result["failed"], 1)
        # the pass holding the failed query is left out of the timing
        self.assertEqual(result["metrics"]["op_s_p50"]["value"], 3.0)
        changed = records[:-1] + [q("q_b", 2, True, 2.0, digest="1:2")]
        self.assertFalse(metrics.evaluate(changed, None, BENCH, None, "operator_queries", 0)[0]["correct"])


class Metrics(unittest.TestCase):
    def test_end_to_end_definitions(self):
        records, spans, golden = crawl_run()
        m = metrics.evaluate(records, spans, BENCH, golden, "crawl_rounds", 0)[0]["metrics"]
        self.assertEqual(set(m), {x["name"] for x in BENCH["end_to_end"]})
        self.assertEqual(m["setup_s"]["value"], 5.0 + 2.0 + 4.0)
        self.assertEqual(m["items_per_s"]["value"], 100 / 12.0)
        self.assertEqual(m["op_s_p50"]["value"], 6.0)

    def test_phases_sum_to_round_wall(self):
        records, spans, _ = crawl_run()
        for op in [r for r in records if r.get("name") == "round"]:
            phase, tables, _ = metrics.round_phases(op, spans["jobs"])
            self.assertAlmostEqual(sum(phase.values()), op["wall_s"], places=9)
            self.assertEqual((phase["admit"], phase["writes"], phase["stats"]), (1.4, 2.6, 0.5))
            self.assertEqual(tables["url_seen"], 2.6)
        m = metrics.evaluate(records, spans, BENCH, None, "crawl_rounds", 1)[0]["metrics"]
        parts = sum(m[f"plans.{k}_s"]["value"] for k in ("admit", "writes", "stats", "other"))
        self.assertAlmostEqual(parts, m["plans.round_s"]["value"], places=9)

    def test_unmeasured_layer_metric_fails_the_traced_run(self):
        records, spans, _ = crawl_run()
        m = metrics.evaluate(records, spans, BENCH, None, "crawl_rounds", 1)[0]["metrics"]
        self.assertEqual(set(m), set(LAYER_NAMES))
        self.assertEqual(m["query_s.q_pagerank"]["value"], 0.0)  # not a crawl layer
        dropped = [r for r in records if r.get("name") != "functions.links_per_page"]
        with self.assertRaises(metrics.MissingMetric):
            metrics.evaluate(dropped, spans, BENCH, None, "crawl_rounds", 1)

    def test_run_time_excludes_stolen_time(self):
        # 4 s stolen over 2 busy threads on average: the op lost 2 s of wall
        self.assertEqual(metrics.run_s({"wall_s": 8.0, "cpu_s": 16.0, "steal_s": 4.0}), 6.0)
        # a mostly idle op loses stolen time one for one
        self.assertEqual(metrics.run_s({"wall_s": 2.0, "cpu_s": 1.0, "steal_s": 0.5}), 1.5)
        self.assertEqual(metrics.run_s({"wall_s": 2.0}), 2.0)

    def test_union_of_intervals(self):
        self.assertEqual(metrics.union_s([(0, 1000), (500, 1500), (3000, 4000)], 0, 10_000), 2.5)
        self.assertEqual(metrics.union_s([(0, 1000)], 200, 700), 0.5)


class Cleanup(unittest.TestCase):
    def test_sweep_keeps_work_dirs_a_live_process_owns(self):
        with tempfile.TemporaryDirectory() as state:
            base = os.path.join(state, "work")
            dead = 2 ** 22 + 1  # above the kernel's pid limit
            dirs = {"runpy_alive": f"{os.getpid()}-1", "jvm_alive": f"{dead}-2", "stale": f"{dead}-3"}
            for name in dirs.values():
                os.makedirs(os.path.join(base, name))
            for key, pid in (("jvm_alive", os.getpid()), ("stale", dead)):
                with open(os.path.join(base, dirs[key], "jvm.pid"), "w") as fh:
                    fh.write(str(pid))
            old, run.STATE = run.STATE, state
            try:
                run.sweep_stale_work()
            finally:
                run.STATE = old
            self.assertEqual(sorted(os.listdir(base)), sorted([dirs["runpy_alive"], dirs["jvm_alive"]]))


class Contract(unittest.TestCase):
    def test_benchmark_json_shape(self):
        self.assertEqual(set(BENCH), {"command", "paths", "run_seconds", "workloads",
                                      "end_to_end", "per_layer"})
        names = [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]] + \
            [w["name"] for w in BENCH["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        self.assertLessEqual(len(BENCH["per_layer"]), 128)
        self.assertTrue(all(0 < m["bound"] <= 0.25 for m in BENCH["end_to_end"]))
        setup = [m for m in BENCH["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual(setup["bound"], max(m["bound"] for m in BENCH["end_to_end"]))
        for w in BENCH["workloads"]:
            self.assertIn(w["name"], metrics.APPLIES)
        for name in LAYER_NAMES:
            self.assertTrue(any(name.startswith(p) for ps in metrics.APPLIES.values() for p in ps),
                            name)


if __name__ == "__main__":
    unittest.main()
