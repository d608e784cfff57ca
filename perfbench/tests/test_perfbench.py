"""The benchmark's own tests.

Run from the repository root:
  python3 -m unittest discover -s perfbench/tests

`GraphSqlTest` builds the engine and starts a JVM (about a minute);
the others are pure Python.
"""
import json
import os
import random
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import run  # noqa: E402
import workloads  # noqa: E402


class TailTest(unittest.TestCase):
    def test_keeps_ten_samples_beyond(self):
        rng = random.Random(3)
        for n in range(run.TAIL_BEYOND + 1, 400):
            xs = [rng.choice([rng.random(), 1.0]) for _ in range(n)]  # with ties
            value, pct, beyond = run.tail_latency(xs)
            ranked = sorted(xs)
            idx = ranked.index(value) if ranked.count(value) == 1 else None
            self.assertGreaterEqual(beyond, 10)
            self.assertEqual(n - 1 - round(pct / 100.0 * (n - 1)), beyond)
            self.assertEqual(value, ranked[n - 1 - beyond])
            if idx is not None:
                self.assertGreaterEqual(n - 1 - idx, 10)

    def test_percentile_grows_with_count(self):
        self.assertEqual(run.tail_latency(list(range(11)))[1], 0.0)
        self.assertAlmostEqual(run.tail_latency(list(range(1001)))[1], 99.0)

    def test_too_few_samples(self):
        with self.assertRaises(ValueError):
            run.tail_latency([1.0] * run.TAIL_BEYOND)


def fake_record(n_ops=30):
    """A run record shaped like the runner's, with every layer present."""
    names = ["queries.construct", "plans.optimize", "exec.execute", "txn.insert"]
    spans, ops = [], []
    for i in range(n_ops):
        ops.append({"name": f"q{i % 5}", "kind": "query", "ms": 100.0 + i,
                    "ok": True, "rows": 3, "ingested": 10, "err": ""})
        for k, nm in enumerate(names):
            spans.append({"id": len(spans), "parent": -1, "name": nm, "op": i,
                          "start_ns": k * 10**6, "end_ns": (k + 1) * 10**6,
                          "counters": []})
    for nm in ("core.session", "core.schema", "core.stats"):
        spans.append({"id": len(spans), "parent": -1, "name": nm, "op": -1,
                      "start_ns": 0, "end_ns": 10**9, "counters": []})
    return {"jvm_start_ms": 0, "session_ready_ms": 5000, "session_ms": 4000.0,
            "warmup_ms": 900.0, "trace_cost_ms": 30.0, "reps": [[1, 2], [3, 4], [5, 6]], "measured_s": 12.5,
            "ops": ops, "checks": [], "results": [], "oracle": {},
            "dp_edges": 40, "txn": {"log_records": 9, "disk_bytes": 300, "user_bytes": 240},
            "counter_names": list(run.COUNTERS),
            "counters": [1] * len(run.COUNTERS), "spans": spans, "peak_rss_kb": 512000}


class OutputTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def check(self, trace, declared):
        line, status = run.summarise(fake_record(), {}, "short_joins", trace)
        self.assertEqual(status, 0)
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        got = line["metrics"]
        self.assertEqual(set(got), {m["name"] for m in declared})
        for m in declared:
            self.assertEqual(got[m["name"]]["unit"], m["unit"], m["name"])
            self.assertIsInstance(got[m["name"]]["value"], (int, float), m["name"])
        json.dumps(line)

    def test_untraced_carries_every_end_to_end_metric(self):
        self.check(0, self.bench["end_to_end"])

    def test_traced_carries_every_per_layer_metric(self):
        self.check(1, self.bench["per_layer"])

    def test_wrong_result_fails_the_run(self):
        line, status = run.summarise(fake_record(), {"q1": "rows 3 vs 4"}, "short_joins", 0)
        self.assertFalse(line["correct"])
        self.assertEqual(line["failed"], 6)
        self.assertNotEqual(status, 0)


class PlanTest(unittest.TestCase):
    def test_same_seed_same_plan(self):
        for w in workloads.WORKLOADS:
            self.assertEqual(workloads.plan(w, 5, 1000), workloads.plan(w, 5, 1000))
            self.assertNotEqual(workloads.plan(w, 5, 1000), workloads.plan(w, 6, 1000))

    def test_graphs_are_connected_and_within_dp_limit(self):
        rng = random.Random(1)
        for k in range(4, 13):
            g = workloads.join_graph(rng, 0.01, "g", k)
            self.assertEqual(len(g["rels"]), k)
            self.assertLessEqual(len(g["edges"]), 12)
            seen = {g["rels"][0]["alias"]}
            for r in g["rels"][1:]:
                self.assertTrue(any({e["l"], e["r"]} & seen and r["alias"] in (e["l"], e["r"])
                                    for e in g["edges"]), r["alias"])
                seen.add(r["alias"])

    def test_graph_shapes_fixed_constants_seeded(self):
        def graphs(seed):
            _, ops, _ = workloads.plan("short_joins", seed, 1000, rounds=2)
            return sorted((o for o in ops if o["kind"] == "graph"), key=lambda g: g["name"])

        def shape(g):
            return ([(r["alias"], r["table"], [(f["col"], f["hi"] - f["lo"]) for f in r["filters"]])
                     for r in g["rels"]], g["edges"], g["aggs"])

        a, b = graphs(5), graphs(6)
        self.assertEqual([shape(g) for g in a], [shape(g) for g in b])
        self.assertNotEqual([r["filters"] for g in a for r in g["rels"]],
                            [r["filters"] for g in b for r in g["rels"]])

    def test_ledger_counts_only_commits(self):
        ops = workloads.txn_ops(random.Random(2), 50, 12)
        rows = sum(o["n"] for o in ops if o["commit"])
        self.assertEqual(ops[-1]["expect"][0], rows)
        self.assertTrue(any(not o["commit"] for o in ops))
        self.assertEqual(sum(o["crash"] for o in ops), 1)


class GraphSqlTest(unittest.TestCase):
    """A generated join graph's DataFrame and its emitted SQL agree on sf0.001."""

    def test_graph_dataframe_matches_sql(self):
        if not run.engine_present():
            self.skipTest("engine sources not present")
        classpath = run.build()
        rng = random.Random(11)
        graphs = [workloads.join_graph(rng, 0.001, f"graph_{k}", k) for k in range(4, 9)]
        sqls = {g["name"]: workloads.graph_sql(g) for g in graphs}
        os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
        work = tempfile.mkdtemp(dir=os.path.join(HERE, ".work"))
        try:
            rec, bad = run.execute(work, classpath, 0.001, 11, ["nation", "region"], [],
                                   graphs, sqls, 0, 0, len(graphs))
        finally:
            shutil.rmtree(work, ignore_errors=True)
        self.assertEqual(bad, {})
        self.assertEqual(sorted(rec["results"]), sorted(sqls))
        self.assertTrue(all(o["ok"] for o in rec["ops"]), rec["ops"])
        self.assertEqual(len(rec["ops"]), len(graphs))


if __name__ == "__main__":
    unittest.main()
