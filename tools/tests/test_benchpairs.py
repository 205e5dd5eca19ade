"""Tests of tools/benchpairs.py. Run from the root of a checkout:

    python3 -m unittest discover -s tools/tests -v
"""
import contextlib
import io
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import benchpairs  # noqa: E402


def record(seed, total, p50, setup=20.0, failed=0, snapshot=5.0):
    return {"workload": "replica", "seed": seed, "attempted": 100,
            "failed": failed, "setup_s": setup,
            "metrics": {"total_s": total, "op_p50_ms": p50,
                        "op_p95_ms": 2 * p50},
            "detail": {"snapshot_s": snapshot, "drain_s": 1.0,
                       "live_read_s": 2.0}}


class BenchPairsTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.addCleanup(self.tmp.cleanup)

    def checkout(self, name, recs):
        root = os.path.join(self.tmp.name, name)
        os.makedirs(os.path.join(root, ".bench_work", "layers"))
        for r in recs:
            path = os.path.join(root, ".bench_work",
                                f"replica-seed{r['seed']}-trace0.json")
            with open(path, "w") as f:
                json.dump(r, f)
        # a traced record and another workload's must not be paired
        with open(os.path.join(root, ".bench_work", "replica-seed1-trace1.json"), "w") as f:
            json.dump(record(1, 999.0, 999.0), f)
        with open(os.path.join(root, ".bench_work", "training_gates-seed1-trace0.json"), "w") as f:
            json.dump(record(1, 999.0, 999.0), f)
        return root

    def rows(self, parent, change):
        metrics = [("total_s", "lower", 0.25), ("op_p50_ms", "lower", 0.25),
                   ("setup_s", "lower", 0.25), ("success_rate", "higher", 0.01),
                   ("snapshot_s", "lower", None)]
        seeds, rows = benchpairs.compare(
            benchpairs.records(parent, "replica"),
            benchpairs.records(change, "replica"), metrics)
        return seeds, {r["name"]: r for r in rows}

    def test_pairs_by_seed_and_reports_quartiles(self):
        parent = self.checkout("p", [record(s, 10.0 + s, 1000.0) for s in range(1, 6)])
        change = self.checkout("c", [record(s, 5.0 + s, 1000.0, snapshot=2.0)
                                     for s in range(2, 8)])
        seeds, rows = self.rows(parent, change)
        self.assertEqual(seeds, [2, 3, 4, 5])
        tot = rows["total_s"]
        self.assertEqual(tot["n"], 4)
        self.assertEqual(tot["parent"][1], 13.5)
        self.assertEqual(tot["change"][1], 8.5)
        self.assertEqual((tot["parent"][0], tot["parent"][2]), (12.75, 14.25))
        self.assertEqual(tot["wins"], 4)
        self.assertEqual(tot["verdict"], "within bound")
        self.assertEqual(rows["success_rate"]["change"][1], 1.0)
        self.assertEqual(rows["snapshot_s"]["verdict"], "")
        self.assertAlmostEqual(rows["snapshot_s"]["ratio"], -0.6)

    def test_wide_spread_is_unresolved_and_a_regression_is_worse(self):
        parent = self.checkout("p", [record(s, 10.0, 1000.0 * s) for s in range(1, 6)])
        change = self.checkout("c", [record(s, 14.0, 1000.0 * s, setup=30.0)
                                     for s in range(1, 6)])
        _, rows = self.rows(parent, change)
        self.assertEqual(rows["op_p50_ms"]["verdict"], "unresolved")
        self.assertEqual(rows["total_s"]["verdict"], "worse")
        self.assertEqual(rows["total_s"]["wins"], 0)
        self.assertEqual(rows["setup_s"]["verdict"], "worse")

    def test_failures_lower_success_rate(self):
        parent = self.checkout("p", [record(s, 10.0, 1000.0) for s in range(1, 4)])
        change = self.checkout("c", [record(s, 10.0, 1000.0, failed=5)
                                     for s in range(1, 4)])
        _, rows = self.rows(parent, change)
        self.assertEqual(rows["success_rate"]["change"][1], 0.95)
        self.assertEqual(rows["success_rate"]["verdict"], "worse")

    def test_main_prints_every_metric_and_phase(self):
        parent = self.checkout("p", [record(s, 10.0, 1000.0) for s in range(1, 4)])
        change = self.checkout("c", [record(s, 6.0, 1000.0) for s in range(1, 4)])
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            self.assertEqual(benchpairs.main([parent, change]), 0)
        text = out.getvalue()
        self.assertIn("replica: 3 pairs, seeds [1, 2, 3]", text)
        for name in ("setup_s", "total_s", "op_p50_ms", "op_p95_ms",
                     "success_rate", "snapshot_s", "drain_s", "live_read_s"):
            self.assertIn(name, text)
        self.assertIn("-40.0%", text)

    def test_training_gates_prints_one_row_per_gate(self):
        def gates_record(seed, cc):
            return {"workload": "training_gates", "seed": seed,
                    "attempted": 5, "failed": 0, "setup_s": 20.0,
                    "metrics": {"total_s": 10.0 + cc, "op_p50_ms": 2000.0,
                                "op_p95_ms": 7000.0},
                    "detail": {"gates_total_s": 10.0 + cc,
                               "gate_s": {"x_pagerank": 2.0,
                                          "x_dedup_cluster_apply": cc}}}

        def checkout(name, cc):
            root = os.path.join(self.tmp.name, name)
            os.makedirs(os.path.join(root, ".bench_work"))
            for s in range(1, 4):
                path = os.path.join(root, ".bench_work",
                                    f"training_gates-seed{s}-trace0.json")
                with open(path, "w") as f:
                    json.dump(gates_record(s, cc + s), f)
            return root

        parent, change = checkout("p", 4.0), checkout("c", 2.0)
        seeds, rows = benchpairs.compare(
            benchpairs.records(parent, "training_gates"),
            benchpairs.records(change, "training_gates"),
            [(g, "lower", None) for g in benchpairs.gates(
                benchpairs.records(parent, "training_gates"))])
        rows = {r["name"]: r for r in rows}
        self.assertEqual(seeds, [1, 2, 3])
        self.assertEqual(sorted(rows), ["x_dedup_cluster_apply", "x_pagerank"])
        cc = rows["x_dedup_cluster_apply"]
        self.assertEqual((cc["parent"][1], cc["change"][1]), (6.0, 4.0))
        self.assertEqual((cc["wins"], cc["verdict"]), (3, ""))
        self.assertEqual(rows["x_pagerank"]["wins"], 0)
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            self.assertEqual(benchpairs.main(
                [parent, change, "--workload", "training_gates"]), 0)
        text = out.getvalue()
        self.assertIn("training_gates: 3 pairs", text)
        self.assertIn("x_dedup_cluster_apply", text)
        self.assertIn("-33.3%", text)
        self.assertNotIn("snapshot_s", text)

    def test_no_common_seed_exits(self):
        parent = self.checkout("p", [record(1, 10.0, 1000.0)])
        change = self.checkout("c", [record(2, 10.0, 1000.0)])
        with self.assertRaises(SystemExit):
            benchpairs.main([parent, change])


if __name__ == "__main__":
    unittest.main()
