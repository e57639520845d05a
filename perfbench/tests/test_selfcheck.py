#!/usr/bin/env python3
"""Self-check of the benchmark: every workload on the default seed and on
a held-out seed prints every metric it names, with its unit, and gets
every answer right.

    python3 -m unittest discover -s perfbench/tests -v

Run from the repository root; it takes about ten minutes (eleven runs
of half a minute to a minute and a half each, plus the first build).
"""
import json
import os
import re
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)


def load(path):
    with open(path) as f:
        return json.load(f)


SPEC = load(os.path.join(BENCH, "spec.json"))
BENCHMARK = load(os.path.join(BENCH, "..", "BENCHMARK.json"))
SECONDS = 3


def run(workload, seed, trace=0, seconds=SECONDS):
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)
    return p


class SelfCheck(unittest.TestCase):
    def check(self, workload, seed):
        p = run(workload, seed)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        lines = p.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        self.assertEqual(sorted(result), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(result["correct"], p.stdout)
        self.assertGreater(result["attempted"], 0)
        self.assertEqual(result["failed"], 0)
        self.assertIn("error_rate: 0 failed/attempted", p.stdout)
        for m in BENCHMARK["end_to_end"]:
            self.assertIn(m["name"], result["metrics"])
            self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"])
            self.assertGreater(result["metrics"][m["name"]]["value"], 0)
        for name, m in SPEC["named_metrics"].items():
            if m["workload"] in (workload, "all") and name != "error_rate":
                self.assertRegex(p.stdout, rf"(?m)^{re.escape(name)}: \S+ {re.escape(m['unit'])}")
        if workload == "analytics":
            # the panel holds every kind of per-query cost, as measured
            record = re.search(r"(?m)^record: (\S+)$", p.stdout).group(1)
            kinds = load(record)["detail"]["kinds"]
            self.assertEqual(len(kinds), 4)
            for kind, queries in kinds.items():
                self.assertTrue(queries, f"no panel query is {kind}")

    def test_default_and_held_out_seeds(self):
        # every workload, including the two BENCHMARK.json leaves out
        for workload in SPEC["workloads"]:
            for seed in (SPEC["default_seed"], SPEC["held_out_seed"]):
                with self.subTest(workload=workload, seed=seed):
                    self.check(workload, seed)

    def test_traced_runs_report_every_layer(self):
        expect_positive = {
            "analytics": ["SparkEntry.build_ms", "core.infer_jobs", "operators.MarketOps.exec_ms",
                          "streaming.batches"],
            "ingest_scan": ["tsdb.ingest_ms", "tsdb.compact_ms", "streaming.batches"],
            # the Spark-path replay and retrieval phase of a traced serve_ticks run
            "serve_ticks": ["Cli.first_touch_ms_p50", "tsdb.stats_fast_ms", "tsdb.append_ms",
                            "tsdb.query_range_ms", "pipeline.ann_topk_ms", "Cli.hybrid.service_ms_p50"],
        }
        for workload, names in expect_positive.items():
            with self.subTest(workload=workload):
                # 8 s: each pass gets 4 s, enough for an insert in serve_ticks
                p = run(workload, SPEC["default_seed"], trace=1, seconds=8)
                self.assertEqual(p.returncode, 0, p.stderr[-3000:])
                result = json.loads(p.stdout.strip().splitlines()[-1])
                self.assertTrue(result["correct"], p.stdout[-3000:])
                for m in BENCHMARK["per_layer"]:
                    self.assertIn(m["name"], result["metrics"])
                    self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"])
                for n in names:
                    self.assertGreater(result["metrics"][n]["value"], 0, n)
                self.assertGreaterEqual(result["metrics"]["trace.accounted_share"]["value"],
                                        SPEC["accounted_share_floor"][workload])
                if workload == "serve_ticks":
                    self.assertIn("retrieval.ann_recall10:", p.stdout)

    def test_bare_directory_fails_without_result(self):
        import shutil
        import tempfile
        with tempfile.TemporaryDirectory(dir=os.path.join(BENCH, "..", ".bench_build")) as d:
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            shutil.copy(os.path.join(BENCH, "..", "BENCHMARK.json"), d)
            p = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", "serve_ticks", "--seed", "1",
                 "--seconds", "1", "--trace", "0"],
                cwd=d, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
