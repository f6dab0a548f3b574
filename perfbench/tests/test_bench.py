"""The benchmark's own tests: every workload at smoke size with tracing on,
the span tree each traced run writes, one untraced run of two samples, and
the refusal to run outside a checkout.

    python3 -m unittest discover -s perfbench/tests -v

Each traced smoke run takes about a minute; the first one also builds.
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parent.parent
ROOT = BENCH.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
SEED = 7

LAYER_SPANS = {
    "cluster": {"featurize", "tableio", "chunk_table", "unique_chunks",
                "containers", "recipe", "candidate_pairs", "verified_pairs",
                "exact_edges", "cc"},
    "megacluster": {"featurize", "candidate_pairs", "verified_pairs",
                    "exact_edges", "cc"},
    "backup_chain": {"featurize", "chunk_stream", "tableio", "backup",
                     "restore", "gc"},
}


def run(workload: str, trace: int, cwd: Path = ROOT, samples: int = 1):
    return subprocess.run(
        [sys.executable, str(cwd / "perfbench" / "run.py"),
         "--workload", workload, "--seed", str(SEED), "--seconds", "1",
         "--trace", str(trace), "--size", "smoke",
         "--min-samples", str(samples)],
        cwd=cwd, capture_output=True, text=True, timeout=1200)


class BenchmarkTest(unittest.TestCase):

    def result(self, r, metric_names):
        self.assertEqual(r.returncode, 0, r.stdout[-3000:] + r.stderr[-3000:])
        out = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertIs(out["correct"], True)
        self.assertEqual(out["failed"], 0)
        self.assertGreaterEqual(out["attempted"], 1)
        self.assertEqual(set(out["metrics"]), set(metric_names))
        spec_units = {m["name"]: m["unit"]
                      for m in SPEC["end_to_end"] + SPEC["per_layer"]}
        for name, m in out["metrics"].items():
            self.assertIsInstance(m["value"], (int, float), name)
            self.assertEqual(m["unit"], spec_units[name], name)
        return out["metrics"]

    def span_tree(self, workload):
        doc = json.loads((ROOT / ".bench_build" / "traces" /
                          f"{workload}-seed{SEED}.json").read_text())
        spans = {s["id"]: s for s in doc["spans"]}
        roots = [s for s in spans.values() if s["parent"] == -1]
        self.assertEqual(len(roots), 1)
        root = roots[0]
        for s in spans.values():
            if s is root:
                continue
            self.assertIn(s["parent"], spans, s)
            p = spans[s["parent"]]
            self.assertGreaterEqual(s["start_s"], p["start_s"])
            self.assertLessEqual(s["end_s"], p["end_s"])
        total_self = sum(s["self_s"] for s in spans.values())
        self.assertAlmostEqual(total_self, root["wall_s"], delta=1e-6)
        self.assertAlmostEqual(root["self_s"],
                               doc["metrics"]["trace.uncovered_s"], delta=1e-9)
        self.assertEqual({s["name"] for s in spans.values()} - {root["name"]},
                         LAYER_SPANS[workload])
        return doc["metrics"]

    def traced(self, workload):
        names = [m["name"] for m in SPEC["per_layer"]]
        metrics = self.result(run(workload, 1), names)
        tree = self.span_tree(workload)
        for span in LAYER_SPANS[workload]:
            self.assertGreater(metrics[f"{span}.wall_s"]["value"], 0, span)
        self.assertGreater(tree["trace.wall_s"], 0)
        self.assertEqual(metrics["spark.tasks_failed"]["value"], 0)
        return metrics

    def test_cluster_traced(self):
        m = self.traced("cluster")
        self.assertGreater(m["pair_recall"]["value"], 0)
        self.assertGreater(m["dedup_ratio"]["value"], 1)
        self.assertGreater(m["unique_chunks.count"]["value"], 0)

    def test_megacluster_traced(self):
        m = self.traced("megacluster")
        self.assertGreater(m["candidate_pairs.hot_buckets"]["value"], 0)
        self.assertGreater(m["cc.jobs"]["value"], 0)

    def test_backup_chain_traced(self):
        m = self.traced("backup_chain")
        self.assertGreater(m["restore_mb_per_s"]["value"], 0)
        self.assertGreater(m["restore_speed_factor"]["value"], 0)
        self.assertGreater(m["gc.migrated_mb"]["value"], 0)

    def test_untraced_two_samples(self):
        """Every sample writes fresh roots, so a second sample neither
        resumes the first one's tables nor fails the fresh-root guard, and
        both give the same counts."""
        r = run("backup_chain", 0, samples=2)
        metrics = self.result(r, [m["name"] for m in SPEC["end_to_end"]])
        for name, m in metrics.items():
            self.assertGreater(m["value"], 0, name)
        self.assertIn("backup_chain seed 7: 2 timed job(s)", r.stdout)

    def test_refuses_outside_a_checkout(self):
        bare = ROOT / ".bench_build" / "bare"
        shutil.rmtree(bare, ignore_errors=True)
        bare.mkdir(parents=True)
        try:
            shutil.copy(ROOT / "BENCHMARK.json", bare)
            for p in SPEC["paths"]:
                shutil.copytree(ROOT / p, bare / p,
                                ignore=shutil.ignore_patterns("__pycache__"))
            r = run("cluster", 0, cwd=bare)
            self.assertNotEqual(r.returncode, 0)
            last = (r.stdout.strip().splitlines() or [""])[-1]
            self.assertNotIn('"metrics"', last)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
