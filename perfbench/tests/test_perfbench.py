#!/usr/bin/env python3
"""The benchmark's own tests. They run the real command in smoke mode
(sf0.001 data, 2 incremental ingest cycles, one set-up) and check that:

  - every workload prints every metric NOTES.md names, with its unit;
  - a corrupted expected digest makes the command fail;
  - a corrupted published partition makes the command fail;
  - outside a checkout (no engine sources) the command fails fast.

Usage, from the repository root (takes a few minutes; do not run it
alongside `sbt test` or graft.Verify):

    python3 perfbench/tests/test_perfbench.py
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
RUN = [sys.executable, os.path.join(BENCH, "run.py")]
# scratch files of the tests live in the build directory, like the runs'
SCRATCH = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "tests")

E2E = {"latency_p50_ms": "ms", "latency_tail_ms": "ms", "suite_s": "s",
       "setup_s": "s", "peak_rss_mb": "MB"}
REPORT = {
    "short_sf01": ["setup_s", "suite_s", "query_p50_s", "query_tail_s", "failed_share",
                   "peak_rss_mb"],
    "heavy_x10": ["setup_s", "suite_s", "query_p50_s", "query_tail_s", "failed_share",
                  "peak_rss_mb"],
    "ingest_cycles": ["setup_s", "suite_s", "cycle_p50_s", "cycle_tail_s", "skip_p50_s",
                      "freshness_p50_s", "freshness_tail_s", "ingest_rows_per_s",
                      "failed_share", "peak_rss_mb"],
}
with open(os.path.join(BENCH, "..", "BENCHMARK.json")) as f:
    LAYERS = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def run(workload, *extra, seed=1, trace=0, cwd=ROOT):
    cmd = RUN + ["--workload", workload, "--seed", str(seed), "--seconds", "1",
                 "--trace", str(trace), "--smoke"] + list(extra)
    return subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=900)


class SmokeTest(unittest.TestCase):
    def check_lines(self, workload, r, metrics):
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        lines = r.stdout.strip().splitlines()
        report, last = json.loads(lines[-2]), json.loads(lines[-1])
        self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(last["correct"])
        self.assertGreaterEqual(last["attempted"], 1)
        self.assertEqual(set(last["metrics"]), set(metrics))
        for name, unit in metrics.items():
            self.assertEqual(last["metrics"][name]["unit"], unit, name)
            self.assertIsInstance(last["metrics"][name]["value"], (int, float), name)
        return report

    def test_every_metric_prints_with_its_unit(self):
        for workload in REPORT:
            with self.subTest(workload=workload):
                report = self.check_lines(workload, run(workload), E2E)
                for name in REPORT[workload]:
                    self.assertIn(name, report["report"])
                    self.assertIn("unit", report["report"][name])
                    self.assertIn("n", report["report"][name])
                self.check_lines(workload, run(workload, trace=1), LAYERS)

    def test_corrupt_digest_fails(self):
        with open(os.path.join(BENCH, "expected", "sf0.001.tsv")) as f:
            lines = f.read().splitlines()
        with open(os.path.join(BENCH, "lists", "short_sf01.txt")) as f:
            first = next(l.split("#")[0].strip() for l in f if l.split("#")[0].strip())
        out = []
        for line in lines:
            name, rows, digest = (line.split("\t") + ["", "", ""])[:3]
            if name == first:
                line = f"{name}\t{rows}\t{int(digest) + 1}"
            out.append(line)
        os.makedirs(SCRATCH, exist_ok=True)
        with tempfile.NamedTemporaryFile("w", suffix=".tsv", dir=SCRATCH, delete=False) as f:
            f.write("\n".join(out) + "\n")
        try:
            r = run("short_sf01", "--expected", f.name)
        finally:
            os.unlink(f.name)
        self.assertNotEqual(r.returncode, 0)
        self.assertIn(first, r.stdout)
        self.assertIn("digest mismatch", r.stdout)

    def test_corrupt_partition_fails(self):
        r = run("ingest_cycles", "--corrupt-partition")
        self.assertNotEqual(r.returncode, 0)
        self.assertIn("rain_anomaly", r.stdout)

    def test_fails_without_engine_sources(self):
        os.makedirs(SCRATCH, exist_ok=True)
        d = tempfile.mkdtemp(dir=SCRATCH)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            r = subprocess.run(RUN[:1] + ["perfbench/run.py", "--workload", "short_sf01",
                                          "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                               text=True, timeout=180)
        finally:
            shutil.rmtree(d)
        self.assertNotEqual(r.returncode, 0)
        self.assertNotIn('"correct"', r.stdout)


if __name__ == "__main__":
    unittest.main()
