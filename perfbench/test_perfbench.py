#!/usr/bin/env python3
"""Tests of the benchmark itself, run from the repository root:

    python3 perfbench/test_perfbench.py

They run a short tweet_pipeline untraced and traced (one warm-up and one
timed event hour each), and the benchmark in a directory that holds only
BENCHMARK.json and perfbench/.
"""

import glob
import json
import os
import shutil
import subprocess
import sys
import unittest

RESULTS = os.path.join(".bench_build", "perfbench", "results")


def run(*args, cwd="."):
    return subprocess.run([sys.executable, os.path.join("perfbench", "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=900)


def kept(workload, seed, trace):
    files = glob.glob(os.path.join(RESULTS, f"{workload}-seed{seed}-trace{trace}-*[0-9].json"))
    with open(max(files, key=os.path.getmtime)) as fh:
        return json.load(fh)


def benchmark(key):
    with open("BENCHMARK.json") as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[key]}


class TweetPipelineTest(unittest.TestCase):
    SEED = 7

    def check_run(self, trace):
        p = run("--workload", "tweet_pipeline", "--seed", str(self.SEED),
                "--seconds", "1", "--trace", str(trace))
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        line = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(sorted(line), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(line["correct"])
        self.assertEqual(line["failed"], 0)
        key = "per_layer" if trace else "end_to_end"
        # every metric name appears, with its unit
        self.assertEqual({n: m["unit"] for n, m in line["metrics"].items()}, benchmark(key))
        return line, kept("tweet_pipeline", self.SEED, trace)

    def test_untraced_run_conserves_rows(self):
        line, result = self.check_run(0)
        checks = {c["name"]: c for c in result["checks"]}
        for name in ("lake_rows_equal_fed_minus_redeliveries",
                     "lake_rows_per_hour_equal_generated",
                     "served_counts_equal_lake_rows_per_hour_once",
                     "counts_donut_shares_sum_to_1",
                     "one_stored_row_per_topic_hour_after_compaction"):
            self.assertTrue(checks[name]["ok"], checks[name])
        for name, m in line["metrics"].items():
            self.assertGreater(m["value"], 0, name)

    def test_traced_run_attributes_work_to_layers(self):
        line, result = self.check_run(1)
        m = {n: v["value"] for n, v in line["metrics"].items()}
        self.assertEqual(m["streaming.ingest.dedup_hit_ratio"], 1.0)
        self.assertLess(m["streaming.ingest.rows_out"], m["streaming.ingest.rows_in"])
        for layer in ("streaming.ingest", "pipeline.scheduler", "pipeline.sink", "serving.charts"):
            self.assertGreater(m[f"{layer}.calls"], 0, layer)
            self.assertGreater(m[f"{layer}.jobs"], 0, layer)
            self.assertEqual(m[f"{layer}.failed"], 0, layer)
        self.assertGreater(m["streaming.ingest.batch_addbatch_ms"], 0)
        self.assertGreater(m["streaming.ingest.state_commit_ms"], 0)
        # this workload bypasses the lake and the operators
        self.assertEqual(m["sources.lake.calls"], 0)
        self.assertEqual(m["operators.calls"], 0)
        self.assertGreater(result["info"]["trace.top_level_share_of_timed"], 0.9)


class BareDirectoryTest(unittest.TestCase):
    def test_fails_without_the_program(self):
        bare = os.path.join(".bench_build", "perfbench", "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy("BENCHMARK.json", bare)
        shutil.copytree("perfbench", os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("target", "project/target", "__pycache__"))
        try:
            p = run("--workload", "tweet_pipeline", "--seed", "1", "--seconds", "1",
                    "--trace", "0", cwd=bare)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"metrics"', p.stdout)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
