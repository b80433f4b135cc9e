#!/usr/bin/env python3
"""The benchmark's own tests, on the small inputs (--small).

    python3 perfbench/test_bench.py            # from the root of a checkout

They check that every workload emits every declared metric with its unit
and that no op fails, that a missing or undeclared metric is refused, that
a corrupted expected digest is reported as a failure, and that the
benchmark refuses to run without the program's sources. About five minutes
on four cores.
"""
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import unittest

ROOT = os.getcwd()
RUN = [sys.executable, os.path.join("perfbench", "run.py")]
SCRATCH = os.path.join(ROOT, ".bench_build", "test")


def bench(*args, cwd=ROOT):
    p = subprocess.run(RUN + list(args), cwd=cwd, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


def load_run_py():
    spec = importlib.util.spec_from_file_location(
        "perfbench_run", os.path.join(ROOT, "perfbench", "run.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class ResultLine(unittest.TestCase):
    """run.py passes on exactly the declared metrics of the mode."""

    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            self.spec = json.load(fh)
        self.result_line = load_run_py().result_line
        names = [m["name"] for m in self.spec["end_to_end"] + self.spec["per_layer"]]
        self.raw = {"correct": True, "attempted": 1, "failed": 0,
                    "values": {n: 1.0 for n in names}}

    def test_complete_values_pass(self):
        for trace in (False, True):
            res = self.result_line(self.raw, trace, self.spec)
            want = self.spec["per_layer" if trace else "end_to_end"]
            self.assertEqual([m["name"] for m in want], list(res["metrics"]))

    def test_missing_metric_is_refused(self):
        for trace, key in ((False, "end_to_end"), (True, "per_layer")):
            raw = json.loads(json.dumps(self.raw))
            del raw["values"][self.spec[key][-1]["name"]]
            with self.assertRaises(SystemExit):
                self.result_line(raw, trace, self.spec)

    def test_undeclared_metric_is_refused(self):
        self.raw["values"]["streaming.batchs"] = 6.0
        with self.assertRaises(SystemExit):
            self.result_line(self.raw, True, self.spec)


class SmallRuns(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            cls.spec = json.load(fh)

    def check(self, workload, trace):
        rc, res, err = bench("--workload", workload, "--seed", "7",
                             "--seconds", "2", "--trace", trace, "--small")
        self.assertEqual(rc, 0, err[-3000:])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], err[-3000:])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        want = self.spec["per_layer" if trace == "1" else "end_to_end"]
        self.assertEqual({m["name"]: m["unit"] for m in want},
                         {k: v["unit"] for k, v in res["metrics"].items()})
        for m in want:
            self.assertIsInstance(res["metrics"][m["name"]]["value"], (int, float))
        if trace == "0":
            for m in want:  # end-to-end metrics are never 0
                self.assertGreater(res["metrics"][m["name"]]["value"], 0, m["name"])
        return res

    def test_offline(self):
        self.check("offline", "0")
        res = self.check("offline", "1")
        self.assertGreater(res["metrics"]["spark.jobs"]["value"], 0)

    def test_stream_serve(self):
        self.check("stream_serve", "0")
        res = self.check("stream_serve", "1")
        m = {k: v["value"] for k, v in res["metrics"].items()}
        self.assertGreater(m["streaming.batches"], 0)
        self.assertGreater(m["serving.kv.put_calls"], 0)
        self.assertGreater(m["lookup_rps"], 0)

    def test_corrupted_digest_is_a_failure(self):
        os.makedirs(SCRATCH, exist_ok=True)
        with open(os.path.join(ROOT, "perfbench", "expected", "sf0.001.json")) as fh:
            digests = json.load(fh)
        victim = "pit_purchases"
        digests[victim]["hash"] = str(int(digests[victim]["hash"]) + 1)
        bad = os.path.join(SCRATCH, "corrupted.json")
        with open(bad, "w") as fh:
            json.dump(digests, fh)
        rc, res, err = bench("--workload", "offline", "--seed", "7",
                             "--seconds", "1", "--trace", "0", "--small",
                             "--expected", bad)
        self.assertEqual(rc, 0, err[-3000:])
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 1)
        self.assertIn(victim, err)

    def test_refuses_without_the_program(self):
        bare = os.path.join(SCRATCH, "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("target", "__pycache__"))
        rc, res, _ = bench("--workload", "offline", "--seed", "1",
                           "--seconds", "10", "--trace", "0", cwd=bare)
        self.assertNotEqual(rc, 0)
        self.assertIsNone(res)
        shutil.rmtree(bare)


if __name__ == "__main__":
    unittest.main(verbosity=2)
