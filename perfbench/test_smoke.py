#!/usr/bin/env python3
"""Smoke-sized runs of every workload, untraced and traced: each must pass
its checks and emit exactly the metrics BENCHMARK.json declares, each with
its declared unit.

    python3 perfbench/test_smoke.py
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run(workload, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "5", "--seconds", "1", "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                       timeout=300)
    return p.returncode, json.loads(p.stdout.strip().splitlines()[-1])


class SmokeTest(unittest.TestCase):

    def check(self, workload, trace, declared):
        rc, result = run(workload, trace)
        self.assertEqual(rc, 0)
        self.assertEqual(sorted(result), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(result["correct"])
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(result["failed"], 0)
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, {m["name"]: m["unit"] for m in declared})
        for k, v in result["metrics"].items():
            self.assertIsInstance(v["value"], (int, float), k)
        if trace == 0:
            for m in declared:
                self.assertGreater(result["metrics"][m["name"]]["value"], 0, m["name"])


for w in (x["name"] for x in SPEC["workloads"]):
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        setattr(SmokeTest, f"test_{w}_trace{trace}",
                lambda self, w=w, trace=trace, key=key: self.check(w, trace, SPEC[key]))


if __name__ == "__main__":
    unittest.main()
