"""Self-test of the benchmark at toy sizes.

    python3 -m unittest discover -s perfbench/test -v

Run from the root of a graft checkout; it builds into .bench_build/ like
the benchmark itself. Checks that every metric BENCHMARK.json names is
emitted with its unit (both modes, every workload), that a corrupted
result is counted as failed, and that one seed gives one input digest.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
PKG = os.path.dirname(HERE)
ROOT = os.path.dirname(PKG)
sys.path.insert(0, PKG)
import build  # noqa: E402
import reldata  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
BDIR = os.path.join(ROOT, ".bench_build")


def bench(workload, trace=0, seed=3, extra=()):
    out = subprocess.run([sys.executable, os.path.join(PKG, "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--toy", *extra],
                         cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {out.returncode}:\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


class PerfbenchSelfTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.cp = build.build(os.path.join(BDIR, "classes"))

    def digest(self, workload, seed):
        out = subprocess.run([build.java(), "-cp", self.cp, "graftbench.Main", "--workload", workload,
                              "--seed", str(seed), "--toy", "--gen-only"],
                             capture_output=True, text=True, timeout=300, check=True)
        line = [x for x in out.stdout.splitlines() if x.startswith("digest ")][-1]
        return line.split()[1]

    def test_one_seed_one_digest(self):
        for w in ("geo_join", "geo_ingest", "dedup"):
            with self.subTest(workload=w):
                a, b, c = self.digest(w, 11), self.digest(w, 11), self.digest(w, 12)
                self.assertEqual(a, b)
                self.assertNotEqual(a, c)
        d1 = reldata.ensure(os.path.join(BDIR, "data"), toy=True)["digest"]
        d2 = reldata.ensure(os.path.join(BDIR, "data"), toy=True)["digest"]
        self.assertEqual(d1, d2)

    def test_every_metric_with_its_unit(self):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            want = {m["name"]: m["unit"] for m in SPEC[key]}
            for w in (x["name"] for x in SPEC["workloads"]):
                with self.subTest(workload=w, trace=trace):
                    res = bench(w, trace)
                    self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(res["correct"], res)
                    self.assertEqual(res["failed"], 0)
                    self.assertGreaterEqual(res["attempted"], 1)
                    self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()}, want)
                    for k, v in res["metrics"].items():
                        self.assertIsInstance(v["value"], (int, float), k)
                    if trace == 0:
                        for k, v in res["metrics"].items():
                            self.assertGreater(v["value"], 0, k)

    def test_corrupted_result_counts_as_failed(self):
        res = bench("geo_ingest", extra=("--corrupt",))
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 1)


if __name__ == "__main__":
    unittest.main()
