"""The benchmark's own tests, at the small scale.

    python3 -m unittest graftbench/test_bench.py

Each test drives `run.py` end to end (build, generate, JVM, checks), so the
suite takes a few minutes.
"""
import hashlib
import json
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))
import gen  # noqa: E402

SPEC = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
STATE = BENCH.parent / ".graftbench"
STATE.mkdir(exist_ok=True)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run(workload, seed=1, trace=0, *extra):
    out = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", "3", "--trace", str(trace),
                          "--scale", "small", *extra], capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise AssertionError(f"run.py failed ({out.returncode}):\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def digest(work):
    h = hashlib.sha256()
    for f in sorted(Path(work).rglob("*")):
        if f.is_file():
            h.update(f.read_bytes())
    return h.hexdigest()


class SmokeTest(unittest.TestCase):
    def test_every_workload_prints_every_metric_with_its_unit(self):
        for w in WORKLOADS:
            for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w, trace=trace):
                    res = run(w, trace=trace)
                    self.assertTrue(res["correct"], res)
                    self.assertEqual(res["failed"], 0)
                    self.assertGreaterEqual(res["attempted"], 1)
                    want = {m["name"]: m["unit"] for m in SPEC[kind]}
                    self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()}, want)
                    for k, v in res["metrics"].items():
                        self.assertIsInstance(v["value"], (int, float), k)
                        if kind == "end_to_end":
                            self.assertGreater(v["value"], 0, k)


class OracleTest(unittest.TestCase):
    def test_a_corrupted_expected_table_is_reported_as_failures(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                res = run(w, 1, 0, "--corrupt-expected")
                self.assertFalse(res["correct"])
                self.assertGreater(res["failed"] / res["attempted"], 0)


class SeedTest(unittest.TestCase):
    def test_another_seed_changes_the_inputs(self):
        for name, cls in (("cdc_backlog", gen.CdcBacklog), ("curate", gen.Curate)):
            with self.subTest(workload=name):
                digests = []
                for seed in (1, 1, 2):
                    with tempfile.TemporaryDirectory(dir=STATE) as d:
                        cls(seed, "small").write(d)
                        digests.append(digest(d))
                self.assertEqual(digests[0], digests[1], "same seed, same inputs")
                self.assertNotEqual(digests[0], digests[2], "another seed, other inputs")

    def test_another_seed_keeps_the_metric_names(self):
        # the smoke test pins seed 1's names to BENCHMARK.json
        names = {m["name"] for m in SPEC["end_to_end"]}
        for w in WORKLOADS:
            with self.subTest(workload=w):
                self.assertEqual(set(run(w, 2)["metrics"]), names)


if __name__ == "__main__":
    unittest.main()
