"""The benchmark's own tests.

    python3 perfbench/tests/test_bench.py

Builds the benchmark if needed, runs its Scala self-test (payload
determinism, the percentile rule, the readback check) and checks that
BENCHMARK.json agrees with the metrics the program reports.
"""
import json
import os
import re
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import build  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def java(*args):
    cp = build.ensure_built()
    tmp = os.path.join(build.out_dir(), "test-tmp")
    os.makedirs(tmp, exist_ok=True)
    return subprocess.run(["java", "-Xmx1g", f"-Djava.io.tmpdir={tmp}", "-cp", cp, "graftbench.Main"]
                          + list(args), capture_output=True, text=True)


class BenchTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
            cls.bench = json.load(fh)
        r = java("--list-metrics")
        assert r.returncode == 0, r.stderr
        cls.layers = [tuple(ln.split()) for ln in r.stdout.splitlines() if ln.strip()]

    def test_self_test(self):
        r = java("--self-test")
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr)
        self.assertNotIn("FAIL", r.stdout)

    def test_per_layer_names_match_program(self):
        declared = [(m["name"], m["unit"]) for m in self.bench["per_layer"]]
        self.assertEqual(declared, self.layers)

    def test_metric_names(self):
        names = [m["name"] for m in self.bench["end_to_end"] + self.bench["per_layer"]]
        for n in names:
            self.assertRegex(n, NAME)
        self.assertEqual(len(names), len(set(names)))

    def test_setup_metric(self):
        setup = [m for m in self.bench["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup, [dict(setup[0], unit="s", better="lower")])
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in self.bench["end_to_end"]))


if __name__ == "__main__":
    unittest.main()
