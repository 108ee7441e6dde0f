"""Tests of the benchmark itself.

Run from the repository root:

    python3 -m unittest perfbench/test_perfbench.py

The generator cases take a second; every other case starts one benchmark
run (about a minute each, seven in all).
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
SCRATCH = os.path.join(ROOT, ".bench_build")


def bench(workload, trace=0, tamper=None, cwd=ROOT):
    """Runs the benchmark command; returns (exit code, stdout lines)."""
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "3",
                             "--seconds", "1", "--trace", str(trace)]
    if tamper:
        cmd += ["--tamper", tamper]
    r = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=900)
    return r.returncode, r.stdout.splitlines()


def digest(d):
    h = hashlib.sha256()
    for base, _, files in sorted(os.walk(d)):
        for n in sorted(files):
            with open(os.path.join(base, n), "rb") as f:
                h.update(n.encode() + f.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(SCRATCH, exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=SCRATCH)

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_same_seed_gives_same_files(self):
        a, b, c = (os.path.join(self.tmp, x) for x in "abc")
        self.assertEqual(gen.generate(a, 5, 50), gen.generate(b, 5, 50))
        gen.generate(c, 6, 50)
        self.assertEqual(digest(a), digest(b))
        self.assertNotEqual(digest(a), digest(c))

    def test_planted_properties(self):
        out = os.path.join(self.tmp, "in")
        e = gen.generate(out, 5, 200)
        day = os.path.join(out, "istdaten", f"2024-06-{e['latin1_day']:02d}_istdaten.csv")
        with open(day, "rb") as f:
            raw = f.read()
        with self.assertRaises(UnicodeDecodeError):
            raw.decode("utf-8")
        # filters and dedupe drop rows; AS-OF misses exist but are few
        self.assertLess(e["ist_events"], 0.9 * e["ist_raw_rows"])
        self.assertLess(e["weather_obs"], e["weather_raw_rows"])
        self.assertLess(e["asof_matched"], e["features"])
        self.assertGreater(e["asof_matched"], 0.9 * e["features"])


class OutputTest(unittest.TestCase):
    def result(self, lines):
        r = json.loads(lines[-1])
        self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
        self.assertGreaterEqual(r["attempted"], 1)
        return r

    def test_every_metric_printed_with_unit(self):
        for w in SPEC["workloads"]:
            for trace, specs in ((0, SPEC["end_to_end"]), (1, SPEC["per_layer"])):
                with self.subTest(workload=w["name"], trace=trace):
                    rc, lines = bench(w["name"], trace)
                    self.assertEqual(rc, 0)
                    r = self.result(lines)
                    self.assertTrue(r["correct"])
                    self.assertEqual(r["failed"], 0)
                    self.assertEqual(list(r["metrics"]), [m["name"] for m in specs])
                    for m in specs:
                        self.assertEqual(r["metrics"][m["name"]]["unit"], m["unit"])
                    if trace == 0:
                        self.assertTrue(all(v["value"] > 0 for v in r["metrics"].values()))

    def test_tampered_gold_table_is_an_error(self):
        rc, lines = bench("pipeline_batch", tamper="gold")
        r = self.result(lines)
        self.assertEqual(rc, 0)
        self.assertFalse(r["correct"])
        self.assertGreater(r["failed"], 0)

    def test_tampered_dashboard_answer_is_an_error(self):
        rc, lines = bench("pipeline_batch", tamper="answer")
        r = self.result(lines)
        self.assertEqual(rc, 0)
        self.assertFalse(r["correct"])
        self.assertGreater(r["failed"], 0)

    def test_fails_without_the_program(self):
        os.makedirs(SCRATCH, exist_ok=True)
        bare = tempfile.mkdtemp(dir=SCRATCH)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            for p in SPEC["paths"]:
                shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p))
            rc, lines = bench(SPEC["workloads"][0]["name"], cwd=bare)
            self.assertNotEqual(rc, 0)
            self.assertEqual(lines, [])
        finally:
            shutil.rmtree(bare)


if __name__ == "__main__":
    unittest.main()
