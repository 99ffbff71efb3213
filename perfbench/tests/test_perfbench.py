"""Self-tests of the benchmark. Run from the checkout root:

    python3 -m unittest discover -s perfbench/tests -v

The end-to-end cases start the real harness (one JVM each, about a minute
apiece) with --seconds 0, i.e. a cold pass plus the minimum warm passes.
"""
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
BENCH = os.path.join(ROOT, "perfbench")
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(ROOT, ".bench_work", "selftest")


def bench(*args, env=None, cwd=ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py") if cwd == ROOT else "perfbench/run.py",
         *args], cwd=cwd, env=dict(os.environ, **(env or {})),
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600)


def last_result(workload, trace):
    with open(os.path.join(ROOT, ".bench_work", "last",
                           f"{workload}-trace{trace}.result.json")) as f:
        return json.load(f)


class Definition(unittest.TestCase):
    def test_benchmark_json_names_what_the_command_prints(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         run.per_layer_units())
        self.assertLessEqual(len(spec["per_layer"]), 128)


class Generator(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)
        os.makedirs(SCRATCH)

    def test_same_seed_same_inputs(self):
        def digests(seed, tag):
            d = os.path.join(SCRATCH, tag)
            gen.make_tables(d, seed, 0.001)
            p = gen.Pipeline(seed, 3, 2)
            p.write_season(os.path.join(d, "season.tgz"), "s.csv")
            p.write_segments(os.path.join(d, "segs"), os.path.join(d, "days"))
            out = {}
            for f in sorted(glob.glob(os.path.join(d, "**"), recursive=True)):
                if os.path.isfile(f):
                    with open(f, "rb") as fh:
                        out[os.path.relpath(f, d)] = hashlib.sha256(fh.read()).hexdigest()
            return out
        a, b, c = digests(5, "a"), digests(5, "b"), digests(6, "c")
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_season_keys_unique_and_cut_plays_keep_keys(self):
        p = gen.Pipeline(1, 5, 2)
        keys = [gen._key(r) for r in p.season]
        self.assertEqual(len(keys), len(set(keys)))
        cut = [r for r in p.season if "<br>" not in r[8]]
        self.assertTrue(cut)
        self.assertTrue(all(r[9] and r[10] and r[11] == "" for r in cut))
        replayed = set(gen._key(r) for r in p.days[2]) & set(gen._key(r) for r in p.days[1])
        self.assertTrue(replayed)


class EndToEnd(unittest.TestCase):
    def test_wrong_expected_query_output_fails_and_names_the_operation(self):
        r = bench("--workload", "query_mix", "--seed", "1", "--seconds", "0",
                  "--trace", "0", env={"PERFBENCH_CORRUPT_EXPECTED": "q01_pricing_summary"})
        self.assertEqual(r.returncode, 1, r.stderr[-2000:])
        self.assertIn("FAIL q01_pricing_summary", r.stderr)
        last = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertFalse(last["correct"])
        self.assertEqual(last["failed"], 1)

    def test_wrong_expected_pipeline_output_fails_and_names_the_operation(self):
        r = bench("--workload", "pipeline_daily", "--seed", "1", "--seconds", "0",
                  "--trace", "0", env={"PERFBENCH_CORRUPT_EXPECTED": "daily_run"})
        self.assertEqual(r.returncode, 1, r.stderr[-2000:])
        self.assertIn("FAIL daily_run: published key set", r.stderr)

    def test_traced_runs_attribute_every_stage_and_progress_event(self):
        for w in ("query_mix", "pipeline_daily"):
            r = bench("--workload", w, "--seed", "2", "--seconds", "0", "--trace", "1")
            self.assertEqual(r.returncode, 0, r.stderr[-2000:])
            res = last_result(w, 1)
            self.assertEqual(res["unattributed"], {"stages": 0, "progress": 0, "plans": 0})
            metrics = json.loads(r.stdout.strip().splitlines()[-1])["metrics"]
            self.assertEqual(set(metrics), set(run.per_layer_units()))
            self.assertGreater(metrics["engine.stages"]["value"], 0)
        # the pipeline's ingest drain reports progress events
        self.assertGreater(metrics["streaming.triggers"]["value"], 0)

    def test_fails_without_the_program(self):
        d = os.path.join(SCRATCH, "stripped")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        r = bench("--workload", "query_mix", "--seed", "1", "--seconds", "1",
                  "--trace", "0", cwd=d)
        self.assertNotEqual(r.returncode, 0)
        self.assertEqual(r.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
