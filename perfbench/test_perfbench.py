"""The benchmark's own tests: metric-name grammar, generator determinism, and
tiny-input runs of both workloads with their output checks.

    python3 -m unittest perfbench/test_perfbench.py     # from the repo root, ~4 min

The three tiny runs (seeds 3, 4 and 5) are shared by the tests below.
"""
import json
import os
import re
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
# the named metrics `--workload all` prints, one set per workload
NAMED = {
    "anonymize.mart_s", "anonymize.rows_per_s", "anonymize.gate_s", "anonymize.geo_release_s",
    "curate.docs_per_s", "curate.batch_max_s", "curate.store_mb", "curate.day0_s", "curate.day1_s",
    "rights.access_s", "rights.consent_s", "rights.rectify_s", "rights.erase_logical_s",
    "rights.erase_settle_s", "rights.release_s", "rights.requests_per_min", "failed_frac",
}


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(*args):
    """Runs the benchmark; returns (stdout lines, the result object or None)."""
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"run.py {' '.join(args)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    lines = p.stdout.splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return lines, result


def input_hashes(lines):
    return {l.split()[1]: l.split("sha256=")[1] for l in lines if l.startswith("input ")}


RUNS = {}


def tiny(name):
    """The tiny run `name`, made once per test process."""
    if name not in RUNS:
        RUNS[name] = run(*{
            "all": ("--workload", "all", "--seed", "3", "--seconds", "1"),
            "anonymize": ("--workload", "anonymize_batch", "--seed", "4", "--seconds", "1",
                          "--trace", "0"),
            "curate_traced": ("--workload", "curate_rights", "--seed", "5", "--seconds", "1",
                              "--trace", "1"),
        }[name], "--tiny")
    return RUNS[name]


class MetricNames(unittest.TestCase):
    def test_names_and_units_follow_the_grammar(self):
        s = spec()
        metrics = s["end_to_end"] + s["per_layer"]
        names = [m["name"] for m in metrics] + [w["name"] for w in s["workloads"]]
        for n in names + sorted(NAMED):
            self.assertRegex(n, NAME)
        self.assertEqual(len(names), len(set(names)), "a name is used twice")
        for m in metrics:
            self.assertRegex(m["unit"], UNIT)
        self.assertIn("setup_s", [m["name"] for m in s["end_to_end"]])


class Generators(unittest.TestCase):
    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        # same seed: every run generates its inputs three times and fails
        # its "generator determinism" operation unless the hashes agree
        (a_lines, a), (b_lines, b), (c_lines, c) = (
            tiny("all"), tiny("anonymize"), tiny("curate_traced"))
        for r in (a, b, c):
            self.assertEqual(r["failed"], 0, r)
        seed3, seed4, seed5 = input_hashes(a_lines), input_hashes(b_lines), input_hashes(c_lines)
        self.assertEqual(set(seed3), set(seed4) | set(seed5))
        self.assertTrue(seed4 and seed5)
        for k, h in {**seed4, **seed5}.items():
            self.assertNotEqual(seed3[k], h, k)


class TinyRuns(unittest.TestCase):
    """Every workload's output checks, on tiny inputs."""

    def test_all_workloads_print_every_named_metric_and_pass_their_checks(self):
        lines, r = tiny("all")
        self.assertTrue(r["correct"], r)
        self.assertEqual(r["failed"], 0)
        self.assertEqual(set(r["metrics"]), NAMED)
        self.assertEqual(r["metrics"]["failed_frac"]["value"], 0)
        for l in lines:
            if l.startswith(("metric ", "property ")):
                self.assertRegex(l.split()[1], NAME)

    def test_timed_run_reports_the_end_to_end_metrics(self):
        _, r = tiny("anonymize")
        self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(set(r["metrics"]), {m["name"] for m in spec()["end_to_end"]})
        self.assertTrue(all(v["value"] > 0 for v in r["metrics"].values()), r)

    def test_traced_run_reports_the_per_layer_metrics_and_every_span(self):
        lines, r = tiny("curate_traced")
        self.assertTrue(r["correct"], r)
        self.assertEqual(set(r["metrics"]), {m["name"] for m in spec()["per_layer"]})
        spans = {l.split()[1].rsplit(".", 1)[0] for l in lines if l.startswith("layer ")}
        for s in ("cli.incremental", "text.prepare", "dedup.against_corpus", "policy.consent_init",
                  "cli.access_by_subject", "policy.consent_withdraw", "cli.rectify",
                  "cli.erase_logical_by_subject", "cli.erase_settle", "policy.release",
                  "operators.fsck", "trace"):
            self.assertIn(f"curate_rights.{s}", spans)


if __name__ == "__main__":
    unittest.main()
