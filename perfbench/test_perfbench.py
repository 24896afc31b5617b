"""Self-test of the benchmark: every workload at sf0.001 on a tiny schedule.

    python3 -m unittest perfbench/test_perfbench.py

Checks, per workload, that the untraced run prints every end-to-end metric
of BENCHMARK.json with its unit and the traced run every per-layer metric,
that no output check, query or chunk failed, that the traced run's harness
spans cover at least 95% of its wall time, and that each trigger's phase
spans add up to the trigger.
"""
import glob
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 4242

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run(workload, trace):
    """Runs one tiny workload; returns (printed result, full result, spans)."""
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "5", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    printed = json.loads(p.stdout.strip().splitlines()[-1])
    pattern = os.path.join(ROOT, ".bench_build", "results", f"{workload}-s{SEED}-t{trace}-*.json")
    path = max(glob.glob(pattern), key=os.path.getmtime)
    with open(path) as fh:
        full = json.load(fh)
    spans = []
    if trace:
        with open(path + ".spans.jsonl") as fh:
            spans = [json.loads(line) for line in fh]
    return printed, full, spans


class Workloads(unittest.TestCase):
    def check_workload(self, workload):
        printed, _, _ = run(workload, 0)
        self.assertEqual(set(printed), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(printed["correct"])
        self.assertEqual(printed["failed"], 0)
        self.assertGreaterEqual(printed["attempted"], 1)
        want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
        got = {k: v["unit"] for k, v in printed["metrics"].items()}
        self.assertEqual(got, want)
        for k, v in printed["metrics"].items():
            self.assertGreater(v["value"], 0, k)

        printed, full, spans = run(workload, 1)
        self.assertEqual(printed["failed"], 0)
        want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
        self.assertEqual({k: v["unit"] for k, v in printed["metrics"].items()}, want)
        self.assertEqual(printed["metrics"]["harness.failed_share"]["value"], 0)
        self.assertGreaterEqual(full["span_coverage"], 0.95)
        children = {}
        for s in spans:
            if s["parent"]:
                children.setdefault(s["parent"], []).append(s["end_ms"] - s["start_ms"])
        triggers = [s for s in spans if s["name"] == "trigger"]
        self.assertTrue(triggers)
        for t in triggers:
            dur = t["end_ms"] - t["start_ms"]
            self.assertLessEqual(abs(sum(children[t["id"]]) - dur), 0.05 * dur + 1e-6, t)
        return printed["metrics"]

    def test_dag_replay(self):
        m = self.check_workload("dag_replay")
        self.assertGreater(m["curation.busy_s"]["value"], 0)
        self.assertGreater(m["dwd_trade.state_rows"]["value"], 0)
        self.assertEqual(m["stateful.batches"]["value"], 0)

    def test_keyed_state(self):
        m = self.check_workload("keyed_state")
        self.assertGreater(m["stateful.state_rows"]["value"], 0)
        self.assertEqual(m["curation.busy_s"]["value"], 0)
        self.assertEqual(m["dim.batches"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
