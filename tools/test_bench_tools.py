"""The bench artifact consumers read old- and new-format artifacts alike.

graft.Bench's bench_full.json gained a `queries_layers` block and its
stdout line caps in-line `adjudications` at {row: [readings]} (the full
{readings, probes, band} evidence stays in bench_full.json). These tests
feed tools/bench_compare.py and tools/make_bands.py the same readings in
both formats and check that every per-row call and band is unchanged.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import copy
import json
import os
import subprocess
import sys
import tempfile
import unittest

TOOLS = os.path.dirname(os.path.abspath(__file__))
ROWS = ["graph_pagerank", "join_inner", "q1_pricing", "vec_pq_codes", "win_rank"]


def old_full(scale, runs=1):
    """An old-format bench_full.json: rows scaled by `scale`."""
    q = {k: round(scale * (0.4 + i), 3) for i, k in enumerate(ROWS)}
    probes = {"calibration": 0.2, "calibration_sustained": 1.0, "calibration_shuffle": 2.0}
    return {
        "metric": "total", "value": sum(q.values()), "value_warm": sum(q.values()),
        "value_cold_tail": 0.0, "unit": "sec", "stream_fast": True, "runs": runs,
        "tiered": False, "n_bands": 0, **probes, "queries": {**q, **probes},
        "queries_cold": {}, "queries_norm": {k: v for k, v in q.items()},
        "queries_exchanges": {"graph_pagerank": 7, "join_inner": 1, "q1_pricing": 2,
                              "vec_pq_codes": 0, "win_rank": 1},
        "adjudications": {"vec_pq_codes": {"readings": [9.0, 3.4, 3.5],
                                           "probes": [0.2, 0.2, 0.2], "band": [1.3, 3.7]}},
        "sf": "/data/sf0.1",
    }


def new_full(old):
    """The same readings in the new format: plus per-row layer records."""
    new = copy.deepcopy(old)
    new["queries_layers"] = {k: {"construct.s": 0.1, "construct.jobs": 0,
                                 "catalyst.analysis_s": 0, "catalyst.optimization_s": 0.02,
                                 "catalyst.planning_s": 0.01, "codegen.compile_s": 0,
                                 "exec.s": 0.3, "exec.jobs": 4, "exec.stages": 4,
                                 "exec.tasks": 4, "exec.shuffle_write_bytes": 1276,
                                 "exec.shuffle_read_bytes": 1919, "exec.spill_bytes": 0,
                                 "plan.exchanges": old["queries_exchanges"][k]}
                             for k in ROWS}
    return new


def driver_wrapper(full, capped):
    """A driver BENCH_rN.json: the stdout line embedded in its tail."""
    adj = {k: (v["readings"] if capped else v) for k, v in full["adjudications"].items()}
    line = {"metric": "total", "value": full["value"], "unit": "sec", "n_bands": 0,
            "adjudications": adj, "queries": full["queries"], "sf": "sf0.1"}
    return {"n": 1, "rc": 0, "tail": "[bench] log line\n" + json.dumps(line, separators=(",", ":"))}


def run_compare(a, b):
    with tempfile.TemporaryDirectory() as d:
        pa, pb = os.path.join(d, "a.json"), os.path.join(d, "b.json")
        for p, doc in ((pa, a), (pb, b)):
            with open(p, "w") as f:
                json.dump(doc, f)
        out = subprocess.run([sys.executable, os.path.join(TOOLS, "bench_compare.py"), pa, pb],
                             capture_output=True, text=True, check=True).stdout
    return [l for l in out.splitlines() if l.startswith("| ") or "shared rows" in l]


def run_bands(history, working):
    """make_bands.py over a scratch git repo: `history` committed, `working` on disk."""
    with tempfile.TemporaryDirectory() as d:
        git = ["git", "-c", "user.name=t", "-c", "user.email=t@t", "-C", d]
        subprocess.run(git + ["init", "-q"], check=True)
        os.mkdir(os.path.join(d, "tools"))
        for doc in history:
            with open(os.path.join(d, "bench_full.json"), "w") as f:
                json.dump(doc, f)
            subprocess.run(git + ["add", "bench_full.json"], check=True)
            subprocess.run(git + ["commit", "-q", "-m", "bench"], check=True)
        with open(os.path.join(d, "bench_full.json"), "w") as f:
            json.dump(working, f)
        subprocess.run([sys.executable, os.path.join(TOOLS, "make_bands.py"), "sf0.1"],
                       cwd=d, capture_output=True, text=True, check=True)
        with open(os.path.join(d, "tools", "bench_bands.json")) as f:
            return json.load(f)


class BenchCompareTest(unittest.TestCase):
    def test_same_calls_from_bench_full(self):
        a, b = old_full(1.0), old_full(1.5)
        b["queries"]["win_rank"] = a["queries"]["win_rank"]
        calls = run_compare(a, b)
        self.assertTrue(any("RECHECK" in l for l in calls), calls)
        self.assertEqual(run_compare(new_full(a), new_full(b)), calls)
        self.assertEqual(run_compare(a, new_full(b)), calls)

    def test_same_calls_from_driver_lines(self):
        a, b = old_full(1.0), old_full(0.5)
        calls = run_compare(driver_wrapper(a, capped=False), driver_wrapper(b, capped=False))
        self.assertTrue(any("faster" in l for l in calls), calls)
        self.assertEqual(
            run_compare(driver_wrapper(a, capped=True), driver_wrapper(b, capped=True)), calls)


class MakeBandsTest(unittest.TestCase):
    def test_same_bands_from_both_formats(self):
        history = [old_full(1.0), old_full(1.2, runs=3)]
        working = old_full(0.9)
        old = run_bands(history, working)
        self.assertEqual(sorted(old["bands"]), ROWS)
        self.assertEqual(run_bands([new_full(h) for h in history], new_full(working)), old)


if __name__ == "__main__":
    unittest.main()
