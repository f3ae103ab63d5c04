"""Self-tests of the benchmark's own arithmetic, runnable offline:

    python3 -m unittest discover -s perfbench/tests

The last test starts the harness JVM (building it first if needed) and is
skipped when no Java is available.
"""
import json
import os
import shutil
import statistics
import subprocess
import sys
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(BENCH))

import stats  # noqa: E402


def span(i, op, name, layer, start, end, parent=-1):
    return {"id": i, "op": op, "name": name, "layer": layer, "start": start, "end": end, "parent": parent}


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))            # 100 samples: p90 leaves exactly 10 above
        value, p, n = stats.tail(xs)
        self.assertEqual((value, p, n), (90, 90, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_odd_count(self):
        xs = list(range(57))                # ranks: p82 -> rank 47, 10 beyond
        value, p, n = stats.tail(xs)
        self.assertEqual(p, 82)
        self.assertGreaterEqual(sum(1 for x in xs if x > value), 10)
        # one percentile higher would leave fewer than ten beyond
        self.assertLess(57 - -(-83 * 57 // 100), 10)

    def test_too_few_samples_reports_median(self):
        xs = [5.0, 1.0, 3.0] + [2.0] * 30
        self.assertEqual(stats.tail(xs), (statistics.median(xs), 50, 33))

    def test_spread(self):
        s, q1, q2, q3 = stats.spread([10, 11, 12, 13, 14, 15, 16, 17, 18, 19])
        self.assertAlmostEqual(s, (q3 - q1) / q2)


class SelfTime(unittest.TestCase):
    def test_overlapping_children_counted_once(self):
        spans = [span(1, 1, "op a", "harness", 0, 100),
                 span(2, 1, "execute", "sched", 0, 100, 1),
                 # two concurrent jobs: [10, 50) and [30, 70) cover 60, not 80
                 span(3, 1, "job 1", "sched", 10, 50, 2),
                 span(4, 1, "job 2", "sched", 30, 70, 2)]
        st = stats.self_times(spans)
        self.assertEqual(st[2], 40)
        self.assertEqual(st[1], 0)
        self.assertEqual((st[3], st[4]), (40, 40))

    def test_children_clipped_to_parent(self):
        spans = [span(1, 1, "op a", "harness", 0, 100), span(2, 1, "build", "engine", 50, 150, 1)]
        self.assertEqual(stats.self_times(spans)[1], 50)

    def test_parents_resolved_by_containment(self):
        spans = [span(1, 1, "op a", "harness", 0, 10_000),
                 span(2, 1, "build", "engine", 0, 4_000, 1),
                 span(3, 1, "execute", "sources", 4_000, 10_000, 1),
                 span(4, 1, "planning", "catalyst", 4_100, 4_500),
                 span(5, 1, "job 7", "sched", 5_000, 9_000),
                 span(6, 1, "stage 9", "exec", 5_100, 8_900, 5),
                 span(7, 1, "job 8", "sched", 1_000, 2_000)]
        stats.resolve_parents(spans)
        parent = {s["id"]: s["parent"] for s in spans}
        self.assertEqual((parent[4], parent[5], parent[6], parent[7]), (3, 3, 5, 2))

    def test_layer_split_accounts_for_the_operation(self):
        spans = [span(1, 1, "op a", "harness", 0, 10_000),
                 span(2, 1, "build", "engine", 0, 4_000, 1),
                 span(3, 1, "execute", "sources", 4_000, 10_000, 1),
                 span(5, 1, "job 7", "sched", 5_000, 9_000),
                 span(6, 1, "stage 9", "exec", 5_100, 8_900, 5),
                 span(7, 1, "job 8", "sched", 1_000, 2_000),
                 span(8, 1, "stage 10", "exec", 1_100, 1_900, 7)]
        jobs = [{"span": 5, "operators_site": False}, {"span": 7, "operators_site": True}]
        out = stats.layer_split(spans, jobs, {1})
        self.assertEqual(out["shares"], [1.0])
        self.assertEqual((out["build_jobs"], out["eager_jobs"]), (1, 1))
        self.assertAlmostEqual(out["per_layer_ms"]["operators"], 1.0)   # job 8 and its stage
        self.assertAlmostEqual(out["per_layer_ms"]["engine"], 3.0)
        self.assertAlmostEqual(out["between_jobs_ms"], 2.0)


class Counting(unittest.TestCase):
    def test_attempted_and_failed(self):
        ops = [{"kind": "flow", "ok": True}, {"kind": "flow", "ok": False},
               {"kind": "trigger", "ok": False}, {"kind": "flow", "ok": True}]
        self.assertEqual(stats.count(ops, {"flow"}), (3, 1))
        self.assertEqual(stats.count(ops, {"trigger"}), (1, 1))


@unittest.skipIf(shutil.which("java") is None, "no java")
class UnknownProcessor(unittest.TestCase):
    def test_counts_as_failed_and_run_goes_on(self):
        root = Path(os.environ.get("PERFBENCH_ROOT", BENCH.parent))
        r = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", "selftest", "--seed", "1",
                            "--seconds", "0", "--trace", "0"], cwd=root, stdout=subprocess.PIPE, text=True)
        self.assertEqual(r.returncode, 0)
        last = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertEqual((last["attempted"], last["failed"], last["correct"]), (2, 1, True))


if __name__ == "__main__":
    unittest.main()
