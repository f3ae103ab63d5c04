#!/usr/bin/env python3
"""Steadiness of the benchmark: run each workload several times, each with
another seed, and print every metric's median, quartiles and spread (the
interquartile distance as a share of the median), plus each run's share of
failed operations. The bounds in BENCHMARK.json are read against this.

Usage (from the repository root):
  python3 perfbench/steady.py [--runs 10] [--first-seed 1] [--trace 0|1] [workload ...]
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))

import stats  # noqa: E402


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("workloads", nargs="*")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    workloads = a.workloads or [w["name"] for w in spec["workloads"]]
    summary = {}
    for w in workloads:
        values, shares = {}, []
        for i in range(a.runs):
            seed = a.first_seed + i
            r = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", w, "--seed", str(seed),
                                "--seconds", str(spec["run_seconds"]), "--trace", str(a.trace)],
                               stdout=subprocess.PIPE, text=True)
            lines = r.stdout.strip().splitlines()
            last = json.loads(lines[-1])
            report = json.loads(lines[-2][len("report "):]) if len(lines) > 1 else {}
            print(f"{w} seed {seed}: exit {r.returncode} correct {last['correct']} "
                  f"{last['failed']}/{last['attempted']} failed; "
                  + " ".join(f"{k} {v['value']:.4g}" for k, v in last["metrics"].items())
                  + f"; round_s {report.get('round_s')} rounds {report.get('rounds')} steal {report.get('steal_share')}", flush=True)
            shares.append(last["failed"] / last["attempted"])
            for k, v in last["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            for k in ("round_s", "op_p50_ms"):   # wall times of the report line, not bounded
                if k in report:
                    values.setdefault(f"report.{k}", []).append(report[k])
        summary[w] = {}
        for k, xs in values.items():
            s, q1, q2, q3 = stats.spread(xs)
            b = bounds.get(k)
            summary[w][k] = {"median": q2, "q1": q1, "q3": q3, "spread": s, "bound": b, "values": xs}
            flag = "" if b is None else ("  ok" if s < b / 3 else "  WIDE" if s > b else "  within bound")
            print(f"  {k:28s} median {q2:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  spread {s:7.4f}{flag}")
        print(f"  failed share per run: {sorted(set(shares))}", flush=True)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
