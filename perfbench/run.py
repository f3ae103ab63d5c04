#!/usr/bin/env python3
"""graft benchmark: one seeded workload, timed end to end or traced by layer.

Usage (from the repository root):
  python3 perfbench/run.py --workload flow_mix|stream_replay \
      --seed N --seconds S --trace 0|1

Builds graft and the harness once per source state (outside the timings),
generates the workload's inputs from the seed, starts one JVM running
local[N] (N = cores) with the JVM options sbt's `run` uses, measures for S
seconds in whole rounds, checks every output apart from graft, and prints a
report followed by one JSON line: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones, with
--trace 1 the per-layer ones. Exits 1 when a check fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))

import build  # noqa: E402
import check  # noqa: E402
import flows  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("flow_mix", "stream_replay")
HEAP = "2g"
JVM_TIMEOUT_S = 170
# the operation whose latency is op_p50_ms (a data trigger, not the flush, for streams)
LATENCY_KIND = {"flow_mix": "flow", "stream_replay": "trigger", "selftest": "flow"}
# the operations counted in `attempted` and `failed`
COUNT_KINDS = {"flow_mix": {"flow"}, "stream_replay": {"trigger", "flush"}, "selftest": {"flow"}}
# the operations that make up a round
ROUND_KIND = {"flow_mix": "flow", "stream_replay": "pipeline", "selftest": "flow"}
STREAM = {"watermark": "1 minute", "gap": "5 minutes", "within": "2 minutes", "join_left": "click",
          "join_right": "purchase", "hll_p": 8, "events": 1200, "batches": 1,
          "users": 150}
FLOW_MIX_LINEITEM = 15_000


def cores():
    """Usable cores, or PERFBENCH_CORES for a reference run on fewer (local[1])."""
    if os.environ.get("PERFBENCH_CORES"):
        return int(os.environ["PERFBENCH_CORES"])
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def inputs(workload, seed, data_root):
    """Generate the workload's inputs for `seed` (cached per seed)."""
    sizes = {"flow_mix": FLOW_MIX_LINEITEM, "stream_replay": STREAM}.get(workload, {})
    d = data_root / workload / f"{seed}-{hashlib.sha256(json.dumps(sizes, sort_keys=True).encode()).hexdigest()[:8]}"
    if (d / "DONE").exists():
        return d
    if data_root.joinpath(workload).exists():
        shutil.rmtree(data_root / workload)   # keep one seed per workload on disk
    d.mkdir(parents=True)
    if workload == "flow_mix":
        gen.star(str(d), seed, n_line=FLOW_MIX_LINEITEM)
    elif workload == "stream_replay":
        gen.replay(f"{d}/replay.parquet", seed, STREAM["events"], STREAM["batches"], STREAM["users"],
                   gen.EVENT_TYPES)
    (d / "DONE").write_text("ok\n")
    return d


def count_rows(path):
    import pyarrow.parquet as pq
    return pq.ParquetFile(path).metadata.num_rows


def plan_for(workload, seed, seconds, trace, d, out):
    plan = {"workload": workload, "seconds": seconds, "trace": bool(trace), "cores": cores(),
            "out": str(out)}
    if workload == "flow_mix":
        rounds = 256
        plan.update(
            templates=[{"name": t["name"], "json": flows.flow_json(t), "fresh": t["fresh"],
                        "items": sum(count_rows(f"{d}/{x}.parquet") for x in t["inputs"])}
                       for t in flows.TEMPLATES],
            vars=[[dict(flows.template_vars(seed, r, t), dir=str(d)) for t in flows.TEMPLATES]
                  for r in range(rounds)],
            model_input=f"{d}/lineitem.parquet", model_fields=["l_quantity", "l_extendedprice"],
            model_name="perfbench_norm")
    elif workload == "stream_replay":
        plan.update(replay=f"{d}/replay.parquet", stream=STREAM)
    elif workload == "selftest":
        good = flows.chain({"id": "g", "name": "range", "config": {"n": 10}}, flows.node("take", n=3))
        bad = flows.chain({"id": "g", "name": "range", "config": {"n": 10}}, flows.node("no_such_processor"))
        plan.update(flows=[json.dumps(good), json.dumps(bad)])
    return plan


def cpu_times():
    """(steal, total) jiffies of the whole machine, or None where /proc/stat
    is missing."""
    try:
        with open("/proc/stat") as f:
            xs = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None
    return xs[7], sum(xs[:8])


def run_jvm(classes, plan_path, log_path):
    args = (["java"] + build.jvm_options(HEAP) +
            [f"-Djava.io.tmpdir={plan_path.parent / 'tmp'}", "-cp", build.classpath(classes),
             "perfbench.Harness", str(plan_path)])
    (plan_path.parent / "tmp").mkdir(exist_ok=True)
    with open(log_path, "w") as log:
        p = subprocess.Popen(args, stdout=log, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return -9


def end_to_end(workload, res):
    """setup_s, and round_cpu_s: the median over timed rounds of the CPU time
    the JVM spends on one round. CPU time leaves out the time the host gives
    to other guests (steal), so it holds steady where wall time does not;
    the round's wall time is reported beside it."""
    ops = res["ops"]
    lat = [o["ms"] for o in ops if o["kind"] == LATENCY_KIND[workload] and o["ok"]]
    wall, cpu = {}, {}
    for o in ops:
        if o["kind"] == ROUND_KIND[workload]:
            wall[o["round"]] = wall.get(o["round"], 0.0) + o["ms"] / 1000.0
            cpu[o["round"]] = cpu.get(o["round"], 0.0) + o["cpu_ms"] / 1000.0
    tail_v, tail_p, n = stats.tail(lat)
    # a tail needs at least 40 samples; shorter runs report the median alone
    tail = {"tail_ms": tail_v, "tail_percentile": tail_p} if n >= stats.MIN_TAIL_SAMPLES else {"tail_ms": None}
    return {
        "setup_s": {"value": res["setup_s"], "unit": "s"},
        "round_cpu_s": {"value": stats.median(list(cpu.values())), "unit": "s"},
    }, {"round_s": stats.median(list(wall.values())), "rounds": len(wall), "op_p50_ms": stats.median(lat),
        **tail, "latency_samples": n}


def rates(workload, res):
    """Throughput as a user reads it: events per second for stream_replay
    (query start and stop included), flows per second for flow_mix."""
    ok = [o for o in res["ops"] if o["kind"] == ROUND_KIND[workload] and o["ok"]]

    def per_s(items, ops):
        ms = sum(o["ms"] for o in ops)
        return items / (ms / 1000.0) if ms else None
    if workload == "stream_replay":
        return {"stream_events_per_s": per_s(sum(o["items"] for o in ok), ok)}
    return {"flows_per_s": per_s(len(ok), ok)}


PER_LAYER = [
    ("engine.build_ms", "ms"), ("engine.build_jobs", "count"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"), ("catalyst.planning_ms", "ms"),
    ("catalyst.codegen_compiles", "count"), ("catalyst.codegen_ms", "ms"), ("plans.custom_nodes", "count"),
    ("sched.jobs", "count"), ("sched.stages", "count"), ("sched.tasks", "count"), ("sched.between_jobs_ms", "ms"),
    ("operators.eager_jobs", "count"), ("operators.eager_ms", "ms"),
    ("exec.task_run_ms", "ms"), ("exec.task_cpu_ms", "ms"), ("exec.gc_ms", "ms"), ("exec.scan_bytes", "bytes"),
    ("exec.scan_rows", "count"), ("exec.shuffle_write_bytes", "bytes"), ("exec.shuffle_read_bytes", "bytes"),
    ("exec.shuffle_fetch_wait_ms", "ms"), ("exec.spill_bytes", "bytes"), ("exec.peak_exec_mb", "MB"),
    ("sources.write_ms", "ms"), ("sources.output_bytes", "bytes"),
    ("streaming.add_batch_ms", "ms"), ("streaming.query_planning_ms", "ms"), ("streaming.wal_commit_ms", "ms"),
    ("streaming.commit_offsets_ms", "ms"), ("streaming.latest_offset_ms", "ms"), ("streaming.get_batch_ms", "ms"),
    ("streaming.state_rows", "count"), ("streaming.state_mb", "MB"), ("streaming.state_commit_ms", "ms"),
    ("jvm.heap_after_gc_peak_mb", "MB"), ("storage.peak_mb", "MB"), ("storage.leaked_tables", "count"),
] + [(f"self.{k}_ms", "ms") for k in stats.LAYERS]


def per_layer(workload, res):
    """Per-layer metrics of a traced run. Counters and times are means per
    operation (a flow, or a trigger including the flush); streaming phases
    and state are means per micro-batch; peaks are maxima; leaked tables are
    a total."""
    tr = res["trace"]
    ops = {o["op"] for o in res["ops"]}
    n_ops = max(1, len([o for o in res["ops"] if o["kind"] in COUNT_KINDS[workload]]))
    spans = [dict(zip(["id", "op", "name", "layer", "start", "end", "parent"], s)) for s in tr["spans"]]
    split = stats.layer_split(spans, tr["jobs"], ops)
    tasks = [t for op, t in tr["tasks"].items() if int(op) in ops]
    qes = [q for q in tr["qes"] if q["op"] in ops]
    prog = [p for p in tr["progress"] if p["op"] in ops]
    cg = [c for op, c in tr["codegen"].items() if int(op) in ops]

    def tsum(k):
        return sum(t[k] for t in tasks)

    def per_batch(k):
        return sum(p.get(k, 0) for p in prog) / max(1, len(prog))

    m = {
        "engine.build_ms": split["build_ms"] / n_ops, "engine.build_jobs": split["build_jobs"] / n_ops,
        "catalyst.analysis_ms": sum(q.get("analysis", 0) for q in qes) / n_ops,
        "catalyst.optimization_ms": sum(q.get("optimization", 0) for q in qes) / n_ops,
        "catalyst.planning_ms": sum(q.get("planning", 0) for q in qes) / n_ops,
        "catalyst.codegen_compiles": sum(c["compiles"] for c in cg) / n_ops,
        "catalyst.codegen_ms": sum(c["ms"] for c in cg) / n_ops,
        "plans.custom_nodes": sum(q["custom_nodes"] for q in qes) / n_ops,
        "sched.jobs": split["jobs"] / n_ops, "sched.stages": split["stages"] / n_ops,
        "sched.tasks": tsum("tasks") / n_ops, "sched.between_jobs_ms": split["between_jobs_ms"] / n_ops,
        "operators.eager_jobs": split["eager_jobs"] / n_ops, "operators.eager_ms": split["eager_ms"] / n_ops,
        "exec.task_run_ms": tsum("run_ms") / n_ops, "exec.task_cpu_ms": tsum("cpu_ms") / n_ops,
        "exec.gc_ms": tsum("gc_ms") / n_ops, "exec.scan_bytes": tsum("scan_bytes") / n_ops,
        "exec.scan_rows": tsum("scan_rows") / n_ops, "exec.shuffle_write_bytes": tsum("shuffle_write_bytes") / n_ops,
        "exec.shuffle_read_bytes": tsum("shuffle_read_bytes") / n_ops,
        "exec.shuffle_fetch_wait_ms": tsum("fetch_wait_ms") / n_ops, "exec.spill_bytes": tsum("spill_bytes") / n_ops,
        "exec.peak_exec_mb": max([t["peak_exec_bytes"] for t in tasks], default=0) / 2**20,
        "sources.write_ms": split["write_ms"] / n_ops, "sources.output_bytes": tsum("output_bytes") / n_ops,
        "streaming.add_batch_ms": per_batch("addBatch"), "streaming.query_planning_ms": per_batch("queryPlanning"),
        "streaming.wal_commit_ms": per_batch("walCommit"), "streaming.commit_offsets_ms": per_batch("commitOffsets"),
        "streaming.latest_offset_ms": per_batch("latestOffset"), "streaming.get_batch_ms": per_batch("getBatch"),
        "streaming.state_rows": per_batch("state_rows"), "streaming.state_mb": per_batch("state_bytes") / 2**20,
        "streaming.state_commit_ms": per_batch("state_commit_ms"),
        "jvm.heap_after_gc_peak_mb": tr["heap_after_gc_peak_bytes"] / 2**20,
        "storage.peak_mb": tr["storage_peak_bytes"] / 2**20, "storage.leaked_tables": res["leaked"],
    }
    for k in stats.LAYERS:
        m[f"self.{k}_ms"] = split["per_layer_ms"][k] / n_ops
    units = dict(PER_LAYER)
    shares = sorted(split["shares"])
    extra = {"micro_batches": len(prog), "self_time_share": {
        "min": shares[0], "median": stats.median(shares), "max": shares[-1]} if shares else None}
    return {k: {"value": m[k], "unit": units[k]} for k, _ in PER_LAYER}, extra


def verify(workload, seed, d, out, res):
    if workload == "flow_mix":
        return check.flow_mix(str(d), seed, res["checks"])
    if workload == "stream_replay":
        return check.stream_replay(f"{d}/replay.parquet", f"{out}/check/stream", STREAM)
    return []


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("selftest",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    root = Path.cwd()
    classes = build.build(root)
    broot = build.build_root(root)
    d = inputs(a.workload, a.seed, broot / "data") if a.workload != "selftest" else None
    out = broot / "work" / a.workload
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    plan_path = out / "plan.json"
    plan_path.write_text(json.dumps(plan_for(a.workload, a.seed, a.seconds, a.trace, d, out)))
    t0, cpu0 = time.time(), cpu_times()
    code = run_jvm(classes, plan_path, out / "jvm.log")
    wall, cpu1 = time.time() - t0, cpu_times()
    # the share of CPU time the hypervisor gave to other guests during the run
    steal = round((cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1]), 4) if cpu0 and cpu1 else None
    if code != 0 or not (out / "results.json").exists():
        sys.stderr.write((out / "jvm.log").read_text()[-4000:] if (out / "jvm.log").exists() else "")
        sys.exit(f"harness JVM exited with {code}")
    res = json.loads((out / "results.json").read_text())
    fails = verify(a.workload, a.seed, d, out, res)
    attempted, failed = stats.count(res["ops"], COUNT_KINDS[a.workload])
    e2e, shape = end_to_end(a.workload, res)
    report = {"workload": a.workload, "seed": a.seed, "cores": cores(), "jvm_wall_s": round(wall, 2), "steal_share": steal,
              **shape, **rates(a.workload, res), "leaks": res["leaks"],
              "check_failures": fails[:10]}
    errors = sorted({o["error"] for o in res["ops"] if not o["ok"]})
    if errors:
        report["op_errors"] = errors[:5]
    if a.trace:
        metrics, extra = per_layer(a.workload, res)
        report.update(traced_end_to_end={k: v["value"] for k, v in e2e.items()}, **extra)
    else:
        metrics = e2e
    print("report " + json.dumps(report))
    print(json.dumps({"correct": not fails, "attempted": attempted, "failed": failed, "metrics": metrics}))
    sys.exit(0 if not fails else 1)


if __name__ == "__main__":
    main()
