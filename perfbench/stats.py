"""The benchmark's own arithmetic: percentiles, counting, span self times and
the per-layer metrics. Pure functions, tested offline by tests/test_stats.py."""
import math
import statistics

MIN_TAIL_SAMPLES = 40    # fewer samples than this: report the median alone
BEYOND = 10              # a tail percentile has at least this many samples above it


def median(xs):
    return statistics.median(xs)


def tail(xs):
    """The highest whole percentile with at least BEYOND samples beyond it,
    by the nearest-rank rule. Returns (value, percentile, n). With fewer than
    MIN_TAIL_SAMPLES samples the tail would be no tail: the median is
    returned, with percentile 50."""
    n = len(xs)
    s = sorted(xs)
    if n < MIN_TAIL_SAMPLES:
        return median(xs), 50, n
    best = 50
    for p in range(50, 100):
        rank = math.ceil(p * n / 100)       # 1-based nearest rank
        if n - rank >= BEYOND:
            best = p
    return s[math.ceil(best * n / 100) - 1], best, n


def spread(xs):
    """Interquartile distance as a share of the median (statistics.quantiles, n=4)."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / q2, q1, q2, q3


def count(ops, kinds):
    """(attempted, failed) over the operations of the given kinds."""
    mine = [o for o in ops if o["kind"] in kinds]
    return len(mine), sum(1 for o in mine if not o["ok"])


# ------------------------------------------------------------------ spans
# nesting rank: an operation holds build/execute/trigger spans, those hold
# Catalyst or micro-batch phases, phases hold jobs, jobs hold stages
RANK = {"harness": 0, "engine": 1, "sources": 1, "catalyst": 2, "streaming": 2, "sched": 3,
        "operators": 3, "exec": 4}
TOL = 1000   # microseconds: Spark reports millisecond times


def rank(span):
    if span["layer"] == "streaming" and span["name"].startswith("trigger"):
        return 1
    if span["layer"] == "sched" and span["name"] == "execute":
        return 1
    return RANK[span["layer"]]


def resolve_parents(spans):
    """Give every span without a parent the innermost lower-ranked span of the
    same operation whose interval contains its start."""
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    for group in by_op.values():
        for s in group:
            if s["parent"] != -1:
                continue
            best = None
            for p in group:
                if p is s or rank(p) >= rank(s):
                    continue
                # Spark truncates to milliseconds, so a span it reports may
                # appear to start up to TOL before the harness span holding it
                if p["start"] - TOL <= s["start"] <= p["end"]:
                    if best is None or (rank(p), p["start"]) > (rank(best), best["start"]):
                        best = p
            s["parent"] = best["id"] if best else -1
    return spans


def union_length(intervals):
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its children cover (children clipped to the parent, overlapping
    children counted once). Returns {span id: microseconds}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        clipped = [(max(c["start"], s["start"]), min(c["end"], s["end"])) for c in kids.get(s["id"], [])]
        covered = union_length([(a, b) for a, b in clipped if b > a])
        out[s["id"]] = max(s["end"] - s["start"] - covered, 0)
    return out


def layer_of(span, by_id, eager):
    """The layer a span's self time belongs to. Jobs (and their stages) fired
    while a flow is being built, from a call site in graft.operators, are the
    operators layer's eager materialisations."""
    if span["layer"] in ("sched", "exec") and span["name"] != "execute":
        job = span if span["layer"] == "sched" else by_id.get(span["parent"])
        if job is not None and job["id"] in eager:
            return "operators"
    return span["layer"]


def in_build(span, by_id):
    p = by_id.get(span["parent"])
    while p is not None:
        if p["name"] == "build":
            return True
        p = by_id.get(p["parent"])
    return False


LAYERS = ["harness", "engine", "operators", "catalyst", "sched", "exec", "sources", "streaming"]


def layer_split(spans, jobs, ops):
    """Per-layer self time summed over the given operations, the build-time
    job counts, and for each operation the share of its wall time that the
    layers' self times account for."""
    spans = [dict(s) for s in spans if s["op"] in ops]
    resolve_parents(spans)
    by_id = {s["id"]: s for s in spans}
    job_site = {j["span"]: j["operators_site"] for j in jobs}
    build_jobs = {s["id"] for s in spans if s["layer"] == "sched" and s["name"] != "execute"
                  and in_build(s, by_id)}
    eager = {j for j in build_jobs if job_site.get(j)}
    self_us = self_times(spans)
    per_layer = {k: 0.0 for k in LAYERS}
    per_op = {}
    for s in spans:
        lay = layer_of(s, by_id, eager)
        per_layer[lay] += self_us[s["id"]] / 1000.0
        per_op[s["op"]] = per_op.get(s["op"], 0.0) + self_us[s["id"]] / 1000.0
    shares = []
    for s in spans:
        if s["parent"] == -1 and s["layer"] == "harness":
            wall = (s["end"] - s["start"]) / 1000.0
            if wall > 0:
                shares.append(per_op.get(s["op"], 0.0) / wall)
    eager_ms = sum((by_id[j]["end"] - by_id[j]["start"]) / 1000.0 for j in eager)
    between = 0.0
    for s in spans:
        if s["name"] == "execute":
            jobs_in = [(max(j["start"], s["start"]), min(j["end"], s["end"])) for j in spans
                       if j["op"] == s["op"] and j["layer"] == "sched" and j["name"] != "execute"]
            between += ((s["end"] - s["start"]) - union_length([(a, b) for a, b in jobs_in if b > a])) / 1000.0
    return {"per_layer_ms": per_layer, "build_jobs": len(build_jobs), "eager_jobs": len(eager),
            "eager_ms": eager_ms, "between_jobs_ms": between, "shares": shares,
            "build_ms": sum((s["end"] - s["start"]) / 1000.0 for s in spans if s["name"] == "build"),
            "jobs": sum(1 for s in spans if s["layer"] == "sched" and s["name"] != "execute"),
            "stages": sum(1 for s in spans if s["layer"] == "exec"),
            "write_ms": sum((s["end"] - s["start"]) / 1000.0 for s in spans
                            if s["name"] == "execute" and s["layer"] == "sources")}
