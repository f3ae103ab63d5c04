"""Output checks, computed apart from graft: DuckDB SQL over the same
generated inputs, or plain Python over the generated ground truth. Each
check returns a list of failure messages (empty when the output is right)."""
import collections
import datetime
import decimal
import glob
import hashlib
import math
import os

import duckdb

import flows

REL_TOL = 1e-9   # doubles: Spark and DuckDB sum in different orders


def canon(v):
    if isinstance(v, (float, decimal.Decimal)):
        return float(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return v


def sort_key(row):
    """Orders rows; doubles by 6 significant digits, so values that differ
    only in the last digits sort alike on both sides."""
    return tuple((0, "") if x is None else
                 (1, "float", float(f"{x:.6g}")) if isinstance(x, float) and math.isfinite(x) else
                 (1, str(type(x).__name__), x) for x in row)


def close(x, y):
    if isinstance(x, float) and isinstance(y, float) and math.isfinite(x) and math.isfinite(y):
        return abs(x - y) <= REL_TOL * max(abs(x), abs(y)) + 1e-12
    return x == y


def canonical(con, sql):
    """Rows with columns in name order and every value canonicalised, sorted."""
    rel = con.sql(sql)
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(canon(r[i]) for i in order) for r in rel.fetchall()]
    return [cols[i] for i in order], sorted(rows, key=sort_key)


def parquet(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")) + glob.glob(os.path.join(path, "**", "*.parquet")))
    return "[" + ", ".join(f"'{f}'" for f in dict.fromkeys(files)) + "]"


def compare(con, name, expected_sql, actual_path):
    try:
        ecols, erows = canonical(con, expected_sql)
        acols, arows = canonical(con, f"SELECT * FROM read_parquet({parquet(actual_path)})")
    except Exception as e:  # a missing or unreadable output is a failed check
        return [f"{name}: {str(e).splitlines()[0]}"]
    if ecols != acols:
        return [f"{name}: columns {acols} != expected {ecols}"]
    if len(erows) != len(arows):
        missing = collections.Counter(erows) - collections.Counter(arows)
        extra = collections.Counter(arows) - collections.Counter(erows)
        return [f"{name}: {len(arows)} rows vs {len(erows)} expected; "
                f"missing {list(missing)[:2]} extra {list(extra)[:2]}"]
    for e, a in zip(erows, arows):
        if len(e) != len(a) or not all(close(x, y) for x, y in zip(e, a)):
            return [f"{name}: row {a} != expected {e}"]
    return []


def views(con, d, tables):
    for t in tables:
        con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")


# ------------------------------------------------------------------ flow_mix
def flow_mix(d, seed, checks):
    con = duckdb.connect()
    views(con, d, ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
                   "events", "documents"])
    by_name = {t["name"]: t for t in flows.TEMPLATES}
    fails, done = [], set()
    for c in checks:
        t = by_name[c["template"]]
        done.add(t["name"])
        if not c["ok"]:
            fails.append(f"{t['name']} r{c['round']}: failed: {c['error']}")
            continue
        v = flows.template_vars(seed, c["round"], t)
        for term, sql in t["sql"].items():
            fails += compare(con, f"{t['name']} r{c['round']}/{term}", sql.format(**v),
                             os.path.join(c["dir"], term))
    fails += [f"{n}: never checked" for n in by_name if n not in done]
    return fails


# ------------------------------------------------------------------ stream_replay
def hll(values, p):
    """Registers, scaled sum and estimate of graft's streaming HLL (md5-based
    60-bit hash), recomputed in Python."""
    width = 60 - p
    mask = (1 << width) - 1
    m = 1 << p
    regs = [0] * m
    for v in values:
        h = int(hashlib.md5(v.encode()).hexdigest()[:15], 16)
        b, low = h >> width, h & mask
        rho = width + 1 if low == 0 else width - low.bit_length() + 1
        regs[b] = max(regs[b], rho)
    p1 = 61 - p
    nz = sum(1 for r in regs if r == 0)
    s = sum(1 << (p1 - r) for r in regs)
    alpha = 0.7213 / (1 + 1.079 / m) if m >= 128 else {64: 0.709, 32: 0.697}.get(m, 0.673)
    c = alpha * m * m * math.pow(2.0, 61 - p)
    return nz, s, math.floor(c / float(s))


def stream_replay(path, out, cfg):
    con = duckdb.connect()
    con.sql(f"CREATE VIEW ev AS SELECT event_id, ts_us, user_id, event_type, value FROM '{path}'")
    sec = lambda s: int(s.split()[0]) * {"second": 1, "seconds": 1, "minute": 60, "minutes": 60}[s.split()[1]]
    wm_us, gap_us, within_us = (sec(cfg[k]) * 10**6 for k in ("watermark", "gap", "within"))
    fails = []
    fails += compare(con, "dedup", "SELECT DISTINCT event_id, ts_us AS ts, user_id, event_type, value FROM ev",
                     f"{out}/dedup")
    # sessions: a new session starts where the gap to the previous event is at
    # least `gap`; append mode emits those the final watermark has closed
    fails += compare(con, "session", f"""
        WITH o AS (SELECT user_id, ts_us, value, CASE WHEN ts_us - lag(ts_us) OVER w >= {gap_us} THEN 1 ELSE 0 END AS brk
                   FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
             s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us ROWS UNBOUNDED PRECEDING) AS sid FROM o),
             g AS (SELECT user_id, min(ts_us) AS start_us, max(ts_us) + {gap_us} AS end_us, count(*) AS n, sum(value) AS total
                   FROM s GROUP BY user_id, sid)
        SELECT start_us, end_us, user_id, n, total FROM g
        WHERE end_us <= (SELECT max(ts_us) FROM ev) - {wm_us}""", f"{out}/session")
    fails += compare(con, "running_count", "SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS running_count FROM ev GROUP BY ALL",
                     f"{out}/running_count")
    fails += compare(con, "stream_join", f"""
        SELECT l.event_id AS l_id, r.event_id AS r_id, l.user_id FROM ev l JOIN ev r
        ON l.user_id = r.user_id AND r.ts_us BETWEEN l.ts_us - {within_us} AND l.ts_us + {within_us}
        WHERE l.event_type = '{cfg['join_left']}' AND r.event_type = '{cfg['join_right']}'""", f"{out}/stream_join")
    rows = []
    for (t,) in con.sql("SELECT DISTINCT event_type FROM ev ORDER BY 1").fetchall():
        vals = [str(u) for (u,) in con.sql(f"SELECT user_id FROM ev WHERE event_type = '{t}'").fetchall()]
        rows.append((t,) + hll(vals, cfg["hll_p"]))
    con.sql("CREATE TABLE hll_expected (event_type VARCHAR, n_zero BIGINT, sum_scaled BIGINT, hll_est DOUBLE)")
    con.executemany("INSERT INTO hll_expected VALUES (?, ?, ?, ?)", rows)
    fails += compare(con, "hll", "SELECT * FROM hll_expected", f"{out}/hll")
    return fails
