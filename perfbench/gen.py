"""Seeded input generation. The same seed gives the same bytes.

Every table is synthetic, with the schemas of the repository's star-schema
fixtures (TPC-H-like region/nation/customer/supplier/part/orders/lineitem,
plus events and documents); nothing is read from outside the benchmark's
own output directory. Money columns hold exact cents, quantities whole
numbers, timestamps whole microseconds in UTC.
"""
import json

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_US = 946684800 * 10**6          # 2000-01-01T00:00:00Z
DAY_US = 86400 * 10**6
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "error", "login"]
ADJ = ["small", "red", "large", "blue", "green", "smooth", "steel", "light", "dark", "plain"]
NOUN = ["ring", "widget", "bolt", "gear", "panel", "frame", "valve", "hinge", "spring", "plate"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
TS = pa.timestamp("us", tz="UTC")


def write(table, path):
    pq.write_table(table, path, compression="snappy")


def cents(rng, lo, hi, n):
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def star(d, seed, n_line=60000):
    """Star-schema tables sized like sf0.01 (lineitem n_line rows)."""
    rng = np.random.default_rng([seed, 1])
    n_ord, n_cust, n_part, n_supp = n_line // 4, max(n_line // 40, 50), max(n_line // 30, 50), 100
    write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}),
          f"{d}/region.parquet")
    write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                    "n_name": [f"NATION_{i}" for i in range(25)],
                    "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
          f"{d}/nation.parquet")
    write(pa.table({"c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                    "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                    "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                    "c_acctbal": cents(rng, -999.99, 9999.99, n_cust),
                    "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]}),
          f"{d}/customer.parquet")
    write(pa.table({"s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                    "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                    "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                    "s_acctbal": cents(rng, -999.99, 9999.99, n_supp)}),
          f"{d}/supplier.parquet")
    a, b = rng.integers(0, len(ADJ), n_part), rng.integers(0, len(NOUN), n_part)
    write(pa.table({"p_partkey": pa.array(np.arange(n_part), pa.int64()),
                    "p_name": [f"{ADJ[x]} {NOUN[y]}" for x, y in zip(a, b)],
                    "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
                    "p_type": [["ECONOMY", "STANDARD", "PROMO"][i] for i in rng.integers(0, 3, n_part)],
                    "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                    "p_retailprice": cents(rng, 900, 2000, n_part)}),
          f"{d}/part.parquet")
    orders(f"{d}/orders.parquet", rng, n_ord, n_cust)
    lineitem(f"{d}/lineitem.parquet", rng, n_line, n_ord, n_part, n_supp)
    events(f"{d}/events.parquet", rng, n_line // 6)
    documents(f"{d}/documents.parquet", rng, max(n_line // 120, 20))


def orders(path, rng, n, n_cust):
    write(pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": cents(rng, 1000, 500000, n),
        "o_orderdate": pa.array(EPOCH_US + rng.integers(0, 2500, n) * DAY_US, TS),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)]}), path)


def lineitem(path, rng, n, n_ord, n_part, n_supp):
    qty = rng.integers(1, 51, n).astype(np.float64)
    write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * cents(rng, 900, 2000, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": pa.array(EPOCH_US + rng.integers(0, 2500, n) * DAY_US, TS)}), path)


def events(path, rng, n, users=200):
    ts = np.sort(EPOCH_US + rng.integers(0, 7 * DAY_US, n))
    write(pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, TS),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": cents(rng, 0, 100, n),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)]}), path)


def vocabulary(rng, n):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        k = int(rng.integers(3, 9))
        words.add("".join(letters[rng.integers(0, 26, k)]))
    return sorted(words)


def documents(path, rng, n):
    """Multi-line documents from a small vocabulary. A few shared boilerplate
    lines recur in many documents (line dedup removes them) and one document
    in twenty is an exact copy of an earlier one (near-dup clustering groups
    them)."""
    vocab = vocabulary(rng, 400)
    boiler = [" ".join(vocab[i] for i in rng.integers(0, len(vocab), 6)) + " footer" for _ in range(8)]
    text = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            text.append(text[int(rng.integers(0, i))])
            continue
        lines = [" ".join(vocab[j] for j in rng.integers(0, len(vocab), int(rng.integers(8, 20))))
                 for _ in range(int(rng.integers(2, 5)))]
        if rng.random() < 0.5:
            lines.insert(int(rng.integers(0, len(lines) + 1)), boiler[int(rng.integers(0, len(boiler)))])
        text.append("\n".join(lines))
    write(pa.table({"doc_id": pa.array(np.arange(n), pa.int64()), "text": text,
                    "lang": ["en"] * n, "source": [f"src{i % 7}" for i in range(n)],
                    "n_chars": pa.array([len(t) for t in text], pa.int64())}), path)


def replay(path, seed, n_events, n_batches, users, flush_types):
    """Events for the stream replay, cut into `n_batches` time-ordered
    micro-batches (batch b's events are all later than batch b-1's), with
    exact duplicate events inside their original's batch, and a final flush
    batch far in the future that closes every window (one event per type in
    `flush_types`, on users that never occur elsewhere)."""
    rng = np.random.default_rng([seed, 3])
    ts = np.sort(EPOCH_US + rng.integers(0, 4 * 3600 * 10**6, n_events))
    ev = {"event_id": np.arange(n_events), "ts_us": ts,
          "user_id": rng.integers(0, users, n_events),
          "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
          "value": cents(rng, 0, 100, n_events)}
    batch = np.minimum(np.arange(n_events) * n_batches // n_events, n_batches - 1)
    # a batch boundary never splits equal timestamps
    for b in range(1, n_batches):
        first = np.searchsorted(batch, b)
        while first > 0 and first < n_events and ts[first] == ts[first - 1]:
            batch[first] = b - 1
            first += 1
    dup = np.sort(rng.choice(n_events, n_events // 20, replace=False))
    rows = {k: np.concatenate([v, v[dup]]) for k, v in ev.items()}
    rows["batch"] = np.concatenate([batch, batch[dup]])
    end = int(ts.max()) + DAY_US
    for j, t in enumerate(flush_types):
        rows["event_id"] = np.append(rows["event_id"], n_events + j)
        rows["ts_us"] = np.append(rows["ts_us"], end)
        rows["user_id"] = np.append(rows["user_id"], -1 - j)
        rows["event_type"] = np.append(rows["event_type"], t)
        rows["value"] = np.append(rows["value"], 0.0)
        rows["batch"] = np.append(rows["batch"], n_batches)
    order = np.lexsort((rows["event_id"], rows["batch"]))
    t = pa.table({"batch": pa.array(rows["batch"][order], pa.int32()),
                  "seq": pa.array(np.arange(len(order)), pa.int64()),
                  "event_id": pa.array(rows["event_id"][order], pa.int64()),
                  "ts_us": pa.array(rows["ts_us"][order], pa.int64()),
                  "user_id": pa.array(rows["user_id"][order], pa.int64()),
                  "event_type": pa.array(rows["event_type"][order], pa.string()),
                  "value": pa.array(rows["value"][order], pa.float64())})
    write(t, path)
    return len(order)
