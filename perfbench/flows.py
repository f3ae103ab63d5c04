"""Flow templates of the benchmark, each with the DuckDB SQL that computes its
expected output independently of graft.

A template is a Tuktu-style JSON flow config with `#{var}` placeholders that
`graft.engine.Flow.run` interpolates. `#{dir}` is the input directory. A
`fresh` template draws new seeded values for its other variables every
round (so its generated code differs from round to round); the others repeat
verbatim. The SQL reads the same inputs as views named after the tables.
"""
import hashlib
import json
import random

from gen import EVENT_TYPES


def pq(table):
    return {"id": "g", "name": "parquet", "config": {"path": "#{dir}/" + table + ".parquet"}}


def chain(gen, *procs):
    """A linear flow: generator -> procs[0] -> ... -> procs[-1]."""
    ids = [p.get("id", f"p{i}") for i, p in enumerate(procs)]
    gen = dict(gen, next=[ids[0]])
    nodes = []
    for i, p in enumerate(procs):
        nodes.append(dict(p, id=ids[i], next=[ids[i + 1]] if i + 1 < len(ids) else []))
    return {"generators": [gen], "processors": nodes}


def node(name, result=None, **config):
    n = {"name": name, "config": config}
    if result:
        n["result"] = result
    return n


def fields(*pairs):
    return node("field_filter", fields={p: a for p, a in pairs})


def tk(*pairs):
    """tuktu FieldFilterProcessor config."""
    return node("tuktu.processors.FieldFilterProcessor",
                fields=[{"path": [p], "result": r} for p, r in pairs])


def agg(group, **aggs):
    return node("aggregate", group=group, aggs=aggs)


def T(name, fresh, inputs, flow, sql, draw=None):
    return {"name": name, "fresh": fresh, "inputs": inputs, "flow": flow, "sql": sql,
            "draw": draw or (lambda r: {})}


def half(r, lo, hi):
    """A threshold halfway between two cent values, so no 2-dp input equals it."""
    return round(r.randint(int(lo * 100), int(hi * 100)) / 100 + 0.005, 3)


TEMPLATES = [
    T("filter_lineitem", True, ["lineitem"],
      chain(pq("lineitem"), node("filter", predicate="${l_quantity} > #{q} && ${l_discount} <= #{d}"),
            fields(("l_orderkey", "l_orderkey"), ("l_linenumber", "l_linenumber"), ("l_quantity", "l_quantity"))),
      {"p1": "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity > {q} AND l_discount <= {d}"},
      lambda r: {"q": r.randint(10, 40), "d": half(r, 0.01, 0.09)}),
    T("arith_charge", True, ["lineitem"],
      chain(pq("lineitem"),
            node("arithmetic", expression="${l_extendedprice} * (1 - ${l_discount}) * (1 + ${l_tax})", result="charge"),
            node("filter", predicate="${charge} > #{c}"), fields(("l_orderkey", "l_orderkey"), ("charge", "charge"))),
      {"p2": "SELECT l_orderkey, charge FROM (SELECT l_orderkey, l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge FROM lineitem) WHERE charge > {c}"},
      lambda r: {"c": half(r, 20000, 60000)}),
    T("agg_flags", False, ["lineitem"],
      chain(pq("lineitem"), agg(["l_returnflag", "l_linestatus"], n="count(${l_orderkey})", qty="sum(${l_quantity})",
                                avg_price="avg(${l_extendedprice})", max_disc="max(${l_discount})",
                                min_disc="min(${l_discount})")),
      {"p0": "SELECT l_returnflag, l_linestatus, count(l_orderkey) AS n, sum(l_quantity) AS qty, avg(l_extendedprice) AS avg_price, max(l_discount) AS max_disc, min(l_discount) AS min_disc FROM lineitem GROUP BY ALL"}),
    T("agg_distinct", True, ["lineitem"],
      chain(pq("lineitem"), node("filter", predicate="${l_suppkey} < #{s}"),
            agg(["l_linestatus"], parts="distinct(${l_partkey})", qty="sum(${l_quantity})")),
      {"p1": "SELECT l_linestatus, count(DISTINCT l_partkey) AS parts, sum(l_quantity) AS qty FROM lineitem WHERE l_suppkey < {s} GROUP BY ALL"},
      lambda r: {"s": r.randint(20, 90)}),
    T("sort_take", True, ["orders"],
      chain(pq("orders"), node("filter", predicate="${o_totalprice} > #{p}"),
            node("sort", fields=["o_totalprice", "o_orderkey"], order="desc"), node("take", n=20),
            fields(("o_orderkey", "o_orderkey"), ("o_totalprice", "o_totalprice"))),
      {"p3": "SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > {p} ORDER BY o_totalprice DESC, o_orderkey DESC LIMIT 20"},
      lambda r: {"p": half(r, 100000, 400000)}),
    T("dedup_first_order", False, ["orders"],
      chain(pq("orders"), node("dedup", fields=["o_custkey"], order_by=["o_orderdate", "o_orderkey"]),
            fields(("o_custkey", "o_custkey"), ("o_orderkey", "o_orderkey"))),
      {"p1": "SELECT o_custkey, o_orderkey FROM orders QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) = 1"}),
    T("split_explode_words", False, ["part"],
      chain(pq("part"), node("split", field="p_name", separator=" ", result="words"),
            node("explode", field="words", result="word"), agg(["word"], n="count(${p_partkey})")),
      {"p2": "SELECT word, count(p_partkey) AS n FROM (SELECT p_partkey, unnest(string_split(p_name, ' ')) AS word FROM part) GROUP BY ALL"}),
    T("split_implode", False, ["documents"],
      chain(pq("documents"), node("split", field="text", separator=" ", result="toks"),
            node("implode", field="toks", separator="|", result="joined"),
            fields(("doc_id", "doc_id"), ("joined", "joined"))),
      {"p2": "SELECT doc_id, array_to_string(string_split(text, ' '), '|') AS joined FROM documents"}),
    T("json_path_events", True, ["events"],
      chain(pq("events"), node("filter", predicate='${event_type} == "#{etype}"'),
            node("json_path", field="props", path="$.k", result="k"),
            agg(["k"], n="count(${event_id})", total="sum(${value})")),
      {"p2": "SELECT json_extract_string(props, '$.k') AS k, count(event_id) AS n, sum(value) AS total FROM events WHERE event_type = '{etype}' GROUP BY ALL"},
      lambda r: {"etype": r.choice(EVENT_TYPES)}),
    T("constant_label", True, ["customer"],
      chain(pq("customer"), node("constant_adder", value="seg-${c_mktsegment}-#{tag}", result="label"),
            fields(("c_custkey", "c_custkey"), ("label", "label"))),
      {"p1": "SELECT c_custkey, 'seg-' || c_mktsegment || '-{tag}' AS label FROM customer"},
      lambda r: {"tag": "t%05d" % r.randint(0, 99999)}),
    T("fan_out_in", False, ["lineitem"],
      {"generators": [dict(pq("lineitem"), next=["fr", "fq"])],
       "processors": [dict(node("filter", predicate='${l_returnflag} == "R"'), id="fr", next=["m"]),
                      dict(node("filter", predicate="${l_quantity} >= 45"), id="fq", next=["m"]),
                      dict(fields(("l_orderkey", "l_orderkey"), ("l_linenumber", "l_linenumber"),
                                  ("l_returnflag", "l_returnflag"), ("l_quantity", "l_quantity")), id="m", next=[])]},
      {"m": "SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity FROM lineitem WHERE l_returnflag = 'R' UNION ALL SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity FROM lineitem WHERE l_quantity >= 45"}),
    T("fan_out_terminals", True, ["orders"],
      {"generators": [dict(pq("orders"), next=["f"])],
       "processors": [dict(node("filter", predicate="${o_totalprice} > #{p}"), id="f", next=["a", "s"]),
                      dict(agg(["o_orderstatus"], n="count(${o_orderkey})", total="sum(${o_totalprice})"), id="a", next=[]),
                      dict(node("sort", fields=["o_orderdate", "o_orderkey"]), id="s", next=["t"]),
                      dict(node("take", n=10), id="t", next=["o"]),
                      dict(fields(("o_orderkey", "o_orderkey")), id="o", next=[])]},
      {"a": "SELECT o_orderstatus, count(o_orderkey) AS n, sum(o_totalprice) AS total FROM orders WHERE o_totalprice > {p} GROUP BY ALL",
       "o": "SELECT o_orderkey FROM orders WHERE o_totalprice > {p} ORDER BY o_orderdate, o_orderkey LIMIT 10"},
      lambda r: {"p": half(r, 100000, 400000)}),
    T("model_apply", False, ["lineitem"],
      chain(pq("lineitem"),
            fields(("l_orderkey", "l_orderkey"), ("l_linenumber", "l_linenumber"), ("l_quantity", "l_quantity"),
                   ("l_extendedprice", "l_extendedprice")),
            node("model_apply", model="perfbench_norm"), node("filter", predicate="${l_quantity} > 0.5")),
      {"p2": "WITH s AS (SELECT min(l_quantity) AS q0, max(l_quantity) AS q1, min(l_extendedprice) AS e0, max(l_extendedprice) AS e1 FROM lineitem), "
             "n AS (SELECT l_orderkey, l_linenumber, (l_quantity - q0) / (q1 - q0) * 1.0 + 0.0 AS l_quantity, "
             "(l_extendedprice - e0) / (e1 - e0) * 1.0 + 0.0 AS l_extendedprice FROM lineitem, s) "
             "SELECT * FROM n WHERE l_quantity > 0.5"}),
    T("tuktu_filter_fields", True, ["lineitem"],
      chain(pq("lineitem"),
            node("tuktu.processors.PacketFilterProcessor", type="simple", expression="${l_quantity} > #{q}"),
            tk(("l_orderkey", "ok"), ("l_quantity", "q"))),
      {"p1": "SELECT l_orderkey AS ok, l_quantity AS q FROM lineitem WHERE l_quantity > {q}"},
      lambda r: {"q": r.randint(5, 45)}),
    T("tuktu_arith_agg", False, ["orders"],
      chain(pq("orders"), node("tuktu.processors.arithmetics.ArithmeticProcessor", result="k",
                               calculate="${o_totalprice} / 1000"),
            node("tuktu.processors.bucket.aggregate.AggregateByValueProcessor", result="total",
                 group=["o_orderpriority"], base_value="${k}", expression="sum()")),
      {"p1": "SELECT o_orderpriority, sum(o_totalprice / 1000) AS total FROM orders GROUP BY ALL"}),
    T("tuktu_dedup", False, ["orders"],
      chain(pq("orders"), node("tuktu.processors.bucket.DeduplicationProcessor", fields=["o_custkey"]),
            tk(("o_custkey", "o_custkey"), ("o_orderkey", "o_orderkey"))),
      # arrival order is file order, and o_orderkey is the row's file position
      {"p1": "SELECT o_custkey, o_orderkey FROM orders QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) = 1"}),
    T("fanin_nations", True, ["customer", "supplier"],
      {"generators": [dict(pq("customer"), id="gc", next=["fc"]), dict(pq("supplier"), id="gs", next=["fs"])],
       "processors": [dict(fields(("c_custkey", "key"), ("c_nationkey", "nation")), id="fc", next=["a"]),
                      dict(fields(("s_suppkey", "key"), ("s_nationkey", "nation")), id="fs", next=["a"]),
                      dict(agg(["nation"], n="count(${key})"), id="a", next=["f"]),
                      dict(node("filter", predicate="${n} > #{m}"), id="f", next=[])]},
      {"f": "SELECT nation, count(key) AS n FROM (SELECT c_custkey AS key, c_nationkey AS nation FROM customer UNION ALL SELECT s_suppkey, s_nationkey FROM supplier) GROUP BY ALL HAVING count(key) > {m}"},
      lambda r: {"m": r.randint(40, 75)}),
    T("line_dedup_docs", False, ["documents"],
      chain(pq("documents"), node("line_dedup", id_field="doc_id", field="text", max_docs=5)),
      {"p0": "WITH l AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS seg, "
             "generate_subscripts(string_split(text, chr(10)), 1) AS pos FROM documents), "
             "c AS (SELECT seg, count(DISTINCT doc_id) AS nd FROM l WHERE length(trim(seg)) > 0 GROUP BY seg) "
             "SELECT doc_id, coalesce(string_agg(seg, chr(10) ORDER BY pos) FILTER (WHERE coalesce(nd, 0) <= 5), '') AS clean, "
             "count(*) FILTER (WHERE nd > 5) AS n_removed FROM l LEFT JOIN c USING (seg) GROUP BY doc_id"}),
    T("near_dup_docs", False, ["documents"],
      chain(pq("documents"), node("near_dup_clusters", field="text", id_field="doc_id", n=3, k=16, bands=4,
                                  threshold=0.5)),
      # only exact copies are injected, and MinHash always pairs identical texts
      {"p0": "SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS cluster FROM documents"}),
    T("pack_docs", True, ["documents"],
      chain(pq("documents"), node("pack_sequences", id_field="doc_id", field="text", shards=4, budget="#{budget}")),
      {"p0": "WITH b AS (SELECT doc_id AS id, len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS n_tok, "
             "CAST(('0x' || substr(md5('shard:' || doc_id), 1, 15))::UBIGINT % 2147483647 AS BIGINT) AS h FROM documents), "
             "s AS (SELECT *, h % 4 AS shard FROM b) "
             "SELECT id, shard, row_number() OVER w AS pos, n_tok, "
             "coalesce(sum(n_tok) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_offset, "
             "coalesce(sum(n_tok) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // {budget} AS seq_id "
             "FROM s WINDOW w AS (PARTITION BY shard ORDER BY h, id)"},
      lambda r: {"budget": r.choice([256, 512, 1024, 2048])}),
]


def rng_for(*key):
    return random.Random(int.from_bytes(hashlib.sha256(":".join(map(str, key)).encode()).digest()[:8], "big"))


def template_vars(seed, round_, t):
    """Variables of template t in a round: fresh templates draw per round."""
    key = (seed, round_, t["name"]) if t["fresh"] else (seed, "verbatim", t["name"])
    return t["draw"](rng_for(*key))


def flow_json(t):
    return json.dumps(t["flow"])

