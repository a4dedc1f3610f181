"""Seeded inputs for the graft benchmark.

Two kinds of input, kept apart on purpose:

* the data set (`make_data`): TPC-H-shaped tables plus the documents
  and embeddings corpora the curation jobs read, drawn from a fixed
  data seed. It depends only on the scale factor, never on the
  workload seed, so every run of a checkout reads the same store.
* the workload inputs (`make_inputs`): GQL statement texts, mutation
  rows, the job list. They depend only on (workload, seed, data set).

Both are plain functions of their arguments; `tests/test_perfbench.py`
checks that one seed always yields the same inputs.
"""

import os
import random

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# GraphStore.fromTpch id offsets (src/main/scala/graft/graph/GraphStore.scala)
REGION_OFF = 1_000_000_000
NATION_OFF = 2_000_000_000
CUSTOMER_OFF = 3_000_000_000
PART_OFF = 5_000_000_000
ORDER_OFF = 6_000_000_000

DATA_SEED = 42
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en"] * 8 + ["zh", "de", "fr", "es"] * 3


COLORS = "small red blue hot old large new".split()
THINGS = "ring widget bolt gear gizmo plate anvil".split()
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _tpch(out_dir, sf):
    """TPC-H-shaped star schema with uniform keys, the shape of the
    repository's own test tables: customers, suppliers and parts drawn
    uniformly per order line, about four lines per order."""
    g = np.random.default_rng(DATA_SEED)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_line = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def money(lo, hi, n):
        return np.round(g.uniform(lo, hi, n), 2)

    def dates(start, days, n):
        return (np.datetime64(start, "us")
                + g.integers(0, days, n).astype("timedelta64[D]")).astype("datetime64[us]")

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(g.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in g.integers(0, 5, n_cust)]})
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(g.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    write("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{COLORS[a]} {THINGS[b]}" for a, b in
                   zip(g.integers(0, 7, n_part), g.integers(0, 7, n_part))],
        "p_brand": [f"Brand#{i}" for i in g.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in g.integers(0, 6, n_part)],
        "p_size": pa.array(g.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(g.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("P", "O", "F")[i] for i in g.integers(0, 3, n_ord)],
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": dates("1995-01-01", 2404, n_ord),
        "o_orderpriority": [PRIORITIES[i] for i in g.integers(0, 5, n_ord)]})
    okey = np.sort(g.integers(0, n_ord, n_line))
    first = np.r_[0, np.flatnonzero(np.diff(okey)) + 1]
    lineno = np.arange(n_line) - np.repeat(first, np.diff(np.r_[first, n_line])) + 1
    qty = g.integers(1, 51, n_line).astype(np.float64)
    write("lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(g.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(g.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * g.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": np.round(g.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(g.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in g.integers(0, 3, n_line)],
        "l_linestatus": [("O", "F")[i] for i in g.integers(0, 2, n_line)],
        "l_shipdate": dates("1995-01-02", 2498, n_line)})


def make_data(out_dir, sf):
    """Write every table the workloads read to `out_dir` (idempotent)."""
    done = os.path.join(out_dir, "_DONE")
    if os.path.exists(done):
        return
    os.makedirs(out_dir, exist_ok=True)
    _tpch(out_dir, sf)
    rng = random.Random(DATA_SEED)
    n_docs = max(200, int(round(sf * 50_000)))
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            # planted near-duplicate: an earlier text, lightly edited
            words = texts[rng.randrange(len(texts))].split()
            for _ in range(rng.randint(0, 3)):
                words[rng.randrange(len(words))] = rng.choice(WORDS)
            words.append("dup")
        else:
            words = [rng.choice(WORDS) for _ in range(rng.randint(10, 100))]
        texts.append(" ".join(words))
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([rng.choice(LANGS) for _ in range(n_docs)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    n_emb = max(500, int(round(sf * 20_000)))
    g = np.random.default_rng(DATA_SEED)
    emb = g.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    embs = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(g.integers(0, 10, n_emb), pa.int32()),
    })
    pq.write_table(embs, os.path.join(out_dir, "embeddings.parquet"))
    open(done, "w").close()


# ---- workload inputs --------------------------------------------------

TEMPLATES = ["point", "one_hop", "two_hop", "filter_scan", "nation_agg", "var_length"]
# One block of the statement stream. Point lookups come twice, so that
# the median and the 90th percentile of a run of whole blocks fall
# inside one template's latencies rather than in a gap between two.
BLOCK = TEMPLATES + ["point"]
N_WARMUP_BLOCKS = 3
N_STATEMENTS = 3500
N_BATCHES = 400

# The iterative jobs of batch_analytics: (metric name, SparkEntry key).
# README.md says why the other heavy jobs are not among them.
JOBS = [("scc", "g11_scc"), ("ngram_jaccard", "dedup_ngram_jaccard")]


def _customers(data_dir):
    return duckdb.sql(
        f"select c_custkey, c_name, c_acctbal, c_mktsegment, c_nationkey "
        f"from '{data_dir}/customer.parquet' order by c_custkey").fetchall()


def statement(template, rng, n_cust):
    """One GQL statement and the parameters its oracle needs."""
    key = rng.randrange(n_cust)
    name = f"Customer#{key:09d}"
    if template == "point":
        text = f'MATCH (c:Customer {{name: "{name}"}}) RETURN id(c) AS k, c.acctbal AS bal'
        return text, {"name": name}
    if template == "one_hop":
        text = (f'MATCH (c:Customer {{name: "{name}"}})-[:placed]->(o:Order) '
                f'RETURN id(o) AS k, o.totalprice AS price')
        return text, {"name": name}
    if template == "two_hop":
        text = (f'MATCH (c:Customer {{name: "{name}"}})-[:placed]->(o:Order)'
                f'-[:contains]->(p:Part) RETURN id(p) AS k, p.name AS part')
        return text, {"name": name}
    if template == "filter_scan":
        bal = float(rng.randint(70, 99) * 100)
        seg = rng.choice(SEGMENTS)
        text = (f'MATCH (c:Customer) WHERE c.acctbal > {bal:.1f} AND '
                f'c.mktsegment = "{seg}" RETURN id(c) AS k, c.name AS name')
        return text, {"bal": bal, "seg": seg}
    if template == "nation_agg":
        bal = float(rng.randint(0, 90) * 100)
        text = (f'MATCH (n:Nation)<-[:located_in]-(c:Customer) WHERE c.acctbal > {bal:.1f} '
                f'RETURN n.name AS nation, count(c) AS k')
        return text, {"bal": bal}
    if template == "var_length":
        text = (f'MATCH (c:Customer {{name: "{name}"}})-[:located_in*2..2]-(d:Customer) '
                f'RETURN id(d) AS k, d.name AS name')
        return text, {"name": name}
    raise ValueError(template)


def oracle_sql(template, p, data_dir):
    """Independent DuckDB SQL over the raw tables: (rows, sum of k)."""
    t = lambda name: f"'{data_dir}/{name}.parquet'"
    if template == "point":
        return (f"select count(*), coalesce(sum(c_custkey + {CUSTOMER_OFF}), 0) "
                f"from {t('customer')} where c_name = '{p['name']}'")
    if template == "one_hop":
        return (f"select count(*), coalesce(sum(o_orderkey + {ORDER_OFF}), 0) "
                f"from {t('orders')} o join {t('customer')} c on o_custkey = c_custkey "
                f"where c_name = '{p['name']}'")
    if template == "two_hop":
        return (f"select count(*), coalesce(sum(l_partkey + {PART_OFF}), 0) from "
                f"(select distinct l_orderkey, l_partkey from {t('lineitem')} "
                f"join {t('orders')} on l_orderkey = o_orderkey "
                f"join {t('customer')} on o_custkey = c_custkey "
                f"where c_name = '{p['name']}')")
    if template == "filter_scan":
        return (f"select count(*), coalesce(sum(c_custkey + {CUSTOMER_OFF}), 0) "
                f"from {t('customer')} where c_acctbal > {p['bal']!r} "
                f"and c_mktsegment = '{p['seg']}'")
    if template == "nation_agg":
        return (f"select count(*), coalesce(sum(n), 0) from (select c_nationkey, "
                f"count(*) n from {t('customer')} where c_acctbal > {p['bal']!r} "
                f"group by c_nationkey)")
    if template == "var_length":
        return (f"select count(*), coalesce(sum(d.c_custkey + {CUSTOMER_OFF}), 0) "
                f"from {t('customer')} c join {t('customer')} d "
                f"on c.c_nationkey = d.c_nationkey where c.c_name = '{p['name']}'")
    raise ValueError(template)


def gql_statements(seed, n_cust, n=N_STATEMENTS):
    """(template, text, params) triples: every block of seven holds
    `BLOCK` in a seeded order, with seeded parameters."""
    rng = random.Random(f"gql_read:{seed}")
    out = []
    while len(out) < n:
        block = BLOCK[:]
        rng.shuffle(block)
        for tpl in block:
            text, params = statement(tpl, rng, n_cust)
            out.append((tpl, text, params))
    return out[:n]


def mutation_batches(seed, customers, n=N_BATCHES):
    """Mutation batches of 35 ops in StreamPatternView's op schema.

    Per batch: 6 new orders (add_vertex + placed add_edge), 10
    customer mktsegment flips (update_vertex_props, full prop map, as
    the store replaces maps), 7 `feeds` and 6 `flows` edge adds or
    removes among nations. `flows` stays within nations 0..10 and
    `feeds` within 10..20, so no shortest path exceeds the executor's
    10-hop cap on open var-length ranges. No key is touched twice in
    one batch: a batch applies adds before removes, whatever the order
    of its rows.
    """
    rng = random.Random(f"view_ingest:{seed}")
    cust = {c[0]: list(c) for c in customers}
    keys = sorted(cust)
    feeds, flows = set(), set()
    batches = []
    next_order = 900_000_000
    for _ in range(n):
        ops = []
        for _ in range(6):
            ck = rng.choice(keys)
            next_order += 1
            oid = ORDER_OFF + next_order
            ops.append(("add_vertex", oid, "Order", None, None, {
                "totalprice": round(rng.uniform(1000, 400000), 2),
                "orderstatus": "O", "orderpriority": rng.choice(PRIORITIES)}))
            ops.append(("add_edge", None, "placed", CUSTOMER_OFF + ck, oid, None))
        for ck in rng.sample(keys, 10):
            c = cust[ck]
            c[3] = rng.choice([s for s in SEGMENTS if s != c[3]])
            ops.append(("update_vertex_props", CUSTOMER_OFF + ck, None, None, None, {
                "name": c[1], "acctbal": c[2], "mktsegment": c[3], "nationkey": c[4]}))
        for label, edges, lo, hi, k in (("feeds", feeds, 10, 20, 7),
                                        ("flows", flows, 0, 10, 6)):
            touched = set()
            for _ in range(k):
                old = sorted(edges - touched)
                if old and (len(edges) >= 30 or rng.random() < 0.35):
                    e = rng.choice(old)
                    edges.discard(e)
                    op = "remove_edge"
                else:
                    while True:
                        e = (rng.randint(lo, hi), rng.randint(lo, hi))
                        if e[0] != e[1] and e not in edges and e not in touched:
                            break
                    edges.add(e)
                    op = "add_edge"
                touched.add(e)
                ops.append((op, None, label, NATION_OFF + e[0], NATION_OFF + e[1], None))
        batches.append(ops)
    return batches


def _closure(edges):
    """Pairs (a, b) joined by a directed path of one or more edges."""
    succ = {}
    for a, b in edges:
        succ.setdefault(a, set()).add(b)
    out = set()
    for a in succ:
        seen, todo = set(), list(succ[a])
        while todo:
            x = todo.pop()
            if x not in seen:
                seen.add(x)
                todo.extend(succ.get(x, ()))
        out |= {(a, b) for b in seen}
    return out


def view_oracle(data_dir, batches):
    """The four maintained views after `batches`, recomputed from the
    raw tables and the mutation rows: {view: sorted rows}."""
    seg = dict(duckdb.sql(f"select c_custkey + {CUSTOMER_OFF}, c_mktsegment "
                          f"from '{data_dir}/customer.parquet'").fetchall())
    placed = set(duckdb.sql(f"select o_custkey + {CUSTOMER_OFF}, o_orderkey + {ORDER_OFF} "
                            f"from '{data_dir}/orders.parquet'").fetchall())
    region = dict(duckdb.sql(f"select n_nationkey + {NATION_OFF}, n_regionkey + {REGION_OFF} "
                             f"from '{data_dir}/nation.parquet'").fetchall())
    edges = {"feeds": set(), "flows": set()}
    for ops in batches:
        for op, vid, label, src, dst, props in ops:
            if op == "update_vertex_props":
                seg[vid] = props["mktsegment"]
            elif op == "add_edge":
                (placed if label == "placed" else edges[label]).add((src, dst))
            elif op == "remove_edge":
                edges[label].discard((src, dst))
    feeds = edges["feeds"]
    walks = set(feeds) | {(a, c) for a, b in feeds for b2, c in feeds if b == b2}
    comp = {}
    for a, b in feeds:  # undirected components, smallest id as the label
        ca, cb = comp.setdefault(a, {a}), comp.setdefault(b, {b})
        if ca is not cb:
            ca |= cb
            for x in cb:
                comp[x] = ca
    return {
        "building_orders": sorted(e for e in placed if seg.get(e[0]) == "BUILDING"),
        "feeds_region": sorted((a, b, region[b]) for a, b in walks),
        "nation_flows": sorted(_closure(edges["flows"])),
        "nation_links": sorted((a, b) for a in comp for b in comp[a]),
    }


def _cell(v):
    return "" if v is None else repr(v) if isinstance(v, float) else str(v)


def make_inputs(workload, seed, data_dir, sf):
    """TSV lines the harness reads, and what `run.py` needs to check
    the outputs."""
    n_cust = int(duckdb.sql(
        f"select count(*) from '{data_dir}/customer.parquet'").fetchone()[0])
    if workload == "gql_read":
        warm = gql_statements(f"warm-up:{seed}", n_cust, N_WARMUP_BLOCKS * len(BLOCK))
        stmts = gql_statements(seed, n_cust)
        lines = [f"block\t{len(BLOCK)}"]
        lines += [f"warm\t{i}\t{tpl}\t{text}" for i, (tpl, text, _) in enumerate(warm)]
        lines += [f"stmt\t{i}\t{tpl}\t{text}" for i, (tpl, text, _) in enumerate(stmts)]
        return lines, stmts
    if workload == "view_ingest":
        batches = mutation_batches(seed, _customers(data_dir))
        lines = []
        for b, ops in enumerate(batches):
            for op, vid, label, src, dst, props in ops:
                p = props or {}
                row = [op, vid, label, src, dst, p.get("name"), p.get("acctbal"),
                       p.get("mktsegment"), p.get("nationkey"), p.get("totalprice"),
                       p.get("orderstatus"), p.get("orderpriority")]
                lines.append("mut\t%d\t%s" % (b, "\t".join(_cell(v) for v in row)))
        return lines, batches
    if workload == "batch_analytics":
        return [f"job\t{name}\t{query}" for name, query in JOBS], JOBS
    raise ValueError(f"unknown workload {workload}")
