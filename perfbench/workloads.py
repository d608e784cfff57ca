"""Seeded workload plans: op schedules, join graphs and transaction ledgers.

Everything a run feeds the engine is made here from one seed: the op
order, the generated join graphs (with the DuckDB SQL that states each
one), the range-filter constants, and the transaction batches with their
commit/abort choices. The engine only receives the result.
"""
import random

from datagen import table_sizes

TPCH = [
    "q51_tpch_q1", "q52_tpch_q3", "q53_tpch_q5", "q54_tpch_q6", "q55_tpch_q10",
    "q69_tpch_q4", "q70_tpch_q14", "q71_tpch_q19", "q72_tpch_q17", "q73_tpch_q2",
    "q74_tpch_q7", "q75_tpch_q13", "q76_tpch_q18", "q77_tpch_q22", "q78_tpch_q15",
    "q79_tpch_q16", "q80_tpch_q21", "q86_tpch_q8", "q87_tpch_q9", "q88_tpch_q11",
    "q89_tpch_q12", "q90_tpch_q20",
]
HEAVY_QUERIES = ["q130_containment", "q147_cosine_pairs", "q176_triangles",
                 "q187_assoc_rules", "q192_hits", "q232_containment_cap"]
# streaming queries, two a round: round r runs STREAM_PAIRS[r % 2]
STREAM_PAIRS = [["q62_stream_join", "q220_stream_lakehouse_sink"],
                ["q132_stream_outer_join", "q237_stream_watermark_eviction"]]

# Workload shapes. `sf` is the generated data's scale factor; `tables`
# are the ones whose statistics set-up builds.
WORKLOADS = {
    # a round: half of the 22 TPC-H-block queries (alternating halves),
    # q05_join_opt, and 3 join graphs of 4, 6 and 8 relations; a run
    # holds at least two rounds, so it runs all 22
    "short_joins": {"sf": 0.01, "graph_sizes": [4, 6, 8], "min_rounds": 2,
                    "tables": ["region", "nation", "customer", "supplier",
                               "part", "orders", "lineitem"]},
    # a round: each of the six heavy queries once
    "heavy_pipeline": {"sf": 0.02,
                       "tables": ["orders", "lineitem", "events", "documents",
                                  "embeddings"]},
    # a round: 24 transactions and two of the four streaming queries
    "stream_ingest": {"sf": 0.002, "round_txns": 24, "tables": ["events"]},
}

# ---------------------------------------------------------------- join graphs

# (child table, child column, parent table, parent column): every
# foreign key of the TPC-H-ish schema.
FKS = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
]


def int_columns(sf):
    """table -> [(column, lo, hi)] integer columns with their value domains."""
    n = table_sizes(sf)
    return {
        "lineitem": [("l_linenumber", 1, 7), ("l_orderkey", 0, n["orders"] - 1),
                     ("l_partkey", 0, n["part"] - 1), ("l_suppkey", 0, n["supplier"] - 1)],
        "orders": [("o_orderkey", 0, n["orders"] - 1), ("o_custkey", 0, n["customer"] - 1)],
        "customer": [("c_custkey", 0, n["customer"] - 1), ("c_nationkey", 0, 24)],
        "supplier": [("s_suppkey", 0, n["supplier"] - 1), ("s_nationkey", 0, 24)],
        "part": [("p_partkey", 0, n["part"] - 1), ("p_size", 1, 50)],
        "nation": [("n_nationkey", 0, 24), ("n_regionkey", 0, 4)],
        "region": [("r_regionkey", 0, 4)],
    }


def join_graph(rng, sf, name, k, cap_rows=200000, const_rng=None):
    """One inner-join graph of `k` relations over self-joins of the
    TPC-H-ish tables, with seeded integer range filters. Relations are
    listed in a connected order; each one after the first joins the
    earlier ones through at least one edge. The estimated result size
    stays under `cap_rows`, so no graph explodes.

    `rng` draws the graph's template: tables, edges, filtered columns and
    filter widths, aggregates. `const_rng` (default `rng`) draws where
    each filter range starts, which leaves the template unchanged.
    """
    rows, cols = table_sizes(sf), int_columns(sf)
    rels, edges = [], []
    counts = {}

    def add(table):
        counts[table] = counts.get(table, 0) + 1
        alias = f"{table[0]}{counts[table]}"
        filters = []
        sel = 1.0
        if rng.random() < 0.5:
            c, lo, hi = rng.choice(cols[table])
            width = max(1, int((hi - lo) * rng.uniform(0.2, 0.9)))
            a = (const_rng or rng).randint(lo, hi - width)
            filters.append({"col": c, "lo": a, "hi": a + width})
            sel = (width + 1) / (hi - lo + 1)
        rels.append({"alias": alias, "table": table, "filters": filters})
        return alias, sel

    root = rng.choice(["lineitem", "orders", "customer", "part", "supplier"])
    alias, sel = add(root)
    est = rows[root] * sel
    while len(rels) < k:
        cur = rng.choice(rels)
        moves = []
        for child, cc, parent, pc in FKS:
            if cur["table"] == child:
                moves.append((parent, cur["alias"], cc, pc, 1.0))
            if cur["table"] == parent:
                moves.append((child, cur["alias"], pc, cc, rows[child] / rows[parent]))
        rng.shuffle(moves)
        for table, other, oc, nc, fan in moves:
            if est * fan > cap_rows:
                continue
            alias, sel = add(table)
            est = est * fan * sel
            edges.append({"l": other, "lc": oc, "r": alias, "rc": nc})
            break
        else:
            continue
    # one extra edge closing a cycle: two nation-keyed relations agree
    nk = [(r["alias"], c) for r in rels for c in ("c_nationkey", "s_nationkey")
          if c.startswith(r["table"][0] + "_")]
    if len(nk) >= 2 and len(edges) < 12 and rng.random() < 0.5:
        (a, ac), (b, bc) = rng.sample(nk, 2)
        edges.append({"l": a, "lc": ac, "r": b, "rc": bc})
    aggs = []
    for r in rng.sample(rels, min(2, len(rels))):
        c, _, _ = rng.choice(cols[r["table"]])
        aggs.append({"alias": r["alias"], "col": c})
    return {"kind": "graph", "name": name, "rels": rels, "edges": edges, "aggs": aggs}


def graph_sql(g):
    """The DuckDB statement of a join graph (same result columns)."""
    sel = ["count(*) AS cnt"] + [f"CAST(sum({a['alias']}.{a['col']}) AS BIGINT) AS s{i}"
                                 for i, a in enumerate(g["aggs"])]
    frm = [f"{r['table']} AS {r['alias']}" for r in g["rels"]]
    where = [f"{e['l']}.{e['lc']} = {e['r']}.{e['rc']}" for e in g["edges"]]
    where += [f"{r['alias']}.{f['col']} BETWEEN {f['lo']} AND {f['hi']}"
              for r in g["rels"] for f in r["filters"]]
    return (f"SELECT {', '.join(sel)} FROM {', '.join(frm)}"
            + (f" WHERE {' AND '.join(where)}" if where else ""))


# ------------------------------------------------------------- transactions

def batch_rows(id0, n, salt):
    """The rows of a transaction batch; mirrored by the JVM runner."""
    return [(i, (i * 31 + salt) % 97, (i * 7919 + salt) % 100003)
            for i in range(id0, id0 + n)]


class Ledger:
    """Committed rows of the transactional table, for read-back checks."""

    def __init__(self):
        self.count = self.sum_id = self.sum_k = self.sum_v = 0

    def commit(self, rows):
        for i, k, v in rows:
            self.count += 1
            self.sum_id += i
            self.sum_k += k
            self.sum_v += v

    def expect(self):
        return [self.count, self.sum_id, self.sum_k, self.sum_v]


def txn_ops(rng, n_ops, period):
    """`n_ops` transactions: seeded batch sizes, salts and commit/abort
    choices. Every `period`-th is a maintenance transaction (checkpoint,
    compact, statistics rebuild) and the third one crashes and recovers;
    the first one is the warm-up, so each round of `period` that follows
    holds one maintenance transaction, and the first round also the crash.
    Each carries the ledger state its read-back must see.
    """
    ledger, out, next_id = Ledger(), [], 0
    for t in range(n_ops):
        n = rng.randint(400, 600)
        salt = rng.randint(0, 10**6)
        commit = rng.random() < 0.75
        if commit:
            ledger.commit(batch_rows(next_id, n, salt))
        out.append({"kind": "txn", "name": "txn", "id0": next_id, "n": n, "salt": salt,
                    "commit": commit, "maintain": t % period == 6, "crash": t == 2,
                    "expect": ledger.expect()})
        next_id += n
    return out


# -------------------------------------------------------------------- plans

def _round(workload, rng, r, txns, n_events, sqls, templates):
    """The ops of round `r`. Every round of a workload has the same
    composition, so runs of the same length do the same kinds of work
    whatever the seed; the seed picks the members and their order.
    Join-graph templates come from `templates`, the same stream for
    every seed; the seed draws their filter constants.
    """
    w = WORKLOADS[workload]
    if workload == "short_joins":
        graphs = [join_graph(templates, w["sf"], f"graph_{r:02d}_{i}", k, const_rng=rng)
                  for i, k in enumerate(w["graph_sizes"])]
        sqls.update({g["name"]: graph_sql(g) for g in graphs})
        tpch = TPCH[r % 2::2]
        ops = [{"kind": "query", "name": q} for q in tpch + ["q05_join_opt"]] + graphs
    elif workload == "heavy_pipeline":
        ops = [{"kind": "query", "name": q} for q in HEAVY_QUERIES]
    else:
        ops = ([next(txns) for _ in range(w["round_txns"])]
               + [{"kind": "stream", "name": q, "ingested": n_events}
                  for q in STREAM_PAIRS[r % len(STREAM_PAIRS)]])
    rng.shuffle(ops)
    if workload == "stream_ingest":
        # the ledger's expectations hold only in transaction order
        order = iter(sorted((o for o in ops if o["kind"] == "txn"), key=lambda o: o["id0"]))
        ops = [next(order) if o["kind"] == "txn" else o for o in ops]
    return ops


def plan(workload, seed, n_events, rounds=20):
    """(warm-up ops, timed ops, {graph name: SQL}) for one run: an untimed
    warm-up, so the first timed ops do not pay the JVM's cold start, then
    `rounds` rounds.
    """
    rng = random.Random(f"{workload}:{seed}")
    # The planner's time on a graph follows its shape: across seeds the
    # 8-relation graph spent 0.1 s to 11 s in optimization, which swamped
    # every other difference between runs. So the shapes are fixed, like
    # a query template, and the seed fills in the constants.
    templates = random.Random(f"{workload}:templates")
    w = WORKLOADS[workload]
    period = w.get("round_txns", 1)
    txns = iter(txn_ops(rng, 1 + rounds * period, period))
    sqls = {}
    if workload == "short_joins":
        # a small graph and a query from the half the first round skips
        warm = join_graph(templates, w["sf"], "graph_warmup", 4, const_rng=rng)
        sqls[warm["name"]] = graph_sql(warm)
        warmup = [warm, {"kind": "query", "name": TPCH[1]}]
    elif workload == "stream_ingest":
        warmup = [next(txns)]
    else:
        warmup = []
    ops = []
    for r in range(rounds):
        ops += _round(workload, rng, r, txns, n_events, sqls, templates)
    return warmup, ops, sqls


def round_size(workload):
    """A run ends on a round boundary, so it holds whole rounds."""
    period = WORKLOADS[workload].get("round_txns", 1)
    txns = iter(txn_ops(random.Random(0), period, period))
    return len(_round(workload, random.Random(0), 0, txns, 1, {}, random.Random(0)))
