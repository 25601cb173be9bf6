"""Operation mixes of the three workloads, and the checks of their results.

Each workload is one round of operations drawn from the seed; a run repeats
the round until its time is spent. The checks never ask the program: the
Spark workloads compare every result with an SQL twin run by DuckDB on the
same parquet files, and `interp_graph` compares every result with its own
model of the graph, updated in step with the writes the round issues.
"""
import json
import math
import os
import random
from collections import Counter

import duckdb
import pyarrow.parquet as pq

from datagen import N_CUSTOMER, N_ORDERS, N_SUPPLIER, N_VECS, PRIORITIES, VOCAB


class Op:
    def __init__(self, template, stmt, twin=None, **params):
        self.template, self.stmt, self.twin, self.params = template, stmt, twin, params


# ---- interp_graph -----------------------------------------------------------

N_PERSON, OUT_DEGREE = 5_000, 3  # 15,000 knows edges
NEW = N_PERSON + 1  # the record each round creates, links and deletes again
# Operations of each kind in one round. The two-hop traversals, the costliest
# kind, make a fifth of the round, so p90 falls inside their cluster.
MIX = {"point": 450, "hop1": 250, "hop2": 300, "count": 100, "update": 350}


def interp_graph(rng):
    levels = {i: rng.randrange(100) for i in range(1, N_PERSON + 1)}
    # Every person knows exactly OUT_DEGREE others, so a traversal costs the
    # same whichever person it starts from. With random out-degrees the
    # two-hop costs form a ladder of a few levels, and the seed decides which
    # level p90 lands on.
    edges = []
    for a in range(1, N_PERSON + 1):
        others = [b for b in rng.sample(range(1, N_PERSON + 1), OUT_DEGREE + 1) if b != a]
        edges += [(a, b) for b in others[:OUT_DEGREE]]
    rng.shuffle(edges)
    setup = ["BEGIN;"]
    setup += [f"CREATE person:{i} SET level = {lv}, name = 'p{i}';" for i, lv in levels.items()]
    setup += [f"RELATE person:{a}->knows->person:{b};" for a, b in edges]
    setup.append("COMMIT;")

    def key():
        return rng.randint(1, N_PERSON)

    ops = []
    for _ in range(MIX["point"]):
        k = key()
        ops.append(Op("point", f"SELECT level FROM person:{k};", k=k))
    for _ in range(MIX["hop1"]):
        k = key()
        ops.append(Op("hop1", f"SELECT VALUE ->knows->person FROM ONLY person:{k};", k=k))
    for _ in range(MIX["hop2"]):
        k = key()
        ops.append(Op("hop2", f"SELECT VALUE ->knows->person->knows->person FROM ONLY person:{k};", k=k))
    for _ in range(MIX["count"]):
        lo = rng.randrange(0, 90)
        ops.append(Op("count", f"SELECT count() AS c FROM person WHERE level >= {lo} AND level < {lo + 20} GROUP ALL;",
                      lo=lo, hi=lo + 20))
    for _ in range(MIX["update"]):
        k = key()
        ops.append(Op("update", f"UPDATE person:{k} SET level += 1 RETURN level;", k=k))
    rng.shuffle(ops)
    # The new record's life cycle, spread over the round in order: create,
    # link both ways, traverse from it, delete it (which drops its edges).
    # Its steps sit at fixed, evenly spaced places and the delete closes the
    # round, so that every seed's round has the same shape: the delete takes
    # seconds and can slow the statements after it.
    a, b, lv = key(), key(), rng.randrange(100)
    chain = [
        Op("create", f"CREATE person:{NEW} SET level = {lv}, name = 'new';", k=NEW, level=lv),
        Op("relate", f"RELATE person:{NEW}->knows->person:{a} RETURN NONE;", src=NEW, dst=a),
        Op("relate", f"RELATE person:{b}->knows->person:{NEW} RETURN NONE;", src=b, dst=NEW),
        Op("hop_new", f"SELECT VALUE ->knows->person FROM ONLY person:{NEW};", k=NEW),
        Op("hop_new", f"SELECT VALUE <-knows<-person FROM ONLY person:{NEW};", k=NEW, reverse=True),
        Op("delete", f"DELETE person:{NEW} RETURN BEFORE;", k=NEW),
    ]
    total = len(ops) + len(chain)
    for j, op in enumerate(chain):
        ops.insert((j + 1) * total // len(chain) - 1, op)
    return ops, "\n".join(setup) + "\n", {"levels": levels, "edges": edges}


class GraphModel:
    """The graph as the benchmark expects it: levels and a multiset adjacency."""

    def __init__(self, levels, edges):
        self.level = dict(levels)
        self.name = {k: f"p{k}" for k in levels}
        self.out = {k: [] for k in levels}
        self.inn = {k: [] for k in levels}
        for a, b in edges:
            self.out[a].append(b)
            self.inn[b].append(a)

    def record(self, k):
        return {"id": f"person:{k}", "level": self.level[k], "name": self.name[k]}

    def apply(self, op):
        """Expected result of `op`, with the model advanced past it."""
        p, t = op.params, op.template
        if t == "point":
            return [{"level": self.level[p["k"]]}]
        if t == "hop1" or (t == "hop_new" and not p.get("reverse")):
            return sorted(f"person:{b}" for b in self.out[p["k"]])
        if t == "hop_new":
            return sorted(f"person:{a}" for a in self.inn[p["k"]])
        if t == "hop2":
            return sorted(f"person:{c}" for b in self.out[p["k"]] for c in self.out[b])
        if t == "count":
            n = sum(1 for v in self.level.values() if p["lo"] <= v < p["hi"])
            return [{"c": n}] if n else []
        if t == "update":
            self.level[p["k"]] += 1
            return [{"level": self.level[p["k"]]}]
        if t == "create":
            k = p["k"]
            self.level[k], self.name[k], self.out[k], self.inn[k] = p["level"], "new", [], []
            return [self.record(k)]
        if t == "relate":
            self.out[p["src"]].append(p["dst"])
            self.inn[p["dst"]].append(p["src"])
            return []
        if t == "delete":
            k = p["k"]
            before = self.record(k)
            for b in self.out.pop(k):
                self.inn[b].remove(k)
            for a in self.inn.pop(k):
                self.out[a].remove(k)
            del self.level[k], self.name[k]
            return [before]
        raise ValueError(t)


def _graph_result(op, got):
    if op.template in ("hop1", "hop2", "hop_new"):
        return sorted(got) if isinstance(got, list) else got
    return got


# ---- spark_point / spark_analytic -------------------------------------------

def exact_sum(x):
    """The decimal-exact SUM the program uses for float aggregates (scale 4)."""
    return f"(CAST(SUM(CAST(round(({x}) * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0)"


# Statements of each kind in one spark_point round. The light kinds (point,
# top-k, update: about two thirds of a range each) make 4 of 10, the ranges
# 4 and the derefs (about 1.7 ranges each) 2, so the median falls inside
# the range cluster and p90 inside the deref cluster, not on the edge
# between two clusters, where a few milliseconds move it by tens.
POINT_MIX = {"point": 2, "range": 4, "deref": 2, "topk": 1, "update": 1}


def spark_point(rng, data):
    ops = []
    for _ in range(POINT_MIX["point"]):
        k = rng.randrange(N_ORDERS)
        cols = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority"
        ops.append(Op("point", f"SELECT {cols} FROM orders:{k}",
                      f"SELECT {cols} FROM orders WHERE o_orderkey = {k}"))
    for _ in range(POINT_MIX["range"]):
        a = rng.randrange(N_ORDERS - 100)
        b = a + rng.randint(20, 60)
        ops.append(Op("range", f"SELECT o_orderkey, o_totalprice FROM orders:{a}..{b} ORDER BY o_orderkey",
                      f"SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey >= {a} "
                      f"AND o_orderkey < {b} ORDER BY o_orderkey"))
    for _ in range(POINT_MIX["deref"]):
        k = rng.randrange(N_ORDERS)
        ops.append(Op("deref",
                      f"SELECT o_orderkey, o_custkey.c_name AS c_name, o_custkey.c_mktsegment AS c_mktsegment "
                      f"FROM orders:{k}",
                      f"SELECT o_orderkey, c_name, c_mktsegment FROM orders LEFT JOIN customer "
                      f"ON o_custkey = c_custkey WHERE o_orderkey = {k}"))
    for _ in range(POINT_MIX["topk"]):
        c = rng.randrange(N_CUSTOMER)
        sql = (f"SELECT o_orderkey, o_totalprice FROM orders WHERE o_custkey = {c} "
               f"ORDER BY o_totalprice DESC, o_orderkey LIMIT 5")
        ops.append(Op("topk", sql, sql))
    for _ in range(POINT_MIX["update"]):
        k = rng.randrange(N_ORDERS)
        prio = rng.choice(PRIORITIES)
        bump = rng.randint(1, 9999) / 100
        ops.append(Op("update",
                      f"UPDATE orders:{k} SET o_orderpriority = '{prio}', o_totalprice = o_totalprice + {bump} "
                      f"RETURN o_orderkey, o_orderpriority, o_totalprice",
                      f"SELECT o_orderkey, '{prio}' AS o_orderpriority, o_totalprice + {bump} AS o_totalprice "
                      f"FROM orders WHERE o_orderkey = {k}"))
    rng.shuffle(ops)
    return ops


def _bm25_sql(terms, k):
    """BM25 (k1 1.2, b 0.75) over blank-split lowercase tokens, all terms
    required, scores rounded to 4 places, as the program's full-text index
    scores them."""
    k1, b = 1.2, 0.75
    in_list = ", ".join(f"'{t}'" for t in terms)
    return f"""WITH toks AS (
          SELECT doc_id, unnest(string_split(trim(lower(text)), ' ')) AS term FROM documents),
        post AS (SELECT term, doc_id, COUNT(*) AS tf FROM toks WHERE term IN ({in_list}) GROUP BY 1, 2),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
        stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, {exact_sum("dl")} / COUNT(*) AS avgdl FROM dl),
        dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM post GROUP BY 1),
        scored AS (
          SELECT post.doc_id,
                 greatest(0.0, ln((stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))) * {k1 + 1.0}
                 * (1.0 + ln(CAST(post.tf AS DOUBLE)))
                 / ((1.0 + ln(CAST(post.tf AS DOUBLE)))
                    + {k1} * ({1.0 - b} + {b} * CAST(dl.dl AS DOUBLE) / stats.avgdl)) AS term_score
          FROM post JOIN dl USING (doc_id) JOIN dfreq USING (term) CROSS JOIN stats),
        hits AS (SELECT doc_id FROM post GROUP BY doc_id HAVING COUNT(DISTINCT term) = {len(set(terms))})
        SELECT doc_id, round(SUM(term_score), 4) AS score FROM scored JOIN hits USING (doc_id)
        GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT {k}"""


def _cosine_sql(a, b):
    def dot(x, y):
        return f"list_sum(list_transform(range(1, 65), i -> CAST({x}[i] AS DOUBLE) * CAST({y}[i] AS DOUBLE)))"
    return f"({dot(a, b)} / (sqrt({dot(a, a)}) * sqrt({dot(b, b)})))"


def spark_analytic(rng, data):
    # Two GROUP BY statements to seven per round: the median latency then
    # falls inside the cluster of the mid-cost templates rather than on the
    # edge between two clusters.
    ops = []
    for _ in range(2):
        disc, qty = rng.randint(1, 8) / 100, rng.randint(10, 50)
        where = f"l_discount >= {disc} AND l_quantity < {qty}.0"
        ops.append(Op("group",
                      f"SELECT l_returnflag, l_linestatus, math::sum(l_quantity) AS sum_qty, "
                      f"math::sum(l_extendedprice) AS sum_price, count() AS cnt FROM lineitem WHERE {where} "
                      f"GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
                      f"SELECT l_returnflag, l_linestatus, {exact_sum('l_quantity')} AS sum_qty, "
                      f"{exact_sum('l_extendedprice')} AS sum_price, COUNT(*) AS cnt FROM lineitem "
                      f"WHERE {where} GROUP BY 1, 2 ORDER BY 1, 2"))
    prio, status = rng.choice(PRIORITIES), rng.choice("FOP")
    ops.append(Op("linkgroup",
                  f"SELECT o_custkey.c_mktsegment AS seg, count() AS cnt, math::sum(o_totalprice) AS total "
                  f"FROM orders WHERE o_orderpriority = '{prio}' AND o_orderstatus = '{status}' "
                  f"GROUP BY seg ORDER BY seg",
                  f"SELECT c_mktsegment AS seg, COUNT(*) AS cnt, {exact_sum('o_totalprice')} AS total "
                  f"FROM orders LEFT JOIN customer ON o_custkey = c_custkey "
                  f"WHERE o_orderpriority = '{prio}' AND o_orderstatus = '{status}' GROUP BY 1 ORDER BY 1"))
    price = rng.randint(300, 480) * 1000.0
    ops.append(Op("inside",
                  f"SELECT count() AS cnt FROM customer WHERE c_custkey INSIDE "
                  f"(SELECT o_custkey FROM orders WHERE o_totalprice > {price}) GROUP ALL",
                  f"SELECT COUNT(*) AS cnt FROM customer WHERE c_custkey IN "
                  f"(SELECT o_custkey FROM orders WHERE o_totalprice > {price})"))
    s = rng.randrange(N_SUPPLIER - 4)
    ops.append(Op("arrow",
                  f"SELECT s_suppkey, array::join(->supplies->part, ',') AS parts FROM supplier:{s}..{s + 4} "
                  f"ORDER BY s_suppkey",
                  f"SELECT s_suppkey, array_to_string((SELECT list(DISTINCT l_partkey ORDER BY l_partkey) "
                  f"FROM lineitem WHERE l_suppkey = s_suppkey), ',') AS parts FROM supplier "
                  f"WHERE s_suppkey >= {s} AND s_suppkey < {s + 4} ORDER BY s_suppkey"))
    terms = rng.sample(VOCAB[20:45], 2)
    ops.append(Op("bm25",
                  f"SELECT doc_id, search::score(1) AS score FROM documents WHERE text @1@ '{' '.join(terms)}' "
                  f"ORDER BY score DESC, doc_id LIMIT 10",
                  _bm25_sql(terms, 10)))
    q = rng.randrange(N_VECS)
    vec = data["vectors"][q]
    ops.append(Op("knn",
                  f"SELECT vec_id, math::fixed(1.0 - vector::distance::knn(), 6) AS cos_sim FROM embeddings "
                  f"WHERE vec_id != {q} AND embedding <|10,COSINE|> [{', '.join(repr(x) for x in vec)}] "
                  f"ORDER BY cos_sim DESC, vec_id",
                  f"WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {q}) "
                  f"SELECT e.vec_id, round({_cosine_sql('e.embedding', 'q.qe')}, 6) AS cos_sim "
                  f"FROM embeddings e, q WHERE e.vec_id <> {q} ORDER BY cos_sim DESC, e.vec_id LIMIT 10"))
    rng.shuffle(ops)
    return ops


def load_vectors(data_dir):
    col = pq.read_table(os.path.join(data_dir, "embeddings.parquet"), columns=["embedding"]).column(0)
    return [[float(x) for x in v] for v in col.to_pylist()]


def _same(a, b):
    if isinstance(a, bool) or isinstance(b, bool) or a is None or b is None:
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=2e-6)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    return a == b


# ---- the three workloads ----------------------------------------------------

# Untimed rounds before the measured ones. The Spark workloads need several:
# their per-round time keeps falling for the first rounds while the JIT
# compiles Catalyst and the planner.
WARMUP_ROUNDS = {"interp_graph": 1, "spark_point": 3, "spark_analytic": 2}
# The tables each Spark workload reads; set-up loads exactly these.
POINT_TABLES = ("orders", "customer")
ANALYTIC_TABLES = ("lineitem", "orders", "customer", "supplier", "part", "documents", "embeddings")


def make(workload, seed, data_dir):
    """(round of operations, set-up input, check state) for a workload. The
    set-up input is the graph-building script for `interp_graph` and the
    tables to load for the Spark workloads."""
    rng = random.Random(f"{workload}:{seed}")
    if workload == "interp_graph":
        return interp_graph(rng)
    if workload == "spark_point":
        return spark_point(rng, {}), "\n".join(POINT_TABLES) + "\n", {}
    ops = spark_analytic(rng, {"vectors": load_vectors(data_dir)})
    return ops, "\n".join(ANALYTIC_TABLES) + "\n", {}


def check(workload, ops, state, results_path, data_dir):
    """Compare every recorded result; returns (attempted, failed, wrong, notes).
    An operation that raised an error is failed; one whose result differs
    from the benchmark's own computation is failed and wrong."""
    attempted = failed = wrong = 0
    notes = Counter()
    model = GraphModel(state["levels"], state["edges"]) if workload == "interp_graph" else None
    twins = {}
    con = None
    if model is None:
        con = duckdb.connect()
        for t in ANALYTIC_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data_dir, t)}.parquet')")
    with open(results_path, encoding="utf-8") as f:
        for line in f:
            _, idx, body = line.rstrip("\n").split("\t", 2)
            op = ops[int(idx)]
            attempted += 1
            got = json.loads(body) if body else None
            if model is not None:
                want = model.apply(op)
            else:
                if op.twin not in twins:
                    twins[op.twin] = [list(r) for r in con.execute(op.twin).fetchall()]
                want = twins[op.twin]
            if isinstance(got, dict) and "error" in got:
                failed += 1
                notes[f"{op.template}: {got['error'][:200]}"] += 1
            elif not _same(_graph_result(op, got) if model else got, want):
                failed += 1
                wrong += 1
                notes[f"{op.template}: wrong result for {op.stmt[:120]}: got {str(got)[:200]} want {str(want)[:200]}"] += 1
    if con is not None:
        con.close()
    return attempted, failed, wrong, notes
