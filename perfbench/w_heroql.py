"""`heroql_interactive`: fresh HeroQL programs over sf0.01 tables.

Every request builds a new ``HeroQL`` session, registers the already
loaded tables, runs one program from a fixed catalogue of kinds with
seed-drawn constants through ``HeroQL.run`` and collects its single
query. Results stay within a few hundred rows, so parse, compile,
Catalyst planning and per-job scheduling dominate. Each result is
checked against seed-parametrised DuckDB SQL over the same parquet
files.
"""

from __future__ import annotations

import random

from perfbench.common import Op

SF = 0.01
KINDS = ["rules_not", "class_deref", "exists_semijoin", "agg_pipeline", "recursive_reach", "mutations"]
#: tables each kind registers: (name, registered as a class row)
TABLES = {
    "rules_not": [("Cust", True), ("orders", False), ("nation", False)],
    "class_deref": [("Cust", True), ("Ord", False)],
    "exists_semijoin": [("customer", False), ("orders", False)],
    "agg_pipeline": [("lineitem", False)],
    "recursive_reach": [],
    "mutations": [],
}
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def draw(kind: str, rng: random.Random) -> dict:
    """Seed-drawn constants of one request."""
    if kind == "rules_not":
        return {"prio": rng.choice(PRIORITIES), "bal": rng.randrange(-600, 600), "nk": rng.randrange(25)}
    if kind == "class_deref":
        return {"prio": rng.choice(PRIORITIES), "seg": rng.choice(SEGMENTS),
                "price": rng.randrange(300_000, 450_000)}
    if kind == "exists_semijoin":
        return {"prio": rng.choice(PRIORITIES), "seg": rng.choice(SEGMENTS), "nk": rng.randrange(25),
                "status": rng.choice("FOP")}
    if kind == "agg_pipeline":
        return {"k": rng.randrange(2, 5), "thr": rng.randrange(30, 46), "n": rng.randrange(10, 31)}
    if kind == "recursive_reach":
        # a layered DAG three edges deep from node 1, so every draw
        # needs the same number of fixpoint rounds
        layers, nxt = [[1]], 2
        for _ in range(3):
            width = rng.randrange(1, 4)
            layers.append(list(range(nxt, nxt + width)))
            nxt += width
        edges = sorted({(rng.choice(a), b) for a, b_layer in zip(layers, layers[1:]) for b in b_layer})
        return {"edges": edges, "src": 1}
    if kind == "mutations":
        return {"vals": [rng.randrange(0, 4) * 10 for _ in range(6)], "kmax": rng.randrange(1, 6),
                "mul": rng.randrange(2, 11)}
    raise KeyError(kind)


def program(kind: str, p: dict) -> str:
    if kind == "rules_not":
        return f"""
            data Flagged(cust : int, why : string);
            Flagged(c, "no_prio")  :- Cust(c), not orders(_, c, _, _, _, "{p['prio']}");
            Flagged(c, "negative") :- Cust(c), c.c_acctbal < {p['bal']}.0;
            query (cust, nname, why) :-
                Flagged(cust, why), Cust(cust), cust.c_nationkey == {p['nk']},
                nation(cust.c_nationkey, nname, _);
        """
    if kind == "class_deref":
        return f"""
            data Ord(okey : int, cust : Cust, price : float, prio : string);
            query (okey, cname, nk, price) :-
                Ord(okey, cust, price, "{p['prio']}"), price > {p['price']}.0,
                cust.c_mktsegment == "{p['seg']}", cname = cust.c_name, nk = cust.c_nationkey;
        """
    if kind == "exists_semijoin":
        return f"""
            query (cid, cname, bal) :-
                customer(cid, cname, nk, bal, seg), nk == {p['nk']}, seg == "{p['seg']}",
                exists orders(_, cid, "{p['status']}", _, _, "{p['prio']}");
        """
    if kind == "agg_pipeline":
        return f"""
            collection_query(suppkey, orderkey, linenumber, quantity) :-
                lineitem(orderkey, _, suppkey, linenumber, quantity, _, _, _, _, _, _)
            partition_by suppkey(suppkey, orderkey, linenumber, sample = OrderByDesc(quantity, {p['k']}))
            group_by suppkey(suppkey, n_top = Count(sample), avg_top = Average(sample))
                :- avg_top >= {p['thr']}.0
            order_by_desc avg_top
            range_by 1..{p['n']};
        """
    if kind == "recursive_reach":
        sets = "\n".join(f"set Edge({a}, {b});" for a, b in p["edges"])
        return f"""
            data Edge(a : int, b : int);
            {sets}
            func Reach(in a, out b);
            case Reach(a, b) :- Edge(a, b);
            case Reach(a, c) :- Reach(a, b), Edge(b, c);
            query (y) :- Reach({p['src']}, y);
        """
    if kind == "mutations":
        sets = "\n".join(f"set Ledger({k}, {v});" for k, v in enumerate(p["vals"], start=1))
        return f"""
            data Ledger(k : int, v : int);
            {sets}
            update Ledger(k, v) :- k <= {p['kmax']}, v = v * {p['mul']};
            remove Ledger(_, v) :- v == 0;
            query (k, v) :- Ledger(k, v);
        """
    raise KeyError(kind)


def oracle(kind: str, p: dict) -> str:
    if kind == "rules_not":
        return f"""
            SELECT DISTINCT f.cust, n_name AS nname, f.why FROM (
              SELECT c_custkey AS cust, 'no_prio' AS why FROM customer
              WHERE NOT EXISTS (SELECT 1 FROM orders
                                WHERE o_custkey = c_custkey AND o_orderpriority = '{p['prio']}')
              UNION
              SELECT c_custkey AS cust, 'negative' AS why FROM customer WHERE c_acctbal < {p['bal']}.0
            ) f
            JOIN customer ON c_custkey = f.cust
            JOIN nation ON n_nationkey = c_nationkey
            WHERE c_nationkey = {p['nk']}
        """
    if kind == "class_deref":
        return f"""
            SELECT DISTINCT o_orderkey AS okey, c_name AS cname, c_nationkey AS nk, o_totalprice AS price
            FROM orders JOIN customer ON c_custkey = o_custkey
            WHERE o_orderpriority = '{p['prio']}' AND o_totalprice > {p['price']}.0
              AND c_mktsegment = '{p['seg']}'
        """
    if kind == "exists_semijoin":
        return f"""
            SELECT DISTINCT c_custkey AS cid, c_name AS cname, c_acctbal AS bal FROM customer
            WHERE c_nationkey = {p['nk']} AND c_mktsegment = '{p['seg']}'
              AND EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                          AND o_orderstatus = '{p['status']}' AND o_orderpriority = '{p['prio']}')
        """
    if kind == "agg_pipeline":
        return f"""
            WITH topk AS (
              SELECT l_suppkey AS suppkey, l_quantity AS sample,
                     ROW_NUMBER() OVER (
                       PARTITION BY l_suppkey
                       ORDER BY l_quantity DESC, l_suppkey, l_orderkey, l_linenumber, l_quantity
                     ) AS rn
              FROM lineitem
            ),
            grouped AS (
              SELECT suppkey, COUNT(sample) AS n_top, AVG(sample) AS avg_top
              FROM topk WHERE rn <= {p['k']} GROUP BY suppkey
              HAVING AVG(sample) >= {p['thr']}.0
            )
            SELECT suppkey, n_top, avg_top FROM (
              SELECT suppkey, n_top, avg_top,
                     ROW_NUMBER() OVER (ORDER BY avg_top DESC, suppkey, n_top, avg_top) AS rn2
              FROM grouped
            ) WHERE rn2 BETWEEN 1 AND {p['n']}
        """
    if kind == "recursive_reach":
        edges = ", ".join(f"({a}, {b})" for a, b in p["edges"])
        return f"""
            WITH RECURSIVE e(a, b) AS (SELECT * FROM (VALUES {edges}) t(a, b)),
            r(y) AS (
              SELECT b FROM e WHERE a = {p['src']}
              UNION
              SELECT e.b FROM r JOIN e ON e.a = r.y
            )
            SELECT CAST(y AS BIGINT) AS y FROM r
        """
    if kind == "mutations":
        rows = []
        for k, v in enumerate(p["vals"], start=1):
            if k <= p["kmax"]:
                v *= p["mul"]
            if v != 0:
                rows.append(f"(CAST({k} AS BIGINT), CAST({v} AS BIGINT))")
        if not rows:
            return "SELECT CAST(NULL AS BIGINT) AS k, CAST(NULL AS BIGINT) AS v WHERE FALSE"
        return f"SELECT * FROM (VALUES {', '.join(rows)}) t(k, v)"
    raise KeyError(kind)


class Workload:
    name = "heroql_interactive"
    kinds = KINDS
    #: --seconds per timed pass; --seconds 10 runs three passes, so
    #: each kind's median rejects one pass slowed by a burst of
    #: contention on a shared box
    round_s = 3.3
    min_rounds = 2
    warmup_rounds = 2
    sf = SF

    def __init__(self, ctx):
        self.ctx = ctx

    def setup(self, data_dir: str, fixture_dir: str) -> None:
        """Load and keep the base tables (each request registers them
        into its own fresh HeroQL session) and open the oracle."""
        from herodb_spark.catalog import load_table
        from tests.harness import duckdb_con

        self.ctx.con = duckdb_con(data_dir)

        spark = self.ctx.spark
        t = {n: load_table(spark, data_dir, n) for n in ("customer", "orders", "nation", "lineitem")}
        o = t["orders"]
        self.frames = {
            "Cust": t["customer"],
            "customer": t["customer"],
            "orders": o,
            "nation": t["nation"],
            "lineitem": t["lineitem"],
            "Ord": o.select(
                o.o_orderkey.alias("okey"), o.o_custkey.alias("cust"),
                o.o_totalprice.alias("price"), o.o_orderpriority.alias("prio"),
            ),
        }

    def ops(self, rng: random.Random, rounds: int) -> list[Op]:
        """`rounds` passes over every kind, each pass in a seeded order."""
        out: list[Op] = []
        for _ in range(rounds):
            order = list(KINDS)
            rng.shuffle(order)
            out.extend(Op(k, draw(k, rng)) for k in order)
        return out

    def execute(self, op: Op):
        from herodb_spark.heroql import HeroQL

        hql = HeroQL(self.ctx.spark)
        for name, is_class in TABLES[op.kind]:
            if is_class:
                hql.register(name, self.frames[name], is_class=True, key="c_custkey")
            else:
                hql.register(name, self.frames[name])
        res = hql.run(program(op.kind, op.params))
        return self.ctx.action(res.queries[0])

    def check(self, op: Op, result) -> tuple[bool, str]:
        return self.ctx.compare(result, oracle(op.kind, op.params))

    def finish(self) -> dict:
        return {}
