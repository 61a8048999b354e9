"""`analytics_batch`: heavy registry entries over sf0.1 tables.

Each op calls one oracle-backed entry of the query registry
(``__spark_entry__.queries()``) on the seeded sf0.1 inputs and
collects the result; the result is then hash-compared with the entry's
``oracle_sql()`` in DuckDB. Scan, join, shuffle and iterative
execution dominate; HeroQL and the snapshot layer are not involved.

Results are small (at most a few thousand rows), so collecting them
executes the full plan like the noop sink of ``bench.py`` does, and the
same rows serve the oracle check without a second execution.
The three kinds cover one layer each: ``tpch_q3`` (``plans``: a
three-table join and shuffle), ``graph_pagerank`` (``graph``: a
ten-iteration checkpointed loop) and ``events_funnel`` (``operators``:
per-user sort and window steps). The other heavy entries (``tpch_q5``,
``tpch_q18``, ``text_bm25_topk``) would each add 1-3 s per pass and
more to the warm-up. ``dedup_minhash_lsh`` is left out: its all-pairs
DuckDB oracle takes minutes at sf0.1.
"""

from __future__ import annotations

import random

from perfbench.common import Op

SF = 0.1
KINDS = ["tpch_q3", "graph_pagerank", "events_funnel"]


class Workload:
    name = "analytics_batch"
    kinds = KINDS
    #: nominal seconds of one pass over every kind on a 4-core box
    round_s = 10.0
    min_rounds = 1
    warmup_rounds = 1
    sf = SF

    def __init__(self, ctx):
        self.ctx = ctx

    def setup(self, data_dir: str, fixture_dir: str) -> None:
        import __spark_entry__ as entry
        from tests.harness import duckdb_con

        self.data_dir = data_dir
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.ctx.con = duckdb_con(data_dir)

    def ops(self, rng: random.Random, rounds: int) -> list[Op]:
        """`rounds` passes over every kind, each pass in a seeded order
        (the registry entries take no constants)."""
        out: list[Op] = []
        for _ in range(rounds):
            order = list(KINDS)
            rng.shuffle(order)
            out.extend(Op(k) for k in order)
        return out

    def execute(self, op: Op):
        return self.ctx.action(self.queries[op.kind](self.ctx.spark, self.data_dir))

    def check(self, op: Op, result) -> tuple[bool, str]:
        return self.ctx.compare(result, self.oracles[op.kind])

    def finish(self) -> dict:
        return {}
