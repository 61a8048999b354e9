"""Span tracing for the traced run (``--trace 1``).

Wrappers are installed by the benchmark on the layers' public
functions; the program itself is not changed. Each span records its
name, start, end, parent span and the op it ran under. Spans stay in
memory and are reduced to per-op figures when the run ends.

Wrappers only record while ``Tracer.enabled`` is set, so one traced
run can alternate untraced and traced rounds of the same op script
and report the tracing overhead from the two.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import threading
import time
from collections import defaultdict


class Span:
    __slots__ = ("name", "start", "end", "parent", "op", "children_s")

    def __init__(self, name: str, start: float, parent: "Span | None", op: int | None):
        self.name = name
        self.start = start
        self.end = start
        self.parent = parent
        self.op = op
        self.children_s = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.children_s


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.op: int | None = None
        self.spans: list[Span] = []
        #: {op: {counter: value}} for counters that are not spans
        self.counts: dict[int | None, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self._local = threading.local()
        #: span names of graph algorithms with a fixed `iters` argument
        self._fixed_iter: set[str] = set()

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        st = self._stack()
        sp = Span(name, time.perf_counter(), st[-1] if st else None, self.op)
        st.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            st.pop()
            if sp.parent is not None:
                sp.parent.children_s += sp.dur
            self.spans.append(sp)

    def count(self, name: str, n: float = 1.0) -> None:
        if self.enabled:
            self.counts[self.op][name] += n

    # -- patching ----------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace owner.attr (a function or method) with a
        span-recording wrapper for the rest of the process. `after`
        (optional) is called as after(args, kwargs, result) while the
        span is still open."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name):
                out = fn(*args, **kwargs)
                if after is not None:
                    after(args, kwargs, out)
                return out

        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap the public entry points of every traced layer."""
        from herodb_spark import session
        from herodb_spark.graph import algorithms as GA
        from herodb_spark.graph import extra_algos as GX
        from herodb_spark.heroql import compiler, parser
        from herodb_spark.sources import database, snapshot

        # heroql: parse inside run; compile = run's self time
        self.wrap(parser, "parse", "heroql.parse")
        self.wrap(compiler.HeroQL, "run", "heroql.run")

        # session: the shared checkpoint-with-count primitive, under
        # every name the layers import it as
        self.wrap(session, "ckpt_count", "session.ckpt")
        self.wrap(GA, "_ckpt_count", "session.ckpt")
        self.wrap(GX, "ckpt_count", "session.ckpt")

        # graph: iterations of the iterative algorithms — the `iters`
        # argument of fixed-iteration algorithms, else the checkpoint
        # rounds a convergence loop ran (convergence_rounds())
        for mod in (GA, GX):
            for fname, fn in list(vars(mod).items()):
                if (
                    fname.startswith("_")
                    or not inspect.isfunction(fn)
                    or fn.__module__ != mod.__name__
                ):
                    continue
                self.wrap(mod, fname, f"graph.{fname}", after=self._graph_after(fn))

        # sources: database maintenance (commits and reads are whole
        # ops, timed by their op latency)
        self.wrap(database.SnapshotDatabase, "compact", "snapshot.compact")
        self.wrap(database.SnapshotDatabase, "vacuum", "snapshot.vacuum")

        # optimistic-concurrency conflicts, including ones a
        # transaction retries internally
        err = snapshot.ConcurrentWriteError
        orig_init = err.__init__
        tracer = self

        def counting_init(exc, *args, **kwargs):
            tracer.count("database.occ_retries")
            orig_init(exc, *args, **kwargs)

        err.__init__ = counting_init

    def _graph_after(self, fn):
        try:
            sig = inspect.signature(fn)
        except (TypeError, ValueError):
            return None
        if "iters" not in sig.parameters:
            return None
        self._fixed_iter.add(f"graph.{fn.__name__}")
        tracer = self

        def after(args, kwargs, _out):
            # nested graph calls count once, at the outermost one
            if sum(1 for s in tracer._stack() if s.name.startswith("graph.")) > 1:
                return
            bound = sig.bind_partial(*args, **kwargs)
            bound.apply_defaults()
            tracer.count("graph.rounds", float(bound.arguments["iters"]))

        return after

    # -- reduction ---------------------------------------------------------
    def by_name(self, ops: set[int]) -> dict[str, list[Span]]:
        out: dict[str, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.op in ops:
                out[s.name].append(s)
        return out

    def convergence_rounds(self, ops: set[int]) -> int:
        """Checkpoint rounds run inside outermost graph spans of
        algorithms without a fixed `iters` argument."""
        n = 0
        for s in self.spans:
            if s.op not in ops or s.name != "session.ckpt":
                continue
            p, graph = s.parent, []
            while p is not None:
                if p.name.startswith("graph."):
                    graph.append(p)
                p = p.parent
            if graph and graph[-1].name not in self._fixed_iter:
                n += 1
        return n
