"""The measured run: set-up, warm-up, the timed op script, the
correctness checks and the reduction to end-to-end or per-layer
metrics."""

from __future__ import annotations

import gc
import importlib
import json
import os
import random
import statistics
import time
from collections import defaultdict

from perfbench import common
from perfbench.trace import Tracer

WORKLOADS = {
    "heroql_interactive": "perfbench.w_heroql",
    "analytics_batch": "perfbench.w_analytics",
    "snapshot_ingest": "perfbench.w_ingest",
}
#: rows of the box probe's range (about 0.25 s on 4 cores)
PROBE_ROWS = 30_000_000

#: counts that must repeat exactly across two same-seed runs
EXACT_COUNTS = (
    "spark.jobs_per_op",
    "spark.tasks_per_op",
    "snapshot.files_written_per_commit",
    "graph.rounds",
)


#: every per-layer metric, in report order; a layer a workload does
#: not reach reports 0
PER_LAYER = [
    ("heroql.parse_s", "s"), ("heroql.compile_s", "s"), ("catalyst.plan_s", "s"),
    ("spark.exec_s", "s"), ("spark.jobs_per_op", "count"), ("spark.stages_per_op", "count"),
    ("spark.tasks_per_op", "count"), ("session.ckpt_calls", "count"), ("session.ckpt_s", "s"),
    ("graph.rounds", "count"),
    ("snapshot.commit_s.merge_upsert", "s"), ("snapshot.commit_s.update_where", "s"),
    ("snapshot.commit_s.delete_where", "s"), ("snapshot.commit_s.txn", "s"),
    ("streaming.batch_s", "s"), ("snapshot.files_written_per_commit", "count"),
    ("snapshot.write_amp", "ratio"), ("snapshot.read_s.latest", "s"),
    ("snapshot.read_s.time_travel", "s"), ("snapshot.read_s.changes", "s"),
    ("snapshot.files_per_read", "count"), ("snapshot.compact_s", "s"),
    ("snapshot.compact_files_rewritten", "count"), ("snapshot.vacuum_s", "s"),
    ("snapshot.live_files", "count"), ("database.occ_retries", "count"), ("jvm.gc_s", "s"),
    ("box.probe_s", "s"), ("trace.ops_per_s_untraced", "1/s"), ("trace.ops_per_s_traced", "1/s"),
    ("trace.overhead_frac", "ratio"),
]
#: per-layer metrics that are the mean latency of one op kind
KIND_LATENCY = {
    "snapshot.commit_s.merge_upsert": "merge_upsert",
    "snapshot.commit_s.update_where": "update_where",
    "snapshot.commit_s.delete_where": "delete_where",
    "snapshot.commit_s.txn": "txn",
    "snapshot.read_s.latest": "read_latest",
    "snapshot.read_s.time_travel": "read_time_travel",
    "snapshot.read_s.changes": "read_changes",
}


def _rounds(wl, seconds: float, trace: bool) -> int:
    """Passes over every op kind: --seconds divided by the workload's
    nominal pass time. A traced run traces half the ops of each kind
    (see run()), so it makes at least two passes."""
    n = max(wl.min_rounds, round(seconds / wl.round_s))
    return max(2, n) if trace else n


def run(args, run_dir: str, context_cls, proc_start: float) -> dict:
    from herodb_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t_session = time.perf_counter() - proc_start
    sc = spark.sparkContext
    jvm = common.Jvm(spark)
    tracer = Tracer()
    if args.trace:
        tracer.install()
    ctx = context_cls(spark, tracer)
    wl = importlib.import_module(WORKLOADS[args.workload]).Workload(ctx)

    # inputs: made from the seed; not part of setup_s (the program
    # does no work here)
    from perfbench import datagen

    t0 = time.perf_counter()
    data_dir = os.path.join(run_dir, "data")
    datagen.generate(data_dir, wl.sf, args.seed)
    gen_s = time.perf_counter() - t0

    jvm.quiesce()
    t0 = time.perf_counter()
    wl.setup(data_dir, os.path.join(run_dir, "fixture"))
    fixture_s = time.perf_counter() - t0

    rng = random.Random(args.seed)
    # objects alive now stay alive: keep them out of every later
    # gc.collect() so the between-op collection stays cheap
    gc.freeze()

    attempted = failed = warm_failed = 0
    failures: list[str] = []

    prepare = getattr(wl, "prepare", None)
    overhead = defaultdict(float)  # untimed per-op work, for the detail line

    def do(op, timed: bool):
        nonlocal attempted, failed, warm_failed
        t_pre = time.perf_counter()
        if prepare is not None:
            prepare(op)
        t_q = time.perf_counter()
        if timed:
            jvm.quiesce()
        overhead["prepare"] += t_q - t_pre
        overhead["quiesce"] += time.perf_counter() - t_q
        gc0 = jvm.gc_time_s()
        if tracer.enabled:
            sc.setJobGroup(f"perfbench-op{op.idx}", op.kind)
            tracer.op = op.idx
        t0 = time.perf_counter()
        err = None
        try:
            res = wl.execute(op)
        except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
            res, err = None, e
        dt = time.perf_counter() - t0
        if tracer.enabled:
            sc._jsc.clearJobGroup()
            tracer.op = None
        gc_s = jvm.gc_time_s() - gc0
        t_c = time.perf_counter()
        ok, why = (False, f"{type(err).__name__}: {err}") if err else wl.check(op, res)
        overhead["check"] += time.perf_counter() - t_c
        if timed:
            attempted += 1
            if not ok:
                failed += 1
        elif not ok:
            warm_failed += 1
        if not ok:
            failures.append(f"{op.kind}#{op.idx}: {why}"[:500])
        return dt, gc_s

    # warm-up: `warmup_rounds` passes over every kind (own seed-drawn
    # constants, checked like the rest); the JVM's JIT keeps speeding
    # the same ops up for several passes
    warm_ops = wl.ops(random.Random(args.seed ^ 0x5EED), wl.warmup_rounds)
    warm_op_s: dict[str, list[float]] = defaultdict(list)
    for i, op in enumerate(warm_ops):
        op.idx = -1 - i
        warm_op_s[op.kind].append(do(op, timed=False)[0])
    warm_s = sum(sum(v) for v in warm_op_s.values())
    setup_s = t_session + fixture_s + warm_s

    probe_pre = common.probe_once(spark, PROBE_ROWS)
    rounds = _rounds(wl, args.seconds, bool(args.trace))
    ops = wl.ops(rng, rounds)
    lat: dict[str, list[float]] = defaultdict(list)
    traced_lat: list[float] = []
    untraced_lat: list[float] = []
    gc_traced: list[float] = []
    jobs: dict[int, tuple[int, int, int]] = {}
    traced_ops: set[int] = set()
    traced_lat_kind: dict[str, list[float]] = defaultdict(list)
    for i, op in enumerate(ops):
        op.idx = i
        # a traced run traces one op of each consecutive pair of a
        # kind, alternating first/second so neither side is the warmer
        n = len(lat[op.kind])
        traced = bool(args.trace) and (n % 2) != (n // 2 % 2)
        tracer.enabled = traced
        dt, gc_s = do(op, timed=True)
        tracer.enabled = False
        lat[op.kind].append(dt)
        if traced:
            traced_ops.add(i)
            traced_lat.append(dt)
            traced_lat_kind[op.kind].append(dt)
            gc_traced.append(gc_s)
            jobs[i] = _job_counts(sc, f"perfbench-op{i}")
        else:
            untraced_lat.append(dt)
    probe_post = common.probe_once(spark, PROBE_ROWS)
    t0 = time.perf_counter()
    extra = wl.finish()
    overhead["finish"] = time.perf_counter() - t0
    if extra.get("failures"):
        failures.extend(extra["failures"])
        failed += len(extra["failures"])
        attempted += len(extra["failures"])

    kinds = list(wl.kinds)
    medians = {k: statistics.median(v) for k, v in lat.items()}
    half = len(ops) // 2
    drift = {}
    for k in kinds:
        first = [dt for op, dt in _pairs(ops, lat, k) if op.idx < half]
        second = [dt for op, dt in _pairs(ops, lat, k) if op.idx >= half]
        if first and second:
            drift[k] = statistics.median(second) / statistics.median(first) - 1.0
    correct = failed == 0 and warm_failed == 0
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "rounds": rounds,
        "ops": len(ops),
        "kind_median_s": medians,
        "op_s": {k: [round(x, 4) for x in v] for k, v in lat.items()},
        "drift_second_vs_first_half": drift,
        "box.probe_s": [probe_pre, probe_post],
        "setup_parts_s": {
            "session": t_session,
            "fixture": fixture_s,
            "warmup": warm_s,
            "warmup_ops": warm_op_s,
            "inputs_untimed": gen_s,
        },
        "untimed_s": dict(overhead),
        "failures": failures[:20],
        **extra.get("detail", {}),
    }
    if not args.trace:
        total = sum(sum(v) for v in lat.values())
        metrics = {
            "setup_s": (setup_s, "s"),
            "ops_per_s": (len(ops) / total, "1/s"),
            "lat_p50_s": (common.geomean(list(medians.values())), "s"),
            "ok_frac": ((attempted - failed) / attempted, "ratio"),
            "peak_rss_mb": (common.peak_rss_mb(), "MB"),
            "space_amp": (extra.get("space_amp", 1.0), "ratio"),
        }
    else:
        metrics = _layer_metrics(tracer, traced_ops, jobs, gc_traced, traced_lat_kind, extra)
        metrics["box.probe_s"] = ((probe_pre + probe_post) / 2, "s")
        metrics["trace.ops_per_s_untraced"] = (len(untraced_lat) / sum(untraced_lat), "1/s")
        metrics["trace.ops_per_s_traced"] = (len(traced_lat) / sum(traced_lat), "1/s")
        metrics["trace.overhead_frac"] = (
            metrics["trace.ops_per_s_untraced"][0] / metrics["trace.ops_per_s_traced"][0] - 1.0,
            "ratio",
        )
        metrics = {k: metrics.get(k, (0.0, u)) for k, u in PER_LAYER}
        detail["repeat_check"] = _repeat_check(args, metrics)
    return {
        "detail": detail,
        "result": {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        },
    }


def _pairs(ops, lat, kind):
    """(op, latency) of every op of `kind`, in script order."""
    it = iter(lat[kind])
    return [(op, next(it)) for op in ops if op.kind == kind]


def _job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) the op submitted under its job group."""
    st = sc.statusTracker()
    job_ids = st.getJobIdsForGroup(group)
    stages = set()
    for j in job_ids:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = 0
    n_stages = 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None:
            n_stages += 1
            tasks += info.numTasks
    return len(job_ids), n_stages, tasks


def _layer_metrics(
    tracer: Tracer, ops: set[int], jobs: dict, gc_s: list[float], lat: dict, extra: dict
) -> dict:
    n = max(1, len(ops))
    spans = tracer.by_name(ops)

    def total(name: str) -> float:
        return sum(s.dur for s in spans.get(name, []))

    def counter(name: str) -> float:
        return sum(tracer.counts[o].get(name, 0.0) for o in ops)

    run_self = sum(s.self_s for s in spans.get("heroql.run", []))
    m = {
        "heroql.parse_s": (total("heroql.parse") / n, "s"),
        "heroql.compile_s": (run_self / n, "s"),
        "catalyst.plan_s": (total("catalyst.plan") / n, "s"),
        "spark.exec_s": (total("spark.exec") / n, "s"),
        "spark.jobs_per_op": (sum(j[0] for j in jobs.values()) / n, "count"),
        "spark.stages_per_op": (sum(j[1] for j in jobs.values()) / n, "count"),
        "spark.tasks_per_op": (sum(j[2] for j in jobs.values()) / n, "count"),
        "session.ckpt_calls": (len(spans.get("session.ckpt", [])) / n, "count"),
        "session.ckpt_s": (total("session.ckpt") / n, "s"),
        "graph.rounds": ((counter("graph.rounds") + tracer.convergence_rounds(ops)) / n, "count"),
        "database.occ_retries": (counter("database.occ_retries"), "count"),
        "jvm.gc_s": (sum(gc_s) / n, "s"),
    }
    def mean_span(name: str) -> float:
        sp = spans.get(name, [])
        return sum(s.dur for s in sp) / len(sp) if sp else 0.0

    m["snapshot.compact_s"] = (mean_span("snapshot.compact"), "s")
    m["snapshot.vacuum_s"] = (mean_span("snapshot.vacuum"), "s")
    for name, kind in KIND_LATENCY.items():
        if lat.get(kind):
            m[name] = (sum(lat[kind]) / len(lat[kind]), "s")
    for name, (value, unit) in extra.get("layer", {}).items():
        m[name] = (value, unit)
    return m


def _repeat_check(args, metrics: dict) -> dict:
    """Compare the exact counts with the previous traced run of the
    same workload and seed in this checkout, then record this run's."""
    state = os.path.join(os.getcwd(), ".perfbench_state")
    os.makedirs(state, exist_ok=True)
    path = os.path.join(state, f"counts-{args.workload}-s{args.seed}-x{args.seconds:g}.json")
    now = {k: metrics[k][0] for k in EXACT_COUNTS if k in metrics}
    out: dict = {"previous": None, "mismatch": []}
    if os.path.exists(path):
        with open(path) as f:
            prev = json.load(f)
        out["previous"] = prev
        out["mismatch"] = sorted(k for k in now if prev.get(k) != now[k])
    with open(path, "w") as f:
        json.dump(now, f, sort_keys=True)
    return out
