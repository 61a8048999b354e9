#!/usr/bin/env python3
"""Benchmark entry point: one closed-loop client, one workload, one seed.

    python3 perfbench/run.py --workload heroql_interactive --seed 1 --seconds 20 --trace 0

Run from the repository root. The run makes its inputs from --seed,
builds the workload's fixture, warms every op kind up once, then runs
a fixed, seeded op script whose length follows from --seconds. Every
op result is checked against an independent DuckDB oracle outside the
timed region. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones (see BENCHMARK.json).
A line before it, prefixed "detail ", carries per-kind medians, the
drift check, the box probe and the raw setup parts.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.getcwd())

from perfbench import measure  # noqa: E402
from perfbench.common import collect  # noqa: E402


def _process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _prepare_env(run_dir: str) -> None:
    """Keep every file the run writes inside `run_dir` and size the
    local Spark master to the machine. Must run before the JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    # the machine is shared: a smaller Spark driver heap than the 8g default
    heap = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # spark-submit's launcher JVM
    # the driver heap is committed at start and its young generation
    # has a fixed size: left to G1's adaptive sizing, whether the heap
    # grows during a run depends on timing, and peak RSS of the same
    # work then differs by a few hundred MB between runs
    driver_opts = f"{java_opts} -Xms{heap} -Xmn768m"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf 'spark.driver.extraJavaOptions={driver_opts}' pyspark-shell"
    )


def _stop_spark() -> None:
    """Stop the session and wait until the JVM it launched has exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Context:
    """What a workload gets: the session, the tracer, and the timed
    action / oracle comparison helpers."""

    def __init__(self, spark, tracer):
        self.spark = spark
        self.tracer = tracer
        self.con = None  # DuckDB oracle connection, set by the workload

    def action(self, df):
        """Plan (traced runs force it separately) and collect."""
        if self.tracer.enabled:
            with self.tracer.span("catalyst.plan"):
                df._jdf.queryExecution().executedPlan()
        with self.tracer.span("spark.exec"):
            return collect(df)

    def compare(self, result, sql: str) -> tuple[bool, str]:
        """Check collected rows against DuckDB SQL on the oracle."""
        from tests.harness import compare

        r = compare(result, sql, self.con)
        return r["ok"], "; ".join(r["detail"])


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(measure.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "herodb_spark", "__init__.py")):
        _fail("run from the repository root: herodb_spark/ is missing here")
    for mod in ("pyspark", "duckdb", "pyarrow", "numpy", "herodb_spark", "tests.harness"):
        try:
            importlib.import_module(mod)
        except Exception as e:  # noqa: BLE001 — report and refuse to run
            _fail(f"cannot import {mod}: {e}")

    run_dir = os.path.join(root, ".perfbench_tmp", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        _prepare_env(run_dir)
        out = measure.run(args, run_dir, Context, time.perf_counter() - _process_age_s())
    finally:
        _stop_spark()
        shutil.rmtree(run_dir, ignore_errors=True)
    print("detail " + json.dumps(out["detail"], sort_keys=True))
    print(json.dumps(out["result"]))
    sys.exit(0 if out["result"]["correct"] else 1)


if __name__ == "__main__":
    main()
