"""Shared measurement helpers: the op record, memory, GC, the box
probe, directory listings, and the adapter that lets
``tests.harness.compare`` check rows that were already collected
inside a timed region."""

from __future__ import annotations

import gc
import math
import os
import time
from dataclasses import dataclass, field


@dataclass
class Op:
    """One request of a workload's op script."""

    kind: str
    params: dict = field(default_factory=dict)
    idx: int = 0


class Collected:
    """Duck-typed stand-in for a DataFrame whose rows were collected
    during the timed action: ``tests.harness.compare`` reads only
    ``columns``, ``dtypes`` and ``collect()``, so the oracle check
    reuses those rows instead of executing the plan a second time."""

    def __init__(self, columns: list[str], dtypes: list[tuple[str, str]], rows: list):
        self.columns = columns
        self.dtypes = dtypes
        self._rows = rows

    def collect(self) -> list:
        return self._rows


def collect(df) -> Collected:
    return Collected(list(df.columns), list(df.dtypes), df.collect())


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def _proc_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for task in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{task}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def process_tree(pid: int) -> list[int]:
    """`pid` and all of its live descendants."""
    seen, todo = [], [pid]
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


def peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of this Python process plus every
    live descendant (the JVM and its children), in MB."""
    return sum(_proc_kb(p, "VmHWM") for p in process_tree(os.getpid())) / 1024.0


class Jvm:
    """py4j handles for between-op housekeeping and GC accounting."""

    def __init__(self, spark):
        self._jvm = spark.sparkContext._jvm
        self._beans = list(
            self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )

    def gc_time_s(self) -> float:
        """Total collection time of all JVM collectors so far."""
        return sum(max(0, b.getCollectionTime()) for b in self._beans) / 1000.0

    def quiesce(self) -> None:
        """JVM System.gc() plus Python gc.collect(), run between ops
        outside every timed region."""
        self._jvm.java.lang.System.gc()
        gc.collect()


def probe_once(spark, rows: int) -> float:
    """Box-speed probe: xxhash64 over an in-memory range, summed —
    whole-stage-codegen CPU, no IO and no repository code. A
    diagnostic for box contention, never a normaliser."""
    from pyspark.sql import functions as F

    parts = spark.sparkContext.defaultParallelism
    t0 = time.perf_counter()
    (
        spark.range(0, rows, 1, parts)
        .select(F.pmod(F.xxhash64("id"), F.lit(1024)).alias("h"))
        .agg(F.sum("h").alias("s"))
        .write.format("noop").mode("overwrite").save()
    )
    return time.perf_counter() - t0


def dir_files(path: str) -> dict[str, int]:
    """{relative path: size} of every regular file under `path`."""
    out: dict[str, int] = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                out[os.path.relpath(p, path)] = os.path.getsize(p)
            except OSError:
                pass
    return out


def data_files(files: dict[str, int]) -> dict[str, int]:
    """Parquet data files of a `dir_files` listing."""
    return {p: s for p, s in files.items() if p.endswith(".parquet")}
