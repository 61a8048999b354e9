#!/usr/bin/env python
"""Deterministic job-count + wall profile of registry entries: runs
the named `__spark_entry__.queries()` entries under a job group and
reports how many Spark jobs the driver thread submitted plus the wall
time of the full materialization. Job counts are immune to box noise
and are the primary before/after signal for fixed-cost work (the
guide's §1 "measure first" applied to fixtures whose cost is
scheduler round-trips, not data volume).

Usage: python scripts/profile_fixture.py [--sf DIR] [--repeat N] query ...

`--repeat N` runs every entry N times in one process and prints one
line per call: the first call of an entry can read higher than the
warm ones (one-time catalog/schema work), so compare first calls
with first calls and warm calls with warm calls. The scale factor
defaults to $SPARK_GRAFT_SF_DIR, else the sf0.1 testdata.
Note: Structured Streaming micro-batch jobs run on scheduler threads
outside the job group and are NOT counted — by design; the counted
jobs are the eager fixture legs the repo controls directly.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from herodb_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", default=SF_DIR)
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument("names", nargs="+", metavar="query")
    args = ap.parse_args()

    import __spark_entry__

    queries = __spark_entry__.queries()
    unknown = [n for n in args.names if n not in queries]
    if unknown:
        ap.error(f"not in __spark_entry__.queries(): {', '.join(unknown)}")
    spark = get_spark("profile_fixture")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    for name in args.names:
        for call in range(1, args.repeat + 1):
            group = f"prof_{name}_{call}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            df = queries[name](spark, args.sf)
            t_fixture = time.perf_counter() - t0
            df.write.format("noop").mode("overwrite").save()
            wall = time.perf_counter() - t0
            sc.setJobGroup(None, None)
            jobs = sc.statusTracker().getJobIdsForGroup(group)
            print(
                f"{name} call={call}: jobs={len(jobs)} fixture_s={t_fixture:.2f} "
                f"total_s={wall:.2f}",
                flush=True,
            )
    spark.stop()


if __name__ == "__main__":
    main()
