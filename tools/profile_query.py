#!/usr/bin/env python3
"""Profile one or more registry queries under the bench's exact config:
warm once, then min-of-N floors under the projection-forcing action
(bit_xor of xxhash64 over every output column — bench.py's _force).
Each query's line also reports its plan's Python evaluation node count
(blaze_spark.plans.python_eval_count).

Usage:
    python tools/profile_query.py [--plan DIR] [--reps N] name [name ...]

With --plan DIR, each query's .explain('formatted') output is written to
DIR/<name>.txt (the r15 optimization-round evidence files are produced
by pointing this at plans/r15 and renaming to _before/_after).
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--plan", default=None,
                    help="directory to write explain('formatted') files")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--suffix", default="",
                    help="appended to plan file names (e.g. _before)")
    ap.add_argument("--wait-idle", type=float, default=None,
                    help="before each timed rep, wait until the 1-min "
                         "load average drops below this (the sandbox "
                         "shares a host; external gusts poison floors)")
    args = ap.parse_args()

    def _busy_frac(dt=0.4):
        def snap():
            with open("/proc/stat") as fh:
                f = [int(x) for x in fh.readline().split()[1:]]
            return sum(f), f[3] + f[4]  # total, idle+iowait
        t0, i0 = snap()
        time.sleep(dt)
        t1, i1 = snap()
        return 1.0 - (i1 - i0) / max(1, t1 - t0)

    def _idle():
        # between reps this session runs nothing, so busy CPU == an
        # external neighbor on the shared host; wait it out (bounded)
        if args.wait_idle is None:
            return
        for _ in range(300):
            if _busy_frac() < args.wait_idle:
                return
            time.sleep(2)

    from pyspark.sql import SparkSession

    import __spark_entry__ as entry
    from bench import _force, _shuffle_partitions
    from blaze_spark.plans import python_eval_count

    sf_str = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_num = float(sf_str)
    except ValueError:
        sf_num = 0.1
    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("blaze_spark_profile")
        .config("spark.sql.shuffle.partitions",
                str(_shuffle_partitions(sf_num, int(CPUS))))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()

    for name in args.names:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"profile:{name}")
        if args.plan:
            df = fn(spark, SF_DIR)
            os.makedirs(args.plan, exist_ok=True)
            path = os.path.join(args.plan, f"{name}{args.suffix}.txt")
            with open(path, "w") as fh:
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
            print(f"# plan -> {path}", file=sys.stderr)
            # release the capture frame BEFORE timing: under the
            # refcounted scoped-cache release, a live capture frame
            # would keep the warm rep's cache fill alive and the timed
            # reps would read it instead of refilling — bench.py reps
            # always refill, so the floors must too
            del df
        warm = fn(spark, SF_DIR)
        _force(warm)
        # each Python evaluation node costs one worker session per
        # partition it runs on, whatever its row count
        py_nodes = python_eval_count(warm)
        del warm  # same reason as the plan capture frame above
        runs = []
        for _ in range(args.reps):
            try:
                spark.sparkContext._jvm.System.gc()
            except Exception:
                pass
            _idle()
            t0 = time.time()
            n = _force(fn(spark, SF_DIR))
            runs.append(time.time() - t0)
        runs.sort()
        print(f"{name}: min {runs[0]:.3f}s median "
              f"{runs[len(runs) // 2]:.3f}s max {runs[-1]:.3f}s ({n} rows, "
              f"{py_nodes} python eval nodes)")
    spark.stop()


if __name__ == "__main__":
    main()
