#!/usr/bin/env python
"""Per-query profiler for the optimization rounds (guide §1: measure first).

For each named query: build the shared layers (untimed, as bench.py does),
warm at sf0.001, then at $SPARK_GRAFT_SF_DIR measure best-of-N wall time
split into DATAFRAME BUILD (python construction), PLANNING (analysis +
optimization + physical planning, forced via executedPlan) and EXECUTION
(noop sink). It counts Spark jobs in two parts: ``build_jobs`` are the jobs
the query function runs while it builds the DataFrame (schema inference on
an uncached read, driver actions such as collect/count for literals or an
eager localCheckpoint), ``exec_jobs`` those the execution runs. The job
counters are read after the listener bus drains, outside the timed phases.
With ``--plans TAG`` it also writes .explain("formatted") to
plans/<TAG>/<name>.txt.

Usage:
  python scripts/profile_query.py [--plans TAG] [--n N] name [name ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    args = sys.argv[1:]
    plans_tag = None
    n_runs = 3
    if "--plans" in args:
        i = args.index("--plans")
        plans_tag = args[i + 1]
        del args[i : i + 2]
    if "--n" in args:
        i = args.index("--n")
        n_runs = int(args[i + 1])
        del args[i : i + 2]
    names = args
    if not names:
        print("usage: profile_query.py [--plans TAG] [--n N] name...", file=sys.stderr)
        sys.exit(2)

    import bench
    from postgres_cdc_example_spark import queries as q
    from postgres_cdc_example_spark.session import get_spark

    spark = get_spark(app_name="profile")
    spark.sparkContext.setLogLevel("ERROR")
    registry = q.queries()
    for name in names:
        if name not in registry:
            print(f"unknown query: {name}", file=sys.stderr)
            sys.exit(2)
    # identical pre-state to bench.py: sf0.001 warm-up + layer prebuild
    for name in names:
        try:
            bench._force(registry[name](spark, "/root/testdata/sf0.001"))
        except Exception as e:
            print(f"# warmup {name} failed: {e}", file=sys.stderr)
    print(f"# layers {bench._build_layers(spark)}", file=sys.stderr, flush=True)

    tracker = spark.sparkContext.statusTracker()
    listener_bus = spark.sparkContext._jsc.sc().listenerBus()

    def job_ids() -> set[int]:
        listener_bus.waitUntilEmpty()  # the tracker is fed by the bus
        return set(tracker.getJobIdsForGroup(None))

    for name in names:
        spark.sparkContext.setJobDescription(f"profile:{name}")
        best = None
        for run in range(n_runs):
            jobs_start = job_ids()
            t0 = time.perf_counter()
            df = registry[name](spark, SF_DIR)
            build = time.perf_counter() - t0
            jobs_built = job_ids()
            t1 = time.perf_counter()
            # force full planning without execution
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            bench._force(df)
            t3 = time.perf_counter()
            jobs_end = job_ids()
            row = {
                "build": build,
                "plan": t2 - t1,
                "exec": t3 - t2,
                "total": build + t3 - t1,
                "build_jobs": len(jobs_built - jobs_start),
                "exec_jobs": len(jobs_end - jobs_built),
            }
            print(
                f"# {name} run{run}: build={row['build']:.3f} plan={row['plan']:.3f}"
                f" exec={row['exec']:.3f} total={row['total']:.3f}"
                f" build_jobs={row['build_jobs']} exec_jobs={row['exec_jobs']}",
                flush=True,
            )
            if best is None or row["total"] < best["total"]:
                best = row
        print(
            f"{name}: best total={best['total']:.3f}"
            f" (build={best['build']:.3f} plan={best['plan']:.3f}"
            f" exec={best['exec']:.3f} build_jobs={best['build_jobs']}"
            f" exec_jobs={best['exec_jobs']})",
            flush=True,
        )
        if plans_tag:
            out_dir = os.path.join(ROOT, "plans", plans_tag)
            os.makedirs(out_dir, exist_ok=True)
            df = registry[name](spark, SF_DIR)
            txt = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            path = os.path.join(out_dir, f"{name}.txt")
            with open(path, "w") as f:
                f.write(txt)
            print(f"# wrote {path}", flush=True)
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
