"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_trickle --seed 1 --seconds 15 --trace 0

Runs one workload against the package in the checkout that holds this
directory and prints, as the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the per-layer
ones, read from spans the benchmark records around its calls into each
layer. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

# Every run ends within this many seconds, or exits non-zero without a result.
DEADLINE_S = 175.0


def metric_names() -> tuple[list, list]:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
    layer = [(m["name"], m["unit"]) for m in spec["per_layer"]]
    return e2e, layer


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("cdc_trickle", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    e2e, layer = metric_names()
    # Import the program under test before anything else, so a directory
    # without it fails fast and prints no result.
    from harness import ROOT, Run

    sys.path.insert(0, ROOT)
    import postgres_cdc_example_spark  # noqa: F401

    def watchdog():
        print(f"run exceeded {DEADLINE_S:.0f} s", file=sys.stderr, flush=True)
        os._exit(3)

    timer = threading.Timer(DEADLINE_S, watchdog)
    timer.daemon = True
    timer.start()

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        if args.workload == "query_mix":
            from querymix import query_mix as workload
        else:
            from cdc import cdc_trickle as workload
        t0 = time.perf_counter()
        workload(run)
        wall = time.perf_counter() - t0
    finally:
        run.close()
        timer.cancel()
    import bench

    env = {"before": run.env_before, "after": bench._env_stamp()}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "wall_s": round(wall, 2),
                      "env": env, "notes": run.notes, "end_to_end": run.e2e}))
    print(json.dumps(run.result(e2e, layer)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
