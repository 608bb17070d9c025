"""Benchmark of the feed engine: one workload per invocation.

    python3 perfbench/run.py --workload feed_live --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. It generates its inputs from
``--seed``, measures for about ``--seconds``, checks every output, and
prints as its last line one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the ``end_to_end`` metrics of
BENCHMARK.json with ``--trace 0``, its ``per_layer`` metrics with
``--trace 1``). The line before it carries provenance, the set-up
breakdown and the workload's own named metrics. Everything the run
writes stays in ``.perfbench_runs/`` (removed at exit) and, for traced
runs, the span dump in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Data scale per workload (TESTDATA.md scale factors: 0.01 = 10k
# events). feed_live's history is 5k events over a week; the operator
# suite is bound by the per-query floor, so a small twin keeps its pass
# short without changing what it measures.
SCALES = {"feed_live": 0.005, "operator_suite": 0.001}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SCALES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=None,
                   help="override the workload's data scale (tests use tiny ones)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "user_feed_cdc_spark")):
        print(f"perfbench: no engine sources under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    from perfbench import feed, suite
    from perfbench.harness import Run

    workloads = {"feed_live": feed.feed_live, "operator_suite": suite.operator_suite}
    run = Run(ROOT, args.workload, args.seed, args.seconds, bool(args.trace),
              args.scale if args.scale is not None else SCALES[args.workload])
    try:
        run.environment()
        workloads[args.workload](run)
        run.stop_spark()
        if run.trace:
            run.finish_trace()
            if run.after_stop is not None:
                run.after_stop()
        names = [m["name"] for m in spec["per_layer" if run.trace else "end_to_end"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"] + spec["end_to_end"]}
        result = run.result(names, units)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        run.close()
    print(json.dumps(run.detail_line(), sort_keys=True))
    print(json.dumps(result, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
