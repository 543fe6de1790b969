"""Linkage benchmark: one command, every metric, every output check.

    python3 perfbench/run.py --workload link-volume --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; the line
before it holds the run's details (sizes, check results, raw samples).
``--trace 0`` prints the end-to-end metrics, measured with tracing off;
``--trace 1`` runs with Spark's event log on and prints the per-layer
metrics. Workloads are described in ``link_volume.py`` and
``stream_incremental.py``; metric names live in ``metrics.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("link-volume", "stream-incremental")


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "addressparser_spark", "session.py")):
        print(f"no engine source under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from perfbench import link_volume, stream_incremental
    from perfbench.harness import Work, start_session, stop_session

    module = link_volume if args.workload == "link-volume" else stream_incremental
    work = Work(args.workload, args.seed)
    try:
        t0 = time.perf_counter()
        spark = start_session(work, trace=bool(args.trace))
        session_s = time.perf_counter() - t0
        try:
            if args.trace:
                finish = module.trace(spark, work, args.seed, args.seconds, session_s)
            else:
                result = module.measure(spark, work, args.seed, args.seconds, session_s)
        finally:
            stop_session(spark)
        if args.trace:
            result = finish(work.path("eventlog"))
    finally:
        work.close()
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "detail": result.pop("detail")}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
