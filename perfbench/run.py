"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see ``BENCHMARK.json``): ``ingest-line-bulk`` and
``analytics-mix``; ``ingest-json-trickle`` runs the same way but is not
one of the benchmark's workloads (see ``README.md``).  Run from the repository
root.  ``--trace 0`` measures with nothing added to the program and
reports the end-to-end metrics; ``--trace 1`` is a separate traced run
that reports the per-layer metrics.  The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; the line before
it carries the run's details (wall-clock figures, correctness
verdicts, ladder steps, pinned settings).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Runnable by name, reported with the same metrics, but not among the
# benchmark's workloads: its ten-run spreads were too wide for a bound.
EXTRA_WORKLOADS = ("ingest-json-trickle",)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = _spec()
    names = [w["name"] for w in spec["workloads"]] + list(EXTRA_WORKLOADS)
    if args.workload not in names:
        ap.error(f"unknown workload {args.workload!r}; choose from {names}")
    if not os.path.isdir(os.path.join(ROOT, "kinesis_log_streamer_spark")):
        print("perfbench: the program's sources are not in this directory",
              file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(1, ROOT)

    trace = bool(args.trace)
    if args.workload == "analytics-mix":
        import analytics

        res = analytics.run(args.seed, args.seconds, trace)
    else:
        import ingest

        fn = ingest.run_bulk if args.workload == "ingest-line-bulk" else ingest.run_trickle
        res = fn(args.seed, args.seconds, trace)

    import common

    if trace:
        layers = {**res["layers"],
                  "trace.wall_s": res["e2e"]["wall_s"],
                  "trace.setup_s": res["e2e"]["setup_s"]}
        chosen = [(m["name"], m["unit"], layers.get(m["name"], 0.0))
                  for m in spec["per_layer"]]
    else:
        chosen = [(m["name"], m["unit"], res["e2e"][m["name"]])
                  for m in spec["end_to_end"]]
    details = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "e2e": res["e2e"], "SPARK_GRAFT_CPUS": common.SPARK_CPUS,
        "SPARK_GRAFT_DRIVER_MEM": common.SPARK_DRIVER_MEM, **res["details"],
    }
    print(json.dumps(details, default=str))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {n: {"value": float(v), "unit": u} for n, u, v in chosen},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
