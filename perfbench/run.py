"""zmaxion_spark benchmark: one command, any named workload.

    python3 perfbench/run.py --workload llm_curation --seed 1 --seconds 10 --trace 0

Workloads:
  llm_curation   9 LLM-pipeline queries on seeded documents and vectors
  kafka_to_lake  loopback Kafka → running aggregates → transaction-log lake

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
same workload with spans and Spark counters on and prints the
per-layer metrics instead. The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``; lines
before it echo the pinned environment and a readable report (every
metric by name and unit, plus ``ops_failed_ratio``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if __name__ == "__main__":
    # Import the benchmark as a package and the library from this
    # checkout, and keep the script directory (whose module names are
    # not meant to be top-level) off sys.path.
    sys.path[0] = ROOT

from perfbench import batch, harness, stream  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402

WORKLOADS = {"llm_curation": batch.run, "kafka_to_lake": stream.run}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for the benchmark's own tests")
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    return args


def main(argv=None) -> int:
    args = parse_args(argv)
    traced = bool(args.trace)
    # Fail before printing anything when the library is not beside us.
    import zmaxion_spark  # noqa: F401
    with harness.work_dir(f"{args.workload}-{args.seed}") as work:
        env = harness.pin_environment(work)
        print("perfbench env: " + json.dumps(env, sort_keys=True), flush=True)
        jiffies = harness.cpu_jiffies()
        ops, tracer, e2e, layer, info = WORKLOADS[args.workload](
            work, args.seed, args.seconds, traced, args.smoke
        )
        info["host_steal_share"] = round(harness.steal_share(jiffies, harness.cpu_jiffies()), 4)
    if traced:
        tracer.write(os.path.join(
            ROOT, ".perfbench_out", f"spans-{args.workload}-{args.seed}.jsonl"
        ))
        unknown = sorted(set(layer) - set(PER_LAYER))
        if unknown:
            raise RuntimeError(f"unlisted per-layer metrics: {unknown}")
        # A layer the workload bypasses reads 0: that is its prediction.
        metrics = {k: (float(layer.get(k, 0.0)), u) for k, u in PER_LAYER.items()}
    else:
        metrics = {k: (float(e2e[k]), u) for k, u in END_TO_END.items()}
    report = {k: f"{v:.6g} {u}" for k, (v, u) in metrics.items()}
    report["ops_failed_ratio"] = f"{ops.ratio:.6g} ratio"
    print("perfbench info: " + json.dumps(info, sort_keys=True))
    print("perfbench report: " + json.dumps(report))
    print(json.dumps(harness.result(ops, metrics)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
