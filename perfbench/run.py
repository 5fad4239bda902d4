"""Benchmark of the crawl engine and its operator library.

    python3 perfbench/run.py --workload crawl-sf0.1 --seed 1 --seconds 10 --trace 0

Runs one workload on local[<cores>] in one process, checks every output
against an independent oracle and prints, as the last line of stdout, one
JSON object {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1
its per-layer metrics, each as {"value": ..., "unit": ...}.

Workloads (perfbench/WORKLOADS.md has their parameters):
  crawl-sf0.1   iterative crawl over the corpus derived from the vendored
                sf0.1 documents, 50 seed URLs sampled by --seed
  curation-ops  17 operator-library registry queries on the vendored sf0.01
                tables, in an order --seed permutes

Everything the run writes goes under <checkout>/.perfbench_work/ and is
removed at exit. Exits 2 without a result when the program is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

from harness import PACKAGE, ROOT

WORKLOADS = ("crawl-sf0.1", "curation-ops")


def declared_metrics(trace: bool) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE} is not in {ROOT}; nothing to measure", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    units = declared_metrics(bool(args.trace))

    if args.workload == "crawl-sf0.1":
        import crawl_sf as workload
    else:
        import curation as workload

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        outcome = workload.run(work, args.seed, args.seconds, bool(args.trace))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    missing = sorted(set(units) - set(outcome.metrics))
    if missing:
        raise RuntimeError(f"workload did not produce declared metrics: {missing}")
    print(
        json.dumps(
            {
                "correct": outcome.failed == 0,
                "attempted": outcome.attempted,
                "failed": outcome.failed,
                "metrics": {
                    name: {"value": float(outcome.metrics[name]), "unit": unit}
                    for name, unit in units.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
