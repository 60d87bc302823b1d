"""Checkpointed-extraction benchmark — command line.

Run from the repository root:

    python3 perfbench/run.py --workload mixed_fresh --seed 1 --seconds 10 --trace 0

Workloads: mixed_fresh, chat_fresh (see BENCHMARK.json).
Human-readable lines come first; the last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"} with the end-to-end metrics
(``--trace 0``) or the per-layer metrics (``--trace 1``). Inputs, Spark
scratch, outputs and trace files live under ``.perfbench/`` in the root.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the library under test must be the checkout's own source tree
    if not os.path.isfile(os.path.join(ROOT, "pdf_extractors_spark", "__init__.py")):
        print(f"perfbench: no pdf_extractors_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path[0] = ROOT  # in place of perfbench/, whose modules are package-relative

    from perfbench import bench, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    result = bench.run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
