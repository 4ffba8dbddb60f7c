"""Run one benchmark workload and print one JSON result line.

    python3 perfbench/run.py --workload crawl_commit --seed 1 \
        --seconds 10 --trace 0

Run from anywhere; the program under test is the checkout this file
sits in. The last line of stdout is the result; progress goes to
stderr. Exits non-zero, without a result, when the program's sources
are missing.
"""
from __future__ import annotations

import argparse
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    for need in ("document_extractor_spark/__init__.py",
                 "__spark_entry__.py", "scripts/oracle_check.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}",
                  file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    from perfbench.harness import main_json
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    line = main_json(ROOT, args.workload, args.seed, args.seconds,
                     bool(args.trace))
    sys.stdout.write(line + "\n")
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
