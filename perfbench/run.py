"""Benchmark entry point.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Prints every metric by name and unit,
then, as the last line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics of
``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics with
``--trace 1``). Exits non-zero without a result when the program is
missing or a workload fails. ``--workload all`` runs the two
workloads one after another, each in its own process.
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKLOADS = ("corpus_resumable", "docs_local")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(REPO, "libpdf_spark", "__init__.py")):
        print("perfbench: libpdf_spark/ not found next to perfbench/; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    if args.workload == "all":
        failed = 0
        for name in WORKLOADS:
            print(f"## {name}", flush=True)
            failed += subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", name,
                 "--seed", str(args.seed), "--seconds", str(args.seconds),
                 "--trace", str(args.trace)]).returncode != 0
        return 1 if failed else 0
    sys.path.insert(0, REPO)
    os.chdir(REPO)
    if args.workload == "docs_local":
        from perfbench import docs as workload
    else:
        from perfbench import corpus as workload
    workload.run(args.seed, args.seconds, bool(args.trace))
    return 0


if __name__ == "__main__":
    sys.exit(main())
