"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ocr_heavy --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``). The line before
it records the environment, every timing sample and, when traced, every
layer the workload exercises. Works from any working directory; writes
only under ``.perfbench/`` at the repository root. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import os
import sys

WORKLOADS = ("ocr_heavy", "registry")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the self-test")
    args = ap.parse_args(argv)

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from perfbench import harness as H

    H.prepare_environment()
    try:
        import ai_invoice_ocr_engine_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable: {e}", file=sys.stderr)
        return 2
    workload = importlib.import_module(f"perfbench.{args.workload}")
    run = H.Run(args.workload, args.seed, args.seconds, bool(args.trace), args.size)
    try:
        workload.run(run)
    finally:
        H.shutdown_jvm()
    H.emit(run)
    return 0


if __name__ == "__main__":
    sys.exit(main())
