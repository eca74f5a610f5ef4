"""Benchmark of the p2pddsketch_spark library.

    python3 perfbench/run.py --workload tokens_build --seed 1 --seconds 15 --trace 0

Run from the repository root. One process starts Spark at
local[<CPUs>] with the UI off and a driver heap sized to the host,
generates the workload's inputs from the seed, computes the exact
answers, runs one untimed warm pass, then runs passes back to back (a
closed loop with one client) for --seconds, checking every pass.

--trace 0 prints the end-to-end metrics (see BENCHMARK.json); --trace 1
runs traced passes beside untraced ones and prints the per-layer
metrics, and writes every span with its Spark task metrics to
.perfbench_out/<workload>-seed<seed>-trace.json. The last line of
standard output is one JSON object: correct, attempted, failed, metrics.
Everything the run writes stays under the directory it is run from.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.append(ROOT)
    try:
        import p2pddsketch_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: the library is not importable from {ROOT}: {ex}", file=sys.stderr)
        return 2
    import workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # the Python workers import the library (and these modules) by name
    paths = [ROOT, os.path.dirname(os.path.abspath(__file__))]
    paths += [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    try:
        import loop
        result = loop.run(workloads.WORKLOADS[args.workload], args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):     # left only if another run uses it
            os.rmdir(WORK)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
