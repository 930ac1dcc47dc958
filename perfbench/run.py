"""Benchmark of record for rastr_spark (see perfbench/README.md).

    python3 perfbench/run.py --workload zonal_docs --seed 1 --seconds 12 --trace 0

Runs from the root of a source checkout. One driver process on
``local[<nproc>]``, one client, one Spark job at a time (closed loop). With
``--trace 0`` it prints every end-to-end metric; with ``--trace 1`` it runs
the traced loop and prints every per-layer metric. The last line of stdout is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``; the line
before it is a human summary with every execution's wall.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("zonal_docs", "curate_text")
# Inputs are built and persisted this many times in a run; setup_s adds their
# median to the session start and the warm-up executions.
SETUP_REPS = 2


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not (ROOT / "rastr_spark" / "__init__.py").is_file():
        print(f"perfbench: no rastr_spark package under {ROOT}; run from a source checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(HERE)]
    work_root = ROOT / ".perfbench_work"
    work = work_root / f"{args.workload}-{args.seed}-{os.getpid()}"
    work.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # no hsperfdata files in /tmp from the spark-submit launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # the Python workers import the workload modules' UDFs from both trees
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )

    import harness
    import workloads

    spark = harness.start_session(work, ui=bool(args.trace))
    try:
        harness.noop_write(spark.range(1))
        session_s = time.perf_counter() - T_PROCESS
        wl = workloads.make(args.workload, spark, args.seed, work)
        result = workloads.measure(wl, args, session_s, SETUP_REPS, work_root)
    finally:
        harness.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    summary, line = result
    print("# " + json.dumps(summary))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
