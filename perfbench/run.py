"""Benchmark entry point.

    python3 perfbench/run.py --workload chat --seed 1 --seconds 5 --trace 0

Runs one workload in a throwaway directory under ``.perfbench_work/``
at the checkout root, with the package on the executors' PYTHONPATH,
and prints one JSON line last: ``correct``, ``attempted``, ``failed``
and ``metrics`` (end-to-end with ``--trace 0``, per-layer with
``--trace 1``). Progress and notes go to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _isolate(workload: str) -> str:
    """Create the run's work directory and point every scratch path of
    the driver, the JVM and the Python workers into it."""
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{workload}-", dir=base)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    tempfile.tempdir = tmp
    return work


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    work = _isolate(args.workload)
    cwd = os.getcwd()
    os.chdir(work)
    try:
        result = workloads.run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
