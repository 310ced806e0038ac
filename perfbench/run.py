"""K-Means benchmark entry point.

    python3 perfbench/run.py --workload fit_tall --seed 1 --seconds 12 --trace 0

Run from the repository root. Generates the workload's input from
``--seed`` under ``.perfbench_work/``, checks every answer against a NumPy
oracle, and prints a report whose last line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` makes a traced run and reports the
per-layer metrics, writing its spans to ``.perfbench_out/``.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv: list[str] | None, workloads: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=workloads)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="length of the measured window")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, ROOT)
    # Spark tasks are the parallelism axis; the engine pins BLAS the same
    # way, before NumPy loads it
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    from perfbench.workloads import WORKLOADS

    args = parse_args(argv, sorted(WORKLOADS))
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    # everything Spark, its Python workers and tempfile write stays in the
    # checkout; one local[nproc] driver, not the engine's default of 32
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM the launcher starts: temp files here, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"))
    )
    try:
        import kmeanwithmapreduce_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        _remove(work)
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2

    from perfbench.harness import Bench

    bench = Bench(args, nproc, work, os.path.join(ROOT, ".perfbench_out"))
    try:
        bench.execute()
    finally:
        bench.close()
        _remove(work)
    bench.report()
    return 0


def _remove(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))  # only when no other run is using it
    except OSError:
        pass


if __name__ == "__main__":
    sys.exit(main())
