#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload query_served --seed 1 --seconds 20 --trace 0

Run it from the repository root. Every file the run writes goes under
``.perfbench_out/`` in that root; the run's own directory is removed on
exit, the span dump of a traced run is kept in ``.perfbench_out/traces``.
Only one run at a time holds a Spark JVM: a second one waits on the lock.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import fcntl  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "google_like_search_engine_spark"
OUT = os.path.join(ROOT, ".perfbench_out")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(workdir: str) -> None:
    """Point every temp and worker path of this run inside ``workdir``
    before the JVM starts, and give the Python workers the package."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "")
        + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    tempfile.tempdir = tmp


def host(spark) -> dict:
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
    }


@contextlib.contextmanager
def spark_run():
    """Hold the run lock, a fresh run directory and the one Spark JVM;
    stop the JVM and remove the directory on the way out."""
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        raise SystemExit(f"perfbench: no {PACKAGE}/ package in {ROOT}; run from a full checkout")
    sys.path.insert(0, ROOT)
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        workdir = tempfile.mkdtemp(prefix="run-", dir=OUT)
        try:
            isolate(workdir)
            from google_like_search_engine_spark.session import get_spark

            spark = get_spark("perfbench", extra_conf={
                "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            })
            try:
                yield spark, workdir
            finally:
                stop_jvm(spark)
        finally:
            shutil.rmtree(workdir, ignore_errors=True)


def stop_jvm(spark) -> None:
    """Stop Spark, then end the Spark JVM and wait for it: it exits when
    its stdin closes, and its Python workers exit with it."""
    import subprocess

    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    with spark_run() as (spark, workdir):
        from perfbench.harness import run_workload

        result, info = run_workload(
            spark, args.workload, args.seed, args.seconds, bool(args.trace), workdir, T_START,
        )
        info["host"] = host(spark)
    print(json.dumps({"info": info}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
