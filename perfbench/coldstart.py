"""One cold start: process start to session ready, plus one cold open of
each table the workload reads.

``run.py`` runs this script as a child process before it sets up its own
session, so every set-up it reports starts from a fresh interpreter and a
fresh driver JVM: package imports, the JVM launch and the catalog's
in-process memos are all cold. The child prints one JSON line with its
figures and waits for its JVM to exit before it exits itself.

    python3 perfbench/coldstart.py <data_dir> <trace 0|1> <table>...
"""

from __future__ import annotations

import time

START = time.perf_counter()

import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def import_package():
    """Import what a set-up calls; the caller times this from process start."""
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)
    from data_engineering_zoomcamp_projects_spark.catalog import load_table
    from data_engineering_zoomcamp_projects_spark.session import get_spark

    return get_spark, load_table


def set_up(import_s: float, data_dir: str, tables, tracer, parent=None):
    """Start the session and open each table once; return it and the figures.

    ``seconds`` is the whole cold start: ``import_s`` (process start to
    package imported) plus session start plus the cold table opens.
    """
    get_spark, load_table = import_package()
    with tracer.span("setup", parent) as span:
        t0 = time.perf_counter()
        spark = get_spark()
        t1 = time.perf_counter()
        tracer.bind(spark)
        with tracer.span("catalog.load_table", span, spark=True) as ls:
            for t in tables:
                load_table(spark, data_dir, t)
            t2 = time.perf_counter()
    return spark, {
        "seconds": import_s + t2 - t0,
        "import_s": import_s,
        "get_spark_s": t1 - t0,
        "cold_load_s": (t2 - t1) / len(tables),
        "cold_jobs": ls.attrs["jobs"] if ls else 0,
    }


def stop(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main() -> int:
    data_dir, trace, *tables = sys.argv[1:]
    import_package()
    import_s = time.perf_counter() - START
    from spans import Tracer

    spark = None
    try:
        spark, figures = set_up(import_s, data_dir, tables, Tracer(trace == "1"))
    finally:
        stop(spark)
    print(json.dumps(figures))
    return 0


if __name__ == "__main__":
    sys.exit(main())
