"""Spark session start for the benchmark, sized to the machine.

    python3 perfbench/session.py <work dir> <threads> <driver memory>

run as a script starts one session in this fresh process (a cold start:
JVM launch, class loading, Python worker boot), prints its times as one JSON
line and stops it. ``cold_start`` runs it as a subprocess, so every start
``setup_s`` counts pays what a user's first start pays.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
START_TIMEOUT_S = 120.0


def box_fit() -> tuple[int, int, str]:
    """``nproc``, task threads and a driver memory of a quarter of RAM, at most 4 GB.

    Half the cores run tasks. Each task of a fold keeps up to three threads
    busy (the task, the JVM thread writing Arrow batches to the Python
    worker, the worker), and the JVM's GC and JIT threads and the Python
    driver need cores too; with one task per core the run would measure
    the scheduler. On 4 cores ``local[4]`` is only about 8 % faster than
    ``local[2]`` on ``fold_kernels``."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    gb = max(1, min(4, total_kb // (4 * 1024 * 1024)))
    return nproc, max(1, nproc // 2), f"{gb}g"


def start_session(work: str, threads: int, driver_mem: str):
    """``get_spark`` on ``local[threads]`` plus a small warm-up pass that boots
    a Python worker per task thread. Returns the session, both times, and the
    workers' boot + init time summed over tasks."""
    from pyspark.sql import functions as F

    from pystreamfs_spark import get_spark
    from tracing import walk_plan

    os.environ["SPARK_DRIVER_MEM"] = driver_mem
    tmp = os.path.join(work, "tmp")
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{threads}]",
        shuffle_partitions=threads,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()

    def identity(batches):  # nested, so it is pickled by value, not by module
        yield from batches

    warm = spark.range(0, 64 * threads, 1, threads).mapInArrow(identity, "id long").agg(F.count(F.lit(1)))
    warm.collect()
    t2 = time.perf_counter()
    nodes = walk_plan(warm._jdf.queryExecution().executedPlan(), spark._jvm)
    boot_ms = sum(n.metrics.get("pythonBootTime", 0) + n.metrics.get("pythonInitTime", 0) for n in nodes)
    return spark, t1 - t0, t2 - t1, boot_ms / 1000.0


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def cold_start(work: str, threads: int, driver_mem: str) -> tuple[float, float, float]:
    """One session start in a fresh process: (get_spark + warm-up, get_spark, worker boot) seconds."""
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), work, str(threads), driver_mem],
        stdout=subprocess.PIPE, text=True, timeout=START_TIMEOUT_S, check=True,
    )
    t = json.loads(proc.stdout.splitlines()[-1])
    return t["get_spark_s"] + t["warm_s"], t["get_spark_s"], t["boot_s"]


def main(argv: list[str]) -> int:
    work, threads, driver_mem = argv[0], int(argv[1]), argv[2]
    sys.path.insert(0, ROOT)
    spark, get_s, warm_s, boot_s = start_session(work, threads, driver_mem)
    stop_session(spark)
    print(json.dumps({"get_spark_s": get_s, "warm_s": warm_s, "boot_s": boot_s}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
