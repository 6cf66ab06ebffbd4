"""Benchmark of the transcript feature engine, end to end and per layer.

    python3 perfbench/run.py --workload fold_kernels --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10   # every workload, one table

One run = one workload in one fresh process: start the Spark session cold
twice, each time in a fresh process (``setup_s`` is the median), generate the
seeded inputs and the expected outputs, run the workload's warm-up
iterations (JIT, code generation, Python worker imports), then run
iterations back to back (a closed loop: one client, one session) for
``--seconds``; ``job_s`` is their median, over at least three. Every
iteration's output is checked, warm-ups included; an iteration that raises,
times out or fails its check counts as failed.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced iterations and reports the per-layer metrics and the
tracing overhead (traced minus untraced median iteration time); it also runs
each workload's trace legs once (the fold probe and the checkpointed resume
on ``fold_kernels``, document curation on ``pit_skew``) and, on
``fold_kernels``, a warm-up and two iterations on ``local[1]`` for the
efficiency. The last line of standard output
is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUPS = 2  # cold session starts per run (about 12 s each on 4 cores); setup_s is their median
# Checked iterations before the measured window. On fold_kernels the driver
# JVM's CPU per iteration falls from about 20 s to 5 s over the first eight
# or so (JIT of the planner, Arrow and checkpoint paths), whatever the input
# size; four take it past the steep part within the run's time budget. On
# pit_skew the fourth is about a tenth faster than the second.
WARMUPS = 4
MIN_SAMPLES = 3  # timed iterations per run, at least
ONE_CORE_SAMPLES = 2  # timed local[1] iterations for spark.core_eff, after a warm-up
RSS_INTERVAL_S = 0.5  # the sampler walks /proc holding the GIL the driver needs for its py4j calls
ITER_TIMEOUT_S = 60.0  # an iteration running longer is cancelled and counts as failed
RUN_BUDGET_S = 100.0  # no new iteration starts after this much wall time (a run must end within 180 s)
ONE_CORE_BY_S = 130.0  # no local[1] iteration starts after this much wall time

END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "rows_per_s": "rows/s",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.worker_boot_s": "s",
    "tableio.scan_rows": "count",
    "tableio.scan_mb": "MB",
    "features.busy_s": "s",
    "features.interpreted_exprs": "count",
    "fold.python_s": "s",
    "fold.arrow_sent_mb": "MB",
    "fold.arrow_recv_mb": "MB",
    "fold.windows": "count",
    "fold.loop_overhead_s": "s",
    "kernels.ofs.update_s": "s",
    "kernels.fsds.update_s": "s",
    "kernels.efs.update_s": "s",
    "stability.busy_s": "s",
    "stability.fold_executions": "count",
    "windows.busy_s": "s",
    "windows.spill_mb": "MB",
    "windows.task_skew": "ratio",
    "asof.busy_s": "s",
    "asof.shuffle_mb": "MB",
    "quality.repetition_busy_s": "s",
    "quality.decontam_busy_s": "s",
    "dedup.signature_busy_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.kept_pair_ratio": "ratio",
    "graph.busy_s": "s",
    "graph.cc_jobs": "count",
    "chunk.busy_s": "s",
    "checkpoint.fold_s": "s",
    "checkpoint.write_s": "s",
    "checkpoint.write_mb": "MB",
    "checkpoint.commits": "count",
    "checkpoint.resume_s": "s",
    "checkpoint.refolded_epochs": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.peak_exec_mem_mb": "MB",
    "spark.core_eff": "ratio",
    "trace.overhead_s": "s",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# --- process-tree memory ------------------------------------------------------
def _tree_rss_bytes(root_pid: int) -> int:
    """RSS of every process below ``root_pid``: the driver JVM and the Python workers."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{entry}/statm") as fh:
                resident = int(fh.read().split()[1])
        except OSError:  # the process ended while we looked
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry))
        rss[int(entry)] = resident * page
    total, stack = 0, list(children.get(root_pid, []))
    while stack:
        pid = stack.pop()
        total += rss.get(pid, 0)
        stack.extend(children.get(pid, []))
    return total


class RssSampler:
    """Samples the process-tree RSS on a thread; ``peak`` is the maximum seen."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# --- iterations ----------------------------------------------------------------
class Loop:
    """Runs checked iterations, each under a watchdog that cancels its jobs."""

    def __init__(self, spark, workload, t_start: float):
        self.spark, self.workload, self.t_start = spark, workload, t_start
        self.attempted = 0
        self.failed = 0

    def once(self, tracer, workload=None) -> tuple[float | None, dict | None]:
        workload = workload or self.workload
        sc = self.spark.sparkContext
        self.attempted += 1
        timer = threading.Timer(ITER_TIMEOUT_S, sc.cancelAllJobs)
        timer.start()
        t0 = time.perf_counter()
        try:
            res = workload.run(self.spark, tracer)
            dt = time.perf_counter() - t0
        except Exception as exc:  # counted as a failed iteration, the run goes on
            log(f"iteration {self.attempted} raised {type(exc).__name__}: {str(exc)[:400]}")
            self.failed += 1
            return None, None
        finally:
            timer.cancel()
        problems = workload.check(res)
        if problems:
            log(f"iteration {self.attempted} failed its check: {problems[:5]}")
            self.failed += 1
            return None, None
        return dt, res

    def time_left(self, deadline: float, last_s: float, n: int, min_n: int = MIN_SAMPLES) -> bool:
        now = time.perf_counter()
        if now - self.t_start > RUN_BUDGET_S or self.failed > 3:
            return False
        return n < min_n or now + 0.5 * last_s < deadline


def versions() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {"python": sys.version.split()[0], "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "numpy": numpy.__version__}


def run_one(args) -> int:
    t_start = time.perf_counter()
    if not os.path.isfile(os.path.join(ROOT, "pystreamfs_spark", "__init__.py")):
        log(f"no pystreamfs_spark package next to {HERE}; run from the root of a checkout")
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]

    from session import box_fit, cold_start, start_session, stop_session
    from tracing import SpanTracer, Tracer
    from workloads import WORKLOADS, oracle_path

    oracle_path(ROOT)
    nproc, threads, driver_mem = box_fit()
    workload = WORKLOADS[args.workload](args.scale)
    spark = None
    try:
        # every start is cold (JVM launch, class loading, Python worker boot):
        # all but the last in a subprocess, the last in this process
        setups = [cold_start(work, threads, driver_mem) for _ in range(SETUPS - 1)]
        spark, get_s, warm_s, boot_s = start_session(work, threads, driver_mem)
        setups.append((get_s + warm_s, get_s, boot_s))
        log(f"setup {[round(s[0], 3) for s in setups]} s")
        workload.prepare(spark, work, args.seed)
        log(f"inputs ready {time.perf_counter() - t_start:.1f} s into the run")
        loop = Loop(spark, workload, t_start)
        plain = Tracer()
        for _ in range(WARMUPS):
            loop.once(plain)
        log(f"warm {time.perf_counter() - t_start:.1f} s into the run")
        deadline = time.perf_counter() + args.seconds
        times: list[float] = []
        peak_rss_mb = None
        if not args.trace:
            with RssSampler() as rss:
                while loop.time_left(deadline, times[-1] if times else 0.0, len(times)):
                    dt, _ = loop.once(plain)
                    if dt is not None:
                        times.append(dt)
            metrics = {}
            peak_rss_mb = rss.peak / (1024.0 * 1024.0)
            if times:
                job_s = statistics.median(times)
                metrics = {
                    "setup_s": statistics.median(s[0] for s in setups),
                    "job_s": job_s,
                    "rows_per_s": workload.rows / job_s,
                }
            units = END_TO_END
        else:
            metrics, times = traced_run(spark, workload, args.seed, loop, deadline, setups, SpanTracer)
            if args.workload == "fold_kernels" and times and time.perf_counter() - t_start < ONE_CORE_BY_S:
                spark.stop()
                spark, *_ = start_session(work, 1, driver_mem)
                loop.spark = spark
                loop.once(plain)  # warm-up: a new Python worker, its imports, the first featurize
                one_core = []
                while len(one_core) < ONE_CORE_SAMPLES and time.perf_counter() - t_start < ONE_CORE_BY_S:
                    dt, _ = loop.once(plain)
                    if dt is not None:
                        one_core.append(dt)
                if one_core:
                    metrics["spark.core_eff"] = statistics.median(one_core) / (threads * statistics.median(times))
            units = PER_LAYER
            for name in PER_LAYER:
                metrics.setdefault(name, 0.0)
        report = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "nproc": nproc,
            "threads": threads,
            "driver_memory": driver_mem,
            "versions": versions(),
            "inputs": workload.sizes(),
            "samples": {"setup": len(setups), "job": len(times)},
            "job_s_samples": [round(t, 4) for t in times],
            "peak_rss_mb": peak_rss_mb,
            "fail_frac": loop.failed / max(1, loop.attempted),
        }
        print(json.dumps({"report": report}), flush=True)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    ok = bool(times) and len(metrics) >= len(units)
    print(json.dumps({
        "correct": loop.failed == 0 and ok,
        "attempted": loop.attempted,
        "failed": loop.failed if ok else max(1, loop.failed),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items() if k in metrics},
    }), flush=True)
    return 0


def traced_run(spark, workload, seed, loop, deadline, setups, tracer_cls):
    """Alternate untraced and traced iterations; per-layer metrics are
    medians over the traced ones."""
    from tracing import MB, Tracer, node_sum, stages_of

    tracer = tracer_cls(spark)
    plain_times, traced_times, per_iter = [], [], []
    while loop.time_left(deadline, (plain_times[-1] + traced_times[-1]) if traced_times else 0.0,
                         len(traced_times), min_n=2):
        dt, _ = loop.once(Tracer())
        if dt is not None:
            plain_times.append(dt)
        dt, res = loop.once(tracer)
        recs = tracer.take_records()
        if dt is None:
            continue
        traced_times.append(dt)
        total = stages_of(recs)
        m = {
            "tableio.scan_rows": node_sum(recs, "numOutputRows", node="FileSourceScanExec"),
            "tableio.scan_mb": node_sum(recs, "filesSize", node="FileSourceScanExec") / MB,
            "spark.jobs": total.jobs,
            "spark.tasks": total.tasks,
            "spark.executor_cpu_s": total.cpu_ns / 1e9,
            "spark.gc_s": total.gc_ms / 1000.0,
            "spark.shuffle_write_mb": total.shuffle_write_bytes / MB,
            "spark.spill_mb": total.spill_bytes / MB,
            "spark.peak_exec_mem_mb": total.peak_exec_mem / MB,
        }
        m.update(workload.layer_metrics(recs, res))
        per_iter.append(m)
    metrics = {}
    if per_iter:
        for name in per_iter[0]:
            metrics[name] = statistics.median(m[name] for m in per_iter)
        metrics["session.get_spark_s"] = statistics.median(s[1] for s in setups)
        metrics["session.worker_boot_s"] = statistics.median(s[2] for s in setups)
    if per_iter and hasattr(workload, "trace_legs"):
        for leg in workload.trace_legs(spark, seed):
            _, res = loop.once(tracer, leg)
            recs = tracer.take_records()
            if res is not None:
                metrics.update(leg.layer_metrics(recs, res))
    if plain_times and traced_times:
        metrics["trace.overhead_s"] = statistics.median(traced_times) - statistics.median(plain_times)
    spans_path = os.path.join(ROOT, ".perfbench", f"spans-{workload.name}-{os.getpid()}.json")
    with open(spans_path, "w") as fh:
        json.dump(tracer.spans, fh)
    log(f"spans written to {os.path.relpath(spans_path, ROOT)}")
    return metrics, plain_times


def run_all(args) -> int:
    """Run every workload in its own process and print one table."""
    from workloads import WORKLOADS

    rows, failed = [], 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace), "--scale", str(args.scale)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        lines = [line for line in proc.stdout.splitlines() if line.startswith("{")]
        if proc.returncode != 0 or len(lines) < 2:
            log(f"{name}: exit code {proc.returncode}")
            failed += 1
            continue
        report, result = json.loads(lines[-2])["report"], json.loads(lines[-1])
        rows.append((name, report, result))
    for name, report, result in rows:
        print(f"== {name}  inputs={report['inputs']}  samples={report['samples']}  "
              f"fail_frac={report['fail_frac']:.3f} ratio ({result['failed']}/{result['attempted']})")
        for metric, v in result["metrics"].items():
            print(f"   {metric:32s} {v['value']:14.4f} {v['unit']}")
        if report["peak_rss_mb"] is not None:
            print(f"   {'peak_rss_mb (report)':32s} {report['peak_rss_mb']:14.4f} MB")
    return 1 if failed else 0


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size multiplier (the self-test uses a small one)")
    args = ap.parse_args(argv)
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
