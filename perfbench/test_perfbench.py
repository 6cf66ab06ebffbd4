"""Self-test of the benchmark at a tiny size.

    python3 -m pytest perfbench/test_perfbench.py -q

- every metric BENCHMARK.json names is printed, with its unit, in both modes;
- a perturbed output counts as a failed iteration (fail_frac > 0);
- the tracer finds a MapInArrow node with pythonTotalTime > 0 in a fold.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import run as bench  # noqa: E402
from session import start_session, stop_session  # noqa: E402
from tracing import SpanTracer, Tracer  # noqa: E402
from workloads import WORKLOADS, oracle_path  # noqa: E402

SCALE = 0.05

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


class TestInProcess:
    @pytest.fixture(scope="class")
    def spark(self, tmp_path_factory):
        work = str(tmp_path_factory.mktemp("perfbench"))
        os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
        spark, *_ = start_session(work, 2, "1g")
        yield spark
        stop_session(spark)

    @pytest.fixture(scope="class")
    def fold_kernels(self, spark, tmp_path_factory):
        oracle_path(ROOT)
        wl = WORKLOADS["fold_kernels"](SCALE)
        wl.prepare(spark, str(tmp_path_factory.mktemp("inputs")), seed=3)
        return wl

    def test_perturbed_output_counts_as_failed(self, spark, fold_kernels):
        class Perturbed:
            def run(self, spark, tr):
                res = fold_kernels.run(spark, tr)
                res["ofs"]["sample"][0]["w"][0] += 1e-3
                return res

            def check(self, res):
                return fold_kernels.check(res)

        loop = bench.Loop(spark, fold_kernels, t_start=0.0)
        dt, res = loop.once(Tracer())
        assert dt is not None and fold_kernels.check(res) == []
        dt, res = loop.once(Tracer(), Perturbed())
        assert dt is None and res is None
        assert loop.failed / loop.attempted > 0

    def test_tracer_sees_python_time_of_the_fold(self, spark, fold_kernels):
        from pyspark.sql import functions as F

        from pystreamfs_spark.fold import fold_weights_stream
        from pystreamfs_spark.functions.features import featurize_turns
        from pystreamfs_spark.sources.tableio import read_table

        tr = SpanTracer(spark)
        with tr.layer("fold"):
            w = fold_weights_stream(featurize_turns(read_table(spark, fold_kernels.path)), materialize=False)
            tr.collect(w.agg(F.count(F.lit(1))))
        recs = tr.take_records()
        arrow = [n for n in recs["fold"].nodes if n.name == "MapInArrowExec"]
        assert arrow and arrow[0].metrics.get("pythonTotalTime", 0) > 0
        assert recs["fold"].stages.run_ms > 0 and tr.spans[0]["name"] == "fold"


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_printed_with_unit(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "5",
           "--seconds", "1", "--trace", str(trace), "--scale", str(SCALE)]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600)
    assert proc.returncode == 0
    report = json.loads(proc.stdout.splitlines()[-2])["report"]
    result = json.loads(proc.stdout.splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {k: v["unit"] for k, v in result["metrics"].items()}
    if trace and workload == "fold_kernels":
        assert result["metrics"]["fold.python_s"]["value"] > 0
        assert result["metrics"]["fold.windows"]["value"] == report["inputs"]["windows"]
        assert result["metrics"]["checkpoint.commits"]["value"] == 8
        assert result["metrics"]["stability.fold_executions"]["value"] == 1
        assert result["metrics"]["checkpoint.refolded_epochs"]["value"] == 0
    if trace and workload == "pit_skew":
        assert result["metrics"]["windows.busy_s"]["value"] > 0
        assert result["metrics"]["dedup.candidate_pairs"]["value"] > 0


def test_refuses_to_run_without_the_engine(tmp_path):
    """Outside a checkout (only the benchmark files) it exits non-zero without a result."""
    import shutil

    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "fold_kernels", "--seed", "1",
                           "--seconds", "1", "--trace", "0"], cwd=tmp_path, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True, timeout=120)
    assert proc.returncode != 0 and '"correct"' not in proc.stdout
