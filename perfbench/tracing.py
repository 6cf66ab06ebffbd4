"""Layer tracing from outside the engine.

The benchmark wraps each call into an engine layer in ``tracer.layer(name)``.
The plain :class:`Tracer` does nothing there, so untraced iterations run the
workload exactly as a user would. :class:`SpanTracer` additionally

- records a span (name, start, end, parent) per layer call, kept in memory
  and written out when the run ends;
- runs each layer call in its own Spark job group, and after the iteration
  reads the stage metrics of every job in the group from the status store
  (``statusStore().lastStageAttempt(stageId)``);
- walks the executed plan of every DataFrame the layer ran an action on
  (AdaptiveSparkPlan -> ``executedPlan()`` -> QueryStage ``plan()``) and
  keeps the SQL metrics of each node.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 1024.0 * 1024.0
SKEW_LAYERS = ("windows",)  # layers whose stages also report task-time skew
LINEAGE_LAYERS = ("fold", "stability", "checkpoint")  # layers whose stages are checked for a Python fold


@dataclass
class StageStats:
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    peak_exec_mem: int = 0
    task_skew: float = 0.0  # max over stages of (max task run time / median)
    jobs: int = 0
    python_stages: int = 0  # stages that ran tasks with a MapInArrow in their RDD lineage
    python_shuffle_records: int = 0  # shuffle records those stages read: the rows fed to the Python fold

    def add(self, other: "StageStats") -> "StageStats":
        return StageStats(
            self.tasks + other.tasks,
            self.run_ms + other.run_ms,
            self.cpu_ns + other.cpu_ns,
            self.gc_ms + other.gc_ms,
            self.shuffle_write_bytes + other.shuffle_write_bytes,
            self.spill_bytes + other.spill_bytes,
            max(self.peak_exec_mem, other.peak_exec_mem),
            max(self.task_skew, other.task_skew),
            self.jobs + other.jobs,
            self.python_stages + other.python_stages,
            self.python_shuffle_records + other.python_shuffle_records,
        )


@dataclass
class PlanNode:
    name: str
    metrics: dict[str, int]
    interpreted_exprs: int = 0


@dataclass
class LayerRecord:
    stages: StageStats = field(default_factory=StageStats)
    nodes: list[PlanNode] = field(default_factory=list)
    wall_s: float = 0.0


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def walk_plan(plan, jvm, into_cache: bool = False, count_exprs: bool = False) -> list[PlanNode]:
    """Flatten an executed physical plan into its nodes and their non-zero SQL metrics.

    Descends through adaptive plans and query stages; ``into_cache`` also
    descends into the plan that built an in-memory cache, for the layer
    whose action filled it. ``count_exprs`` counts expressions that run
    interpreted (higher-order functions and other CodegenFallback
    expressions) in each node.
    """
    out: list[PlanNode] = []
    stack = [plan]
    forname = jvm.java.lang.Class.forName
    fallback = (
        forname("org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback"),
        forname("org.apache.spark.sql.catalyst.expressions.HigherOrderFunction"),
    )
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "InMemoryTableScanExec" and into_cache:
            stack.append(node.relation().cachedPlan())
        metrics = {}
        ms = node.metrics()
        keys = ms.keySet().iterator()
        while keys.hasNext():
            k = keys.next()
            v = ms.apply(k).value()
            if v:
                metrics[k] = int(v)
        n_interp = 0
        if count_exprs and cls == "ProjectExec":
            n_interp = sum(_count_interpreted(e, fallback) for e in _seq(node.expressions()))
        out.append(PlanNode(cls, metrics, n_interp))
        stack.extend(_seq(node.children()))
    return out


def _count_interpreted(expr, fallback) -> int:
    n = 0
    stack = [expr]
    while stack:
        e = stack.pop()
        if any(c.isInstance(e) for c in fallback):
            n += 1  # its children run interpreted with it; count the root once
        else:
            stack.extend(_seq(e.children()))
    return n


def stage_stats(spark, group_id: str, with_skew: bool = False, with_lineage: bool = False) -> StageStats:
    """Sum the task metrics of every stage that ran for jobs in ``group_id``.

    ``with_lineage`` also counts the stages whose RDD lineage holds a
    MapInArrow, read from the stage's operation graph, and the shuffle
    records they read. A stage that reads a ``localCheckpoint`` of a fold has
    the checkpoint, not the MapInArrow, in its lineage once the checkpoint
    is filled; a stage that reads a cached fold output still lists the
    MapInArrow but reads no shuffle records.
    """
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    total = StageStats()
    job_ids = sc.statusTracker().getJobIdsForGroup(group_id)
    total.jobs = len(job_ids)
    seen = set()
    for jid in job_ids:
        info = sc.statusTracker().getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # stage evicted from the store or never submitted
                continue
            if sd.numCompleteTasks() == 0:  # skipped: its output was reused
                continue
            skew = _task_skew(store, sid, sd.attemptId()) if with_skew else 0.0
            python = with_lineage and _has_cluster(store.operationGraphForStage(sid).rootCluster(), "MapInArrow")
            total = total.add(
                StageStats(
                    tasks=sd.numCompleteTasks(),
                    run_ms=sd.executorRunTime(),
                    cpu_ns=sd.executorCpuTime(),
                    gc_ms=sd.jvmGcTime(),
                    shuffle_write_bytes=sd.shuffleWriteBytes(),
                    spill_bytes=sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                    peak_exec_mem=sd.peakExecutionMemory(),
                    task_skew=skew,
                    python_stages=int(python),
                    python_shuffle_records=sd.shuffleReadRecords() if python else 0,
                )
            )
    return total


def _has_cluster(cluster, name: str) -> bool:
    stack = [cluster]
    while stack:
        c = stack.pop()
        if c.name() == name:
            return True
        stack.extend(_seq(c.childClusters()))
    return False


def _task_skew(store, stage_id: int, attempt: int) -> float:
    times = [t.taskMetrics().get().executorRunTime() for t in _seq(store.taskList(stage_id, attempt, 100_000))
             if t.taskMetrics().isDefined()]
    if len(times) < 2:
        return 1.0
    med = statistics.median(times)
    return max(times) / med if med > 0 else 1.0


class Tracer:
    """Untraced mode: layers are plain calls, actions are plain actions."""

    @contextmanager
    def layer(self, name: str):
        yield

    def collect(self, df, count_exprs: bool = False):
        return df.collect()

    def materialize(self, df, count_exprs: bool = False):
        """Cache and fill ``df`` in traced mode, so the next layer starts
        from its output; untraced mode leaves it lazy."""
        return df

    def fill(self, df) -> None:
        """Run a count over ``df`` in traced mode, so a lazily checkpointed
        DataFrame is computed in this layer; untraced mode does nothing."""

    def observe(self, df, count_exprs: bool = False) -> None:
        """Walk the plan of a DataFrame an action already ran on."""


class SpanTracer(Tracer):
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.iteration = 0
        self._stack: list[tuple[str, str]] = []  # (layer, job group)
        self._records: dict[str, LayerRecord] = {}
        self._t0 = time.perf_counter()

    # -- spans and job groups ---------------------------------------------
    @contextmanager
    def layer(self, name: str):
        parent = self._stack[-1][0] if self._stack else None
        gid = f"{name}@{self.iteration}.{len(self.spans)}"
        self.sc.setJobGroup(gid, name)
        self._stack.append((name, gid))
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1][1], self._stack[-1][0])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(
                {"name": name, "start": start - self._t0, "end": end - self._t0,
                 "parent": parent, "iteration": self.iteration, "group": gid}
            )
            rec = self._records.setdefault(name, LayerRecord())
            rec.wall_s += end - start
            rec.stages = rec.stages.add(
                stage_stats(self.spark, gid, name.startswith(SKEW_LAYERS), name.startswith(LINEAGE_LAYERS))
            )

    def _layer_record(self) -> LayerRecord:
        name = self._stack[-1][0] if self._stack else "(none)"
        return self._records.setdefault(name, LayerRecord())

    # -- actions ------------------------------------------------------------
    def collect(self, df, count_exprs: bool = False):
        rows = df.collect()
        self.observe(df, count_exprs)
        return rows

    def materialize(self, df, count_exprs: bool = False):
        df = df.cache()
        counted = df.groupBy().count()
        counted.collect()
        self._layer_record().nodes.extend(
            walk_plan(counted._jdf.queryExecution().executedPlan(), self.spark._jvm, into_cache=True, count_exprs=count_exprs)
        )
        return df

    def fill(self, df) -> None:
        df.groupBy().count().collect()

    def observe(self, df, count_exprs: bool = False) -> None:
        self._layer_record().nodes.extend(
            walk_plan(df._jdf.queryExecution().executedPlan(), self.spark._jvm, count_exprs=count_exprs)
        )

    # -- reading back ---------------------------------------------------------
    def take_records(self) -> dict[str, LayerRecord]:
        """Layer records of the current iteration; starts the next one."""
        recs, self._records = self._records, {}
        self.iteration += 1
        return recs


def node_sum(records: dict[str, LayerRecord], metric: str, prefix: str = "", node: str | None = None) -> int:
    """Sum a SQL metric over the plan nodes of every layer named ``prefix*``."""
    return sum(
        n.metrics.get(metric, 0)
        for name, rec in records.items() if name.startswith(prefix)
        for n in rec.nodes if node is None or n.name == node
    )


def stages_of(records: dict[str, LayerRecord], prefix: str = "") -> StageStats:
    total = StageStats()
    for name, rec in records.items():
        if name.startswith(prefix):
            total = total.add(rec.stages)
    return total
