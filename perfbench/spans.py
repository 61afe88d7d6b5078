"""Per-call tracing from outside the program.

The benchmark gives every timed call its own Spark job group and, after
the call returns, reads the driver's status store (jobs and stage
attempts), the SQL metrics of the call's executions, and the JVM-wide
codegen and GC counters. Spans
(workload -> pass -> call -> construct/execute -> job -> stage) are kept
in memory and written out once, when the run ends. Nothing inside
`etl_sh_design_spark` is instrumented.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

PYTHON_EVAL_METRIC = "time to run Python workers"


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    kind: str
    start: float
    end: float
    attrs: dict = field(default_factory=dict)


@dataclass
class CallCounters:
    """Engine counters of one call, read from the status store."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    job_run_s: float = 0.0  # union of the call's job run intervals
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_s: float = 0.0  # driver JVM (executors run in it in local mode)
    python_eval_s: float = 0.0
    codegen_compiles: int = 0
    codegen_compile_s: float = 0.0
    heap_used_mb: float = 0.0


class Tracer:
    """Job-group tagging, status-store reads and the span tree of one run."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = spark._jvm
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._accumulators = jvm.org.apache.spark.util.AccumulatorContext
        self._last_execution = -1
        self._seq = jvm.scala.jdk.javaapi.CollectionConverters
        codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen
        self._codegen = getattr(getattr(codegen, "CodeGenerator$"), "MODULE$")
        self._compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._runtime = jvm.java.lang.Runtime.getRuntime()
        self._gc_beans = list(jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())
        self.spans: list[Span] = []
        self._group = None
        self._codegen0 = (0, 0)
        self._gc0 = 0
        self._new_executions()  # skip the set-up's executions

    def add_span(self, parent, name, kind, start, end, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append(Span(sid, parent, name, kind, start, end, attrs))
        return sid

    def begin_call(self, group: str) -> None:
        self.sc.setJobGroup(group, group)
        self._group = group
        self._codegen0 = (self._compiles.getCount(), self._codegen.compileTime())
        self._gc0 = self._gc_ms()

    def _gc_ms(self) -> int:
        return sum(b.getCollectionTime() for b in self._gc_beans)

    def end_call(self, construct_span, execute_span, split: float) -> CallCounters:
        """Read the finished call's jobs and stages, attach each job to the
        construct or the execute span by its submission time (`split` is
        where construct ended), and return the call's counters."""
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self._jsc.listenerBus().waitUntilEmpty(30_000)
        c = CallCounters()
        n0, t0 = self._codegen0
        c.codegen_compiles = self._compiles.getCount() - n0
        c.codegen_compile_s = (self._codegen.compileTime() - t0) / 1e9
        c.gc_s = (self._gc_ms() - self._gc0) / 1e3
        rt = self._runtime
        c.heap_used_mb = (rt.totalMemory() - rt.freeMemory()) / 2**20
        intervals = []
        job_ids = sorted(self.sc.statusTracker().getJobIdsForGroup(self._group))
        for job_id in job_ids:
            job = self._store.job(job_id)
            if job.submissionTime().isEmpty() or job.completionTime().isEmpty():
                continue
            js = job.submissionTime().get().getTime() / 1e3
            je = job.completionTime().get().getTime() / 1e3
            intervals.append((js, je))
            c.jobs += 1
            parent = construct_span if js < split else execute_span
            jspan = self.add_span(parent, f"job {job_id}", "job", js, je)
            for stage_id in self._seq.asJava(job.stageIds()):
                self._read_stage(c, jspan, stage_id)
        c.job_run_s = union_length(intervals)
        c.python_eval_s = self._python_eval_s(set(job_ids))
        return c

    def _new_executions(self) -> list:
        """SQL executions started since the last read, oldest first. The
        store keeps only the newest `spark.sql.ui.retainedExecutions`, so
        the walk goes back from the end by execution id, not by count."""
        out: list = []
        end = self._sql_store.executionsCount()
        while end > 0:
            start = max(0, end - 32)
            chunk = list(self._seq.asJava(self._sql_store.executionsList(start, end - start)))
            newer = [ex for ex in chunk if ex.executionId() > self._last_execution]
            out = newer + out
            if len(newer) < len(chunk):
                break
            end = start
        if out:
            self._last_execution = out[-1].executionId()
        return out

    def _python_eval_s(self, job_ids: set) -> float:
        """Python-worker time of the SQL executions that ran these jobs,
        read from the live SQL metric accumulators (raw milliseconds)."""
        total = 0.0
        for ex in self._new_executions():
            if not {int(j) for j in self._seq.asJava(ex.jobs()).keySet()} & job_ids:
                continue
            graph = self._sql_store.planGraph(ex.executionId())
            for node in self._seq.asJava(graph.allNodes()):
                if "Python" not in node.name() and "Pandas" not in node.name():
                    continue
                for metric in self._seq.asJava(node.metrics()):
                    if metric.name() != PYTHON_EVAL_METRIC:
                        continue
                    acc = self._accumulators.get(metric.accumulatorId())
                    if acc.isDefined():
                        total += acc.get().value() / 1e3
        return total

    def _read_stage(self, c: CallCounters, job_span: int, stage_id: int) -> None:
        try:
            st = self._store.lastStageAttempt(stage_id)
        except Py4JJavaError:  # stage never attempted (skipped): nothing to read
            return
        if st.submissionTime().isEmpty() or st.completionTime().isEmpty():
            return
        c.stages += 1
        c.tasks += st.numTasks()
        c.failed_tasks += st.numFailedTasks()
        c.executor_run_s += st.executorRunTime() / 1e3
        c.executor_cpu_s += st.executorCpuTime() / 1e9
        c.input_bytes += st.inputBytes()
        c.shuffle_read_bytes += st.shuffleReadBytes()
        c.shuffle_write_bytes += st.shuffleWriteBytes()
        c.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
        self.add_span(
            job_span,
            f"stage {stage_id}",
            "stage",
            st.submissionTime().get().getTime() / 1e3,
            st.completionTime().get().getTime() / 1e3,
            tasks=st.numTasks(),
            executor_run_s=st.executorRunTime() / 1e3,
            executor_cpu_s=st.executorCpuTime() / 1e9,
        )

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append((s.start, s.end))
        out = {}
        for s in self.spans:
            kids = [(max(a, s.start), min(b, s.end)) for a, b in children.get(s.id, [])]
            kids = [(a, b) for a, b in kids if b > a]
            out[s.id] = (s.end - s.start) - union_length(kids)
        return out

    def write(self, path: str) -> None:
        selfs = self.self_times()
        rows = [
            {
                "id": s.id,
                "parent": s.parent,
                "name": s.name,
                "kind": s.kind,
                "start": s.start,
                "end": s.end,
                "self_s": selfs[s.id],
                **s.attrs,
            }
            for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump({"spans": rows}, fh)
