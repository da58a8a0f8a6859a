"""Spark's own records of a query, read from outside the engine.

Used only by a traced run. Three sources:

- the status store (``SparkContext.statusStore``): every job the query
  started, found by the job group the benchmark set, and each job's
  stages with run time, GC, shuffle, spill and task counts;
- a ``QueryExecutionListener`` registered through py4j, which hands over
  every ``QueryExecution`` that finished: its ``QueryPlanningTracker``
  gives the Catalyst phases, and its executed plan, walked down to the
  final adaptive plan, gives the SQL metrics of scan and Python nodes;
- the wall clock around each public call, taken by the caller.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.java_gateway import ensure_callback_server_started

PHASES = ("analysis", "optimization", "planning")

# SQL metric -> (layer counter, kind); a node contributes when it has it.
PLAN_METRICS = {
    "scanTime": ("scan_s", "time"),
    "filesSize": ("bytes_read", "count"),
    "pythonTotalTime": ("python_s", "time"),
    "pythonInitTime": ("init_s", "time"),
    "pythonDataSent": ("bytes_in", "count"),
    "pythonDataReceived": ("bytes_out", "count"),
    "pythonNumRowsReceived": ("rows_out", "count"),
}
_SCAN_NODES = ("Scan",)  # FileSourceScanExec, BatchScanExec, ...
_PYTHON_NODES = ("Python", "Pandas", "Arrow")


@dataclass
class Window:
    """One call (fn or action) on the wall clock, epoch milliseconds."""

    start_ms: float
    end_ms: float

    def clip(self, a: float, b: float) -> float:
        return max(0.0, min(b, self.end_ms) - max(a, self.start_ms))


@dataclass
class QueryRecord:
    jobs: int = 0
    construct_jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    job_span_fn_s: float = 0.0
    job_span_action_s: float = 0.0
    catalyst_fn_s: float = 0.0
    catalyst_action_s: float = 0.0
    phases: dict = field(default_factory=lambda: dict.fromkeys(PHASES, 0.0))
    plan: dict = field(
        default_factory=lambda: {k: 0.0 for k, _ in PLAN_METRICS.values()}
    )


class _Listener:
    """Python side of ``org.apache.spark.sql.util.QueryExecutionListener``."""

    def __init__(self) -> None:
        self.seen: list = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        self.seen.append(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java API)
        self.seen.append(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Recorder:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        ensure_callback_server_started(self.sc._gateway)
        self.listener = _Listener()
        spark._jsparkSession.listenerManager().register(self.listener)

    def close(self) -> None:
        self.spark._jsparkSession.listenerManager().unregister(self.listener)

    def reset(self) -> None:
        self.listener.seen.clear()

    def collect(self, group_fn: str, group_action: str, fn: Window,
                action: Window, df_qe) -> QueryRecord:
        """Everything Spark recorded for one query execution."""
        self.jsc.listenerBus().waitUntilEmpty()
        rec = QueryRecord()
        self._jobs(rec, group_fn, fn, is_fn=True)
        self._jobs(rec, group_action, action, is_fn=False)
        # Executed plans come from the listener. The returned DataFrame's
        # own QueryExecution adds its analysis phase when the action ran
        # a different one (df.write plans a command of its own); its
        # plan is never walked, since that would plan it.
        ident = self.sc._jvm.java.lang.System.identityHashCode
        seen_ids: set[int] = set()
        for qe in self.listener.seen:
            seen_ids.add(ident(qe))
            self._phases(rec, qe, fn, action)
            self._plan(rec, qe.executedPlan())
        if df_qe is not None and ident(df_qe) not in seen_ids:
            self._phases(rec, df_qe, fn, action)
        self.reset()
        return rec

    # -- status store: jobs and stages --------------------------------
    def _jobs(self, rec: QueryRecord, group: str, win: Window, is_fn: bool) -> None:
        spans = []
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self.store.job(job_id)
            sub = job.submissionTime()
            done = job.completionTime()
            if sub.isDefined():
                start = sub.get().getTime()
                end = done.get().getTime() if done.isDefined() else win.end_ms
                spans.append((start, end))
            rec.jobs += 1
            rec.construct_jobs += int(is_fn)
            ids = job.stageIds()
            for i in range(ids.size()):
                self._stage(rec, ids.apply(i))
        span_s = _union_s(spans, win)
        if is_fn:
            rec.job_span_fn_s += span_s
        else:
            rec.job_span_action_s += span_s

    def _stage(self, rec: QueryRecord, stage_id: int) -> None:
        attempts = self.store.stageData(stage_id, False, None, False, None)
        for i in range(attempts.size()):
            sd = attempts.apply(i)
            if sd.status().toString() == "SKIPPED":
                continue
            rec.stages += 1
            rec.tasks += sd.numCompleteTasks() + sd.numFailedTasks()
            rec.executor_run_s += sd.executorRunTime() / 1e3
            rec.gc_s += sd.jvmGcTime() / 1e3
            rec.shuffle_bytes += sd.shuffleWriteBytes()
            rec.spill_bytes += sd.diskBytesSpilled()

    # -- QueryPlanningTracker -----------------------------------------
    def _phases(self, rec: QueryRecord, qe, fn: Window, action: Window) -> None:
        phases = qe.tracker().phases()
        for name in PHASES:
            opt = phases.get(name)
            if not opt.isDefined():
                continue
            p = opt.get()
            a, b = p.startTimeMs(), p.endTimeMs()
            in_fn, in_action = fn.clip(a, b) / 1e3, action.clip(a, b) / 1e3
            rec.phases[name] += in_fn + in_action
            rec.catalyst_fn_s += in_fn
            rec.catalyst_action_s += in_action

    # -- SQL metrics of the executed (final adaptive) plan ------------
    def _plan(self, rec: QueryRecord, root) -> None:
        stack = [root]
        while stack:
            node = stack.pop()
            name = node.nodeName()
            if any(t in name for t in _SCAN_NODES + _PYTHON_NODES):
                metrics = node.metrics()
                for key, (counter, kind) in PLAN_METRICS.items():
                    opt = metrics.get(key)
                    if opt.isDefined():
                        m = opt.get()
                        rec.plan[counter] += _metric_value(m, kind)
            if name == "AdaptiveSparkPlan":
                stack.append(node.executedPlan())
            elif name.startswith("ReusedExchange") or name.startswith("ReusedSubquery"):
                continue  # already counted where it first ran
            elif "QueryStage" in name:
                stack.append(node.plan())
            else:
                kids = node.children()
                for i in range(kids.size()):
                    stack.append(kids.apply(i))
            subs = node.subqueries()
            for i in range(subs.size()):
                stack.append(subs.apply(i))


def _metric_value(m, kind: str) -> float:
    v = m.value()
    if kind != "time":
        return float(v)
    t = m.metricType()
    return v / 1e9 if t == "nsTiming" else v / 1e3


def _union_s(spans: list[tuple[float, float]], win: Window) -> float:
    """Seconds of ``win`` covered by at least one of ``spans``."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(spans):
        a, b = max(a, win.start_ms), min(b, win.end_ms)
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total / 1e3
