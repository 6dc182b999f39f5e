"""Spark runtime counters read through the SparkContext's status stores.

Every benchmark operation runs under its own job group, so its jobs,
stages and tasks can be looked up afterwards. Stage metrics (shuffle
bytes, spill, executor run time) come from the application status
store; Python worker time comes from the SQL metrics of the query
executions that ran since the previous lookup. Catalyst time (analysis,
optimization, planning) comes, once ``listen_planning`` is on, from a
query execution listener that sees every execution the actions ran.
"""

from __future__ import annotations

MB = float(1 << 20)
PYTHON_RUN_METRIC = "time to run Python workers"
LISTENER_WAIT_MS = 60_000


def phases_s(qe) -> float:
    """Catalyst phase times recorded by a QueryExecution's tracker."""
    it = qe.tracker().phases().iterator()
    total_ms = 0
    while it.hasNext():
        total_ms += it.next()._2().durationMs()
    return total_ms / 1000.0


class _PlanningListener:
    """A ``QueryExecutionListener`` implemented in Python (through the
    Py4J callback server): sums the Catalyst phase times of every query
    execution that ends, the executions that actions and writes plan
    themselves included."""

    def __init__(self):
        self.total_s = 0.0

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802
        self.total_s += phases_s(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self.total_s += phases_s(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class SparkStats:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.status = self.sc.statusTracker()
        self.group: str | None = None
        self._sql_seen = self._sql_store().executionsCount()
        self._acc_seen: dict[int, int] = {}
        self._planning: _PlanningListener | None = None
        self._planning_seen = 0.0

    def listen_planning(self) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(self.sc._gateway)
        self._planning = _PlanningListener()
        self.spark._jsparkSession.listenerManager().register(self._planning)

    def close(self) -> None:
        if self._planning is not None:
            self.spark._jsparkSession.listenerManager().unregister(
                self._planning)
            self._planning = None

    def settle(self) -> None:
        """Wait until the listener bus has delivered the events posted
        so far, so the status stores and listeners are up to date."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(LISTENER_WAIT_MS)

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def begin(self, group: str) -> None:
        """Start a job group; the jobs of one operation share it."""
        self.group = group
        self.sc.setJobGroup(group, group)

    def job_count(self) -> int:
        return len(self.status.getJobIdsForGroup(self.group))

    def group_counters(self) -> dict[str, float]:
        """Jobs, stages, tasks and stage metrics of the current group."""
        store = self.sc._jsc.sc().statusStore()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "tasks_failed": 0,
               "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0,
               "spill_mb": 0.0, "executor_run_s": 0.0}
        for job_id in self.status.getJobIdsForGroup(self.group):
            info = self.status.getJobInfo(job_id)
            if info is None:
                continue
            out["jobs"] += 1
            for stage_id in info.stageIds:
                try:
                    sd = store.lastStageAttempt(stage_id)
                except Exception:  # skipped stage: never attempted
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["tasks_failed"] += sd.numFailedTasks()
                out["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
                out["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                out["spill_mb"] += (sd.memoryBytesSpilled()
                                    + sd.diskBytesSpilled()) / MB
                out["executor_run_s"] += sd.executorRunTime() / 1000.0
        out["python_eval_s"] = self._python_eval_s()
        if self._planning is not None:
            total = self._planning.total_s
            out["plan_s"] = total - self._planning_seen
            self._planning_seen = total
        return out

    def _python_eval_s(self) -> float:
        """Python worker run time added since the last call, over the
        SQL executions that started since then. A cached plan's metrics
        are listed by every execution that reads the cache, with their
        running totals, so each metric counts only its increase."""
        sql = self._sql_store()
        count = sql.executionsCount()
        if count == self._sql_seen:
            return 0.0
        accumulators = self.spark._jvm.org.apache.spark.util \
            .AccumulatorContext
        total_ms = 0
        it = sql.executionsList(self._sql_seen, count - self._sql_seen) \
            .iterator()
        while it.hasNext():
            metrics = it.next().metrics().iterator()
            while metrics.hasNext():
                m = metrics.next()
                if m.name() == PYTHON_RUN_METRIC:
                    acc = accumulators.get(m.accumulatorId())
                    if acc.isDefined():
                        value = int(acc.get().value())
                        total_ms += value - self._acc_seen.get(
                            m.accumulatorId(), 0)
                        self._acc_seen[m.accumulatorId()] = value
        self._sql_seen = count
        return total_ms / 1000.0

    def persistent_rdd_ids(self) -> set[int]:
        jmap = self.sc._jsc.getPersistentRDDs()
        return {e.getKey() for e in jmap.entrySet().toArray()}

    def resident_mb(self) -> float:
        """Storage (memory and disk) held by persisted RDDs."""
        return sum(r.memSize() + r.diskSize()
                   for r in self.sc._jsc.sc().getRDDStorageInfo()) / MB

    @staticmethod
    def plan_nodes(jdf) -> int:
        """Operator count of a Dataset's analyzed logical plan."""
        return len(jdf.queryExecution().analyzed().treeString()
                   .splitlines())
