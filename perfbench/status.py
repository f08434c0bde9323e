"""Spark status-store reader: one record per job group.

Works with ``spark.ui.enabled=false``: it reads the application status
store (jobs, stages, tasks) and the SQL status store (executions and
their plan graphs), not the UI. A call's record covers every job run
under its job group and every SQL execution that ran any of those jobs,
so eager checkpoints and driver-side collects inside the call count, as
do broadcast jobs that Spark runs under its own group. SQL metric values
are read raw from the Spark driver's accumulators
(``AccumulatorContext``), never from the formatted strings the store
keeps. The plans of
executions that finish inside a call (an eager checkpoint, say) become
garbage as soon as they finish, and with them their accumulators, so
while a traced call runs a background thread pins the accumulators of
every execution it sees; one that was collected before it could be
pinned is counted in ``metrics_missing``.
"""

from __future__ import annotations

import statistics
import threading

# The pinned record schema: ``collect`` returns exactly these keys.
RECORD_KEYS = (
    "jobs", "stages", "tasks", "executions", "metrics_missing",
    "exec_run_ms", "jvm_cpu_ms", "gc_ms",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "job_busy_ms",
    "scans", "scan_ms", "scan_bytes",
    "py_nodes", "py_start_ms", "py_init_ms", "py_run_ms",
    "bytes_to_py", "bytes_from_py",
    "py_tasks", "py_task_run_max_ms", "py_task_run_median_ms",
    "widen_exchanges", "broadcast_bytes", "broadcast_build_ms",
)

# SQL metric name -> record key, per plan-node kind.
_SCAN_METRICS = {"scan time": "scan_ms", "size of files read": "scan_bytes"}
_PY_METRICS = {
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "bytes_to_py",
    "data returned from Python workers": "bytes_from_py",
}
_BROADCAST_METRICS = {"data size": "broadcast_bytes",
                      "time to build": "broadcast_build_ms"}
# Output columns that mark the extraction operator's MapInArrow node; its
# metrics fill the ``py_*`` fields.
_EXTRACT_MARKER = ("n_spans", "outlinks")


def _seq(scala_seq) -> list:
    out = []
    it = scala_seq.iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def _opt(scala_opt):
    return scala_opt.get() if scala_opt.isDefined() else None


class StatusReader:
    """Reads the records of job groups set with ``sc.setJobGroup``."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._bus = sc._jsc.sc().listenerBus()
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._acc = sc._jvm.org.apache.spark.util.AccumulatorContext
        self._jobs: dict[int, dict] = {}
        self._execs: dict[int, set[int]] = {}  # execution id -> job ids
        self._pinned: dict = {}  # accumulator id -> JVM accumulator
        self._pin_seen = 0
        self._running: set[int] = set()
        self._stop = threading.Event()
        self._pinner = None

    def __enter__(self):
        """Pin accumulators until the block exits."""
        self._stop.clear()
        self._pinner = threading.Thread(target=self._pin_loop, daemon=True)
        self._pinner.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._pinner.join()
        self._pin()

    def release(self) -> None:
        self._pinned.clear()

    def _pin_loop(self) -> None:
        # An execution's plan becomes garbage only after it ends, and its
        # accumulators go at the next collection, so polling every 0.2 s
        # pins them in time while costing the traced call little.
        while not self._stop.wait(0.2):
            self._pin()

    def _pin(self) -> None:
        count = self._sql.executionsCount()
        self._running.update(range(self._pin_seen, count))
        self._pin_seen = count
        for eid in sorted(self._running):
            ex = _opt(self._sql.execution(eid))
            if ex is None:
                self._running.discard(eid)
                continue
            done = ex.completionTime().isDefined()
            for node in _seq(self._sql.planGraph(eid).allNodes()):
                if self._kind(node) is None:
                    continue
                for metric in _seq(node.metrics()):
                    aid = metric.accumulatorId()
                    if aid not in self._pinned:
                        acc = self._acc.get(aid)
                        if acc.isDefined():
                            self._pinned[aid] = acc.get()
            if done:
                self._running.discard(eid)

    def _sync(self) -> None:
        """Drain the listener bus, then pull the jobs and executions that
        are new since the last call."""
        self._bus.waitUntilEmpty(60_000)
        newest = max(self._jobs, default=-1)
        for j in _seq(self._store.jobsList(None)):  # newest first
            if j.jobId() <= newest:
                break
            sub, end = _opt(j.submissionTime()), _opt(j.completionTime())
            self._jobs[j.jobId()] = {
                "group": _opt(j.jobGroup()),
                "stages": [int(s) for s in _seq(j.stageIds())],
                "interval": (sub.getTime() if sub else 0,
                             end.getTime() if end else 0),
            }
        seen = len(self._execs)
        count = self._sql.executionsCount()
        if count > seen:
            for ex in _seq(self._sql.executionsList(seen, count - seen)):
                self._execs[ex.executionId()] = {
                    int(j) for j in _seq(ex.jobs().keys())}

    def _value(self, acc_id: int):
        acc = self._pinned.get(acc_id)
        if acc is None:
            opt = self._acc.get(acc_id)
            acc = opt.get() if opt.isDefined() else None
        return None if acc is None else max(0, acc.value())

    def _kind(self, node):
        """Which metrics of a plan node the record uses, or None."""
        name = node.name()
        if name.startswith("Scan "):
            return _SCAN_METRICS
        if name == "BroadcastExchange":
            return _BROADCAST_METRICS
        if name.startswith("MapIn") and all(
                m in node.desc() for m in _EXTRACT_MARKER):
            return _PY_METRICS
        return None

    def collect(self, groups) -> dict:
        """The record of every job run under any of ``groups``."""
        groups = set(groups)
        self._sync()
        rec = dict.fromkeys(RECORD_KEYS, 0)
        job_ids = {j for j, info in self._jobs.items()
                   if info["group"] in groups}
        executions = [e for e, jobs in self._execs.items() if jobs & job_ids]
        for e in executions:
            job_ids |= self._execs[e] & self._jobs.keys()
        rec["jobs"] = len(job_ids)
        rec["executions"] = len(executions)
        rec["job_busy_ms"] = _union_ms(
            [self._jobs[j]["interval"] for j in job_ids])
        for e in executions:
            self._add_plan(rec, e)
        py_stages = []
        stage_ids = {s for j in job_ids for s in self._jobs[j]["stages"]}
        for sid in sorted(stage_ids):
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:  # evicted from the store or never submitted
                continue
            if st.status().toString() != "COMPLETE":
                continue
            rec["stages"] += 1
            rec["tasks"] += st.numCompleteTasks()
            rec["exec_run_ms"] += st.executorRunTime()
            rec["jvm_cpu_ms"] += st.executorCpuTime() / 1e6
            rec["gc_ms"] += st.jvmGcTime()
            rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
            rec["shuffle_read_bytes"] += st.shuffleReadBytes()
            rec["spill_bytes"] += st.diskBytesSpilled()
            if rec["py_nodes"] and self._runs_map_in_arrow(sid):
                py_stages.append(st)
        runs = []
        for st in py_stages:
            for t in _seq(self._store.taskList(st.stageId(), st.attemptId(),
                                               st.numTasks())):
                m = _opt(t.taskMetrics())
                if m is not None:
                    runs.append(m.executorRunTime())
        if runs:
            rec["py_tasks"] = len(runs)
            rec["py_task_run_max_ms"] = max(runs)
            rec["py_task_run_median_ms"] = statistics.median(runs)
        return rec

    def _add_plan(self, rec: dict, execution_id: int) -> None:
        for node in _seq(self._sql.planGraph(execution_id).allNodes()):
            if node.name() == "Exchange":
                rec["widen_exchanges"] += (
                    "RoundRobinPartitioning" in node.desc())
                continue
            wanted = self._kind(node)
            if wanted is None:
                continue
            if wanted is _SCAN_METRICS:
                rec["scans"] += 1
            elif wanted is _PY_METRICS:
                rec["py_nodes"] += 1
            for metric in _seq(node.metrics()):
                key = wanted.get(metric.name())
                if key is None:
                    continue
                value = self._value(metric.accumulatorId())
                if value is None:
                    rec["metrics_missing"] += 1
                elif metric.metricType() == "nsTiming":
                    rec[key] += value / 1e6
                else:
                    rec[key] += value

    def _runs_map_in_arrow(self, stage_id: int) -> bool:
        graph = self._store.operationGraphForStage(stage_id)
        todo = [graph.rootCluster()]
        while todo:
            cluster = todo.pop()
            if cluster.name().startswith("MapInArrow"):
                return True
            todo.extend(_seq(cluster.childClusters()))
        return False


def _union_ms(intervals) -> float:
    total, cur_start, cur_end = 0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
