"""Readers of Spark's own status API: job groups, the status store, the
executed plan and storage memory.  All of them go through py4j; no
listener jar is needed."""

from __future__ import annotations

from py4j.protocol import Py4JJavaError

PYTHON_EXEC_NODES = frozenset({
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "PythonMapInArrow", "FlatMapGroupsInPandas", "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas", "FlatMapCoGroupsInArrow", "AggregateInPandas",
    "ArrowAggregatePython", "WindowInPandas", "ArrowWindowPython",
    "ArrowEvalPythonUDTF", "BatchEvalPythonUDTF",
    "FlatMapGroupsInPandasWithState", "TransformWithStateInPandas",
})

MB = 1024.0 * 1024.0
# How many jobs, stages and SQL executions Spark's status store keeps
# (defaults: 1000).
RETAINED = {"spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "50000",
            "spark.sql.ui.retainedExecutions": "20000"}


def sql_executions(spark) -> int:
    """How many SQL executions the session's status store holds."""
    return spark._jsparkSession.sharedState().statusStore().executionsCount()


def python_nodes_since(spark, first: int) -> int:
    """Python exec nodes in the plans of every SQL execution after the
    first ``first`` ones: eager actions inside a query function count, and
    so do cached relations built or read by it."""
    store = spark._jsparkSession.sharedState().statusStore()
    count = 0
    execs = store.executionsList(first, 1 << 30)
    for k in range(execs.size()):
        nodes = store.planGraph(execs.apply(k).executionId()).allNodes()
        count += sum(1 for i in range(nodes.size())
                     if nodes.apply(i).name() in PYTHON_EXEC_NODES)
    return count


def group_stats(spark, group: str) -> dict:
    """Exact job/stage/task counts and summed executor metrics of every
    job that ran under job group ``group``."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
           "executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_read_mb": 0.0,
           "shuffle_write_mb": 0.0, "spill_mb": 0.0}
    seen: set[int] = set()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue  # evicted from the store (see RETAINED)
            if st.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_read_mb"] += (st.shuffleRemoteBytesRead()
                                       + st.shuffleLocalBytesRead()) / MB
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            out["spill_mb"] += (st.memoryBytesSpilled()
                                + st.diskBytesSpilled()) / MB
    return out


def cached_mb(spark) -> float:
    """Storage memory held by persisted RDDs and DataFrames."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() for i in infos) / MB
