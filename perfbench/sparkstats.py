"""Metrics Spark already records: SQL metrics of an executed plan and task
times from the status store."""

from __future__ import annotations

import statistics
from collections import Counter


def _children(node) -> list:
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]  # the final plan once the action ran
    if name.endswith("QueryStageExec"):
        return [node.plan()]
    out, it = [], node.children().iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def plan_metrics(df) -> dict[str, Counter]:
    """Executed-plan SQL metrics of ``df`` (after an action ran its own
    query execution), summed per operator class, AQE query stages
    included."""
    out: dict[str, Counter] = {}
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        it = node.metrics().iterator()
        c = out.setdefault(node.getClass().getSimpleName(), Counter())
        while it.hasNext():
            kv = it.next()
            c[kv._1()] += kv._2().value()
        todo.extend(_children(node))
    return out


def run_plan(df) -> int:
    """Run ``df``'s own query execution to completion on the executors
    (no rows shipped to Python) so that its plan carries the metrics."""
    return df._jdf.queryExecution().toRdd().count()


def udf_metrics(m: dict[str, Counter]) -> dict:
    py = m.get("ArrowEvalPythonExec", Counter())
    return {
        "udf.python_total_s": py["pythonTotalTime"] / 1e3,
        "udf.python_init_s": py["pythonInitTime"] / 1e3,
        "udf.python_boot_s": py["pythonBootTime"] / 1e3,
        "udf.bytes_to_python": py["pythonDataSent"],
        "udf.bytes_from_python": py["pythonDataReceived"],
        "udf.rows": py["pythonNumRowsReceived"],
    }


def exchange_metrics(m: dict[str, Counter]) -> dict:
    ex = m.get("ShuffleExchangeExec", Counter())
    return {
        "stage.shuffle_bytes": ex["shuffleBytesWritten"],
        "stage.shuffle_write_s": ex["shuffleWriteTime"] / 1e9,
    }


def task_stats(spark, group: str) -> dict:
    """Tasks and skew (max / median task duration) of the busiest stage the
    jobs of ``group`` ran: the stage holding the Python UDF."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    best: list[float] = []
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        for sid in info.stageIds if info else ():
            stage = tracker.getStageInfo(sid)
            if stage is None:
                continue
            tasks = store.taskList(sid, stage.currentAttemptId, 1 << 30)
            durs = []
            for i in range(tasks.size()):
                d = tasks.apply(i).duration()
                if d.isDefined():
                    durs.append(float(d.get()))
            if sum(durs) > sum(best):
                best = durs
    if not best:
        return {"stage.tasks": 0, "stage.task_skew": 0.0}
    return {"stage.tasks": len(best), "stage.task_skew": max(best) / statistics.median(best)}
