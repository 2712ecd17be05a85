"""Spark jobs and tasks run under a named job group, for the job-budget
tests: a call runs inside `in_group(sc, name, ...)`, and `over_budget`
compares each name's (jobs, tasks) with its committed upper bounds."""

from __future__ import annotations


def _job_group(name):
    return f"budget-{name}"


def in_group(sc, name, call):
    sc.setJobGroup(_job_group(name), name)
    try:
        return call()
    finally:
        sc._jsc.clearJobGroup()


def jobs_and_tasks(spark, name):
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(_job_group(name))
    tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for stage in info.stageIds if info else ():
            si = tracker.getStageInfo(stage)
            if si is not None:
                tasks += si.numCompletedTasks
    return len(jobs), tasks


def over_budget(spark, budget):
    """(over, measured): `measured` maps each name in `budget` to the
    (jobs, tasks) run under it, and `over` maps each name over its
    budget to (measured, budget)."""
    # the status tracker is fed by the listener bus: drain it first
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    measured = {n: jobs_and_tasks(spark, n) for n in budget}
    over = {
        n: (measured[n], budget[n]) for n in budget
        if measured[n][0] > budget[n][0] or measured[n][1] > budget[n][1]
    }
    return over, measured
