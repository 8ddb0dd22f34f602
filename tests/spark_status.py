"""What one Spark call did, read from Spark's status stores (they work with
the UI disabled): the jobs of its job group, the stages of those jobs that
read input, and the physical plans of the SQL executions it started."""

import itertools

from py4j.protocol import Py4JJavaError

_GROUPS = itertools.count()


def _executions(store):
    lst = store.executionsList()
    return [lst.apply(i) for i in range(lst.size())]


def _in_group(spark, fn):
    """Run ``fn()`` under a fresh job group and drain the listener bus.
    Returns ``(result, job ids)``."""
    sc = spark.sparkContext
    group = f"traced-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def traced(spark, fn):
    """Run ``fn()`` under a fresh job group. Returns ``(result, jobs,
    plans)``: the number of Spark jobs it ran and the physical plan
    descriptions of the SQL executions it started, in start order."""
    store = spark._jsparkSession.sharedState().statusStore()
    first = max((e.executionId() for e in _executions(store)), default=-1)
    out, jobs = _in_group(spark, fn)
    plans = [e.physicalPlanDescription() for e in _executions(store)
             if e.executionId() > first]
    return out, len(jobs), plans


def input_stage_tasks(spark, fn):
    """Run ``fn()`` under a fresh job group. Returns ``(result, tasks)``:
    the task count of each distinct stage its jobs ran that read input
    (``inputBytes`` > 0 in the application status store): input files,
    or cached and checkpointed blocks. A stage that was skipped, or that
    reads only shuffle output, is not listed."""
    out, jobs = _in_group(spark, fn)
    store = spark.sparkContext._jsc.sc().statusStore()
    reading = {}
    for job_id in jobs:
        ids = store.job(job_id).stageIds()
        for i in range(ids.size()):
            try:
                attempts = store.stageData(ids.apply(i), False, None,
                                           False, None)
            except Py4JJavaError:
                continue  # never ran
            ran = [attempts.apply(j) for j in range(attempts.size())]
            if any(a.inputBytes() > 0 for a in ran):
                reading[ids.apply(i)] = ran[-1].numTasks()
    return out, [reading[s] for s in sorted(reading)]


def input_stages(spark, fn):
    """Run ``fn()`` under a fresh job group. Returns ``(result, n)``: the
    number of distinct stages its jobs ran that read input (see
    :func:`input_stage_tasks`)."""
    out, tasks = input_stage_tasks(spark, fn)
    return out, len(tasks)
