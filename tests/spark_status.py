"""What one Spark call did, read from Spark's status stores (they work with
the UI disabled): the jobs of its job group and the physical plans of the
SQL executions it started."""

import itertools

_GROUPS = itertools.count()


def _executions(store):
    lst = store.executionsList()
    return [lst.apply(i) for i in range(lst.size())]


def traced(spark, fn):
    """Run ``fn()`` under a fresh job group. Returns ``(result, jobs,
    plans)``: the number of Spark jobs it ran and the physical plan
    descriptions of the SQL executions it started, in start order."""
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()
    first = max((e.executionId() for e in _executions(store)), default=-1)
    group = f"traced-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    plans = [e.physicalPlanDescription() for e in _executions(store)
             if e.executionId() > first]
    return out, len(sc.statusTracker().getJobIdsForGroup(group)), plans
