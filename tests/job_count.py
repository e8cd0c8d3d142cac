"""Count the Spark jobs a call runs: the call runs under its own job
group, the listener bus is drained so every job has been registered,
and ``statusTracker`` lists the group's jobs. Used to pin job budgets,
so a change that adds an eager probe job fails a test."""

from __future__ import annotations

import itertools

_GROUPS = itertools.count()


def count_jobs(spark, fn):
    """``(fn(), number of Spark jobs fn ran)`` on the calling thread."""
    sc = spark.sparkContext
    group = f"job-count-{next(_GROUPS)}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
