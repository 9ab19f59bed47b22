"""Count the Spark jobs one call runs, through a job group of its own."""

from __future__ import annotations

import uuid


def counted(spark, fn):
    """(result, number of Spark jobs ``fn`` ran)."""
    sc = spark.sparkContext
    group = f"counted-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "counted")
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts are posted async
    return result, len(sc.statusTracker().getJobIdsForGroup(group))
