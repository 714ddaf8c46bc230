"""Count the Spark jobs a call starts: a fresh job group on this thread,
read back through the status tracker."""

import uuid


def jobs_run(spark, fn):
    """(fn(), number of Spark jobs fn started on this thread)."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group, False)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
