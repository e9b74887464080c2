"""Plan facts read without running a Spark job.

Adaptive choices (a size gate, a partition count) read these instead of
counting rows. They only pick how a result is computed, never what it is.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's estimated size of the plan's output in bytes — read from
    the optimized logical plan's statistics, no job is run. For a file
    scan this is the listed files' total size (only the files a
    ``pathGlobFilter`` keeps). A ``localCheckpoint`` keeps the estimate
    of the plan it checkpoints. Only a frame built from a Python RDD,
    such as ``spark.createDataFrame(rows)``, has no estimate and reads
    Long.MaxValue, checkpointed or not, so a size gate takes such a
    frame as large whatever its rows."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def num_partitions(df: DataFrame) -> int | None:
    """The partition count ``df`` would run with, read without a job, or
    None when only running it would tell: an adaptive plan (one with an
    exchange) sizes its shuffles at run time, and building its RDD would
    run the shuffle stages."""
    qe = df._jdf.queryExecution()
    if qe.executedPlan().getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        return None
    return qe.toRdd().getNumPartitions()
