"""SparkSession factory with the configuration the extraction job needs.

Scale posture (SURVEY.md §4): the job is map-only over Arrow batches, so the
knobs that matter are AQE (post-shuffle coalescing / skew splitting), Arrow
batch size (multi-MB ``html`` blobs -> keep batches small so a batch of rows
stays well under executor memory), and shuffle parallelism. On a real
cluster the same settings apply per executor; local[N] is the sandbox
stand-in.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Rows per Arrow batch entering mapInPandas. CC-style pages average tens of
# KB; 10 MB outliers * 256 rows ~ 2.5 GB worst-case batch would be too big,
# so keep this small. Throughput is not batch-bound: on large pages it is
# CPU-bound in the UDF; on small pages (~600 B) it is commit-bound, since
# each output file costs ~13 ms on a local filesystem (about 6 forked
# processes per file). run_extract range-clusters its partitioned writes
# to bound the file count per wave for that reason.
ARROW_BATCH_ROWS = 256


def get_spark(app: str = "spark-deepdoc-extract",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(ARROW_BATCH_ROWS))
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions or int(cpus)))
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    return builder.getOrCreate()
