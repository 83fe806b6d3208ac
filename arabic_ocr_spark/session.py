"""SparkSession construction with the engine's scale-oriented defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark"]


def get_spark(
    app_name: str = "arabic-ocr-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """local[$SPARK_GRAFT_CPUS] by default in the sandbox; on a real cluster
    the master comes from spark-submit and these configs ride along.

    - AQE on (runtime re-planning, skew-join splitting for the eval joins);
    - modest Arrow batches: payloads are KB-sized images, so 256 rows/batch
      keeps executor-python memory bounded while amortizing IPC;
    - shuffle partitions default to 4x cores locally (the wave planner picks
      its own chunk count independently).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(8, 4 * cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    return builder.getOrCreate()
