"""SparkSession factory with the engine's scale-minded defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "byzer-retrieval-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """AQE on (runtime re-plan, skew-join, partition coalescing), Arrow on
    (every pandas UDF crosses via Arrow batches), and shuffle partition
    count sized to the box — on a real cluster these come from
    spark-submit conf instead.

    These confs serve the build and the mutations. The read path does
    not use this session's SQLConf: ``RetrievalEngine.query_ctx`` opens
    every context on a ``newSession()`` of its own, with AQE off, and
    sizes it once to the index (``api._size_query_session``):
    ``minPartitionNum=1``, ``maxPartitionBytes = max(largest postings
    file + openCost + 1, PY_TASK_BYTES)`` and ``shuffle.partitions =
    clamp(ceil(postings bytes / PY_TASK_BYTES), 1, num_shards)``, with
    ``PY_TASK_BYTES`` = 32 MB. A read-path Python task costs ~0.3 s of
    worker CPU before it reads a row — mostly pyspark's per-task
    ``importlib.invalidate_caches()``, which re-lists every zip
    importer (pyspark.zip once per imported subpackage) — so a query
    runs one scoring task per 32 MB of postings rather than one per
    core, and no postings file splits across scan tasks."""
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus and master.startswith("local["):
        master = f"local[{cpus}]"
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_BATCH", "100000"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        # finer file splits than the 128MB default: bench corpora are a
        # few hundred MB, and scan-stage parallelism (tokenize+explode
        # feeds the shuffle) must cover all cores; on a real cluster at
        # 100 TB the default is right — raise via env there.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "33554432"),
        )
        .config("spark.sql.files.openCostInBytes", "1048576")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    return b.getOrCreate()
