"""SparkSession factory tuned for this engine.

Defaults favour the local[32] test rig but every knob is the one you'd set
on a 1000-executor cluster too: AQE on (runtime re-planning, skew-join
splitting, partition coalescing), Arrow for the few Pandas-UDF paths, and
explicit shuffle parallelism.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "ojo-daps-mirror-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Runtime SMJ -> shuffled-hash rewrite (guide §3.1): AQE converts
        # a sort-merge join to shuffled-hash only when EVERY post-shuffle
        # build-side partition is measured (not estimated) below this
        # threshold, so the per-task hash map is bounded by construction
        # — the safe form of preferSortMergeJoin=false at any scale. At
        # 100 TB partitions near the advisory size keep converting while
        # oversized ones stay SMJ (and AQE skew-split still applies to
        # both). 64 MiB matches autoBroadcastJoinThreshold: a build the
        # planner would happily broadcast is equally safe to hash
        # per-task.
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    ckpt = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckpt:
        # Reap checkpoints whose DataFrames are garbage-collected —
        # without this, every cut_lineage call in every iteration of a
        # long multi-query run leaves a file behind and checkpoint
        # storage grows without bound. (Must be set before the context
        # exists; a no-op when the session is reused.)
        builder = builder.config(
            "spark.cleaner.referenceTracking.cleanCheckpoints", "true"
        )
    spark = builder.getOrCreate()
    # Reliable checkpointing for iterative operators: on a cluster,
    # point this at HDFS/S3 and operators/lineage.py's cut_lineage
    # switches from executor-local blocks to fault-tolerant files.
    if ckpt:
        # Per-run subdirectory so a crashed run's leftovers can be
        # swept by deleting dirs that no live application owns.
        spark.sparkContext.setCheckpointDir(
            f"{ckpt.rstrip('/')}/{spark.sparkContext.applicationId}"
        )
    return spark
