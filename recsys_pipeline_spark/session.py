"""SparkSession factory.

Local-mode defaults are tuned for the test environment (single JVM,
``local[N]``), but every knob here is the one you'd set on a real cluster:
AQE for runtime re-planning (adaptive shuffle-partition coalescing, skew-join
splitting, broadcast demotion/promotion), Arrow for the Python boundary, UTC
session timezone so timestamp semantics match an external oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "recsys_pipeline_spark", shuffle_partitions: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    On a real cluster ``master`` comes from spark-submit; locally we run
    ``local[N]``. All configs below are safe on both.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Join-strategy knobs (guide §3.1), env-parameterised for A/B and
        # cluster tuning; defaults preserve Spark's stock behaviour until a
        # measured win says otherwise.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SPARK_GRAFT_PREFER_SMJ", "true"),
        )
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_LOCALMAP", "0"),
        )
        # Wide-aggregate codegen: the 64-bit-vote SimHash and the pivoted PIT
        # feature build carry >100 aggregate buffers; the default
        # codegen.maxFields=100 silently drops WholeStageCodegen for exactly
        # those plans (measured 3-5x slower interpreted). 300 keeps them
        # compiled while staying far below JIT method-size fallbacks.
        .config("spark.sql.codegen.maxFields", "300")
        .config("spark.ui.enabled", "false")
        # Single-JVM local mode: a bigger heap is NOT better — at 90g the G1
        # old-gen cycles showed up as 5-20 s pauses randomly attributed to
        # whichever query was running (measured: same 46-query bench 70-87 s
        # at 90g vs 45 s at 24g, spikes gone). 24g comfortably fits every
        # broadcast/window state at bench scale; raise via SPARK_DRIVER_MEMORY
        # only for driver-heavy ML fits.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
    )
    if not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = builder.master(f"local[{cpus}]")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
