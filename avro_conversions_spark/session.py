"""SparkSession factory with scale-appropriate defaults.

Local mode here (local[N]) stands in for a 1000-executor cluster; every
config below is chosen so the same job scales: AQE for runtime re-plan and
skew joins, shuffle partitions sized to cores (overridable for real
clusters), Arrow for every pandas interchange.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


# One switch for the 100 TB storage profile: when the session declares its
# inputs remote (S3/GCS/cold Iceberg), every frame that several passes replay
# is persisted through persist_for_replay, because each extra lineage replay
# is a real network scan. It flips three stages: the engine's pruned input
# projection, the k-means points and the Jaccard shingle frame. Local default
# stays recompute: page-cache parquet re-decode beats the columnar-cache round
# trip on every profile measured in rounds 3-5.
REMOTE_STORAGE_CONF = "spark.avro_conversions.remoteStorage"


def remote_storage(spark: SparkSession) -> bool:
    """True when the session is configured for remote object storage."""
    return str(spark.conf.get(REMOTE_STORAGE_CONF, "false")).lower() == "true"


def persist_for_replay(df: DataFrame) -> tuple[DataFrame, bool]:
    """Persist ``df``, a frame that several passes replay, when the session
    is under remoteStorage; otherwise return it unchanged. The flag tells
    the caller whether it now owns a persisted frame to unpersist."""
    if not remote_storage(df.sparkSession):
        return df, False
    return df.persist(), True


def get_spark(
    app_name: str = "avro_conversions_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # match parallelism in local mode; on a real cluster this should be
        # ~2-3x total cores and is overridden via extra_conf / spark-submit.
        shuffle_partitions = cpus if master.startswith("local") else 2 * cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
