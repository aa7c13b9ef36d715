"""SparkSession factory.

The reference runs single-process pandas + PostgreSQL; here the whole engine
is one SparkSession. Defaults are tuned for the local[N] test harness but
every knob is the one you would also set on a 1000-executor cluster:

* AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  dynamic broadcast) — replaces all hand-rolled parallelism in the
  reference (ThreadPoolExecutor batches of 20 facilities,
  multi_file_ingestion_process.py:107-123).
* ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE coalesces from a high initial number.
* UTC session timezone so timestamp semantics are stable across engines
  (the DuckDB correctness oracle is UTC-naive).
* Arrow enabled: every pandas interchange (createDataFrame, pandas UDFs,
  applyInPandas) is vectorized.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "data_ingestion_from_multiple_directories_linux_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    In local mode there is a single JVM; ``spark.driver.memory`` is the only
    memory knob. On a cluster the same config block applies per executor.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE re-plan CACHED subtrees too (off by default): persist()
        # is the engine's index/serving idiom (tf index, IVF assignment,
        # CC edge frames), and with the default every cached plan pins
        # the static shuffle-partition count for itself AND every stage
        # reading it — measured 500+ tasks per persist-heavy query on
        # megabyte inputs where AQE coalescing elsewhere yields 1-3.
        # Cluster-safe: output partitioning of a cached plan may change,
        # which only affects exchange reuse, not results. Interleaved
        # A/B of this and the coalesce floor below, alone and together:
        # OPTIMIZATION_r12.md / r13.md.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # AQE coalescing is SIZE-based and compute-blind: with the 1m
        # default a small-bytes/heavy-compute frame (IVF cell codes,
        # shingle keys) coalesces to bytes/1MB ≈ 1-3 partitions and its
        # downstream compute serializes (measured: embedding_near_dup_ivf
        # 12→27 s at the bench's ~100× point). A lower floor lets tiny
        # frames keep ~defaultParallelism partitions; at warehouse scale
        # bytes/parallelism >> 1MB decides, so this only changes
        # small-frame behavior.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bound Python-worker memory on the multimodal path: working set
        # per worker ≈ batch_rows × payload_size (operators/multimodal.py)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # events.ts is parquet TIMESTAMP(NANOS), which the vectorized reader
        # rejects; read as long nanos session-wide (catalog.load_table
        # truncates to microsecond timestamps).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
