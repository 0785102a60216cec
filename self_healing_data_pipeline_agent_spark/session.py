"""SparkSession factory with scale-appropriate defaults.

Local tests run on ``local[N]``; the same settings are what we would ship to
a 1000-executor cluster: AQE on (runtime re-planning, skew-join handling,
partition coalescing), Arrow enabled for the few pandas-UDF paths, and a
shuffle-partition count that AQE is free to shrink.  The generated-class
cache is pinned above every measured working set, so warm passes reuse
compiled classes instead of re-running janino and the JIT on each one.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "self-healing-pipeline",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    At cluster scale the same confs apply; only ``master`` changes.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # AQE: runtime partition coalescing, skew-join splitting, plan re-opt.
        .config("spark.sql.adaptive.enabled", "true")
        # UTC everywhere: keeps timestamp semantics identical across engines
        # and executors regardless of host timezone.
        .config("spark.sql.session.timeZone", "UTC")
        # Surface INT64 TIMESTAMP(NANOS) parquet columns as long so the
        # events reader can truncate them to micros itself (the testdata
        # has shipped nanos in past rounds).  Pinned here — once, at build
        # time, beside the UTC pin — so no reader mutates session confs as
        # a side effect; it only affects TIMESTAMP(NANOS) columns, which
        # appear nowhere else, and the events readers guard on it loudly.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for pandas UDF / toPandas boundaries.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Broadcast joins for dimension tables (default 10MB is fine; make
        # the intent explicit so a cluster deploy reviews it consciously).
        .config("spark.sql.autoBroadcastJoinThreshold", "10485760")
        # Trust SORTED BY metadata on bucketed scans: Spark 3.0 stopped
        # advertising bucketed-scan output ordering by default
        # (SPARK-28595) because the claim is wrong for multi-file
        # buckets; behind this flag the ordering is reported ONLY when a
        # bucket has exactly one file — precisely the layout
        # ensure_bucketed_table / ensure_compacted_bucketed_table pay a
        # per-bucket write task to produce.  Without it every bucketed
        # merge join re-sorts sorted data; with it the one-file layout
        # is sort-free and the ingest-appended layout still (correctly)
        # pays its in-task sort.
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        # Generated-class LRU (static: read once, when the session is
        # built).  Spark's default of 100 is below query_mix's ~165-class
        # working set, so every warm pass recompiled ~125 of them.  One
        # pass over the whole registry at sf0.001 compiles ~2,930 classes
        # (at sf0.1, bm25_prune_stats alone compiles ~180 a run); 4096 is
        # the next power of two.  The heal cycle keeps 29.  Counts:
        # CodegenMetrics.METRIC_COMPILATION_TIME.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        # Local mode hosts all 32 executor threads in the driver JVM —
        # size the heap so cached shingle sets / broadcast builds never
        # trigger GC churn mid-query (measurably stabilizes bench times).
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "32g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def cluster_conf(
    input_tb: float,
    executors: int = 1000,
    cores_per_executor: int = 4,
    executor_mem_gb: int = 16,
    target_partition_mb: int = 256,
) -> dict[str, str]:
    """Recommended conf for a real deployment at ``input_tb`` scale — the
    sizing rules this repo's operators assume at 100 TB, made executable.

    Rules of thumb encoded:
    - shuffle partitions ~= shuffled bytes / target partition size (AQE
      coalesces down, so err high); floor at 2 partitions per core so the
      cluster is never under-subscribed.
    - file partitions capped at ``target_partition_mb`` so a scan task's
      working set fits executor memory alongside shuffle buffers.
    - AQE on (coalescing + skew split): static numbers only set the
      ceiling, runtime stats pick the real fan-out.
    - skewed-partition threshold = 2x target size: split hot keys (e.g.
      a viral user_id in sessionization) instead of spilling.
    """
    shuffle_bytes = input_tb * (1 << 40)
    target = target_partition_mb * (1 << 20)
    parts = max(
        int(shuffle_bytes // target),
        2 * executors * cores_per_executor,
    )
    return {
        "spark.executor.instances": str(executors),
        "spark.executor.cores": str(cores_per_executor),
        "spark.executor.memory": f"{executor_mem_gb}g",
        "spark.sql.shuffle.partitions": str(parts),
        "spark.sql.files.maxPartitionBytes": str(target),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": str(2 * target),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(target),
        "spark.sql.autoBroadcastJoinThreshold": str(64 << 20),
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    }
