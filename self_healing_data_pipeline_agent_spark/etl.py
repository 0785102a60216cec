"""Contract-driven ETL: scan -> normalize -> project -> coercing cast -> sink.

Reference semantics (``/root/reference/src/etl_job.py:25-83``), re-expressed
as one lazy Spark logical plan:

- CSV is read header-only, **no schema inference** — every column arrives as
  string and is cast explicitly per the contract (the reference reads with
  pandas inference then forcibly re-casts; declaring all-string + try_cast is
  the equivalent deterministic end state).
- Header names are whitespace-stripped (``etl_job.py:43``).
- The frame is projected to declared ∩ present columns in *contract order*;
  missing declared columns are dropped with a warning, NOT an error
  (``etl_job.py:46-56``) — the DQ layer reports them later.  Extra source
  columns are silently discarded.
- Casts are coercing: unparseable int/float -> NULL (``etl_job.py:58-69``);
  on Spark 4's ANSI mode that is ``try_cast``, not ``cast``.
- The warehouse sink is a full refresh and **runs before DQ** — observable
  ordering: bad data lands in the warehouse even when the run then fails DQ
  (``etl_job.py:72-80`` precedes the DQ call in the runner).
- The write observes the DQ and drift statistics of the rows it writes
  (one ``Observation`` in its final stage) and returns them as a plain
  dict, so a run scans and casts its source exactly once; the DQ gate and
  the drift check are plain Python functions over that dict.

At scale: the scan is a distributed CSV read; the sink is an overwrite-mode
parquet table write.  Everything between is a narrow plan (no shuffle).
"""

from __future__ import annotations

from pathlib import Path
from typing import Any

from pyspark.sql import Column, DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType

from .contract import Contract
from .logger import get_logger

log = get_logger(__name__)


def read_source(spark: SparkSession, contract: Contract, base_dir: str | Path) -> DataFrame:
    """Scan the contract's source as all-string columns with stripped headers."""
    path = str(Path(base_dir) / contract.source_path)
    fmt = contract.raw.get("source_format", "csv")
    if fmt == "parquet":
        df = spark.read.parquet(path)
    else:
        df = (
            spark.read.option("header", True)
            .option("inferSchema", False)
            .csv(path)
        )
    # strip whitespace from header names (reference src/etl_job.py:43)
    return df.toDF(*[c.strip() for c in df.columns])


def project_and_cast(df: DataFrame, contract: Contract) -> DataFrame:
    """Project to declared ∩ present columns (contract order) and apply the
    coercing casts.  Missing declared columns warn + drop; unknown declared
    types warn + leave as-is (reference src/etl_job.py:46-69)."""
    present = set(df.columns)
    cols = []
    for name, spec in contract.columns.items():
        if name not in present:
            log.warning("declared column %r missing from source; skipping", name)
            continue
        ddl = spec.spark_type
        if ddl is None:
            log.warning("unknown declared type %r for column %r; leaving as-is", spec.type, name)
            cols.append(df[name])
        elif ddl == "string":
            cols.append(df[name].cast("string").alias(name))
        else:
            # try_cast == pandas to_numeric(errors="coerce"): bad value -> NULL
            cols.append(df[name].try_cast(ddl).alias(name))
    return df.select(*cols)


def _stat_metrics(df: DataFrame, contract: Contract) -> list[Column]:
    """The statistics the DQ gate and the drift check read, as aggregates
    over ``df``: the row count; the null fraction ``avg(isNull)`` of each
    declared column present, 0.0 over zero rows (reference
    src/data_quality_checks.py:48-49); and the mean and sample stddev of
    each numeric column over its non-nulls, the stddev of one value being
    0.0, not NULL (src/drift_detector.py:16-26)."""
    present = [c for c in contract.columns if c in df.columns]
    numeric = [f.name for f in df.schema.fields if isinstance(f.dataType, NumericType)]
    return [
        F.count(F.lit(1)).alias("row_count"),
        F.struct(*[
            F.coalesce(F.avg(F.col(c).isNull().cast("int")), F.lit(0.0)).alias(c)
            for c in present
        ]).alias("null_fractions"),
        F.struct(*[F.avg(F.col(c)).alias(c) for c in numeric]).alias("means"),
        F.struct(*[
            F.coalesce(F.stddev_samp(F.col(c)), F.lit(0.0)).alias(c) for c in numeric
        ]).alias("stds"),
    ]


def write_warehouse(
    df: DataFrame, contract: Contract, base_dir: str | Path
) -> dict[str, Any]:
    """Full-refresh sink: overwrite the warehouse table (parquet directory),
    and return the :func:`_stat_metrics` of the rows written as
    ``{row_count, null_fractions, means, stds}``, the last three keyed by
    column.

    The reference's truncate+insert into DuckDB (src/etl_job.py:75-80) keeps
    the table schema stable across runs; with a declared contract the
    overwrite rewrites the same schema, so semantics match.

    A contract may declare ``bucket_by: {column, buckets}``: the table is
    then written hash-bucketed (+ sorted) on that column via the session
    catalog.  At 100 TB this is the co-location contract — every
    downstream join or aggregation on the bucket key skips its shuffle
    entirely, the largest single cost in repeated warehouse workloads.
    """
    out = str(Path(base_dir) / contract.warehouse_path / contract.table_name)
    bucket = contract.raw.get("bucket_by")
    partition = contract.raw.get("partition_by")
    cluster = contract.raw.get("cluster_by")
    if cluster:
        # Sort-cluster the files on the declared columns: range-partition
        # then sort within partitions, so every parquet file covers a
        # narrow value span and its footer min/max (zone maps) let any
        # engine skip files on a filter.  At 100 TB this is the difference
        # between scanning 3 files and 30,000 for a point-range query.
        # List form sizes partitions via AQE; dict form pins the file
        # count ({columns: [...], partitions: N}) for layout contracts.
        if isinstance(cluster, dict):
            cols, n = cluster["columns"], cluster.get("partitions")
        else:
            cols, n = cluster, None
        df = (
            df.repartitionByRange(int(n), *cols) if n
            else df.repartitionByRange(*cols)
        ).sortWithinPartitions(*cols)
    # The observation sits in the write's own stage: below the range
    # repartition, that operator's sampling job would feed it too and
    # every row would be counted twice.
    observation = Observation()
    df = df.observe(observation, *_stat_metrics(df, contract))
    if bucket:
        (
            df.write.mode("overwrite")
            .bucketBy(int(bucket["buckets"]), bucket["column"])
            .sortBy(bucket["column"])
            .option("path", out)
            .format("parquet")
            .saveAsTable(contract.table_name)
        )
    elif partition:
        # Hive-style directory partitioning: the coarse pruning axis.
        # Readers with a filter on a partition column never list, open,
        # or scan the other directories (PartitionFilters, not data
        # filters) — the primary data-skipping lever for time-organized
        # warehouses.
        df.write.mode("overwrite").partitionBy(*partition).parquet(out)
    else:
        df.write.mode("overwrite").parquet(out)
    return {k: v.asDict() if isinstance(v, Row) else v for k, v in observation.get.items()}


def run_etl(spark: SparkSession, contract: Contract, base_dir: str | Path) -> dict[str, Any]:
    """Full ETL for one run; returns the statistics the warehouse write
    observed, for the DQ gate and the drift check.  The write happens here,
    before any DQ gate — matching the reference's observable ordering."""
    df = project_and_cast(read_source(spark, contract, base_dir), contract)
    return write_warehouse(df, contract, base_dir)
