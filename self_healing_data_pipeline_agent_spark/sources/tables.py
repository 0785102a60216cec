"""Parquet table catalog for the analytic query surface.

The driver's testdata is a TPC-H-ish star schema plus ``events`` /
``documents`` / ``embeddings`` (one parquet per table).  Reads go through
``spark.read.parquet`` so Catalyst gets predicate pushdown, column pruning
and partition pruning for free — at 100 TB these scans are the dominant cost
and pruning is the first-order optimization.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence
from pathlib import Path
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast in any realistic deployment.
BROADCAST_TABLES = {"region", "nation", "supplier", "part", "customer"}


def events_ts_info(sf_dir: str | Path) -> tuple[str, bool]:
    """Probe the events parquet FOOTER for the physical type of ``ts``.

    Returns ``(unit, tz_adjusted)`` where ``unit`` is ``"us"``
    (TIMESTAMP(MICROS)) or ``"ns"`` (TIMESTAMP(NANOS)) and ``tz_adjusted``
    says whether the column is UTC-adjusted (``timestamp[us, tz=UTC]``)
    rather than NTZ.  The testdata has shipped multiple variants across
    driver rounds — reading nanos as micros (or vice versa) compresses or
    stretches event time 1000x, which silently breaks every event-time
    operator far from the cause; a tz-adjusted drop changes the Spark-side
    schema from TimestampNTZType to TimestampType, which breaks a declared
    streaming schema.  One metadata-only probe per load keeps batch
    (`load_table`) and streaming (`streaming/events.py`) readers on the
    same interpretation; an unrecognized variant fails loudly here rather
    than downstream.
    """
    import pyarrow.parquet as pq

    target = Path(sf_dir) / "events.parquet"
    fp = target if target.is_file() else sorted(target.glob("**/*.parquet"))[0]
    field = pq.ParquetFile(str(fp)).schema_arrow.field("ts")
    unit = getattr(field.type, "unit", None)
    if unit in ("us", "ns"):
        return unit, getattr(field.type, "tz", None) is not None
    raise ValueError(
        f"events.ts has unrecognized type {field.type!r} (expected a "
        "timestamp of unit us/ns) — testdata format changed; update "
        "events_ts_info/load_table and re-verify event-time queries"
    )


def events_ts_unit(sf_dir: str | Path) -> str:
    """Unit-only view of :func:`events_ts_info` (kept for callers that
    only branch on micros vs nanos)."""
    return events_ts_info(sf_dir)[0]


def load_table(spark: SparkSession, sf_dir: str | Path, name: str) -> DataFrame:
    path = str(Path(sf_dir) / f"{name}.parquet")
    if name == "events":
        # Normalize every ts variant to the session TIMESTAMP type.  The
        # NTZ->timestamp cast is bit-identical ONLY under a UTC session
        # zone (session.py pins it); raise rather than silently shift —
        # not an assert, which `python -O` strips.
        if spark.conf.get("spark.sql.session.timeZone") != "UTC":
            raise RuntimeError(
                "events.ts normalization requires "
                "spark.sql.session.timeZone=UTC (use session.get_spark)"
            )
        unit, _tz_adjusted = events_ts_info(sf_dir)
        if unit == "ns":
            # nanos -> read as long, truncate to micros (the same
            # narrowing DuckDB/Arrow apply).  The legacy flag is required
            # for Spark to surface INT64-nanos at all; session.get_spark
            # sets it once at build time (beside the UTC pin) so no query
            # mutates session confs as a side effect.  Fail loudly on a
            # foreign session rather than flipping the conf mid-flight.
            if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") != "true":
                raise RuntimeError(
                    "events.parquet carries TIMESTAMP(NANOS): reading it "
                    "requires spark.sql.legacy.parquet.nanosAsLong=true "
                    "(use session.get_spark, which pins it)"
                )
            df = spark.read.parquet(path).withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        else:
            df = spark.read.parquet(path).withColumn(
                "ts", F.col("ts").cast("timestamp")
            )
        return df.select("event_id", "ts", "user_id", "event_type", "value", "props")
    return spark.read.parquet(path)


def parquet_column_spans(
    sf_dir: str | Path, name: str, cols: list[str]
) -> dict[str, tuple[float, float]] | None:
    """(min, max) per column from parquet FOOTER statistics — a
    metadata-only read, no data scan.  This is the zone-map trick every
    warehouse uses: at 100 TB the footers of all files are kilobytes per
    file and readable in parallel, while an extra ``agg(min, max)`` pass
    is a second complete scan of the fact table.

    Returns None if any requested column lacks min/max stats (caller
    falls back to a scan) or has nulls only.
    """
    import pyarrow.parquet as pq

    target = Path(sf_dir) / f"{name}.parquet"
    files = [target] if target.is_file() else sorted(target.glob("**/*.parquet"))
    spans: dict[str, tuple[float, float]] = {}
    for fp in files:
        md = pq.ParquetFile(str(fp)).metadata
        idx = {
            md.row_group(0).column(i).path_in_schema: i
            for i in range(md.row_group(0).num_columns)
        }
        for col in cols:
            if col not in idx:
                return None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx[col]).statistics
                if st is None or not st.has_min_max:
                    return None
                mn, mx = float(st.min), float(st.max)
                if col in spans:
                    spans[col] = (min(spans[col][0], mn), max(spans[col][1], mx))
                else:
                    spans[col] = (mn, mx)
    return spans if len(spans) == len(cols) else None


def parquet_row_count(sf_dir: str | Path, name: str) -> int:
    """Exact row count from parquet FOOTER metadata — no data scan.

    Used by operators that switch plan shape on input size (e.g.
    SemDeDup's materialize-vs-replay decision, the exact-percentile
    aggregate): the decision must not itself cost a pass over the data.
    """
    import pyarrow.parquet as pq

    target = Path(sf_dir) / f"{name}.parquet"
    files = [target] if target.is_file() else sorted(target.glob("**/*.parquet"))
    return sum(pq.ParquetFile(str(fp)).metadata.num_rows for fp in files)


def load_tables(
    spark: SparkSession, sf_dir: str | Path, names: tuple[str, ...] = TABLE_NAMES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(spark: SparkSession, sf_dir: str | Path) -> None:
    """Register every table as a temp view for the SQL surface."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def spread(df: DataFrame, parts: int | None = None) -> DataFrame:
    """Round-robin repartition to engine parallelism, for CPU-heavy
    NARROW work that runs before any shuffle.

    The test parquet ships each table as ONE file with ONE row group, so
    every scan starts as a single partition.  Most queries don't care —
    their first shuffle re-spreads almost immediately — but a
    driver-loop operator whose per-round cost is map-side (BPE's
    explode+count, Lloyd's distance folds, the Gram outer product, the
    DSIR feature explode) would otherwise run its entire hot loop on one
    core of 32.  At real scale inputs arrive pre-split (thousands of
    files / row groups) and the same call is a cheap rebalance; here it
    costs one tiny corpus shuffle to unlock N-way map parallelism —
    measured 3-8x on the r11 loop operators at sf0.1."""
    spark = df.sparkSession
    n = parts or spark.sparkContext.defaultParallelism
    return df.repartition(n)


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence[Any]], schema: StructType
) -> DataFrame:
    """A DataFrame over rows built on the driver (tuples in ``schema``
    field order, ``None`` for NULL).

    The rows go to the JVM as one Arrow table, which Spark plans as a
    ``LocalRelation`` (``LocalTableScan``).  ``createDataFrame`` on a
    Python list instead pickles the rows into a Python RDD, so every
    job over the frame starts a Python worker: a one-row incident
    append took 0.5-1.2 s that way on a 4-vCPU host, and takes
    0.08-0.2 s from the relation.
    A one-row relation is also one partition, so a write of it makes
    one file.  This is the only ``createDataFrame`` call in the
    package (``tests/test_tooling.py`` keeps it so)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema=schema)
