"""Observability query layer over the incident log.

The reference ships these as a Streamlit app (``/root/reference/app/
dashboard.py:18-76``); the capability is the queries, exposed here as plain
DataFrame functions (I2-I5 in SURVEY.md §2; the I6 point lookup is
``operators.events.q_point_lookup``).  All are single-table scans or
tiny aggregations — trivially scalable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def status_metrics(incidents: DataFrame) -> dict[str, int]:
    """I2: total runs / successes / failures / healed successes
    (reference app/dashboard.py:29-32 — substring containment on status)."""
    row = incidents.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.col("status").contains("success").cast("int")).alias("successes"),
        F.sum(F.col("status").contains("failed").cast("int")).alias("failures"),
        F.sum((F.col("status") == "healed_success").cast("int")).alias("healed"),
    ).collect()[0]
    return {
        "total": int(row["total"] or 0),
        "successes": int(row["successes"] or 0),
        "failures": int(row["failures"] or 0),
        "healed": int(row["healed"] or 0),
    }


def run_history(incidents: DataFrame) -> DataFrame:
    """I3: newest-first run history (reference ``:41``)."""
    return incidents.orderBy(F.desc("run_id"))


def distinct_values(incidents: DataFrame, column: str) -> list[str]:
    """I4: sorted distinct values for filter dropdowns (reference ``:44-45``)."""
    rows = incidents.select(column).distinct().orderBy(column).collect()
    return [r[0] for r in rows if r[0] is not None]


def filter_incidents(
    incidents: DataFrame, stage: str | None = None, status: str | None = None
) -> DataFrame:
    """I5: composable equality filters (reference ``:51-55``)."""
    out = incidents
    if stage is not None:
        out = out.filter(F.col("stage") == stage)
    if status is not None:
        out = out.filter(F.col("status") == status)
    return out
