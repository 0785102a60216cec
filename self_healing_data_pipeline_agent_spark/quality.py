"""Data-quality rule engine.

Reference semantics (``/root/reference/src/data_quality_checks.py:16-89``):
row-count minimum, missing declared columns, required-column nulls, and
per-column max-null-fraction, producing a report
``{row_count, null_fractions, failed_checks[]}`` and raising
``DataQualityError(report)`` if anything failed.

The statistics (row count + every null fraction) are not computed here:
the warehouse write observes them on the rows it writes
(``etl.write_warehouse``), so the DQ gate costs no Spark job.  Rule
evaluation is scalar math in Python over that one dict.
"""

from __future__ import annotations

from typing import Any

from .contract import Contract
from .errors import DataQualityError


def run_data_quality(stats: dict[str, Any], contract: Contract) -> dict[str, Any]:
    """Evaluate all DQ rules over the statistics the warehouse write
    observed; returns the report dict (never raises)."""
    n, null_fractions = stats["row_count"], stats["null_fractions"]
    failed: list[dict[str, Any]] = []

    # Q1 min-row-count (reference :34-38)
    if n < contract.row_count_min:
        failed.append(
            {
                "check": "row_count",
                "column": None,
                "observed": n,
                "threshold": contract.row_count_min,
                "message": f"row count {n} below minimum {contract.row_count_min}",
            }
        )

    for name, spec in contract.columns.items():
        # Q2 missing declared column (reference :42-45)
        if name not in null_fractions:
            failed.append(
                {
                    "check": "missing_column",
                    "column": name,
                    "observed": None,
                    "threshold": None,
                    "message": f"declared column {name!r} missing from data",
                }
            )
            continue
        frac = null_fractions[name]
        # Q3 required column must have zero nulls (reference :51-59)
        if spec.required and frac > 0:
            failed.append(
                {
                    "check": "required_nulls",
                    "column": name,
                    "observed": frac,
                    "threshold": 0.0,
                    "message": f"required column {name!r} has null fraction {frac:.4f}",
                }
            )
        # Q4 max-null-fraction tolerance (reference :61-71)
        if spec.max_null_fraction is not None and frac > spec.max_null_fraction:
            failed.append(
                {
                    "check": "max_null_fraction",
                    "column": name,
                    "observed": frac,
                    "threshold": spec.max_null_fraction,
                    "message": (
                        f"column {name!r} null fraction {frac:.4f} exceeds "
                        f"tolerance {spec.max_null_fraction}"
                    ),
                }
            )

    return {
        "row_count": n,
        "null_fractions": null_fractions,
        "failed_checks": failed,
        "passed": not failed,
    }


def enforce_data_quality(stats: dict[str, Any], contract: Contract) -> dict[str, Any]:
    """Q5 fail-fast gate: raise DataQualityError carrying the report when any
    check failed (reference :85-89); return the report otherwise."""
    report = run_data_quality(stats, contract)
    if report["failed_checks"]:
        raise DataQualityError(report)
    return report
