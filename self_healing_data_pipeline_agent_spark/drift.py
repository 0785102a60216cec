"""Statistical drift detection.

Reference semantics (``/root/reference/src/drift_detector.py``):
- profile = per *numeric* column ``{mean, std}`` over non-null values
  (``:16-26``); sample stddev with an n<=1 guard returning 0.0, not NULL
  (``:24``) — on Spark that is ``coalesce(stddev_samp(c), 0.0)``.
- first run bootstraps the profile file, ``mode="baseline_created"``, no
  comparison (``:40-47``).
- subsequent runs compare means:
  ``abs(cur - base) / abs(base) > mean_relative_tolerance`` -> drifted;
  columns with ``base mean == 0`` are skipped (zero-guard ``:64-65``), and
  columns new in the current profile are skipped (``:57-59``).
- drift never fails the run — it only reports (``:82-87``).

Spark-first restructuring: the reference profiles one pandas pass per column;
here the profile costs no Spark job at all — the warehouse write observes
every numeric column's mean and stddev on the rows it writes
(``etl.write_warehouse``), and the profile is read off that dict.  The
comparison itself is tiny scalar math in Python; at 100 TB the profiles
stay tiny (one row per column) so this never becomes data-sized.
"""

from __future__ import annotations

import json
from pathlib import Path
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from .contract import Contract
from .sources.tables import local_frame


def build_profile(stats: dict[str, Any]) -> dict[str, Any]:
    """Per numeric column ``{mean, std}`` over non-nulls, from the
    statistics the warehouse write observed.

    Columns that are entirely null/empty are skipped (reference ``:20-22``
    skips after dropna leaves nothing).  stddev of a single value is 0.0.
    """
    return {
        "columns": {
            c: {"mean": float(mean), "std": float(stats["stds"][c])}
            for c, mean in stats["means"].items()
            if mean is not None  # all-null column -> no profile entry
        }
    }


def load_profile(path: str | Path) -> dict[str, Any] | None:
    p = Path(path)
    if not p.exists():
        return None
    with open(p) as f:
        return json.load(f)


def save_profile(profile: dict[str, Any], path: str | Path) -> None:
    p = Path(path)
    p.parent.mkdir(parents=True, exist_ok=True)
    with open(p, "w") as f:
        json.dump(profile, f, indent=2)


def compare_profiles(
    baseline: dict[str, Any], current: dict[str, Any], tolerance: float
) -> dict[str, Any]:
    """Mean-relative drift compare (reference src/drift_detector.py:57-80)."""
    drifted: list[str] = []
    details: dict[str, Any] = {}
    base_cols = baseline.get("columns", {})
    for col, cur in current.get("columns", {}).items():
        if col not in base_cols:  # new-in-current: skipped (:58-59)
            continue
        base_mean = base_cols[col]["mean"]
        cur_mean = cur["mean"]
        if base_mean == 0:  # zero-guard (:64-65)
            continue
        rel = abs(cur_mean - base_mean) / abs(base_mean)
        details[col] = {
            "baseline_mean": base_mean,
            "current_mean": cur_mean,
            "relative_change": rel,
        }
        if rel > tolerance:
            drifted.append(col)
    return {"mode": "compared", "drifted_columns": drifted, "details": details}


def detect_and_update_drift(
    stats: dict[str, Any], contract: Contract, base_dir: str | Path
) -> dict[str, Any]:
    """Bootstrap-or-compare control flow (reference ``:29-87``) over the
    statistics the warehouse write observed.

    Never raises; always returns a drift report dict.
    """
    profile_path = Path(base_dir) / contract.drift_profile_path
    current = build_profile(stats)
    baseline = load_profile(profile_path)
    if baseline is None:
        save_profile(current, profile_path)
        return {"mode": "baseline_created", "drifted_columns": [], "details": {}}
    return compare_profiles(baseline, current, contract.mean_relative_tolerance)


# --- profile history (the at-scale profile store) ---------------------------

PROFILE_HISTORY_SCHEMA = StructType(
    [
        StructField("run_id", StringType(), True),
        StructField("column", StringType(), True),
        StructField("mean", DoubleType(), True),
        StructField("std", DoubleType(), True),
    ]
)


def profile_to_df(spark, profile: dict[str, Any], run_id: str) -> DataFrame:
    """One row per (run_id, column): the tabular form of a profile.  At
    100 TB the JSON file becomes this append-mode table — profiles from
    every run/partition live side by side and drift queries are joins
    (see ``operators.relational.q_drift_compare`` for the query shape)."""
    rows = [
        (run_id, col, float(stats["mean"]), float(stats["std"]))
        for col, stats in profile.get("columns", {}).items()
    ]
    return local_frame(spark, rows, PROFILE_HISTORY_SCHEMA)


def append_profile_history(
    spark, profile: dict[str, Any], run_id: str, base_dir: str | Path
) -> str:
    """Append this run's profile to the history table (parquet,
    append-mode — an O(1) write like the incident log, not the
    read-rewrite cycle the reference's JSON file implies)."""
    out = str(Path(base_dir) / "data" / "metadata" / "profile_history")
    profile_to_df(spark, profile, run_id).write.mode("append").parquet(out)
    return out


def drift_between_runs(
    spark, base_dir: str | Path, base_run: str, cur_run: str, tolerance: float
) -> DataFrame:
    """Distributed D3: drift between two recorded runs as a join over the
    history table — per-column relative mean change + drifted flag, with
    the reference's base_mean == 0 guard.  Works unchanged when the
    'profile' has millions of rows (per-group profiling)."""
    path = str(Path(base_dir) / "data" / "metadata" / "profile_history")
    hist = spark.read.parquet(path)
    base = hist.filter(F.col("run_id") == base_run).select(
        "column", F.col("mean").alias("base_mean")
    )
    cur = hist.filter(F.col("run_id") == cur_run).select(
        "column", F.col("mean").alias("cur_mean")
    )
    rel = F.abs(F.col("cur_mean") - F.col("base_mean")) / F.abs(F.col("base_mean"))
    return (
        base.join(cur, "column")
        .filter(F.col("base_mean") != 0.0)
        .select(
            "column", "base_mean", "cur_mean",
            rel.alias("relative_change"),
            (rel > F.lit(tolerance)).alias("drifted"),
        )
    )
