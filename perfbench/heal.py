"""The ``heal_cycle`` workload: the 4-stage self-healing cycle
(``runner.run_demo`` with the streaming monitor) followed by the dashboard
counters, on a seeded customer CSV built from the testdata ``customer``
table.

Each cycle runs in a fresh workspace (contract YAML, warehouse, incident
log, drift profile), so every cycle does the same work.  The inputs and
the values every cycle must reproduce are computed here, by the
generator, independently of the pipeline.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.dataset as pads
import pyarrow.parquet as pq
import yaml

EXPECTED_STAGES = [
    ("baseline", "success"),
    ("drifted", "failed"),
    ("healing", "healing_actions_applied"),
    ("post_healing", "healed_success"),
]
EXPECTED_COUNTS = {"success": 1, "failed": 1, "healing_actions_applied": 1, "healed_success": 1}
EXPECTED_DASHBOARD = {"total": 4, "successes": 2, "failures": 1, "healed": 1}
AGE_TOLERANCE = 0.2  # the contract's max_null_fraction for age before healing
BAD_AGE_TOKENS = np.array(["unknown", "n/a", "thirty", "?"])
REL_TOL = 1e-9


def contract_yaml(clean: Path) -> dict:
    return {
        "table_name": "customers",
        "source_path": str(clean),
        "warehouse_path": "data/warehouse",
        "columns": {
            "customer_id": {"type": "int", "required": True},
            "name": {"type": "string", "required": True},
            "age": {"type": "int", "required": False, "max_null_fraction": AGE_TOLERANCE},
            "country": {"type": "string", "required": False},
            "acctbal": {"type": "float", "required": False},
            "segment": {"type": "string", "required": False},
        },
        "quality": {"row_count_min": 3},
        "drift": {
            "profile_path": "data/metadata/reference_profile.json",
            "mean_relative_tolerance": 0.5,
        },
    }


@dataclass
class Inputs:
    clean: Path
    broken: Path
    rows: int
    healed_age_tolerance: float
    profile: dict[str, tuple[float, float]]  # column -> (mean, sample std)


def generate(data_dir: Path, out_dir: Path, seed: int, copies: int) -> Inputs:
    """Tile the testdata customers ``copies`` times with seeded ages; the
    broken variant blanks or garbles a seeded share of ``age``."""
    rng = np.random.default_rng(seed)
    cust = pq.read_table(
        data_dir / "customer.parquet",
        columns=["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    )
    nations = pq.read_table(data_dir / "nation.parquet", columns=["n_nationkey", "n_name"])
    nation_name = dict(zip(nations["n_nationkey"].to_pylist(), nations["n_name"].to_pylist()))
    base = cust.num_rows
    n = base * copies
    idx = pa.array(np.tile(np.arange(base), copies))
    keys = cust["c_custkey"].to_numpy()
    stride = int(keys.max()) + 1  # copy i shifts every key by i * stride
    customer_id = (np.repeat(np.arange(copies, dtype=np.int64) * stride, base)
                   + np.tile(keys, copies))
    country = pa.array([nation_name[k] for k in cust["c_nationkey"].to_pylist()])
    age = rng.integers(18, 90, n)
    acctbal = np.tile(cust["c_acctbal"].to_numpy(), copies)
    columns = {
        "customer_id": customer_id,
        "name": cust["c_name"].take(idx),
        "age": age,
        "country": country.take(idx),
        "acctbal": acctbal,
        "segment": cust["c_mktsegment"].take(idx),
    }
    out_dir.mkdir(parents=True, exist_ok=True)
    clean = out_dir / "customers_clean.csv"
    pacsv.write_csv(pa.table(columns), clean)

    n_bad = int(round(rng.uniform(0.3, 0.45) * n))
    bad = rng.choice(n, n_bad, replace=False)
    age_text = age.astype(str).astype(object)
    age_text[bad[: n_bad // 2]] = None
    age_text[bad[n_bad // 2:]] = rng.choice(BAD_AGE_TOKENS, n_bad - n_bad // 2)
    broken = out_dir / "customers_broken.csv"
    pacsv.write_csv(pa.table({**columns, "age": pa.array(age_text, pa.string())}), broken)

    observed = n_bad / n  # the DQ layer's avg(isNull) is this same division
    healed = min(0.8, max(AGE_TOLERANCE + 0.2, observed + 0.05))
    profile = {
        name: (float(np.mean(col)), float(np.std(col, ddof=1)))
        for name, col in (("customer_id", customer_id), ("age", age), ("acctbal", acctbal))
    }
    return Inputs(clean, broken, n, healed, profile)


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(abs(a), abs(b), 1e-300)


def incident_mtimes(ws: Path) -> dict[str, int]:
    """stage -> mtime (ns) of the incident file that stage appended."""
    out = {}
    for f in (ws / "data" / "metadata" / "incidents").glob("*.parquet"):
        for stage in pq.read_table(f, columns=["stage"])["stage"].to_pylist():
            out[stage] = f.stat().st_mtime_ns
    return out


def check(ws: Path, inputs: Inputs, outcomes: list[dict], dash: dict) -> list[str]:
    """Every mismatch against the generator's values, as messages."""
    problems = []
    stages = [(o["stage"], o["status"]) for o in outcomes[:4]]
    if stages != EXPECTED_STAGES:
        problems.append(f"stages {stages}")
    counts = outcomes[4].get("incident_counts") if len(outcomes) > 4 else None
    if counts != EXPECTED_COUNTS:
        problems.append(f"streaming counts {counts}")
    if dash != EXPECTED_DASHBOARD:
        problems.append(f"dashboard {dash}")
    contract = yaml.safe_load((ws / "config" / "pipeline_config.yml").read_text())
    tol = contract["columns"]["age"].get("max_null_fraction")
    if tol != inputs.healed_age_tolerance:
        problems.append(f"healed age.max_null_fraction {tol} != {inputs.healed_age_tolerance}")
    profile_path = ws / "data" / "metadata" / "reference_profile.json"
    profile = json.loads(profile_path.read_text())["columns"] if profile_path.exists() else {}
    for col, (mean, std) in inputs.profile.items():
        got = profile.get(col)
        if got is None or not (_close(got["mean"], mean) and _close(got["std"], std)):
            problems.append(f"profile {col} {got} != mean {mean} std {std}")
    wh = ws / "data" / "warehouse" / "customers"
    rows = pads.dataset(wh, format="parquet").count_rows() if wh.exists() else -1
    if rows != inputs.rows:
        problems.append(f"warehouse rows {rows} != {inputs.rows}")
    return problems


class HealCycle:
    """Runs and checks cycles; records one sample per cycle."""

    def __init__(self, spark, work: Path, inputs: Inputs) -> None:
        self.spark = spark
        self.work = work
        self.inputs = inputs
        self.count = 0

    def workspace(self) -> tuple[Path, Path]:
        self.count += 1
        ws = self.work / f"cycle-{self.count}"
        (ws / "config").mkdir(parents=True)
        cfg = ws / "config" / "pipeline_config.yml"
        cfg.write_text(yaml.safe_dump(contract_yaml(self.inputs.clean), sort_keys=False))
        return ws, cfg

    def run(self, tracer) -> dict:
        """One timed cycle; returns its sample (walls, outcome checks)."""
        from self_healing_data_pipeline_agent_spark import dashboard, incidents, runner

        ws, cfg = self.workspace()
        t0 = time.perf_counter()
        with tracer.span("pass"):
            with tracer.span("runner"):
                outcomes = runner.run_demo(
                    self.spark, ws, cfg,
                    clean_source=str(self.inputs.clean),
                    broken_source=str(self.inputs.broken),
                    streaming_monitor=True,
                )
            with tracer.span("dashboard"):
                dash = dashboard.status_metrics(incidents.load_incidents(self.spark, ws))
        wall = time.perf_counter() - t0
        problems = check(ws, self.inputs, outcomes, dash)
        mtimes = incident_mtimes(ws)
        recover = 0.0
        if {"baseline", "post_healing"} <= mtimes.keys():
            recover = (mtimes["post_healing"] - mtimes["baseline"]) / 1e9
        else:
            problems.append(f"incident log stages {sorted(mtimes)}")
        files = len(list((ws / "data" / "metadata" / "incidents").glob("*.parquet")))
        return {"wall": wall, "recover": recover, "problems": problems,
                "incident_files": files, "workspace": ws}
