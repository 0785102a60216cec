"""Run isolation, the Spark session, provenance and small statistics.

Every run gets private directories under ``.perfbench_tmp/`` in the
checkout, so no run can serve another run's index-store artifacts,
warehouse tables or Spark scratch files.  The environment is set before
the product package is imported: ``session.py`` reads
``SPARK_GRAFT_CPUS`` at import time, and Spark's Python workers import
the package through ``PYTHONPATH``.
"""

from __future__ import annotations

import math
import os
import platform
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path
from statistics import median

REPO = Path(__file__).resolve().parents[1]
PACKAGE = "self_healing_data_pipeline_agent_spark"


def host_ram_gb() -> float:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30


class Run:
    """One benchmark process: private directories, environment, session."""

    def __init__(self, cores: int, heap_gb: int) -> None:
        self.cores = cores
        self.heap = f"{heap_gb}g"
        self.dir = REPO / ".perfbench_tmp" / f"run-{os.getpid()}"
        shutil.rmtree(self.dir, ignore_errors=True)
        for sub in ("index", "warehouse", "local", "tmp", "work"):
            (self.dir / sub).mkdir(parents=True)
        self.work = self.dir / "work"
        os.environ.update(
            SPARK_GRAFT_INDEX_DIR=str(self.dir / "index"),
            SPARK_LOCAL_DIRS=str(self.dir / "local"),
            SPARK_GRAFT_CPUS=str(cores),
            SPARK_DRIVER_MEMORY=self.heap,
            TMPDIR=str(self.dir / "tmp"),
            PYTHONPATH=os.pathsep.join(
                p for p in (str(REPO), os.environ.get("PYTHONPATH")) if p
            ),
        )
        tempfile.tempdir = None  # re-read TMPDIR
        if str(REPO) not in sys.path:
            sys.path.insert(0, str(REPO))
        self.spark = None

    def start_spark(self, trace: bool):
        from self_healing_data_pipeline_agent_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": str(self.dir / "warehouse"),
            # a fixed-size heap: resident memory then does not depend on
            # when the collector chose to grow the heap
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.dir / 'tmp'} -Xms{self.heap}",
            "spark.ui.showConsoleProgress": "false",
        }
        if trace:
            # keep every job and stage of a pass in the status store
            conf["spark.ui.retainedJobs"] = "100000"
            conf["spark.ui.retainedStages"] = "100000"
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def close(self) -> None:
        """Stop Spark, end the JVM and wait for it, remove the run dir."""
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gateway = SparkContext._gateway
            proc = getattr(gateway, "proc", None)
            if gateway is not None:
                gateway.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the JVM exits on EOF of its stdin
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            self.spark = None
        shutil.rmtree(self.dir, ignore_errors=True)


def provenance(run: Run, seed: int, steal: float) -> dict:
    import duckdb
    import pyspark

    return {
        "host_nproc": os.cpu_count(),
        "cores_used": run.cores,
        "heap": run.heap,
        "host_ram_gb": round(host_ram_gb(), 1),
        "seed": seed,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "steal_s": round(steal, 3),
    }


def tail(xs: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples above it, as
    ``(percentile, value)``; the median when there are fewer than 20."""
    n = len(xs)
    if n < 20:
        return 50.0, median(xs)
    s = sorted(xs)
    idx = n - 11  # ten samples lie strictly above s[idx]
    return round(100.0 * (idx + 1) / n, 1), s[idx]


def metric(value: float, unit: str) -> dict:
    if not math.isfinite(value):
        raise ValueError(f"non-finite metric value {value!r}")
    return {"value": value, "unit": unit}
