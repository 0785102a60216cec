"""Spark's Python daemon with zip directories kept across tasks
(``worker_daemon``, pinned by ``session.get_spark``)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import uuid
import zipfile

import pytest
from pyspark import SparkContext

from self_healing_data_pipeline_agent_spark import session
from self_healing_data_pipeline_agent_spark.worker_daemon import StampedZipImporter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, value in modules.items():
            z.writestr(f"{name}.py", f"VALUE = {value!r}\n")


def test_hook_reads_a_zip_again_only_when_it_changes(tmp_path):
    """In a plain interpreter: an unchanged zip keeps its directory object
    through ``invalidate_caches()``, a rewritten one shows its new module,
    and a zip put on ``sys.path`` later is importable."""
    first, later = tmp_path / "first.zip", tmp_path / "later.zip"
    _write_zip(first, {"zmod_a": 1})
    script = textwrap.dedent(f"""
        import importlib, json, sys, zipfile
        from self_healing_data_pipeline_agent_spark import worker_daemon
        worker_daemon.install()
        sys.path.insert(0, {str(first)!r})
        import zmod_a
        finder = sys.path_importer_cache[{str(first)!r}]
        files = finder._files
        importlib.invalidate_caches()
        kept = finder._files is files
        with zipfile.ZipFile({str(first)!r}, "w") as z:
            z.writestr("zmod_a.py", "VALUE = 1\\n")
            z.writestr("zmod_b.py", "VALUE = 2\\n")
        importlib.invalidate_caches()
        import zmod_b
        with zipfile.ZipFile({str(later)!r}, "w") as z:
            z.writestr("zmod_c.py", "VALUE = 3\\n")
        sys.path.insert(0, {str(later)!r})
        import zmod_c
        print(json.dumps({{
            "finder": type(finder).__name__, "kept": kept,
            "values": [zmod_a.VALUE, zmod_b.VALUE, zmod_c.VALUE],
        }}))
    """)
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=REPO, capture_output=True,
        text=True, timeout=60, check=True,
    ).stdout
    assert json.loads(out) == {
        "finder": "StampedZipImporter", "kept": True, "values": [1, 2, 3],
    }


def test_package_import_condition(tmp_path, monkeypatch):
    """Before the JVM starts, this process's cwd and ``PYTHONPATH`` are
    what the daemon will inherit."""
    monkeypatch.setattr(SparkContext, "_jvm", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.delenv("PYTHONSAFEPATH", raising=False)
    monkeypatch.setenv("PYTHONPATH", "")
    monkeypatch.chdir(REPO)
    assert session._daemon_can_import_package("local[4]")
    assert session._daemon_can_import_package("local")
    # Executors start their daemons in their own cwd and environment.
    assert not session._daemon_can_import_package("local-cluster[2,1,1024]")
    assert not session._daemon_can_import_package("spark://host:7077")
    monkeypatch.setenv("PYTHONSAFEPATH", "1")  # `python -m` adds no cwd entry
    assert not session._daemon_can_import_package("local[4]")
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), REPO + "/"]))
    assert session._daemon_can_import_package("local[4]")
    monkeypatch.delenv("PYTHONSAFEPATH")
    monkeypatch.setenv("PYTHONPATH", str(tmp_path))
    monkeypatch.chdir(tmp_path)
    assert not session._daemon_can_import_package("local[4]")
    monkeypatch.setenv("PYTHONPATH", os.path.relpath(REPO))
    assert session._daemon_can_import_package("local[4]")
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")  # a JVM started elsewhere
    assert not session._daemon_can_import_package("local[4]")


def test_package_import_condition_reads_a_running_jvm(spark, tmp_path, monkeypatch):
    """Once the JVM runs, a new context's daemon inherits the JVM's cwd
    and environment, not this process's: this process is set up to give
    the opposite answer."""
    system = SparkContext._jvm.java.lang.System
    jvm_dirs = [system.getProperty("user.dir"),
                *(system.getenv("PYTHONPATH") or "").split(os.pathsep)]
    expected = os.path.realpath(REPO) in {os.path.realpath(d) for d in jvm_dirs if d}
    monkeypatch.chdir(tmp_path if expected else REPO)
    monkeypatch.setenv("PYTHONPATH", str(tmp_path) if expected else REPO)
    assert session._daemon_can_import_package("local[4]") == expected


def test_python_tasks_keep_pyspark_zip_directory(spark):
    if not session._daemon_can_import_package(spark.sparkContext.master):
        pytest.skip("the session's daemon cannot import the package from here")
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == session._DAEMON_MODULE

    def zip_finders(_):
        """The task's importers cached for pyspark.zip, and whether
        ``invalidate_caches()`` kept their directory objects."""
        import importlib
        import sys

        finders = [f for k, f in sys.path_importer_cache.items()
                   if "pyspark.zip" in k and f is not None]
        files = [f._files for f in finders]
        importlib.invalidate_caches()
        yield {
            "types": sorted({type(f).__name__ for f in finders}),
            "count": len(finders),
            "kept": all(f._files is d for f, d in zip(finders, files)),
        }

    got = spark.sparkContext.parallelize(range(4), 2).mapPartitions(zip_finders).collect()
    for task in got:
        assert task["types"] == [StampedZipImporter.__name__]
        assert task["count"] > 0 and task["kept"]


def test_a_zip_added_after_workers_start_is_importable(spark, tmp_path):
    sc = spark.sparkContext
    assert sc.parallelize(range(4), 2).map(lambda x: x + 1).sum() == 10
    name = f"graft_added_{uuid.uuid4().hex}"
    path = tmp_path / f"{name}.zip"
    _write_zip(path, {name: 42})
    sc.addPyFile(str(path))

    def read(_):
        import importlib

        yield importlib.import_module(name).VALUE

    assert sc.parallelize(range(4), 2).mapPartitions(read).collect() == [42, 42]


CHILD = """
import json, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from self_healing_data_pipeline_agent_spark.session import get_spark
spark = get_spark(app_name="daemon-fallback", master="local[1]", shuffle_partitions=1)
square = F.udf(lambda x: x * x, "long")
print(json.dumps({{
    "daemon": spark.sparkContext.getConf().get("spark.python.daemon.module", None),
    "udf": [r.s for r in spark.range(4).select(square("id").alias("s")).collect()],
}}))
"""


def test_a_package_only_on_sys_path_keeps_sparks_daemon(tmp_path):
    """A process that imports the package through ``sys.path`` alone
    (neither its cwd nor ``PYTHONPATH`` holds the package's parent) gets
    Spark's own daemon, which could not import the package at start."""
    # A conf dir with a real file skips the class-data archive, so the
    # child's JVM does not dump one at exit.
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.graft.probe  read\n")
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH", "PYSPARK_GATEWAY_PORT")}
    env.update(XDG_CACHE_HOME=str(tmp_path / "cache"), SPARK_CONF_DIR=str(conf),
               SPARK_DRIVER_MEMORY="1g")
    work = tmp_path / "work"
    work.mkdir()
    out = subprocess.run(
        [sys.executable, "-c", CHILD.format(repo=REPO)], env=env, cwd=work,
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=600, check=True,
    ).stdout
    assert json.loads(out.splitlines()[-1]) == {"daemon": None, "udf": [0, 1, 4, 9]}
