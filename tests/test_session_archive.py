"""The driver JVM's class-data archive (``session.get_spark``).

Each subprocess test runs fresh Python processes against its own
``XDG_CACHE_HOME``, so it starts from an empty archive cache and never
touches the user's.  A child prints one JSON line: a query's result, the
JVM options and ``SPARK_CONF_DIR`` the session saw, the JVM's pid and the
archives in the JVM's memory map.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

from self_healing_data_pipeline_agent_spark.session import (
    _archive_launch,
    _heap_bytes,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = """
import json, os
from pyspark import SparkContext
from self_healing_data_pipeline_agent_spark.session import get_spark
spark = get_spark(app_name="archive-probe", master="local[1]", shuffle_partitions=1)
pid = SparkContext._gateway.proc.pid
with open(f"/proc/{pid}/maps") as f:
    maps = f.read()
print(json.dumps({
    "sum": spark.range(5).selectExpr("sum(id) AS s").collect()[0].s,
    "opts": spark.sparkContext.getConf().get("spark.driver.defaultJavaOptions", None),
    "conf_dir": os.environ.get("SPARK_CONF_DIR"),
    "probe": spark.sparkContext.getConf().get("spark.graft.probe", None),
    "jvm": pid,
    "mapped": sorted({ln.split(maxsplit=5)[-1] for ln in maps.splitlines()
                      if ln.endswith(".jsa")}),
}))
"""


def _run(cache, **env):
    child_env = {
        k: v for k, v in os.environ.items()
        if k not in ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR",
                     "SPARK_DIST_CLASSPATH", "PYSPARK_GATEWAY_PORT")
    }
    child_env.update(
        XDG_CACHE_HOME=str(cache), SPARK_DRIVER_MEMORY="1g",
        PYTHONPATH=os.pathsep.join(
            p for p in (REPO, os.environ.get("PYTHONPATH")) if p),
        **env,
    )
    out = subprocess.run(
        [sys.executable, "-c", CHILD], env=child_env, cwd=REPO,
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=600, check=True,
    ).stdout
    # No JVM log line (a dump once printed ~1,000 CDS warnings) may reach
    # stdout: the child's JSON line is all there is.
    lines = out.splitlines()
    assert len(lines) == 1, out[:2000]
    got = json.loads(lines[0])
    assert got["sum"] == 10
    return got


def _archives(cache):
    return glob.glob(os.path.join(str(cache), "spark-graft", "cds", "*.jsa"))


def _replace(path, data):
    with open(path + ".new", "wb") as f:
        f.write(data)
    os.replace(path + ".new", path)


def _assert_one_whole_archive(cache):
    (path,) = _archives(cache)
    assert os.path.getsize(path) == int(path[:-len(".jsa")].rsplit("-", 1)[1])
    assert not glob.glob(os.path.join(str(cache), "spark-graft", "cds", "*.tmp"))
    return path


def test_first_process_writes_the_archive_and_the_next_maps_it(tmp_path):
    first = _run(tmp_path)
    assert "-XX:ArchiveClassesAtExit=" in first["opts"]
    # The exit hook waited for the dumping JVM: it is gone, and the file
    # is in place under its byte count.
    assert not os.path.exists(f"/proc/{first['jvm']}")
    path = _assert_one_whole_archive(tmp_path)

    second = _run(tmp_path)
    assert f'-XX:SharedArchiveFile="{path}"' in second["opts"]
    assert path in second["mapped"]
    assert second["conf_dir"] is None  # the launch's SPARK_CONF_DIR is undone

    # A truncated archive (mapping one crashes the JVM with SIGBUS) and a
    # garbage one of the recorded size are both rebuilt, not mapped.  Each
    # is written beside the archive and renamed over it: the last JVM may
    # still be exiting with the old file mapped.
    with open(path, "rb") as f:
        _replace(path, f.read(os.path.getsize(path) // 2))
    truncated = _run(tmp_path)
    assert "-XX:ArchiveClassesAtExit=" in truncated["opts"]
    assert path not in truncated["mapped"]
    path = _assert_one_whole_archive(tmp_path)

    with open(path, "rb") as f:
        f.seek(4096)
        _replace(path, os.urandom(4096) + f.read())
    garbage = _run(tmp_path)
    assert "-XX:ArchiveClassesAtExit=" in garbage["opts"]
    assert path not in garbage["mapped"]
    path = _assert_one_whole_archive(tmp_path)
    assert path in _run(tmp_path)["mapped"]


def test_a_real_conf_dir_launches_the_jvm_as_before(tmp_path):
    """A conf dir on the class path with a file in it makes the JVM reject
    any archive, so the launch keeps it and adds no archive flag."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.graft.probe  read\n")
    got = _run(tmp_path / "cache", SPARK_CONF_DIR=str(conf))
    assert got["opts"] is None
    assert got["conf_dir"] == str(conf)
    assert got["probe"] == "read"  # the JVM read this conf dir
    assert not _archives(tmp_path / "cache")


def test_a_running_jvm_is_left_alone(spark):
    """Only the session that launches the JVM can choose its flags."""
    assert _archive_launch("1g") is None


def test_heap_sizes_and_the_compressed_oops_cut():
    assert _heap_bytes("31g") < 32 << 30 <= _heap_bytes("32g")
    assert _heap_bytes("4096") == _heap_bytes("4g") == _heap_bytes("4GB") == 4 << 30
    assert _heap_bytes("512m") == 512 << 20
    assert _heap_bytes("lots") is None
