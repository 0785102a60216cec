"""SparkSession factory with scale-appropriate defaults.

Local tests run on ``local[N]``; the same settings are what we would ship to
a 1000-executor cluster: AQE on (runtime re-planning, skew-join handling,
partition coalescing), Arrow enabled for the few pandas-UDF paths, and a
shuffle-partition count that AQE is free to shrink.  The generated-class
cache is pinned above every measured working set, so warm passes reuse
compiled classes instead of re-running janino and the JIT on each one.

Python tasks run under this package's daemon, ``worker_daemon``, pinned
as ``spark.python.daemon.module`` (static, like the codegen cache).
Spark calls ``importlib.invalidate_caches()`` on every Python task, and
on CPython 3.11 each of a worker's 14 zipimporters then re-reads the
1,328-entry directory of ``pyspark.zip``: 70-145 ms of CPU per task on
a 4-vCPU host, before the task's code runs.  The daemon's importers
re-read a zip only when the file changed.  The conf is set only when the
daemon can import this package at start: on a ``local`` master, when
the package's parent directory is the JVM's working directory (the
daemon inherits it, and ``python -m`` puts it first on the path) or an
entry of its ``PYTHONPATH``.  A JVM not yet running inherits both from
this process.  A package that only ``sys.path`` or ``addPyFile`` makes
importable, and every cluster master, keeps Spark's own daemon: a daemon
that cannot import its module fails every Python UDF.

The driver JVM starts from a class-data archive (JDK AppCDS, the dynamic
archive of JEP 350): a new process maps Spark's classes from one file
instead of loading and verifying them from the jars again, which cuts
session start on a 4-vCPU host from 3.1-3.7 s to 1.8-2.2 s.

- **Where.** ``$XDG_CACHE_HOME/spark-graft/cds/`` (``~/.cache`` when the
  variable is unset).  The file name is a digest of what the JVM checks
  before it maps an archive (the JDK build, the Spark jars' paths, sizes
  and mtimes, the compressed-oops mode of the heap) plus the archive's
  byte count, so a changed input gives a new archive and a truncated
  file, which would crash the JVM with SIGBUS, is never mapped.
- **Who writes it.** The first process per host, JDK and Spark build
  starts the JVM with ``-XX:ArchiveClassesAtExit``; its setup is about
  1-3 s slower, and at exit it waits about 9 s while the JVM writes
  100-180 MB (every class the process loaded).  An exit hook ends the JVM, waits for it and renames the
  finished file into place.  Deleting the directory forces a rebuild.
- **When.** Only for the session that launches the JVM, and only when
  the launcher's class path is the Spark jars alone: the launcher puts
  the conf dir (``$SPARK_CONF_DIR``, default ``$SPARK_HOME/conf``) on it,
  and the JVM neither writes nor maps an archive beside a non-empty
  directory there.  A conf dir that holds nothing but ``*.template``
  files, or does not exist, is swapped for an empty one for the launch.
  Any other file there, or a set ``HADOOP_CONF_DIR``, ``YARN_CONF_DIR``
  or ``SPARK_DIST_CLASSPATH``, and the JVM starts as Spark starts it.
- **Not covered.** On a cluster the executors are separate JVMs.
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
from dataclasses import dataclass

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
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
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    # 31g, not 32g: from 32g up the JVM turns compressed oops off, so
    # every reference takes 8 bytes and the class archive needs a second
    # copy.
    heap = os.environ.get("SPARK_DRIVER_MEMORY", "31g")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
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
        .config("spark.driver.memory", heap)
    )
    # Python workers that keep zip directories across tasks (module docstring).
    if _daemon_can_import_package(master):
        builder = builder.config("spark.python.daemon.module", _DAEMON_MODULE)
    extra_conf = extra_conf or {}
    launch = _archive_launch(extra_conf.get("spark.driver.memory", heap))
    if launch is not None:
        builder = builder.config("spark.driver.defaultJavaOptions", launch.java_opts)
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    if launch is None:
        return builder.getOrCreate()
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = launch.conf_dir
    try:
        spark = builder.getOrCreate()
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    if launch.dump_to is not None:
        atexit.register(
            _finish_dump, SparkContext._gateway.proc, launch.dump_to,
            launch.prefix, os.getpid(),
        )
    return spark


_DAEMON_MODULE = f"{__package__}.worker_daemon"


def _daemon_can_import_package(master: str) -> bool:
    """Whether the Python daemon a local session starts can import this
    package before any task ships files: its parent directory is the
    JVM's working directory (the daemon inherits it, and ``python -m``
    puts it first on the path) or an entry of the JVM's ``PYTHONPATH``.
    A JVM that is not running yet inherits both from this process."""
    if not re.fullmatch(r"local(\[[^\]]*\])?", master):
        return False  # executors start daemons in their own cwd and env
    if SparkContext._jvm is not None:
        system = SparkContext._jvm.java.lang.System
        cwd, getenv = system.getProperty("user.dir"), system.getenv
    elif "PYSPARK_GATEWAY_PORT" in os.environ:
        return False  # a JVM started elsewhere, with a cwd not seen here
    else:
        cwd, getenv = os.getcwd(), os.environ.get
    dirs = [d for d in (getenv("PYTHONPATH") or "").split(os.pathsep) if d]
    if not getenv("PYTHONSAFEPATH"):  # else -m adds no cwd entry
        dirs.append(cwd)
    parent = os.path.realpath(os.path.dirname(os.path.dirname(__file__)))
    return any(os.path.realpath(os.path.join(cwd, d)) == parent for d in dirs)


# Every archive launch silences CDS logging: the JVM writes it to stdout,
# where a dump printed ~1,000 warning lines.
_CDS_QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"
# The first bytes of a dynamic archive (HotSpot's CDS_DYNAMIC_ARCHIVE_MAGIC).
_DYNAMIC_MAGIC = (0xF00BABA8).to_bytes(4, sys.byteorder)
# The exit hook's bound on the dumping JVM (a dump takes about 9 s).
_DUMP_WAIT_S = 120


@dataclass(frozen=True)
class _ArchiveLaunch:
    java_opts: str  # spark.driver.defaultJavaOptions for the launch
    conf_dir: str  # SPARK_CONF_DIR for the launch: an empty directory
    prefix: str  # archive path up to "-<bytes>.jsa"
    dump_to: str | None  # temp file the exiting JVM writes; None: map one


def _heap_bytes(spec: str) -> int | None:
    """Bytes in a ``spark.driver.memory`` value; a bare number is MiB."""
    m = re.fullmatch(r"(\d+)([kmgtp]b?|b)?", spec.strip().lower())
    if m is None:
        return None
    return int(m.group(1)) << 10 * "bkmgtp".index((m.group(2) or "m")[0])


def _archive_launch(heap: str) -> _ArchiveLaunch | None:
    """How to start the driver JVM from the class-data archive, or None
    to start it as Spark does (see the module docstring for when)."""
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None  # this process's JVM is running already
    if any(os.environ.get(v) for v in (
        "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
    )):
        return None
    heap_bytes = _heap_bytes(heap)
    if heap_bytes is None:
        return None
    java_home = os.environ.get("JAVA_HOME")  # else the launcher runs `java`
    if not java_home:
        java = shutil.which("java")
        if java is None:
            return None
        java_home = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        if any(not n.endswith(".template") for n in os.listdir(conf_dir)):
            return None
    except FileNotFoundError:
        pass
    root = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
        "spark-graft", "cds",
    )
    empty = os.path.join(root, "empty-conf")
    try:
        with open(os.path.join(java_home, "release"), "rb") as f:
            key = hashlib.sha256(f.read())
        key.update(b"coops" if heap_bytes < 32 << 30 else b"nocoops")
        jars = os.path.join(spark_home, "jars")
        for name in sorted(os.listdir(jars)):
            st = os.stat(os.path.join(jars, name))
            key.update(f"\0{jars}/{name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
        os.makedirs(empty, exist_ok=True)
        if os.listdir(empty):
            return None
        _sweep_dead_dumps(root)
        prefix = os.path.join(root, key.hexdigest()[:16])
        for path in glob.glob(glob.escape(prefix) + "-*.jsa"):
            recorded = path[len(prefix) + 1:-len(".jsa")]
            with open(path, "rb") as f:
                whole = (recorded.isdigit()
                         and os.fstat(f.fileno()).st_size == int(recorded))
                if whole and f.read(4) == _DYNAMIC_MAGIC:
                    return _ArchiveLaunch(
                        f'-XX:SharedArchiveFile="{path}" {_CDS_QUIET}', empty, prefix, None,
                    )
            # A partial copy would crash the JVM with SIGBUS; any other
            # file there makes it run without even the JDK's own archive.
            os.unlink(path)
    except OSError:
        return None
    tmp = f"{prefix}.{os.getpid()}.tmp"
    return _ArchiveLaunch(f'-XX:ArchiveClassesAtExit="{tmp}" {_CDS_QUIET}', empty, prefix, tmp)


def _sweep_dead_dumps(root: str) -> None:
    """Remove dump files whose Python process is gone: its exit hook never
    ran, so nothing says the JVM finished writing them."""
    for path in glob.glob(os.path.join(glob.escape(root), "*.*.tmp")):
        pid = path.rsplit(".", 2)[1]
        try:
            os.kill(int(pid), 0)
        except ProcessLookupError:
            try:
                os.unlink(path)
            except FileNotFoundError:
                pass  # another process swept it first
        except (ValueError, PermissionError):
            pass  # not ours to judge, or alive under another user


def _finish_dump(proc: subprocess.Popen, tmp: str, prefix: str, owner: int) -> None:
    """Exit hook of a dumping process: end the JVM (it dumps on its way
    out), wait for it, and rename a finished dump into place under its
    byte count.  A forked child inherits the hook and must not run it."""
    if os.getpid() != owner:
        return
    gateway = SparkContext._gateway
    if gateway is not None and gateway.proc is proc:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    proc.stdin.close()  # the JVM exits on EOF of its stdin
    try:
        rc = proc.wait(timeout=_DUMP_WAIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        rc = proc.wait()
    try:
        if rc == 0:
            os.replace(tmp, f"{prefix}-{os.path.getsize(tmp)}.jsa")
        else:
            os.unlink(tmp)
    except FileNotFoundError:
        pass  # the JVM wrote no archive


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
