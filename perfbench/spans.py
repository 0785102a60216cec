"""Tracing for the traced run: spans around calls into the product's
public functions, each span's Spark jobs tagged with its own job group,
and Spark's status store read once a pass is over.

A span wraps a function where its caller looks it up: every module of
the package whose globals hold the function gets the wrapper, and
:meth:`Tracer.uninstall` puts the originals back.  Untraced passes use
:class:`NullTracer` and run the product's own functions.
"""

from __future__ import annotations

import contextlib
import functools
import os
import sys
import time
from pathlib import Path

from py4j.protocol import Py4JJavaError

from common import PACKAGE

MB = 1 << 20

# (module under the package, function, span name)
HEAL_TARGETS = [
    ("etl", "run_etl", "etl"),
    ("etl", "read_source", "etl.read"),
    ("etl", "write_warehouse", "etl.write"),
    ("quality", "enforce_data_quality", "quality"),
    ("drift", "detect_and_update_drift", "drift"),
    ("incidents", "log_incident", "incidents.append"),
    ("healing", "apply_self_healing", "healing"),
    ("contract", "load_contract", "contract"),
    ("contract", "save_contract", "contract"),
    ("streaming.events", "streaming_incident_metrics", "streaming"),
]
QUERY_TARGETS = [
    ("sources.tables", "load_table", "sources.tables"),
    ("sources.index_store", "ensure_index", "sources.index_store"),
    ("sources.index_store", "ensure_model", "sources.index_store"),
]


class NullTracer:
    """What untraced passes use: spans cost nothing and record nothing."""

    def span(self, name: str, **attrs):
        return contextlib.nullcontext()


class Tracer:
    def __init__(self, spark, run_id: str) -> None:
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "run": self.run_id,
            "parent": self.stack[-1] if self.stack else None,
            "group": f"{self.run_id}/{sid}", **attrs,
            "start": time.time(), "end": None,
        }
        self.spans.append(rec)
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", rec["group"])
        self.stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)

    # -- wrappers ---------------------------------------------------------
    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return traced

    def _wrap_store(self, fn, name: str):
        """Index-store calls also record whether they built the artifact:
        a build leaves a new ``meta.json`` commit marker in the store."""
        tracer = self
        root = Path(os.environ["SPARK_GRAFT_INDEX_DIR"])

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            before = set(root.glob("*/*/meta.json"))
            with tracer.span(name) as rec:
                try:
                    return fn(*args, **kwargs)
                finally:
                    rec["build"] = bool(set(root.glob("*/*/meta.json")) - before)

        return traced

    def _replace(self, original, wrapper) -> None:
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    setattr(mod, attr, wrapper)
                    self.patched.append((mod, attr, original))

    def install(self, targets) -> None:
        import importlib

        for mod_name, fn_name, span_name in targets:
            original = getattr(importlib.import_module(f"{PACKAGE}.{mod_name}"), fn_name)
            if any(orig is original for _, _, orig in self.patched):
                continue
            wrap = self._wrap_store if span_name == "sources.index_store" else self._wrap
            self._replace(original, wrap(original, span_name))
        # The index store keys artifacts on the source of the functions a
        # build function references; let it fingerprint the unwrapped functions,
        # so a traced pass serves the same artifacts an untraced one does.
        store = importlib.import_module(f"{PACKAGE}.sources.index_store")
        fingerprint = store._code_fingerprint

        def untraced_fingerprint(fn):
            with self.unwrapped():
                return fingerprint(fn)

        self._replace(fingerprint, untraced_fingerprint)

    def uninstall(self) -> None:
        for mod, attr, original in reversed(self.patched):
            setattr(mod, attr, original)
        self.patched.clear()

    @contextlib.contextmanager
    def unwrapped(self):
        saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in self.patched]
        for mod, attr, original in self.patched:
            setattr(mod, attr, original)
        try:
            yield
        finally:
            for mod, attr, current in saved:
                setattr(mod, attr, current)

    @contextlib.contextmanager
    def installed(self, targets):
        self.install(targets)
        try:
            yield self
        finally:
            self.uninstall()


# -- Spark status store ------------------------------------------------------

def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class StatusStore:
    """Reads finished jobs and stages from Spark's status store."""

    def __init__(self, spark) -> None:
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.seen = self.max_job_id()

    def max_job_id(self) -> int:
        jobs = self.store.jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    def new_jobs(self) -> list[dict]:
        """Every job since the previous call, with its stages' metrics."""
        jobs = self.store.jobsList(None)
        out, stage_ids = [], set()
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= self.seen:
                continue
            group = job.jobGroup()
            stages = []
            ids = job.stageIds()
            for k in range(ids.size()):
                if ids.apply(k) not in stage_ids:
                    stage_ids.add(ids.apply(k))
                    stages.extend(self._stage(ids.apply(k)))
            out.append({
                "job": job.jobId(),
                "group": group.get() if group.isDefined() else None,
                "stages": stages,
            })
        self.seen = max([self.seen] + [j["job"] for j in out])
        return out

    def _stage(self, stage_id: int) -> list[dict]:
        try:
            attempts = self.store.stageData(stage_id, False, None, False, None)
        except Py4JJavaError:  # a stage that never ran has no data
            return []
        out = []
        for a in range(attempts.size()):
            s = attempts.apply(a)
            if s.status().toString() == "SKIPPED":
                continue
            out.append({
                "tasks": s.numTasks(),
                "run_s": s.executorRunTime() / 1e3,
                "cpu_s": s.executorCpuTime() / 1e9,
                "gc_s": s.jvmGcTime() / 1e3,
                "input_mb": s.inputBytes() / MB,
                "output_mb": s.outputBytes() / MB,
                "shuffle_read_mb": s.shuffleReadBytes() / MB,
                "shuffle_write_mb": s.shuffleWriteBytes() / MB,
                "submit": _opt_ms(s.submissionTime()),
                "complete": _opt_ms(s.completionTime()),
            })
        return out


def _union(intervals) -> float:
    """Length covered by the union of ``(start, end)`` intervals."""
    total, reach = 0.0, float("-inf")
    for a, b in sorted(intervals):
        a = max(a, reach)
        if b > a:
            total += b - a
            reach = b
    return total


def spark_totals(jobs: list[dict], start: float, end: float) -> dict:
    """Totals over ``jobs``; ``sched_gap_s`` is the part of the wall
    interval [start, end] (epoch seconds) that no stage was active in."""
    stages = [s for j in jobs for s in j["stages"]]
    tot = {"jobs": len(jobs), "stages": len(stages),
           "tasks": sum(s["tasks"] for s in stages)}
    for key in ("run_s", "cpu_s", "gc_s", "input_mb", "output_mb",
                "shuffle_read_mb", "shuffle_write_mb"):
        tot[key] = sum(s[key] for s in stages)
    busy = _union(
        (max(s["submit"], start), min(s["complete"], end))
        for s in stages if s["submit"] is not None and s["complete"] is not None
    )
    tot["sched_gap_s"] = max(0.0, (end - start) - busy)
    return tot


def attach_jobs(pass_spans: list[dict], jobs: list[dict]) -> None:
    """Give each span of one pass its own jobs (by job group) and its
    inclusive jobs (its own plus its descendants')."""
    by_group: dict[str, list[dict]] = {}
    for job in jobs:
        if job["group"] is not None:
            by_group.setdefault(job["group"], []).append(job)
    for rec in pass_spans:
        rec["jobs"] = by_group.get(rec["group"], [])
        rec["all_jobs"] = list(rec["jobs"])
    first = pass_spans[0]["id"]
    for rec in reversed(pass_spans):  # children come after their parents
        if rec["parent"] is not None:
            pass_spans[rec["parent"] - first]["all_jobs"].extend(rec["all_jobs"])


def self_time(all_spans: list[dict], rec: dict) -> float:
    """Span wall minus the part of it its direct children cover."""
    kids = [(c["start"], c["end"]) for c in all_spans if c["parent"] == rec["id"]]
    return (rec["end"] - rec["start"]) - _union(kids)
