"""Benchmark entry point.

    python3 perfbench/run.py --workload heal_cycle --seed 1 --seconds 20 --trace 0

Workloads: ``heal_cycle`` and ``query_mix`` (see README.md).  The benchmark
process is the only client: a closed loop that starts the next operation
when the previous one has returned, over Spark ``local[N]`` with N the
cores this process may run on.

With ``--trace 0`` the last stdout line carries the end-to-end metrics,
with ``--trace 1`` the per-layer metrics of traced passes (alternated with
untraced ones, whose difference is reported as the tracing overhead).
The line before it is the full report: provenance, failures, every
metric with its unit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path
from statistics import median

START = time.perf_counter()

import common  # noqa: E402
import procfs  # noqa: E402
import spans  # noqa: E402
from common import metric, tail  # noqa: E402

WORKLOADS = ("heal_cycle", "query_mix")
SIZES = {"full": "sf0.1", "tiny": "sf0.001"}
HEAL_COPIES = 10  # 15,000 sf0.1 customers -> 150,000 rows per CSV

E2E_UNITS = {
    "setup_s": "s", "pass_s": "s", "query_p50_s": "s", "query_tail_s": "s",
    "cpu_s": "s", "peak_rss_mb": "MB",
}
HEAL_LAYERS = {
    "etl.read_s": "s", "etl.write_s": "s", "etl.jobs": "count",
    "etl.input_mb": "MB", "etl.output_mb": "MB",
    "quality.s": "s", "quality.jobs": "count", "quality.input_mb": "MB",
    "drift.s": "s", "drift.jobs": "count", "drift.input_mb": "MB",
    "incidents.append_s": "s", "incidents.append_jobs": "count",
    "incidents.files": "count", "dashboard.s": "s", "streaming.s": "s",
    "healing.s": "s", "contract.s": "s", "runner.self_s": "s",
    "heal.recover_s": "s", "heal.rows_per_s": "1/s",
}
OPERATOR_MODULES = ("relational", "events", "sketches", "text", "similarity", "multimodal")
QUERY_LAYERS = {
    **{f"operators.{m}.{k}": u for m in OPERATOR_MODULES
       for k, u in (("plan_s", "s"), ("plan_jobs", "count"), ("exec_s", "s"))},
    "sources.tables.loads": "count", "sources.tables.s": "s",
    "sources.index_store.calls": "count", "sources.index_store.builds": "count",
    "sources.index_store.hit_frac": "frac", "sources.index_store.s": "s",
    "cache.pinned_rdds": "count", "cache.pinned_mb": "MB",
}
COMMON_LAYERS = {
    "pyworker.cpu_s": "s",
    **{f"spark.{k}": u for k, u in (
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("run_s", "s"), ("cpu_s", "s"), ("gc_s", "s"),
        ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"),
        ("input_mb", "MB"), ("sched_gap_s", "s"))},
    "trace.overhead_frac": "frac",
}
LAYER_UNITS = {**HEAL_LAYERS, **QUERY_LAYERS, **COMMON_LAYERS}


def data_root() -> Path:
    """The testdata root: ``PERFBENCH_DATA`` if set, else the directory
    holding ``__spark_entry__.SMOKE_SF_DIR``."""
    if os.environ.get("PERFBENCH_DATA"):
        return Path(os.environ["PERFBENCH_DATA"])
    import __spark_entry__

    return Path(__spark_entry__.SMOKE_SF_DIR).parent


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=tuple(SIZES), default="full",
                   help="tiny: sf0.001 tables, for the smoke test")
    return p.parse_args(argv)


# -- per-layer figures from one traced pass ------------------------------------

def _top(pass_spans: list[dict], name: str) -> list[dict]:
    """Spans called ``name`` with no ancestor of the same name."""
    by_id = {s["id"]: s for s in pass_spans}
    out = []
    for s in pass_spans:
        if s["name"] != name:
            continue
        p = s["parent"]
        while p is not None and by_id[p]["name"] != name:
            p = by_id[p]["parent"]
        if p is None:
            out.append(s)
    return out


def _wall(ss) -> float:
    return sum(s["end"] - s["start"] for s in ss)


def _jobs(ss) -> list[dict]:
    return [j for s in ss for j in s["all_jobs"]]


def _stage_sum(jobs, key) -> float:
    return sum(st[key] for j in jobs for st in j["stages"])


def pinned(spark) -> tuple[int, float]:
    """Persisted RDDs right now: count and MB (memory + disk)."""
    jsc = spark.sparkContext._jsc
    info = jsc.sc().getRDDStorageInfo()
    mb = sum(i.memSize() + i.diskSize() for i in info) / spans.MB
    return jsc.getPersistentRDDs().size(), mb


# -- the workloads -------------------------------------------------------------
# Each does its set-up (and warm-up) on construction, then one pass per
# run_pass call, and turns a traced pass's spans into layer figures.

class HealWorkload:
    targets = spans.HEAL_TARGETS

    def __init__(self, spark, run: common.Run, sf_dir: Path, seed: int) -> None:
        import heal

        self.spark = spark
        self.problems: list[str] = []
        self.attempted = 0
        self.inputs = heal.generate(sf_dir, run.dir / "inputs", seed, HEAL_COPIES)
        self.cycle = heal.HealCycle(spark, run.work, self.inputs)
        self.run_pass(spans.NullTracer())  # warm-up, checked like the rest

    def run_pass(self, tracer, after_query=None) -> dict:
        sample = self.cycle.run(tracer)
        self.attempted += 1
        self.problems += sample.pop("problems")
        shutil.rmtree(sample.pop("workspace"), ignore_errors=True)
        sample["ops"] = [sample["wall"]]
        sample["pass"] = sample["wall"]
        return sample

    def layers(self, pass_spans: list[dict], sample: dict, reads) -> dict:
        out = {}
        for layer in ("etl", "quality", "drift"):
            top = _top(pass_spans, layer)
            jobs = _jobs(top)
            out[f"{layer}.jobs"] = len(jobs)
            out[f"{layer}.input_mb"] = _stage_sum(jobs, "input_mb")
            if layer != "etl":
                out[f"{layer}.s"] = _wall(top)
        out["etl.read_s"] = _wall(_top(pass_spans, "etl.read"))
        out["etl.write_s"] = _wall(_top(pass_spans, "etl.write"))
        out["etl.output_mb"] = _stage_sum(_jobs(_top(pass_spans, "etl")), "output_mb")
        appends = _top(pass_spans, "incidents.append")
        out["incidents.append_s"] = _wall(appends)
        out["incidents.append_jobs"] = len(_jobs(appends))
        out["incidents.files"] = sample["incident_files"]
        out["dashboard.s"] = _wall(_top(pass_spans, "dashboard"))
        runner = _top(pass_spans, "runner")[0]
        streaming = _top(pass_spans, "streaming")
        # run_demo collects the streaming result right before it returns
        out["streaming.s"] = runner["end"] - streaming[0]["start"] if streaming else 0.0
        out["healing.s"] = _wall(_top(pass_spans, "healing"))
        out["contract.s"] = _wall(_top(pass_spans, "contract"))
        out["runner.self_s"] = spans.self_time(pass_spans, runner)
        out["heal.recover_s"] = sample["recover"]
        out["heal.rows_per_s"] = 3 * self.inputs.rows / sample["wall"]
        return out

    def report(self, plain: list[dict]) -> dict:
        cycle = median([s["wall"] for s in plain])
        return {"cycle_s": cycle,
                "recover_s": median([s["recover"] for s in plain]),
                "rows_per_s": 3 * self.inputs.rows / cycle,  # 3 ETL runs a cycle
                "rows": self.inputs.rows}


class MixWorkload:
    targets = spans.QUERY_TARGETS

    def __init__(self, spark, run: common.Run, sf_dir: Path, seed: int) -> None:
        import mixes

        self.spark = spark
        self.mix = mixes.Mix(spark, sf_dir, seed)
        self.attempted = len(self.mix.order)
        self.problems = self.mix.verify()  # the warm-up pass

    def run_pass(self, tracer, after_query=None) -> dict:
        t0 = time.perf_counter()
        queries = self.mix.run_pass(tracer, after_query)
        self.attempted += len(queries)
        return {"ops": [q["wall"] for q in queries], "queries": queries,
                "pass": time.perf_counter() - t0}

    def layers(self, pass_spans: list[dict], sample: dict, reads) -> dict:
        out = {}
        for m in OPERATOR_MODULES:
            plan = _top(pass_spans, f"operators.{m}.plan")
            out[f"operators.{m}.plan_s"] = _wall(plan)
            out[f"operators.{m}.plan_jobs"] = len(_jobs(plan))
            out[f"operators.{m}.exec_s"] = _wall(_top(pass_spans, f"operators.{m}.exec"))
        loads = _top(pass_spans, "sources.tables")
        out["sources.tables.loads"] = len(loads)
        out["sources.tables.s"] = _wall(loads)
        store = _top(pass_spans, "sources.index_store")
        builds = sum(1 for s in store if s.get("build"))
        out["sources.index_store.calls"] = len(store)
        out["sources.index_store.builds"] = builds
        out["sources.index_store.hit_frac"] = (len(store) - builds) / len(store) if store else 0.0
        out["sources.index_store.s"] = _wall(store)
        out["cache.pinned_rdds"] = max((n for n, _ in reads), default=0)
        out["cache.pinned_mb"] = max((mb for _, mb in reads), default=0.0)
        return out

    def report(self, plain: list[dict]) -> dict:
        return {
            "verify_s": {q: [round(a, 3), round(b, 3)]
                         for q, (a, b) in self.mix.verify_s.items()},
            "query_s": {q: [round(median([x[k] for s in plain for x in s["queries"]
                                          if x["query"] == q]), 3) for k in ("plan", "exec")]
                        for q, _ in self.mix.order},
        }


WORKLOAD_CLASSES = {"heal_cycle": HealWorkload, "query_mix": MixWorkload}


def measure(args, workload, tree: procfs.Tree) -> dict:
    """The timed phase: passes until the next one would end more than half
    a pass after ``--seconds``, so the phase centres on ``--seconds`` (at
    least one pass; with tracing, untraced and traced passes alternate, at
    least one of each)."""
    spark = workload.spark
    tracer = spans.Tracer(spark, f"{args.workload}-{args.seed}") if args.trace else None
    store = spans.StatusStore(spark) if args.trace else None
    plain, traced = [], []
    tree.reset_peak_rss()
    t_start = time.perf_counter()
    while True:
        use_trace = bool(args.trace) and len(traced) < len(plain)
        cpu0, wcpu0 = tree.cpu_s(), tree.worker_cpu_s()
        if use_trace:
            store.new_jobs()  # skip everything before this pass
            reads: list[tuple[int, float]] = []
            first = len(tracer.spans)
            with tracer.installed(workload.targets):
                sample = workload.run_pass(tracer, lambda: reads.append(pinned(spark)))
        else:
            sample = workload.run_pass(spans.NullTracer())
        sample["cpu"] = tree.cpu_s() - cpu0
        sample["worker_cpu"] = tree.worker_cpu_s() - wcpu0
        if use_trace:
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            pass_spans = tracer.spans[first:]
            jobs = store.new_jobs()
            spans.attach_jobs(pass_spans, jobs)
            layers = workload.layers(pass_spans, sample, reads)
            root = pass_spans[0]
            totals = spans.spark_totals(jobs, root["start"], root["end"])
            layers.update({f"spark.{k}": v for k, v in totals.items()
                           if f"spark.{k}" in LAYER_UNITS})
            layers["pyworker.cpu_s"] = sample["worker_cpu"]
            sample["layers"] = layers
            traced.append(sample)
        else:
            plain.append(sample)
        elapsed = time.perf_counter() - t_start
        paired = not args.trace or len(traced) == len(plain)
        if paired and elapsed + (1 if args.trace else 0.5) * sample["pass"] > args.seconds:
            break
    return {"plain": plain, "traced": traced, "peak_rss_mb": tree.peak_rss_mb(),
            "tracer": tracer}


def end_to_end(plain: list[dict]) -> tuple[dict, dict]:
    ops = [x for s in plain for x in s["ops"]]
    pct, tail_v = tail(ops)
    e2e = {
        "pass_s": median([s["pass"] for s in plain]),
        "query_p50_s": median(ops),
        "query_tail_s": tail_v,
        "cpu_s": median([s["cpu"] for s in plain]),
    }
    return e2e, {"query_tail_pct": pct, "query_samples": len(ops), "passes": len(plain),
                 "pass_walls": [round(s["pass"], 3) for s in plain],
                 "pass_cpu": [round(s["cpu"], 3) for s in plain]}


def write_trace(args, tracer, traced: list[dict]) -> str:
    out_dir = common.REPO / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    path = out_dir / f"trace-{args.workload}-seed{args.seed}.json"
    records = []
    for s in tracer.spans:
        rec = {k: v for k, v in s.items() if k not in ("jobs", "all_jobs")}
        if "jobs" in s:
            rec["jobs"] = [j["job"] for j in s["jobs"]]
            rec["spark"] = spans.spark_totals(s["all_jobs"], s["start"], s["end"])
            rec["self_s"] = spans.self_time(tracer.spans, s)
        records.append(rec)
    path.write_text(json.dumps({"spans": records,
                                "layers": [s["layers"] for s in traced]}, indent=1))
    return str(path.relative_to(common.REPO))


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (common.REPO / common.PACKAGE / "__init__.py").is_file():
        print(f"perfbench: product package {common.PACKAGE} not found beside perfbench/",
              file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    heap_gb = max(1, min(4, int(common.host_ram_gb() // 3)))
    run = common.Run(cores, heap_gb)  # sets the environment before any import
    tree = procfs.Tree()
    steal0 = procfs.steal_s()
    try:
        sf_dir = data_root() / SIZES[args.size]
        if not (sf_dir / "lineitem.parquet").exists():
            print(f"perfbench: input tables not found under {sf_dir}", file=sys.stderr)
            return 2
        spark = run.start_spark(bool(args.trace))
        workload = WORKLOAD_CLASSES[args.workload](spark, run, sf_dir, args.seed)
        setup_s = time.perf_counter() - START
        res = measure(args, workload, tree)
        trace_file = write_trace(args, res["tracer"], res["traced"]) if args.trace else None
    finally:
        run.close()
    steal = procfs.steal_s() - steal0

    e2e, extra = end_to_end(res["plain"])
    e2e["setup_s"] = setup_s
    e2e["peak_rss_mb"] = res["peak_rss_mb"]
    failed = len(workload.problems)
    attempted = max(workload.attempted, 1)
    report = {
        "workload": args.workload,
        "provenance": common.provenance(run, args.seed, steal),
        "fail_frac": failed / attempted,
        "problems": workload.problems[:20],
        **extra,
        **workload.report(res["plain"]),
    }
    if args.trace:
        layers = {k: median([s["layers"].get(k, 0.0) for s in res["traced"]])
                  for k in LAYER_UNITS if k != "trace.overhead_frac"}
        layers["trace.overhead_frac"] = (
            median([s["pass"] for s in res["traced"]]) / e2e["pass_s"] - 1.0)
        metrics = {k: metric(layers[k], u) for k, u in LAYER_UNITS.items()}
        report["trace_file"] = trace_file
    else:
        metrics = {k: metric(e2e[k], u) for k, u in E2E_UNITS.items()}
    report["end_to_end"] = {k: metric(e2e[k], u) for k, u in E2E_UNITS.items()}
    print(json.dumps(report, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
