"""Optimization-round measurement helper: dump ``.explain("formatted")``
and (optionally) noop-sink timings for named queries.

Usage:
    python scripts/explain_dump.py ROUND TAG [--time N] [--sf DIR] name...

Writes ``plans/<ROUND>/<name>_<TAG>.txt`` for each query (plan claims
are checked against these committed files) and, with ``--time N``,
runs each query N times into the noop sink (guide §1.4: full execution of
every column, no collect overhead) printing per-run seconds, the host's
CPU count and the cores Spark used — the same timing methodology as
bench.py, so isolated numbers are comparable.  The session runs
``local[$SPARK_GRAFT_CPUS]``, as ``session.get_spark`` sizes it.

Serve-family queries get one untimed warmup call first (their first call
may build+persist the index artifact; the steady serving cost is what a
deployment pays — bench.py's convention).
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    args = [a for a in sys.argv[1:]]
    if len(args) < 2:
        sys.exit(__doc__)
    round_name, tag = args.pop(0), args.pop(0)
    n_time = 0
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names: list[str] = []
    i = 0
    while i < len(args):
        if args[i] == "--time":
            n_time = int(args[i + 1]); i += 2
        elif args[i] == "--sf":
            sf_dir = args[i + 1]; i += 2
        else:
            names.append(args[i]); i += 1

    from self_healing_data_pipeline_agent_spark.registry import all_queries
    from self_healing_data_pipeline_agent_spark.session import get_spark

    spark = get_spark(app_name="explain-dump")
    spark.sparkContext.setLogLevel("ERROR")
    host_cpus = len(os.sched_getaffinity(0))
    cores = spark.sparkContext.defaultParallelism
    queries = all_queries()
    outdir = os.path.join(REPO, "plans", round_name)
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        fn = queries[name]
        df = fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"# wrote {os.path.relpath(path, REPO)}")
        if n_time:
            spark.sparkContext.setJobDescription(f"{tag}:{name}")
            if name.endswith("_serve") or "refresh" in name or "bucketed" in name:
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs = []
            for _ in range(n_time):
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                runs.append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)
            print(f"{name}: {runs} min={min(runs)} "
                  f"host_nproc={host_cpus} cores={cores}")
    spark.stop()


if __name__ == "__main__":
    main()
