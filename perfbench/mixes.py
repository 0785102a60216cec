"""The ``query_mix`` workload: a fixed mix of registry queries, run in a
seed-permuted order, each forced end to end through Spark's ``noop`` sink.

Before any timed pass, one pass collects every result and checks its row
count and order-insensitive value hash against the query's DuckDB oracle
on the same tables; that pass is also the warm-up.
"""

from __future__ import annotations

import hashlib
import math
import random
import time
from decimal import Decimal
from pathlib import Path

# At least one query per operator module.  JVM-only relational, event and
# sketch queries, where plan construction and job scheduling dominate and
# no Python worker runs; and LLM-data operators: a driver-side training
# loop while the plan is built (pq_codebook), Arrow/NumPy kernels in
# Python workers (multimodal_decode_png) and index-store serving
# (bm25_serve).
QUERY_MIX = [
    "tpch_q1", "salted_hot_key_agg", "hll_distinct_profile",
    "pq_codebook", "bm25_serve", "semantic_dedup", "multimodal_decode_png",
]

def layer_of(fn) -> str:
    """``operators.<module>`` for a registry query function."""
    return "operators." + fn.__module__.rsplit(".", 1)[-1]


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, Decimal):
        return str(v.normalize())
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _norm(x)) for k, x in v.items()))
    return repr(v)


def value_hash(columns: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash of a result: columns sorted by name, cells
    normalised (floats by exact repr), rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


class Mix:
    def __init__(self, spark, sf_dir: Path, seed: int) -> None:
        from self_healing_data_pipeline_agent_spark.registry import all_oracles, all_queries

        self.spark = spark
        self.sf_dir = str(sf_dir)
        queries, oracles = all_queries(), all_oracles()
        names = list(QUERY_MIX)
        random.Random(seed).shuffle(names)
        self.order = [(n, queries[n]) for n in names]
        self.oracles = {n: oracles[n] for n in names}

    def verify(self) -> list[str]:
        """The checking warm-up pass; returns one message per mismatch."""
        import duckdb

        from self_healing_data_pipeline_agent_spark.sources.tables import TABLE_NAMES

        problems = []
        self.verify_s: dict[str, tuple[float, float]] = {}
        con = duckdb.connect()
        try:
            for t in TABLE_NAMES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            for name, fn in self.order:
                t0 = time.perf_counter()
                try:
                    df = fn(self.spark, self.sf_dir)
                    got = [tuple(r) for r in df.collect()]
                    got_hash = value_hash(list(df.columns), got)
                except Exception as exc:  # noqa: BLE001 — count it, keep going
                    problems.append(f"{name}: {type(exc).__name__}: {exc}")
                    continue
                t1 = time.perf_counter()
                rel = con.sql(self.oracles[name])
                want = rel.fetchall()
                want_hash = value_hash(list(rel.columns), want)
                self.verify_s[name] = (t1 - t0, time.perf_counter() - t1)
                if len(got) != len(want) or got_hash != want_hash:
                    problems.append(
                        f"{name}: rows {len(got)} hash {got_hash} != oracle "
                        f"rows {len(want)} hash {want_hash}"
                    )
        finally:
            con.close()
        return problems

    def run_pass(self, tracer, after_query=None) -> list[dict]:
        """One timed pass; a sample per query (plan and execute walls)."""
        samples = []
        with tracer.span("pass"):
            for name, fn in self.order:
                layer = layer_of(fn)
                t0 = time.perf_counter()
                with tracer.span(f"{layer}.plan", query=name):
                    df = fn(self.spark, self.sf_dir)
                t1 = time.perf_counter()
                with tracer.span(f"{layer}.exec", query=name):
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                samples.append({"query": name, "layer": layer, "plan": t1 - t0,
                                "exec": t2 - t1, "wall": t2 - t0})
                if after_query is not None:
                    after_query()
        return samples
