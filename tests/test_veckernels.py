"""Bit-exactness pins for the r16 Arrow/NumPy vector kernels.

The optimization round replaced interpreted HOF folds (``zip_with`` +
``aggregate``) with Arrow-batched NumPy kernels in the embedding family.
The whole swap is legal ONLY because the arithmetic is bit-identical —
``np.cumsum`` is the same strictly-sequential left fold the HOF form
(and DuckDB's ``list_dot_product``) computes.  These tests pin that
equivalence against the ORIGINAL expressions on real testdata, so a
future NumPy/pyarrow upgrade that changed summation order would fail
loudly here rather than silently flipping a hash downstream.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from self_healing_data_pipeline_agent_spark.functions.vectors import dot, l2_norm
from self_healing_data_pipeline_agent_spark.functions.veckernels import (
    attach_pair_cosine,
    attach_projection,
    lsh_code_rows,
)
from self_healing_data_pipeline_agent_spark.operators.similarity import (
    _hyperplane,
    _jl_signs,
    JL_DIM,
    LSH_BITS,
    LSH_TABLES,
)
from self_healing_data_pipeline_agent_spark.sources.tables import load_table

from conftest import SF_DIR


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings")


def _legacy_lsh_code(t: int, dim: int = 64) -> F.Column:
    """The pre-r16 interpreted fold, kept HERE as the reference
    implementation the kernel must match bit-for-bit."""
    code = None
    for b in range(LSH_BITS):
        plane = _hyperplane(dim, t * LSH_BITS + b)
        arr = F.array(*[F.lit(v) for v in plane])
        proj = F.aggregate(
            F.zip_with(F.col("embedding"), arr,
                       lambda x, y: x.cast("double") * y),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        bit = F.when(proj > 0, 2 ** b).otherwise(0)
        code = bit if code is None else code + bit
    return code


def test_lsh_codes_bit_identical(spark, emb):
    legacy = emb.select(
        "vec_id",
        F.explode(
            F.array(*[
                F.struct(F.lit(t).cast("bigint").alias("table"),
                         _legacy_lsh_code(t).cast("bigint").alias("code"))
                for t in range(LSH_TABLES)
            ])
        ).alias("tc"),
    ).select("vec_id", "tc.table", "tc.code")
    planes = [
        _hyperplane(64, p) for p in range(LSH_TABLES * LSH_BITS)
    ]
    kern = lsh_code_rows(emb, planes, LSH_TABLES, LSH_BITS)
    l = {(r.vec_id, r.table): r.code for r in legacy.collect()}
    k = {(r.vec_id, r.table): r.code for r in kern.collect()}
    assert l == k


def test_pair_cosine_bit_identical(spark, emb):
    # a small real pair frame: adjacent ids, both vectors attached
    a = emb.select(F.col("vec_id").alias("vec_a"),
                   F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vec_b"),
                   F.col("embedding").alias("eb"))
    pairs = a.join(b, F.col("vec_b") == F.col("vec_a") + 1)
    legacy = pairs.select(
        "vec_a", "vec_b",
        (dot(F.col("ea"), F.col("eb"))
         / (l2_norm(F.col("ea")) * l2_norm(F.col("eb")))).alias("cosine"),
    )
    kern = attach_pair_cosine(
        pairs, "ea", "eb", [("vec_a", "bigint"), ("vec_b", "bigint")]
    )
    l = {(r.vec_a, r.vec_b): r.cosine for r in legacy.collect()}
    k = {(r.vec_a, r.vec_b): r.cosine for r in kern.collect()}
    assert set(l) == set(k)
    # bit-for-bit, not approx: the hash gate downstream needs exactness
    assert all(l[p] == k[p] for p in l)


def test_projection_bit_identical(spark, emb):
    signs = [_jl_signs(i) for i in range(JL_DIM)]
    legacy_col = F.array(*[
        F.aggregate(
            F.zip_with(F.col("embedding"),
                       F.array(*[F.lit(v) for v in signs[i]]),
                       lambda x, y: x.cast("double") * y),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        for i in range(JL_DIM)
    ])
    legacy = emb.select("vec_id", legacy_col.alias("parr"))
    kern = attach_projection(emb, signs)
    l = {r.vec_id: r.parr for r in legacy.collect()}
    k = {r.vec_id: r.parr for r in kern.collect()}
    assert set(l) == set(k)
    assert all(l[i] == k[i] for i in l)


def test_pair_cosine_zero_norm_yields_null_like_oracle(spark):
    """r16 ADVICE: a zero-norm vector must produce NULL — DuckDB (the
    oracle) returns NULL on float division by zero, and NULL is dropped
    by `cosine >= tau` filters — never NaN/inf (which passes `>=` and
    sorts FIRST under desc).  The pre-kernel JVM Divide would ERROR
    outright under Spark 4's default ANSI mode, so the masked kernel is
    strictly more robust than the form it replaced."""
    import duckdb

    rows = [
        (0, [0.0] * 64, [1.0] * 64),   # zero-norm left side
        (1, [1.0] * 64, [1.0] * 64),   # sane pair
        (2, [0.0] * 64, [0.0] * 64),   # both zero
    ]
    pairs = spark.createDataFrame(
        rows, "pid bigint, ea array<float>, eb array<float>"
    )
    kern = attach_pair_cosine(pairs, "ea", "eb", [("pid", "bigint")])
    k = {r.pid: r.cosine for r in kern.collect()}
    duck = {
        pid: duckdb.sql(
            f"SELECT list_dot_product({a}, {b}) / "
            f"(SQRT(list_dot_product({a}, {a})) * "
            f"SQRT(list_dot_product({b}, {b})))"
        ).fetchone()[0]
        for pid, a, b in rows
    }
    assert duck[0] is None and duck[2] is None  # oracle semantics
    assert k == duck
    # and the tau filter drops the zero-norm rows exactly like the oracle
    assert [r.pid for r in kern.filter(F.col("cosine") >= 0.5).collect()] == [1]


def test_flat2d_raises_on_ragged_rows(spark):
    """The misalignment guard must survive `python -O` (ValueError, not
    assert) — a short row would silently shift every later row."""
    import numpy as np
    import pyarrow as pa
    import pytest as _pytest

    from self_healing_data_pipeline_agent_spark.functions.veckernels import (
        _flat2d,
    )

    ragged = pa.array([[1.0, 2.0], [3.0]])
    with _pytest.raises(ValueError, match="ragged or null"):
        _flat2d(ragged, 2)
    ok = _flat2d(pa.array([[1.0, 2.0], [3.0, 4.0]]), 2)
    assert ok.shape == (2, 2) and ok.dtype == np.float64


def test_lloyd_partial_sums_totals_match_legacy_update(spark, emb):
    """One kernel round's aggregated (n, per-dim sums) must equal the
    legacy per-row fold's groupBy totals exactly — the Lloyd update (and
    so every centroid of every later round) is then bit-identical."""
    from self_healing_data_pipeline_agent_spark.functions.veckernels import (
        lloyd_partial_sums,
    )
    from self_healing_data_pipeline_agent_spark.operators.similarity import (
        KM_SCALE,
        _km_dist_structs,
        _km_units,
    )

    init = emb.filter(F.col("vec_id") < 8).select(
        "vec_id", _km_units().alias("u")
    ).collect()
    cents = sorted((int(r.vec_id), [int(v) for v in r.u]) for r in init)
    dim = 64

    q = emb.select("vec_id", _km_units().alias("u"))
    best = F.array_min(_km_dist_structs(cents))
    legacy = (
        q.select(best.getField("cid").alias("cid"), "u")
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[F.sum(F.element_at("u", i + 1)).alias(f"s{i}")
              for i in range(dim)],
        )
    )
    kern = (
        lloyd_partial_sums(emb, [(0, cents)], scale=KM_SCALE, dim=dim)
        .groupBy("block", "cid", "pos")
        .agg(F.sum("val").alias("v"))
    )
    totals: dict[int, dict[int, int]] = {}
    for r in kern.collect():
        assert r.block == 0
        totals.setdefault(r.cid, {})[r.pos] = r.v
    l = {r.cid: tuple(r[f"s{i}"] for i in range(dim)) + (r.n,)
         for r in legacy.collect()}
    k = {cid: tuple(t[i] for i in range(dim)) + (t[-1],)
         for cid, t in totals.items()}
    assert l == k
