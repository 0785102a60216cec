"""Arrow-batched NumPy kernels for the vector-heavy query paths.

Why (r16 optimization, guide §4.2): the embedding family's dot products,
norms and hyperplane projections were built from ``zip_with``/``aggregate``
higher-order functions.  HOF lambdas evaluate INTERPRETED per element
(the repo's documented 2.3-6x "lambda tax"; only non-lambda expressions
ride whole-stage codegen), so a verify pass over 10^5-10^6 candidate
pairs pays tens of millions of interpreted expression evaluations.  The
optimization guide's answer is to keep Spark for distribution/shuffles
and hand whole Arrow batches to vectorized native code — these kernels
do exactly that with NumPy.

BIT-EXACTNESS CONTRACT (why every result is hash-identical):

- The JVM form is a strictly SEQUENTIAL left fold:
  ``aggregate(zip_with(a, b, x*y), 0.0, acc + x)`` — products first,
  then ``(((0+p0)+p1)+p2)...`` in element order.  DuckDB's
  ``list_dot_product`` is the same sequential chain (the repo's
  long-standing cross-engine pairing).
- ``np.cumsum`` over float64 computes the identical chain: it must emit
  every prefix, so it is the same left-to-right add sequence; the last
  prefix IS the fold.  (``np.sum`` would NOT qualify — it uses pairwise
  summation.)  Pinned by ``tests/test_veckernels.py``, which compares
  every kernel against the old HOF expressions bit-for-bit on real
  testdata.
- float32 -> float64 widening is exact; float64 multiply/divide/sqrt
  and comparisons are IEEE-754 operations identical across NumPy, the
  JVM and DuckDB.

Scale posture: these are NARROW map stages (no shuffle moved, no join
shape changed — the plan pins that candidate joins carry only 12-byte
code rows are untouched).  Each task converts its batches once at the
Arrow boundary and runs two or three NumPy ops per batch; only the
columns the kernel needs are selected before the boundary so the scan
still prunes (guide §4.1/§4.2).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Keep per-batch temporaries bounded: the LSH kernel materializes an
# (rows, planes, dim) float64 product cube before its cumsum; 2048 rows
# x 32 planes x 64 dims x 8 B = 32 MB per chunk per task.
_CHUNK_ROWS = 2048


def _flat2d(col, dim: int, dtype=np.float64) -> np.ndarray:
    """(N, dim) ndarray from an Arrow list<float/double> column.

    ``flatten()`` honors the array's offset/length slice, so this is
    safe on sliced batches; lists are fixed-length ``dim`` by schema
    (checked — a ragged or null row would silently misalign every row
    after it; ValueError, not ``assert``, so the guard survives
    ``python -O`` — r16 ADVICE)."""
    flat = np.asarray(col.flatten(), dtype=dtype)
    n = len(col)
    if flat.size != n * dim:
        raise ValueError(
            f"expected {n}x{dim} values, got {flat.size} — ragged or "
            "null embedding row in batch"
        )
    return flat.reshape(n, dim)


def _seq_sum(prod: np.ndarray) -> np.ndarray:
    """Strictly sequential left-fold sum over the LAST axis (the
    bit-exact stand-in for ``aggregate(..., 0.0, acc + x)``)."""
    return np.cumsum(prod, axis=-1)[..., -1]


def attach_pair_cosine(
    pairs: DataFrame,
    a_col: str,
    b_col: str,
    keep: list[tuple[str, str]],
    out_col: str = "cosine",
    dim: int = 64,
) -> DataFrame:
    """(keep..., out_col): exact cosine dot(a,b)/(|a||b|) for a joined
    pair frame carrying two embedding columns — the verify stage of the
    near-dup family.  ``keep`` is [(col, spark_type_ddl)] passed through
    unchanged.  Arithmetic = the old per-row HOF expression, batched."""
    in_cols = [c for c, _ in keep] + [a_col, b_col]
    schema = T.StructType.fromDDL(
        ", ".join(f"{c} {t}" for c, t in keep) + f", {out_col} double"
    )
    n_keep = len(keep)

    def kern(batches: Iterator) -> Iterator:
        import pyarrow as pa

        for b in batches:
            a = _flat2d(b.column(n_keep), dim)
            c = _flat2d(b.column(n_keep + 1), dim)
            na = np.sqrt(_seq_sum(a * a))
            nb = np.sqrt(_seq_sum(c * c))
            den = na * nb
            # DuckDB (the oracle) returns NULL on a zero divisor, and
            # NULL is dropped by every `cosine >= tau` filter; raw IEEE
            # division would yield NaN/inf, which PASSES `>=` and sorts
            # FIRST under desc — a zero-norm vector would flip from
            # excluded to top-ranked (r16 ADVICE).  Mask zero
            # denominators to null to match the oracle exactly.  (The
            # pre-kernel JVM Divide would ERROR under Spark 4's default
            # ANSI mode, so the mask also removes a latent crash.)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = _seq_sum(a * c) / den
            zmask = den == 0.0
            cos_arr = pa.array(cos, mask=zmask) if zmask.any() else pa.array(cos)
            yield pa.RecordBatch.from_arrays(
                [b.column(i) for i in range(n_keep)] + [cos_arr],
                schema=pa.schema(
                    [b.schema.field(i) for i in range(n_keep)]
                    + [pa.field(out_col, pa.float64())]
                ),
            )

    return pairs.select(*in_cols).mapInArrow(kern, schema)


def lsh_code_rows(
    emb: DataFrame,
    planes: list[list[float]],
    n_tables: int,
    n_bits: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, table, code): multi-table sign-LSH codes — plane
    ``t*n_bits + b`` supplies bit ``b`` of table ``t``'s code, exactly
    ``_lsh_code_for_table``'s packing.  The projection is the same
    sequential fold the HOF form ran (product array, then left-fold),
    so every sign bit — and therefore every code — is bit-identical."""
    P = np.asarray(planes, dtype=np.float64)  # (n_tables*n_bits, dim)
    dim = P.shape[1]
    weights = (1 << np.arange(n_bits, dtype=np.int32))
    # table/code are INT (not bigint): the pre-kernel expressions were
    # IntegerType, the stored signature artifacts and the DuckDB twins
    # are int32, and the driver's value hash is dtype-sensitive (the
    # dtype audit caught the bigint form) — also the narrower shuffle
    # row, guide §2.3.
    schema = T.StructType.fromDDL(
        f"{id_col} bigint, table int, code int"
    )

    def kern(batches: Iterator) -> Iterator:
        import pyarrow as pa

        tables = np.arange(n_tables, dtype=np.int32)
        for b in batches:
            ids = np.asarray(b.column(0), dtype=np.int64)
            E = _flat2d(b.column(1), dim)
            codes = np.empty((E.shape[0], n_tables), dtype=np.int32)
            for lo in range(0, E.shape[0], _CHUNK_ROWS):
                chunk = E[lo : lo + _CHUNK_ROWS]
                # (rows, planes, dim) product cube -> sequential fold
                proj = _seq_sum(chunk[:, None, :] * P[None, :, :])
                bits = (
                    (proj > 0)
                    .reshape(chunk.shape[0], n_tables, n_bits)
                    .astype(np.int32)
                )
                codes[lo : lo + _CHUNK_ROWS] = bits @ weights
            n = E.shape[0]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(ids, n_tables)),
                    pa.array(np.tile(tables, n)),
                    pa.array(codes.reshape(-1)),
                ],
                names=[id_col, "table", "code"],
            )

    return emb.select(id_col, "embedding").mapInArrow(kern, schema)


def attach_projection(
    emb: DataFrame,
    rows: list[list[float]],
    out_col: str = "parr",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, out_col: array<double>): per-vector projection onto the
    literal matrix ``rows`` (JL sign rows) — each output component the
    same sequential fold as the HOF form, so projections (and every
    downstream norm/score derived from them) are bit-identical."""
    P = np.asarray(rows, dtype=np.float64)  # (out_dim, dim)
    out_dim, dim = P.shape
    schema = T.StructType.fromDDL(
        f"{id_col} bigint, {out_col} array<double>"
    )

    def kern(batches: Iterator) -> Iterator:
        import pyarrow as pa

        for b in batches:
            E = _flat2d(b.column(1), dim)
            n = E.shape[0]
            proj = np.empty((n, out_dim), dtype=np.float64)
            for lo in range(0, n, _CHUNK_ROWS):
                chunk = E[lo : lo + _CHUNK_ROWS]
                proj[lo : lo + _CHUNK_ROWS] = _seq_sum(
                    chunk[:, None, :] * P[None, :, :]
                )
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(0),
                    pa.ListArray.from_arrays(
                        pa.array(
                            np.arange(0, (n + 1) * out_dim, out_dim),
                            type=pa.int32(),
                        ),
                        pa.array(proj.reshape(-1)),
                    ),
                ],
                names=[id_col, out_col],
            )

    return emb.select(id_col, "embedding").mapInArrow(kern, schema)


# --- r17: integer k-means / PQ assignment kernels -----------------------------
#
# The Lloyd/PQ ring's per-row work was the one family the r16 kernel pass
# left interpreted: nearest-centroid assignment is an
# ``array_min(transform(<2-D literal>, aggregate(zip_with(...))))`` fold
# (similarity._km_dist_structs) — K x D interpreted lambda evaluations per
# row, and the r16 verdict's #1 item measured it still dominating
# ann_pq_adc_topk's after-plan.  These kernels run the same EXACT INTEGER
# arithmetic on whole Arrow batches.
#
# BIT-EXACTNESS (stronger than the float kernels above): quantization is
# floor(x_double * scale + 0.5) — float64 multiply/add/floor are single
# IEEE-754 operations identical across NumPy and the JVM — and everything
# after it (squared distances, argmin, member counts, per-dimension sums)
# is int64 arithmetic, which is exact and order-free, so ANY evaluation
# order gives the same integers.  Ties: np.argmin returns the FIRST
# minimal index == array_min over (dist, cid) structs picking the lowest
# cid (centroid lists are ordered by cid 0..K-1, checked).


def _quant_units(E: np.ndarray, scale: int) -> np.ndarray:
    """floor(x * scale + 0.5) as int64 — bit-exact ``_km_units``."""
    return np.floor(E * float(scale) + 0.5).astype(np.int64)


def _block_mats(blocks) -> list[tuple[int, np.ndarray]]:
    """[(offset, (K, subdim) int64 centroid matrix)]; centroid lists must
    be ordered by cid 0..K-1 (the transform-index contract of
    ``_km_dist_structs``, enforced loudly here too)."""
    out = []
    for off, cents in blocks:
        if [cid for cid, _ in cents] != list(range(len(cents))):
            raise ValueError("centroid list must be ordered by cid 0..K-1")
        out.append((off, np.asarray([c for _cid, c in cents], dtype=np.int64)))
    return out


def _block_cids(U: np.ndarray, off: int, C: np.ndarray):
    """(cid, dist) int64 arrays: nearest centroid per row for one block.

    All int64: diffs bounded by ~2*scale (unit-ish vectors at scale 1e4),
    squared-sum over <=64 dims < 2^42 — no overflow anywhere near."""
    Ub = U[:, off : off + C.shape[1]]
    d = ((Ub[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    cid = d.argmin(axis=1)
    return cid.astype(np.int64), d[np.arange(d.shape[0]), cid]


def lloyd_partial_sums(
    df: DataFrame,
    blocks: list[tuple[int, list[tuple[int, list[int]]]]],
    scale: int,
    dim: int,
    emb_col: str = "embedding",
) -> DataFrame:
    """(block, cid, pos, val): per-batch PARTIAL Lloyd update statistics
    in LONG form — for every ``(offset, centroids)`` block of the
    ``dim``-wide embedding at once,
    ``pos = -1`` rows carry the member count and ``pos = 0..subdim-1``
    rows the per-dimension sums of the quantized block slice.  The
    caller groupBys (block, cid, pos) and sums; integer addition is
    exact and order-free, so the totals (and therefore every centroid
    update) are bit-identical to the row-at-a-time fold, while one job
    trains ALL blocks per round (the r16 thread-pool overlap, without
    the threads).

    Long form deliberately: a wide (n, s0..s63) schema gives the
    downstream aggregate 65 codegen'd sum columns whose generated class
    recompiles EVERY round (measured ~0.3-0.5 s/round at sf0.1 — the
    same plan-compile tax _km_dist_structs' docstring records for the
    unrolled fold); one sum over (block, cid, pos) keys compiles once
    and is cache-hit by every later round and every later query, as long
    as the session's generated classes fit its codegen cache
    (``spark.sql.codegen.cache.maxEntries``, pinned in ``get_spark``)."""
    mats = _block_mats(blocks)
    schema = T.StructType.fromDDL(
        "block bigint, cid bigint, pos bigint, val bigint"
    )

    def kern(batches: Iterator) -> Iterator:
        import pyarrow as pa

        for b in batches:
            U = _quant_units(_flat2d(b.column(0), dim), scale)
            blk, cid_o, pos_o, val_o = [], [], [], []
            for bi, (off, C) in enumerate(mats):
                subdim = C.shape[1]
                Ub = U[:, off : off + subdim]
                cid, _dist = _block_cids(U, off, C)
                for k in range(C.shape[0]):
                    mask = cid == k
                    cnt = int(mask.sum())
                    if not cnt:
                        continue
                    s = Ub[mask].sum(axis=0)
                    blk += [bi] * (subdim + 1)
                    cid_o += [k] * (subdim + 1)
                    pos_o += [-1, *range(subdim)]
                    val_o += [cnt, *(int(v) for v in s)]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.asarray(blk, dtype=np.int64)),
                    pa.array(np.asarray(cid_o, dtype=np.int64)),
                    pa.array(np.asarray(pos_o, dtype=np.int64)),
                    pa.array(np.asarray(val_o, dtype=np.int64)),
                ],
                names=[f.name for f in schema.fields],
            )

    return df.select(emb_col).mapInArrow(kern, schema)
