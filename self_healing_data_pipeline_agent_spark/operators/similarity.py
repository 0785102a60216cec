"""Similarity search over the ``embeddings`` table (SURVEY.md §2.B X9).

Cosine math uses built-in higher-order functions (``zip_with`` /
``aggregate`` — sequential left-fold in double precision), which is
bit-compatible with DuckDB's ``list_dot_product`` on ``DOUBLE[]`` — verified
empirically, so exact value-hash parity holds without rounding.

Brute-force top-k is the exactness baseline and the oracle; the scale path
(bucketed LSH pruning) lives in ``q_ann_lsh_topk`` — same top-k contract,
candidate generation bounded by bucket collisions instead of N².
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.carving import carving_study
from ..functions.stable import davg
from ..functions.oracle_sql import sql_davg
from ..functions.veckernels import (
    _quant_units,
    attach_pair_cosine,
    attach_projection,
    lloyd_partial_sums,
    lsh_code_rows,
)
from ..functions.vectors import cosine_similarity, dot, l2_norm
from ..sources.index_store import ensure_index, ensure_model
from ..sources.tables import load_table, local_frame, parquet_row_count, spread

ORACLES: dict[str, str] = {}

N_QUERY_VECS = 10  # vec_id < 10 are the query set
TOP_K = 5
LSH_TABLES = 8  # OR-amplification: candidate if ANY table's code matches
LSH_BITS = 4  # AND-amplification within a table: all 4 sign bits match

_DUCK_COS = (
    "list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))"
    " / (SQRT(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))"
    " * SQRT(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))"
)


def q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9 baseline: exact top-k cosine neighbors for the query set.

    Query side is tiny -> broadcast it; candidates stream by, so the cost
    is one scan of the corpus per batch of queries (the right brute-force
    layout at scale: broadcast Q, never shuffle the corpus)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # r16: scoring runs in the Arrow/NumPy kernel above the broadcast
    # nested-loop join (bit-identical; the per-pair interpreted dot fold
    # was the row's whole cost).  The broadcast-Q / stream-corpus layout
    # is unchanged — still one corpus scan per query batch.
    q = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
    )
    pairs = attach_pair_cosine(
        F.broadcast(q).join(c, F.col("query_id") != F.col("neighbor_id")),
        "q_emb", "c_emb",
        [("query_id", "bigint"), ("neighbor_id", "bigint")],
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select(
            "query_id", F.col("rn").cast("bigint").alias("rn"),
            "neighbor_id", "cosine",
        )
    )


ORACLES["knn_cosine"] = f"""
SELECT query_id, rn, neighbor_id, cosine FROM (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         {_DUCK_COS} AS cosine,
         ROW_NUMBER() OVER (PARTITION BY a.vec_id
                            ORDER BY {_DUCK_COS} DESC, b.vec_id ASC) AS rn
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
  WHERE a.vec_id < {N_QUERY_VECS}
) WHERE rn <= {TOP_K}
"""


def q_embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding stats: count + mean L2 norm (quantized mean for
    cross-engine stability)."""
    emb = load_table(spark, sf_dir, "embeddings")
    norm = l2_norm(F.col("embedding"))
    return (
        emb.select("label", norm.alias("norm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            davg(F.col("norm")).alias("avg_norm"),
        )
    )


ORACLES["embedding_norm_stats"] = f"""
SELECT label, COUNT(*) AS n_vectors,
       {sql_davg("SQRT(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))")} AS avg_norm
FROM embeddings GROUP BY label
"""


# Corpus-calibrated near-dup threshold.  The original 0.9 matched NOTHING
# (max pairwise cosine in the synthetic corpus: 0.479/0.513/0.601 at
# sf0.001/0.01/0.1), so both near-dup greens were empty-set hashes and
# the LSH variant's recall had never been exercised (VERDICT r7 #2).
# 0.45 yields 7/14/144 pairs respectively — non-trivial at every SF.
EMBED_NEAR_DUP_COS = 0.45


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cosine >= EMBED_NEAR_DUP_COS,
    a <.> b once).  Brute pairs at test scale; LSH blocking at 100 TB
    (see q_embedding_near_dup_lsh).  r16: the O(N^2) pair scoring runs
    in the Arrow/NumPy kernel (bit-identical — the `_lsh_coded`
    rationale; this is the quadratic pass the tuning study's stored
    truth set is built from, so its cost is the one-time build)."""
    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    return attach_pair_cosine(
        a.join(b, F.col("vec_a") < F.col("vec_b")),
        "ea", "eb", [("vec_a", "bigint"), ("vec_b", "bigint")],
    ).filter(F.col("cosine") >= EMBED_NEAR_DUP_COS)


ORACLES["embedding_near_dup"] = f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {_DUCK_COS} AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {_DUCK_COS} >= {EMBED_NEAR_DUP_COS}
"""


# --- ANN: random-hyperplane LSH (the 100 TB path) ---------------------------

def _hyperplane(dim: int, plane: int) -> list[float]:
    """Deterministic pseudo-random hyperplane component via md5 — no RNG
    state, reproducible on any engine/cluster."""
    import hashlib

    out = []
    for d in range(dim):
        h = hashlib.md5(f"{plane}:{d}".encode()).hexdigest()[:8]
        out.append(int(h, 16) / float(0xFFFFFFFF) - 0.5)
    return out


def _lsh_coded(emb: DataFrame, dim: int = 64) -> DataFrame:
    """(vec_id, table, code) — one row per LSH table per vector; shared
    by the ANN index and the near-dup blocker.

    r16 optimization (guide §4.2): the 32 hyperplane projections were
    ``zip_with``/``aggregate`` folds, which evaluate INTERPRETED per
    element — the coding scan paid ~dim x planes x N lambda evaluations
    (the documented 2.3-6x lambda tax; the r9 BENCH note measured
    explicit element_at chains 3.4x worse still).  The folds now run in
    one Arrow-batched NumPy kernel: same products, same strictly
    sequential left-fold sum (``np.cumsum``), so every sign bit and code
    is BIT-IDENTICAL (pinned against the old expression by
    tests/test_veckernels.py) while the coding pass vectorizes.  Still a
    narrow map — no shuffle, candidate joins still move 12-byte rows.
    Top-level import (not function-local), so the index store's
    transitive ``_code_fingerprint`` sees the kernel source and a kernel
    edit rebuilds every stored signature artifact automatically."""
    planes = [_hyperplane(dim, p) for p in range(LSH_TABLES * LSH_BITS)]
    return lsh_code_rows(emb, planes, LSH_TABLES, LSH_BITS)


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str, dim: int = 64) -> DataFrame:
    """X9 at scale: multi-table random-hyperplane LSH.

    Each vector gets ``LSH_TABLES`` sign codes of ``LSH_BITS`` hyperplane
    bits.  A corpus vector is a candidate for a query iff ANY table's code
    matches (OR-amplification recovers recall that a single code cannot
    achieve on weakly-clustered data); candidates are exact-cosine
    re-ranked for the top-k.  Approximate vs the true top-k (recall is
    pytest-asserted against the exact baseline) yet still exactly
    value-checked: the hyperplanes are deterministic constants, so the
    DuckDB twin (``_lsh_oracle_sql``) reproduces the index bit-for-bit.

    100 TB shape: coding is a narrow scan (no shuffle); the candidate join
    meets on the explicit (table, code) key so only colliding vectors
    pair up; tune LSH_BITS up as the corpus grows (collision count
    ~ N / 2^bits per table) and LSH_TABLES up for recall.

    r9 reshape (the embedding_near_dup_lsh r8 lesson applied to the last
    holdout): the old shape joined full embedding+norm rows on "table"
    alone with the code as a post-filter — every corpus embedding was
    replicated 8x into the join and carried through dropDuplicates.  Now
    the candidate join and the pair dedup move ONLY (vec_id, table,
    code) rows; the (query, neighbor) id pairs then rejoin the
    embeddings once per side for the exact rerank.  Candidate set and
    cosines are bit-identical; the dedup shuffle shrinks from
    8x-replicated 64-float vectors to 12-byte code rows.  coded is
    cached: query and corpus sides would otherwise each replay the 32
    hyperplane folds.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    coded = _lsh_coded(emb, dim).select("vec_id", "table", "code").cache()

    qcodes = coded.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"), "table", "code"
    )
    candidates = (
        F.broadcast(qcodes)
        .join(
            coded.select(F.col("vec_id").alias("neighbor_id"), "table", "code"),
            ["table", "code"],
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .select("query_id", "neighbor_id")
    )
    # exact rerank: query embeddings are Q-sized -> broadcast; the
    # neighbor side is corpus-sized, so no hint — Catalyst must stay free
    # to pick SMJ on vec_id at scale (it broadcasts on its own at test SFs)
    q = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
    )
    # r16: the exact rerank's cosine runs in the Arrow/NumPy kernel
    # (bit-identical — see _lsh_coded); join shape unchanged.
    pairs = attach_pair_cosine(
        candidates.join(F.broadcast(q), "query_id").join(c, "neighbor_id"),
        "q_emb", "c_emb",
        [("query_id", "bigint"), ("neighbor_id", "bigint")],
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select(
            "query_id", F.col("rn").cast("bigint").alias("rn"),
            "neighbor_id", "cosine",
        )
    )


# --- X9c: IVF (inverted-file) ANN — the cell-partitioned scale path ---------

IVF_CELLS = 16  # coarse codebook size; scale rule-of-thumb: ~sqrt(N)
IVF_NPROBE = 4  # cells probed per query


def _ivf_assignments(emb: DataFrame) -> DataFrame:
    """(vec_id, centroid_id, cos): similarity of every vector to every
    centroid.  Centroids are the first IVF_CELLS corpus vectors — a
    deterministic, training-free codebook (production would k-means on a
    sample; the query shape is identical).  Centroid set is broadcast, so
    assignment is a narrow map over the corpus — no shuffle."""
    cent = emb.filter(F.col("vec_id") < IVF_CELLS).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cent_emb"),
    )
    vec = emb.select("vec_id", "embedding")
    # r16: the N x IVF_CELLS assignment scoring runs in the Arrow/NumPy
    # kernel (bit-identical — see _lsh_coded); broadcast shape unchanged.
    return attach_pair_cosine(
        vec.crossJoin(F.broadcast(cent)),
        "embedding", "cent_emb",
        [("vec_id", "bigint"), ("centroid_id", "bigint")],
        out_col="cos",
    )


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9 scale path #2: IVF top-k — assign each corpus vector to its
    nearest centroid cell, probe only the IVF_NPROBE nearest cells per
    query, exact-rerank inside them.

    Scale shape: per-query work drops from O(N) to O(N * nprobe/cells);
    the corpus is hash-partitioned by cell (each vector lands in exactly
    ONE cell, so probed candidate sets are disjoint — no dedup shuffle),
    and the probe join is a partition-pruned lookup.  This is the layout
    behind FAISS-style IVF indexes, expressed as two joins."""
    emb = load_table(spark, sf_dir, "embeddings")
    ac = _ivf_assignments(emb)
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.desc("cos"), F.asc("centroid_id")
    )
    ranked = ac.withColumn("arn", F.row_number().over(w_assign))
    assign = ranked.filter(F.col("arn") == 1).select(
        "vec_id", F.col("centroid_id").alias("cell")
    )
    probes = (
        ranked.filter(
            (F.col("vec_id") < N_QUERY_VECS) & (F.col("arn") <= IVF_NPROBE)
        )
        .select(F.col("vec_id").alias("query_id"), F.col("centroid_id").alias("cell"))
    )
    corpus = assign.join(
        emb.select(F.col("vec_id"), F.col("embedding").alias("c_emb")),
        "vec_id",
    ).select(F.col("vec_id").alias("neighbor_id"), "cell", "c_emb")
    q = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
    )
    # r16: probed-cell scoring in the Arrow/NumPy kernel (bit-identical)
    cand = attach_pair_cosine(
        F.broadcast(probes)
        .join(corpus, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .join(F.broadcast(q), "query_id"),
        "q_emb", "c_emb",
        [("query_id", "bigint"), ("neighbor_id", "bigint")],
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= TOP_K)
        .select(
            "query_id", F.col("rn").cast("bigint").alias("rn"),
            "neighbor_id", "cosine",
        )
    )


_DUCK_VC_COS = (
    "list_dot_product(CAST(v.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))"
    " / (SQRT(list_dot_product(CAST(v.embedding AS DOUBLE[]), CAST(v.embedding AS DOUBLE[])))"
    " * SQRT(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))))"
)

ORACLES["ann_ivf_topk"] = f"""
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding FROM embeddings WHERE vec_id < {IVF_CELLS}
),
ac AS (
  SELECT v.vec_id, c.centroid_id, {_DUCK_VC_COS} AS cos,
         ROW_NUMBER() OVER (PARTITION BY v.vec_id
                            ORDER BY {_DUCK_VC_COS} DESC, c.centroid_id ASC) AS arn
  FROM embeddings v CROSS JOIN cent c
),
assign AS (
  SELECT vec_id, centroid_id AS cell FROM ac WHERE arn = 1
),
probes AS (
  SELECT vec_id AS query_id, centroid_id AS cell
  FROM ac WHERE vec_id < {N_QUERY_VECS} AND arn <= {IVF_NPROBE}
),
cand AS (
  SELECT p.query_id, s.vec_id AS neighbor_id
  FROM probes p JOIN assign s ON p.cell = s.cell AND s.vec_id <> p.query_id
),
scored AS (
  SELECT cd.query_id, cd.neighbor_id, {_DUCK_COS} AS cosine,
         ROW_NUMBER() OVER (PARTITION BY cd.query_id
                            ORDER BY {_DUCK_COS} DESC, cd.neighbor_id ASC) AS rn
  FROM cand cd
  JOIN embeddings a ON a.vec_id = cd.query_id
  JOIN embeddings b ON b.vec_id = cd.neighbor_id
)
SELECT query_id, rn, neighbor_id, cosine FROM scored WHERE rn <= {TOP_K}
"""


def _duck_coded_sql(dim: int = 64) -> str:
    """DuckDB twin of ``_lsh_coded``: hyperplanes inline as literal
    DOUBLE[] arrays, sign bits fold identically to Spark's."""
    table_exprs = []
    for t in range(LSH_TABLES):
        bits = []
        for b in range(LSH_BITS):
            plane = _hyperplane(dim, t * LSH_BITS + b)
            arr = "[" + ", ".join(repr(v) for v in plane) + "]"
            bits.append(
                f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), {arr})"
                f" > 0 THEN {2 ** b} ELSE 0 END)"
            )
        table_exprs.append(
            f"SELECT vec_id, embedding, {t} AS tbl, "
            + " + ".join(bits)
            + " AS code FROM embeddings"
        )
    return "\n  UNION ALL\n  ".join(table_exprs)


def _lsh_oracle_sql(dim: int = 64) -> str:
    """DuckDB twin of q_ann_lsh_topk.  The hyperplanes are deterministic
    Python constants (md5-derived), so they inline as literal DOUBLE[]
    arrays; each sign bit is the same left-fold dot product both engines
    compute bit-identically, making even this 'approximate' index
    exactly value-checkable."""
    return f"""
WITH coded AS (
  {_duck_coded_sql(dim)}
),
candidates AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM coded q JOIN coded c ON q.tbl = c.tbl AND q.code = c.code
  WHERE q.vec_id < {N_QUERY_VECS} AND c.vec_id <> q.vec_id
),
scored AS (
  SELECT cd.query_id, cd.neighbor_id, {_DUCK_COS} AS cosine,
         ROW_NUMBER() OVER (PARTITION BY cd.query_id
                            ORDER BY {_DUCK_COS} DESC, cd.neighbor_id ASC) AS rn
  FROM candidates cd
  JOIN embeddings a ON a.vec_id = cd.query_id
  JOIN embeddings b ON b.vec_id = cd.neighbor_id
)
SELECT query_id, rn, neighbor_id, cosine FROM scored WHERE rn <= {TOP_K}
"""


ORACLES["ann_lsh_topk"] = _lsh_oracle_sql()


# --- X9d: per-label centroids (IVF training / class-mean analysis) ----------

def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column, long format
    (label, dim, centroid) — the building block IVF coarse quantizers and
    class-mean classifiers train on.

    Scale shape: posexplode streams (label, dim, value) triples through
    whole-stage codegen into ONE grouped average — no per-label collect,
    no array re-assembly shuffle (long format IS the output), and partial
    aggregation means each task ships at most |labels|×|dims| partials
    regardless of row count.
    """
    df = load_table(spark, sf_dir, "embeddings")
    exploded = df.select(
        "label", F.posexplode("embedding").alias("dim", "v")
    )
    return (
        exploded.groupBy("label", "dim")
        .agg(davg(F.col("v").cast("double")).alias("centroid"))
        .select("label", F.col("dim").cast("bigint").alias("dim"), "centroid")
    )


ORACLES["label_centroids"] = f"""
SELECT label, g.pos AS dim,
       {sql_davg('CAST(embedding[g.pos + 1] AS DOUBLE)')} AS centroid
FROM embeddings, generate_series(0, 63) AS g(pos)
GROUP BY label, g.pos
"""


# --- X8e: embedding near-dup at scale (LSH blocking) ------------------------

def q_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str,
                             dim: int = 64) -> DataFrame:
    """The 100 TB path for ``q_embedding_near_dup``: LSH sign-code
    blocking replaces the all-pairs join.  Pairs meet only if some LSH
    table gives both vectors the same code — the self-join shuffles on
    (table, code) so candidate volume tracks collisions (~N²/2^bits per
    table), not N²; exact cosine then verifies candidates.  Same
    deterministic hyperplanes as the ANN index, so the blocker is
    value-checked bit-for-bit, and missed-pair recall is pytest-asserted
    against the brute-force twin.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # r8 reshape: the blocker join carries ONLY (vec_id, table, code) —
    # the old shape joined full embedding+norm rows on "table" alone
    # (codes post-filtered), shuffling every embedding 8x per side and
    # replaying the coding lineage for both sides.  Join ids on the
    # explicit (table, code) key, dedup candidate PAIRS, then rejoin the
    # (broadcastable, corpus-sized) embeddings once per side for the
    # exact verify.  Candidate set and cosines are bit-identical; at
    # scale the shuffle shrinks from 8x-replicated vectors to 12-byte
    # code rows.  coded is cached: a self-join re-executes the 32
    # hyperplane folds per side otherwise (the _shingle_df convention).
    coded = _lsh_coded(emb, dim).select("vec_id", "table", "code").cache()
    cand = (
        coded.select(F.col("vec_id").alias("vec_a"), "table", "code")
        .join(
            coded.select(F.col("vec_id").alias("vec_b"), "table", "code"),
            ["table", "code"],
        )
        .filter(F.col("vec_a") < F.col("vec_b"))
        .dropDuplicates(["vec_a", "vec_b"])
        .select("vec_a", "vec_b")
    )
    ea = emb.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea")
    )
    eb = emb.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb")
    )
    # no broadcast hint: the embedding side is corpus-sized, so Catalyst
    # must stay free to pick SMJ on vec_id at scale (it broadcasts on its
    # own at test SFs, where the corpus is KBs).  r16: the per-pair
    # cosine verify — the dominant interpreted-fold cost at ~10^5-10^6
    # candidate pairs — runs in the Arrow/NumPy kernel, bit-identical
    # (tests/test_veckernels.py); the join shape is unchanged.
    return attach_pair_cosine(
        cand.join(ea, "vec_a").join(eb, "vec_b"),
        "ea", "eb", [("vec_a", "bigint"), ("vec_b", "bigint")],
    ).filter(F.col("cosine") >= EMBED_NEAR_DUP_COS)


ORACLES["embedding_near_dup_lsh"] = f"""
WITH coded AS (
  {_duck_coded_sql()}
),
candidates AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM coded a JOIN coded b ON a.tbl = b.tbl AND a.code = b.code
  WHERE a.vec_id < b.vec_id
)
SELECT cd.vec_a, cd.vec_b, {{cos}} AS cosine
FROM candidates cd
JOIN embeddings a ON a.vec_id = cd.vec_a
JOIN embeddings b ON b.vec_id = cd.vec_b
WHERE {{cos}} >= {{thr}}
""".format(cos=_DUCK_COS, thr=EMBED_NEAR_DUP_COS)


# --- int8 quantization codebook ----------------------------------------------

def q_embedding_quant_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension int8 quantization parameters (min / max / scale /
    zero-point) — the codebook an embedding store computes once per
    corpus snapshot to serve vectors at 4x less memory.

    posexplode streams (dim, value) pairs into ONE grouped min/max —
    map-side partials mean each task ships at most 64 partial rows.
    min/max are exact (order-free), scale is one deterministic double
    division, zero-point one explicit round-half-up — all engine-exact.
    """
    df = load_table(spark, sf_dir, "embeddings")
    exploded = df.select(F.posexplode("embedding").alias("dim", "v"))
    agg = exploded.groupBy("dim").agg(
        F.min(F.col("v").cast("double")).alias("mn"),
        F.max(F.col("v").cast("double")).alias("mx"),
    )
    scale = (F.col("mx") - F.col("mn")) / F.lit(255.0)
    zero_point = F.floor(-F.col("mn") / scale + F.lit(0.5)).cast("bigint")
    return agg.select(
        F.col("dim").cast("bigint").alias("dim"),
        "mn", "mx",
        scale.alias("scale"),
        F.when(F.col("mx") > F.col("mn"), zero_point).otherwise(F.lit(0))
        .alias("zero_point"),
    )


ORACLES["embedding_quant_codebook"] = """
WITH exploded AS (
  SELECT g.pos AS dim, CAST(embedding[g.pos + 1] AS DOUBLE) AS v
  FROM embeddings, generate_series(0, 63) AS g(pos)
), agg AS (
  SELECT dim, MIN(v) AS mn, MAX(v) AS mx FROM exploded GROUP BY dim
)
SELECT CAST(dim AS BIGINT) AS dim, mn, mx,
       (mx - mn) / 255.0 AS scale,
       CASE WHEN mx > mn
            THEN CAST(FLOOR(-mn / ((mx - mn) / 255.0) + 0.5) AS BIGINT)
            ELSE 0 END AS zero_point
FROM agg
"""


# --- SemDeDup-style semantic dedup -------------------------------------------

# Within-cell cosine above which the higher id is a dup.  Calibrated to the
# synthetic corpus (max pairwise cosine ~0.51): 0.35 flags ~12% of vectors,
# so the prune path is actually exercised; real embeddings would use ~0.9+.
SEMDEDUP_TAU = 0.35

# Above this corpus size the cell-assignment lineage is materialized
# (localCheckpoint) instead of replayed into the self-join sides and the
# final left join.  At sf0.1 (2k vectors) replay is A/B-measured CHEAPER
# (+0.4 s steady for checkpointing); at production scale the ~3x replay of
# a full scan + codebook scoring pass crosses over and a real deployment
# writes the cell map to a table between the assign and prune stages —
# localCheckpoint is the in-session equivalent.  Footer row count decides,
# so the switch itself costs no data pass.
SEMDEDUP_MATERIALIZE_ROWS = 1_000_000


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-then-prune semantic dedup (the SemDeDup recipe, Abbas et
    al. 2023): assign every embedding to its nearest coarse-codebook
    cell, compare pairs ONLY within a cell, and keep the lowest vec_id of
    every cosine>=tau group (`kept = 0` rows carry `dup_of`, the smallest
    id they duplicate).  Mirrors the reference's dedup intent
    (src/data_quality_checks.py:20-57 deduplicates on exact values) at
    the semantic level a training corpus needs.

    Scale shape: the codebook broadcast makes assignment a narrow map;
    the pairwise stage is confined to one cell (cells are hash-
    partitioned, the self-join is co-partitioned on `cell` — no global
    pair explosion), and a production codebook sized ~sqrt(N) keeps
    per-cell membership, and therefore cell^2 work, bounded.  The fold
    dot product is bit-identical to DuckDB's list_dot_product, so the
    tau comparison is engine-exact.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    ac = _ivf_assignments(emb)
    # Nearest-cell argmax as a map-side-combinable max_by (max cos, ties
    # to the LOWEST centroid_id via the negated second struct field) —
    # the same choice the row_number window picks in ann_ivf_topk, but as
    # a partial aggregation: A/B-measured equivalent at sf0.1 (both
    # floor-bound), strictly better at scale because the map-side combine
    # ships ONE row per vector into the shuffle instead of all scored
    # candidates sorted.  The assignment feeds both self-join sides and
    # the final left join, so its lineage is replayed up to 3x; measured
    # at sf0.1 that replay is CHEAPER than materializing (localCheckpoint
    # tried: +0.4 s steady, +5 s first run) because it is a narrow map +
    # partial agg.  Past SEMDEDUP_MATERIALIZE_ROWS the replay crosses
    # over and the cell map is materialized instead (the production
    # shape: assign once, prune from the stored map).
    assign = ac.groupBy("vec_id").agg(
        F.expr("max_by(centroid_id, struct(cos, -centroid_id))").alias("cell")
    )
    if parquet_row_count(sf_dir, "embeddings") > SEMDEDUP_MATERIALIZE_ROWS:
        assign = assign.localCheckpoint(eager=False)
    members = assign.join(emb.select("vec_id", "embedding"), "vec_id")
    a = members.select(
        F.col("cell"), F.col("vec_id").alias("vid"),
        F.col("embedding").alias("ea"),
    )
    b = members.select(
        F.col("cell"), F.col("vec_id").alias("other"),
        F.col("embedding").alias("eb"),
    )
    # r16: the within-cell pairwise scoring runs in the Arrow/NumPy
    # kernel (bit-identical — see _lsh_coded); the co-partitioned cell
    # self-join is unchanged.
    dups = (
        attach_pair_cosine(
            a.join(b, "cell").filter(F.col("vid") > F.col("other")),
            "ea", "eb", [("vid", "bigint"), ("other", "bigint")],
        )
        .filter(F.col("cosine") >= F.lit(SEMDEDUP_TAU))
        .groupBy("vid")
        .agg(F.min("other").alias("dup_of"))
    )
    return assign.join(dups, assign.vec_id == dups.vid, "left").select(
        "vec_id",
        "cell",
        F.when(F.col("dup_of").isNull(), 1).otherwise(0).cast("bigint").alias("kept"),
        "dup_of",
    )


ORACLES["semantic_dedup"] = f"""
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding FROM embeddings WHERE vec_id < {IVF_CELLS}
),
ac AS (
  SELECT v.vec_id, c.centroid_id,
         ROW_NUMBER() OVER (PARTITION BY v.vec_id
                            ORDER BY {_DUCK_VC_COS} DESC, c.centroid_id ASC) AS arn
  FROM embeddings v CROSS JOIN cent c
),
assign AS (
  SELECT vec_id, centroid_id AS cell FROM ac WHERE arn = 1
),
dups AS (
  SELECT x.vec_id AS vid, MIN(y.vec_id) AS dup_of
  FROM assign x JOIN assign y ON x.cell = y.cell AND x.vec_id > y.vec_id
  JOIN embeddings a ON a.vec_id = x.vec_id
  JOIN embeddings b ON b.vec_id = y.vec_id
  WHERE {_DUCK_COS} >= {SEMDEDUP_TAU}
  GROUP BY x.vec_id
)
SELECT s.vec_id, s.cell,
       CAST(CASE WHEN dup_of IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept,
       dup_of
FROM assign s LEFT JOIN dups ON s.vec_id = vid
"""


# --- SQ8 asymmetric-distance ANN (quantized score + exact rerank) ------------

# Candidate pool per query scored against RECONSTRUCTED (int8-quantized)
# vectors before the exact rerank.  4x TOP_K: generous enough that the
# quantization error (<= scale/2 per dim) cannot push a true top-k
# neighbor out of the pool on this corpus — asserted by the recall test.
# Derived, so raising TOP_K keeps the 4x margin the recall contract
# depends on (r7 review).
SQ8_CANDIDATES = 4 * TOP_K


def q_ann_int8_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9 scale path #3: serve ANN from INT8-quantized vectors (the
    ``embedding_quant_codebook`` parameters) with full-precision queries —
    FAISS's SQ8 + asymmetric-distance recipe.  The memory story at 100 TB:
    the scan side holds 1-byte codes (4x smaller, 4x more of the corpus in
    page cache); only the SQ8_CANDIDATES-per-query pool is reranked
    against full-precision vectors.

    Determinism: quantize/reconstruct is per-element arithmetic
    (code = clamp(floor((v - mn)/scale + 0.5), 0, 255), recon = mn +
    code*scale) and every dot product is a sequential left-fold
    (``zip_with``/``aggregate`` = DuckDB ``list_dot_product`` — the
    knn_cosine bit-compatibility contract), so approximate scores, the
    candidate cut (score desc, id asc) and the exact reranked ``cosine``
    are all engine-identical bits.

    Plan shape: the 64-row codebook aggregates into ONE row of
    (mns, scales) arrays — broadcast, never collected; queries broadcast;
    the corpus is scanned once to score codes; the rerank joins only
    Q x SQ8_CANDIDATES rows back to full vectors."""
    emb = load_table(spark, sf_dir, "embeddings")
    # the quantization parameters come FROM q_embedding_quant_codebook —
    # one definition of the codebook in each engine (r7 review: the
    # min/max/scale derivation was a frozen copy here)
    cb = (
        q_embedding_quant_codebook(spark, sf_dir)
        .select("dim", "mn", "scale")
        .agg(
            F.array_sort(F.collect_list(F.struct("dim", "mn", "scale")))
            .alias("cb")
        )
        .select(
            F.transform("cb", lambda s: s.mn).alias("mns"),
            F.transform("cb", lambda s: s.scale).alias("scales"),
        )
    )

    def _recon(v, i):
        mn = F.element_at("mns", i + F.lit(1))
        sc = F.element_at("scales", i + F.lit(1))
        code = F.least(
            F.greatest(
                F.floor((v.cast("double") - mn) / sc + F.lit(0.5)), F.lit(0.0)
            ),
            F.lit(255.0),
        )
        return F.when(sc > 0, mn + code * sc).otherwise(mn)

    recon = emb.crossJoin(F.broadcast(cb)).select(
        F.col("vec_id").alias("neighbor_id"),
        F.transform("embedding", _recon).alias("r"),
    )
    q = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
    )
    # r16: the asymmetric-distance candidate scan scores in the
    # Arrow/NumPy kernel (bit-identical — see _lsh_coded; the
    # reconstruction transform stays a JVM expression, it is
    # corpus-linear while the scoring is Q x corpus).
    cand = attach_pair_cosine(
        F.broadcast(q).join(recon, F.col("query_id") != F.col("neighbor_id")),
        "q_emb", "r",
        [("query_id", "bigint"), ("neighbor_id", "bigint")],
        out_col="ascore",
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.desc("ascore"), F.asc("neighbor_id")
    )
    pool = (
        cand.withColumn("crn", F.row_number().over(wc))
        .filter(F.col("crn") <= SQ8_CANDIDATES)
        .select("query_id", "neighbor_id")
    )
    return _rerank_topk(emb, pool)


# the codebook comes from the embedding_quant_codebook ORACLE verbatim —
# one definition of the quantization per engine (r7 review)
ORACLES["ann_int8_rerank"] = f"""
WITH cb_rows AS ({ORACLES["embedding_quant_codebook"]}),
cb AS (
  SELECT list(mn ORDER BY dim) AS mns,
         list(scale ORDER BY dim) AS scales
  FROM cb_rows
),
recon AS (
  SELECT vec_id AS neighbor_id,
         list_transform(CAST(embedding AS DOUBLE[]), (v, i) ->
           CASE WHEN scales[i] > 0
                THEN mns[i] + LEAST(GREATEST(FLOOR((v - mns[i]) / scales[i]
                                                  + 0.5), 0.0), 255.0)
                     * scales[i]
                ELSE mns[i] END) AS r
  FROM embeddings, cb
),
cand AS (
  SELECT a.vec_id AS query_id, b.neighbor_id,
         list_dot_product(CAST(a.embedding AS DOUBLE[]), b.r)
         / (SQRT(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                  CAST(a.embedding AS DOUBLE[])))
            * SQRT(list_dot_product(b.r, b.r))) AS ascore
  FROM embeddings a JOIN recon b ON a.vec_id <> b.neighbor_id
  WHERE a.vec_id < {N_QUERY_VECS}
),
pool AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY ascore DESC, neighbor_id ASC) AS crn
    FROM cand
  ) WHERE crn <= {SQ8_CANDIDATES}
)
SELECT query_id, rn, neighbor_id, cosine FROM (
  SELECT p.query_id, p.neighbor_id, {_DUCK_COS} AS cosine,
         ROW_NUMBER() OVER (PARTITION BY p.query_id
                            ORDER BY {_DUCK_COS} DESC, p.neighbor_id ASC)
           AS rn
  FROM pool p
  JOIN embeddings a ON a.vec_id = p.query_id
  JOIN embeddings b ON b.vec_id = p.neighbor_id
) WHERE rn <= {TOP_K}
"""


# --- X9f: Johnson-Lindenstrauss random projection (dimension reduction) ------
#
# The quantization family (SQ8, int8 codebook) shrinks vectors by
# narrowing each component; JL projection shrinks them by DROPPING
# dimensions: a deterministic ±1 sign matrix maps 64 -> JL_DIM dims while
# approximately preserving norms/inner products (Achlioptas 2003:
# database-friendly random projections — sign matrices work as well as
# Gaussians).  At 100 TB this is the cheapest ANN compression lever: the
# projection is a narrow map-only pass (no shuffle, no training, no
# codebook to fit), and downstream candidate scans touch 4x less data.

# 64 -> 32: 2x compression, ~1/sqrt(32) typical inner-product error.
# This synthetic corpus is JL's WORST case (uniform random vectors: all
# true cosines bunch within ~0.01 of each other, smaller than the
# projection noise), so candidate counts are sized for recall there:
# measured top-5 recall vs the exact baseline is 0.72/0.74/0.48 at
# sf0.001/0.01/0.1 with JL_DIM=32, JL_CAND=100 (16/50 gave 0.38/0.2 at
# the larger SFs).  Real embeddings have cluster structure and larger
# neighbor gaps, where the same setup does far better; the pytest floor
# pins the measured worst case.
JL_DIM = 32
JL_CAND = 100  # candidates kept per query in projected space


def _jl_signs(i: int, dim: int = 64) -> list[float]:
    """Row i of the deterministic ±1 projection matrix via md5 — no RNG
    state, reproducible on any engine/cluster (same convention as
    ``_hyperplane``)."""
    import hashlib

    return [
        1.0 if int(hashlib.md5(f"jl:{i}:{d}".encode()).hexdigest()[:2], 16) % 2 == 0
        else -1.0
        for d in range(dim)
    ]


def _jl_project(emb_col: str = "embedding", dim: int = 64) -> F.Column:
    """array<double> of JL_DIM signed-sum projections — built-in folds
    only (codegen; bit-compatible with the DuckDB twin's
    list_dot_product, the same pairing every cosine here relies on)."""
    projs = []
    for i in range(JL_DIM):
        arr = F.array(*[F.lit(v) for v in _jl_signs(i, dim)])
        projs.append(
            F.aggregate(
                F.zip_with(F.col(emb_col), arr,
                           lambda x, y: x.cast("double") * y),
                F.lit(0.0), lambda acc, x: acc + x,
            )
        )
    return F.array(*projs)


def _duck_jl_list(dim: int = 64) -> str:
    """DuckDB twin of ``_jl_project``: the sign rows inline as literal
    DOUBLE[] arrays (same Python-rendered constants both engines use)."""
    items = []
    for i in range(JL_DIM):
        arr = "[" + ", ".join(repr(v) for v in _jl_signs(i, dim)) + "]"
        items.append(f"list_dot_product(CAST(embedding AS DOUBLE[]), {arr})")
    return "[" + ",\n         ".join(items) + "]"


def q_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector JL projection quality: squared norm in the projected
    space (scaled by 1/JL_DIM so it estimates the original squared norm),
    the exact squared norm, and their ratio — the distortion a JL user
    monitors before trusting projected distances.

    Scale shape: map-only (one narrow pass over the corpus, no shuffle);
    every output value is the same left-fold double arithmetic in both
    engines, so the hash check is exact with no banding."""
    emb = load_table(spark, sf_dir, "embeddings")
    parr = _jl_project()
    p_norm2 = dot(F.col("parr"), F.col("parr")) / F.lit(float(JL_DIM))
    e_norm2 = dot(F.col("embedding"), F.col("embedding"))
    return (
        emb.select("vec_id", "embedding", parr.alias("parr"))
        .select(
            "vec_id",
            p_norm2.alias("p_norm2"),
            e_norm2.alias("e_norm2"),
            (p_norm2 / e_norm2).alias("distortion"),
        )
    )


ORACLES["jl_projection"] = f"""
WITH proj AS (
  SELECT vec_id,
         {_duck_jl_list()} AS parr,
         CAST(embedding AS DOUBLE[]) AS e
  FROM embeddings
)
SELECT vec_id,
       list_dot_product(parr, parr) / {float(JL_DIM)} AS p_norm2,
       list_dot_product(e, e) AS e_norm2,
       (list_dot_product(parr, parr) / {float(JL_DIM)})
         / list_dot_product(e, e) AS distortion
FROM proj
"""


def q_ann_jl_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9 compression path #2: ANN via JL projection + exact rerank.
    Candidate generation scans JL_DIM=32-dim projections (2x less data
    per pair than the raw 64-dim scan) for the top-JL_CAND projected-cosine
    neighbors per query; the exact rerank then rescores only Q x JL_CAND
    pairs in the original space.  Same contract family as
    ``q_ann_int8_rerank`` (SQ8): approximate candidates, exact final
    ranking, recall pytest-asserted against the brute-force baseline —
    and still exactly value-checked, because the sign matrix is a
    deterministic constant both engines share.

    100 TB shape: projection is map-only; the candidate pass is a
    broadcast-Q scan of the projected corpus (linear, never a self-join);
    the rerank joins only Q x JL_CAND id pairs back to the raw vectors.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # r16: the JL projection BUILD — 32 interpreted sign folds per
    # vector, measured as almost this row's entire cost (the r9 BENCH
    # note: 45x, "almost entirely the JL projection build") — runs in
    # the Arrow/NumPy projection kernel, bit-identical (see _lsh_coded).
    # Query side projects only its N_QUERY_VECS rows (filter below the
    # kernel); corpus side projects once.  Candidate scoring and the
    # exact rerank use the pair kernel; join shapes unchanged.
    signs = [_jl_signs(i) for i in range(JL_DIM)]
    q = attach_projection(
        emb.filter(F.col("vec_id") < N_QUERY_VECS), signs
    ).select(F.col("vec_id").alias("query_id"), F.col("parr").alias("q_parr"))
    c = attach_projection(emb, signs).select(
        F.col("vec_id").alias("neighbor_id"), F.col("parr").alias("c_parr")
    )
    cand = attach_pair_cosine(
        F.broadcast(q).join(c, F.col("query_id") != F.col("neighbor_id")),
        "q_parr", "c_parr",
        [("query_id", "bigint"), ("neighbor_id", "bigint")],
        out_col="pscore", dim=JL_DIM,
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.desc("pscore"), F.asc("neighbor_id")
    )
    pool = (
        cand.withColumn("crn", F.row_number().over(wc))
        .filter(F.col("crn") <= JL_CAND)
        .select("query_id", "neighbor_id")
    )
    return _rerank_topk(emb, pool)


ORACLES["ann_jl_rerank"] = f"""
WITH proj AS (
  SELECT vec_id,
         {_duck_jl_list()} AS parr
  FROM embeddings
),
cand AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_dot_product(q.parr, c.parr)
         / (SQRT(list_dot_product(q.parr, q.parr))
            * SQRT(list_dot_product(c.parr, c.parr))) AS pscore
  FROM proj q JOIN proj c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERY_VECS}
),
pool AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY pscore DESC, neighbor_id ASC) AS crn
    FROM cand
  ) WHERE crn <= {JL_CAND}
)
SELECT query_id, rn, neighbor_id, cosine FROM (
  SELECT p.query_id, p.neighbor_id, {_DUCK_COS} AS cosine,
         ROW_NUMBER() OVER (PARTITION BY p.query_id
                            ORDER BY {_DUCK_COS} DESC, p.neighbor_id ASC)
           AS rn
  FROM pool p
  JOIN embeddings a ON a.vec_id = p.query_id
  JOIN embeddings b ON b.vec_id = p.neighbor_id
) WHERE rn <= {TOP_K}
"""


# --- X25: integer-unit k-means (Lloyd) over embeddings -----------------------
#
# The clustering counterpart of the ranking/CC fixpoints (X24,
# duplicate_clusters): an ITERATIVE numeric algorithm whose every step is
# exact integer arithmetic, so the fixpoint is value-hash-checkable
# cross-engine.  Components quantize to KM_SCALE units (floor(x*1e4+0.5)
# on the double-widened float — the SQ8 codebook's rounding idiom);
# squared distances, centroid sums, and the truncating centroid division
# (Spark `div` == DuckDB `//` == trunc-toward-zero, verified on negative
# operands) all stay in BIGINT.
#
# Scale shape (MLlib Lloyd's): centroids are a K x D model artifact held
# driver-side and re-broadcast each round as literal arrays — assignment
# is a MAP-ONLY fold per row (no join, no shuffle), and the only per-round
# shuffle is the (cid, pos) partial-sum aggregate (K*D = 512 groups,
# map-side combined).  Driver state is K*D ints — the model itself, the
# same "the artifact IS the driver state" posture as the BPE merge table.

KM_K = 8
KM_ITERS = 3
KM_SCALE = 10000
KM_DIM = 64


def _km_units() -> F.Column:
    """embedding quantized to BIGINT units of 1/KM_SCALE."""
    return F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * KM_SCALE + F.lit(0.5)).cast("bigint"),
    )


def _km_dist_structs(
    cents: list[tuple[int, list[int]]], col: str = "u"
) -> F.Column:
    """array<struct(dist, cid)> of exact integer squared distances from
    the row's ``col`` array to every literal centroid — the per-row distance
    table both assignment (argmin) and probing (sort + slice) fold over,
    entirely JVM-side.

    Built as one ``transform`` over a single 2-D literal array rather
    than K unrolled per-centroid folds: the unrolled form generated so
    much Java that whole-stage codegen spent ~9 s COMPILING each round's
    plan (measured at sf0.1 — the r11 bench regression; execution was
    fast, compilation wasn't).  As one HOF over one array literal the
    codebook is a single constant object reference in the generated
    code, the fold body compiles once, and the whole Lloyd round plans
    in milliseconds.  Field order (dist, cid) is preserved, so
    array_min/array_sort compare identically; ``cid`` comes from the
    transform index, which equals the centroid id because the model
    list stays ordered by cid 0..K-1 (asserted)."""
    assert [cid for cid, _ in cents] == list(range(len(cents)))
    lit2d = (
        "array("
        + ", ".join(
            "array(" + ", ".join(f"{int(v)}L" for v in c) + ")"
            for _cid, c in cents
        )
        + ")"
    )
    return F.expr(
        f"transform({lit2d}, (c, i) -> named_struct("
        f"'dist', aggregate(zip_with({col}, c, (a, b) -> (a - b) * (a - b)),"
        " 0L, (acc, x) -> acc + x), "
        "'cid', cast(i AS bigint)))"
    )


def _km_best(cents: list[tuple[int, list[int]]]) -> F.Column:
    """struct(dist, cid) of the nearest centroid (squared-distance
    argmin, ties to the lowest cid) — array_min over per-centroid fold
    structs, entirely JVM-side against literal centroid arrays."""
    return F.array_min(_km_dist_structs(cents))


def _km_tdiv(a: int, b: int) -> int:
    """trunc-toward-zero integer division (b > 0): Spark's `div` and
    DuckDB's `//` semantics, which Python's floor-`//` does NOT match on
    negative numerators."""
    q = abs(a) // b
    return q if a >= 0 else -q


def _units_rows(rows) -> dict[int, list[int]]:
    """{vec_id: quantized units} for collected (vec_id, embedding) rows —
    driver-side twin of ``_km_units`` (same float64 multiply/add/floor,
    so the same integers; pinned by tests/test_veckernels.py)."""
    import numpy as np

    return {
        int(r["vec_id"]): [
            int(v)
            for v in _quant_units(
                np.asarray(r["embedding"], dtype=np.float64), KM_SCALE
            )
        ]
        for r in rows
    }


def _lloyd_rounds(
    src: DataFrame,
    models: list[list[tuple[int, list[int]]]],
    offsets: list[int],
    iters: int,
) -> list[list[tuple[int, list[int]]]]:
    """Run ``iters`` Lloyd rounds over EVERY block in one job per round:
    the Arrow kernel emits per-batch (block, cid, n, per-dim sums)
    partials, one tiny (block, cid) aggregate collects them, and the
    truncating centroid division runs on the exact totals — bit-identical
    to the per-row fold (integer sums are order-free; see veckernels).

    r17 (replaces the r16 ``ThreadPoolExecutor`` overlap, the verdict's
    #1 item): the PQ_M independent per-block trainings previously ran 3
    driver barriers EACH from a 4-thread pool, which oversubscribed the
    local executor (driver bench regressed 0.61x with a 0.57 scaling
    ratio).  Folding all blocks into one kernel pass needs iters+1 total
    actions instead of PQ_M*(iters+1) overlapping ones — fewer barriers,
    no thread contention, same centroids."""
    dims = [len(block[0][1]) for block in models]
    for _ in range(iters):
        parts = lloyd_partial_sums(
            src, list(zip(offsets, models)), scale=KM_SCALE, dim=KM_DIM
        )
        rows = (
            parts.groupBy("block", "cid", "pos")
            .agg(F.sum("val").alias("v"))
            .collect()
        )
        totals: dict[tuple[int, int], dict[int, int]] = {}
        for r in rows:
            totals.setdefault(
                (int(r["block"]), int(r["cid"])), {}
            )[int(r["pos"])] = int(r["v"])
        upd = {
            (b, cid): [
                _km_tdiv(t[i], t[-1]) for i in range(dims[b])
            ]
            for (b, cid), t in totals.items()
        }
        models = [
            [(cid, upd.get((b, cid), prev)) for cid, prev in block]
            for b, block in enumerate(models)
        ]
    return models


def _km_learn(
    q: DataFrame,
    k: int = KM_K,
    iters: int = KM_ITERS,
    dim: int = KM_DIM,
) -> list[tuple[int, list[int]]]:
    """Run ``iters`` Lloyd rounds over ``q`` (vec_id, u:array<bigint>
    of length ``dim``); returns the final centroid list [(cid, units)],
    seeded from vec_id 0..k-1.  Per round: one map-only assignment fold against
    the literal codebook and one K-row aggregate of D per-dimension sum
    columns + a count (map-side combined) — the K*D-int model lives on
    the driver between rounds, MLlib's Lloyd shape.  Clusters that lose
    every member keep their previous centroid (both engines).

    The update deliberately sums ``element_at(u, i)`` COLUMNS instead of
    posexploding (u, pos) pairs: a Generate above the assignment fold
    made Spark re-evaluate the fold once per EXPLODED row — a 64x
    amplification of the most expensive expression in the plan, worth
    ~7 s/round at sf0.1 (the r11 bench regression) — and the explode
    also multiplies the shuffled row count by D for no reason.

    r17 note (guide §1.1, measured): the multi-block kernel training
    that now drives the PQ family (``_lloyd_rounds``) was A/B'd here
    too and LOST — the single-block fold compiles in milliseconds (one
    HOF over one 2-D literal, this file's r11 lesson) and the cached
    quantized frame makes a JVM round ~0.3 s, vs ~0.7 s/round through
    the Python boundary at this corpus size (2000 rows; full-query A/B:
    ann_ivf_kmeans_topk 1.87 s JVM vs 2.46-3.15 s kernelized,
    kmeans_embeddings 1.31 vs 1.97-2.65).  The kernel pays off only
    where one round launches SEVERAL jobs (PQ's 4 blocks)."""
    init = q.filter(F.col("vec_id") < k).collect()
    cents: list[tuple[int, list[int]]] = sorted(
        (int(r["vec_id"]), [int(v) for v in r["u"]]) for r in init
    )
    dim_sums = [
        F.sum(F.element_at("u", i + 1)).alias(f"s{i}") for i in range(dim)
    ]
    for _ in range(iters):
        best = _km_best(cents)
        rows = (
            q.select(best.getField("cid").alias("cid"), "u")
            .groupBy("cid")
            .agg(F.count(F.lit(1)).alias("n"), *dim_sums)
            .collect()
        )
        upd = {
            int(r["cid"]): [
                _km_tdiv(int(r[f"s{i}"]), int(r["n"])) for i in range(dim)
            ]
            for r in rows
        }
        cents = [(cid, upd.get(cid, prev)) for cid, prev in cents]
    return cents


def q_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KM_ITERS Lloyd rounds over the quantized embeddings, K=KM_K seeded
    from vec_id 0..K-1; per-cluster report under the final centroids:
    (cid, n_vecs, inertia, centroid_l1) — all exact BIGINTs.  Clusters
    that lose every member keep their previous centroid (both engines).

    Reference parity: the reference has no clustering; this extends X9's
    embedding ring (SURVEY §2.B) with the codebook-LEARNING half that
    q_ann_ivf_topk's fixed hash cells and q_embedding_quant_codebook's
    min/max grid both presuppose."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    q = emb.select("vec_id", _km_units().alias("u")).cache()
    cents = _km_learn(q)
    best = _km_best(cents)
    # centroid_l1 is a K-entry model constant — attach it as a literal
    # array lookup (cid-indexed), not a join: the report plan is then
    # pure scan -> agg -> sort with no join operator at all
    l1 = F.array(
        *[F.lit(sum(abs(v) for v in c)).cast("bigint") for _cid, c in cents]
    )
    return (
        q.select(
            best.getField("cid").alias("cid"),
            best.getField("dist").alias("dist"),
        )
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.sum("dist").alias("inertia"))
        .withColumn(
            "centroid_l1", F.element_at(l1, (F.col("cid") + 1).cast("int"))
        )
        .orderBy("cid")
        .select("cid", "n_vecs", "inertia", "centroid_l1")
    )


_KM_POS = f"(SELECT unnest(generate_series(1, {KM_DIM})) AS i) s"


def _km_assign_cte(cprev: str, aname: str) -> str:
    """CTE assigning each q row its nearest `cprev` centroid by exact
    integer squared distance (ties to the lowest cid)."""
    return f"""{aname} AS (
  SELECT vec_id, cid, dist FROM (
    SELECT d.vec_id, d.cid, d.dist,
           ROW_NUMBER() OVER (PARTITION BY d.vec_id
                              ORDER BY d.dist, d.cid) AS rn
    FROM (
      SELECT q.vec_id, c.cid,
             CAST(SUM((q.u[s.i] - c.c[s.i]) * (q.u[s.i] - c.c[s.i]))
                  AS BIGINT) AS dist
      FROM q, {cprev} c, {_KM_POS}
      GROUP BY q.vec_id, c.cid
    ) d
  ) WHERE rn = 1
)"""


def _km_update_cte(aname: str, cprev: str, cname: str) -> str:
    return f"""{cname}_new AS (
  SELECT cid, list(val ORDER BY pos) AS c FROM (
    SELECT a.cid, s.i AS pos,
           CAST(CAST(SUM(q.u[s.i]) AS BIGINT) // COUNT(*) AS BIGINT) AS val
    FROM {aname} a JOIN q USING (vec_id), {_KM_POS}
    GROUP BY a.cid, s.i
  ) GROUP BY cid
),
{cname} AS (
  SELECT cid, c FROM {cname}_new
  UNION ALL
  SELECT cid, c FROM {cprev}
  WHERE cid NOT IN (SELECT cid FROM {cname}_new)
)"""


def _km_lloyd_parts() -> list[str]:
    """The shared Lloyd CTE chain: q (quantized corpus), c0 (seeds),
    a1/c1 .. a{KM_ITERS}/c{KM_ITERS} — ends with the final centroid
    table c{KM_ITERS}."""
    parts = [
        f"""q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {KM_SCALE} + 0.5) AS BIGINT))
           AS u
  FROM embeddings
),
c0 AS (SELECT vec_id AS cid, u AS c FROM q WHERE vec_id < {KM_K})"""
    ]
    for k in range(1, KM_ITERS + 1):
        parts.append(_km_assign_cte(f"c{k - 1}", f"a{k}"))
        parts.append(_km_update_cte(f"a{k}", f"c{k - 1}", f"c{k}"))
    return parts


def _km_oracle() -> str:
    parts = _km_lloyd_parts()
    parts.append(_km_assign_cte(f"c{KM_ITERS}", "af"))
    return (
        "WITH " + ",\n".join(parts) + f"""
SELECT a.cid, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(a.dist) AS BIGINT) AS inertia,
       l.centroid_l1
FROM af a
JOIN (SELECT cid,
             CAST(list_sum(list_transform(c, x -> abs(x))) AS BIGINT)
               AS centroid_l1
      FROM c{KM_ITERS}) l USING (cid)
GROUP BY a.cid, l.centroid_l1
ORDER BY cid
"""
    )


ORACLES["kmeans_embeddings"] = _km_oracle()


# --- X26: integer-unit power iteration (dominant principal direction) --------
#
# The linear-algebra member of the value-hash-checked fixpoint family
# (X24 PageRank, X25 k-means, duplicate_clusters CC): the dominant
# eigenvector of the embeddings' uncentered Gram/second-moment matrix,
# computed by PC_ITERS power-iteration rounds in exact BIGINT arithmetic.
#
# Scale shape: the ONLY distributed pass is the Gram build — a map-only
# per-row outer product (nested indexed transform, no self-join) feeding
# one groupBy over DIM^2 = 4096 (i, j) cells, map-side combined (each
# partition collapses to <= 4096 partial rows: the treeAggregate shape).
# The 64x64 matrix then iterates driver-side — the model artifact, same
# posture as the BPE merge table and the k-means centroids.  Rescaling
# each round divides by (max_abs div PC_SCALE), keeping |v| ~ PC_SCALE
# and every product inside BIGINT; the oracle's CAST(... AS BIGINT) on
# each sum is the fail-closed overflow tripwire (at 1e9-row scale you
# would rescale G by N before iterating — same loop, smaller units).

PC_ITERS = 3
PC_SCALE = 10000


def _pc_gram(emb: DataFrame) -> DataFrame:
    """(i, j, g): the KM_DIM x KM_DIM integer Gram matrix — a map-only
    per-row outer product (nested transform, no self-join) into one
    map-side-combined groupBy over the 4096 cells.

    r12 reshape (the r11-verdict adjudication of the 9.29 s driver-bench
    outlier): the per-cell rows used to be named_structs built by an
    indexed double-transform; flattening to a PLAIN product array and
    recovering (i, j) from the posexplode position on the 4096-row
    aggregate drops the per-cell struct boxing from the hot loop —
    measured 0.87-0.96 -> 0.63-0.78 s steady at sf0.1, identical cell
    values.  (The outlier itself adjudicated as cold-start x host steal:
    cold 4.6 s / steady 1.2 s on a quiet host with the OLD shape.)"""
    outer = F.flatten(
        F.transform(
            F.col("u"),
            lambda ui: F.transform(F.col("u"), lambda uj: ui * uj),
        )
    )
    return (
        emb.select(_km_units().alias("u"))
        .select(F.posexplode(outer).alias("pos", "p"))
        .groupBy("pos")
        .agg(F.sum("p").alias("g"))
        .select(
            (F.col("pos") / KM_DIM + 1).cast("int").alias("i"),
            (F.col("pos") % KM_DIM + 1).cast("int").alias("j"),
            "g",
        )
    )


def _pc_power(g: dict[tuple[int, int], int]) -> list[list[int]]:
    """All PC_ITERS power iterates (1-indexed rounds) from the all-ones
    start vector, every step exact integer.  The rescale divisor is
    clamped to >= 1 (max|w| < PC_SCALE on a degenerate corpus would make
    it 0); the SQL twins clamp with the same GREATEST so both engines
    stay bit-identical through the degenerate branch."""
    dim = KM_DIM
    v = [PC_SCALE] * dim
    out = []
    for _ in range(PC_ITERS):
        w = [sum(g[(i, j)] * v[j - 1] for j in range(1, dim + 1))
             for i in range(1, dim + 1)]
        denom = max(_km_tdiv(max(abs(x) for x in w), PC_SCALE), 1)
        v = [_km_tdiv(x, denom) for x in w]
        out.append(v)
    return out


def q_embedding_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension loadings (dim 1..KM_DIM, BIGINT units of 1/PC_SCALE)
    of the PC_ITERS-th power ITERATE toward the Gram matrix's dominant
    eigenvector, from the all-ones start — every step exact integer, so
    the iterate value-hash-matches the oracle's chained CTEs.

    The checked artifact is deliberately the ITERATE, not a converged
    eigenvector: this synthetic corpus is isotropic (lambda2/lambda1 =
    0.93-0.98 measured across SFs — near-flat spectrum, power iteration's
    worst case, the same regime that pins JL/LSH recall floors here), so
    NO iteration count converges meaningfully and the honest contract is
    bit-exact reproducibility of the fixpoint step.  On a real embedding
    corpus with a spectral gap the identical loop converges in
    O(log(1/eps) / log(l1/l2)) rounds; the Rayleigh-quotient invariants
    (monotone growth, bounded by lambda_1) are pytest-pinned."""
    # spread: the 4096-cell outer product is pure map work — 1-core on
    # the one-row-group test parquet without it
    gram_rows = _pc_gram(
        spread(load_table(spark, sf_dir, "embeddings"))
    ).collect()
    g: dict[tuple[int, int], int] = {
        (int(r["i"]), int(r["j"])): int(r["g"]) for r in gram_rows
    }
    v = _pc_power(g)[-1]
    schema = T.StructType(
        [
            T.StructField("dim", T.LongType(), False),
            T.StructField("loading", T.LongType(), False),
        ]
    )
    return local_frame(spark, [(i + 1, v[i]) for i in range(KM_DIM)], schema)


def _pc_oracle() -> str:
    series = f"(SELECT unnest(generate_series(1, {KM_DIM})) AS i)"

    def rnd(vprev: str, vname: str) -> str:
        return f"""w{vname} AS (
  SELECT g.i, CAST(SUM(g.g * v.v) AS BIGINT) AS w
  FROM g JOIN {vprev} v ON v.i = g.j
  GROUP BY g.i
),
{vname} AS (
  SELECT i, CAST(w // (SELECT GREATEST(MAX(ABS(w)) // {PC_SCALE}, 1)
                       FROM w{vname})
                AS BIGINT) AS v
  FROM w{vname}
)"""

    parts = [
        f"""u AS (
  SELECT list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {KM_SCALE} + 0.5) AS BIGINT))
           AS u
  FROM embeddings
),
g AS (
  SELECT si.i AS i, sj.i AS j,
         CAST(SUM(u.u[si.i] * u.u[sj.i]) AS BIGINT) AS g
  FROM u, {series} si, {series} sj
  GROUP BY si.i, sj.i
),
v0 AS (SELECT i, CAST({PC_SCALE} AS BIGINT) AS v FROM {series} s)"""
    ]
    for k in range(1, PC_ITERS + 1):
        parts.append(rnd(f"v{k - 1}", f"v{k}"))
    return (
        "WITH " + ",\n".join(parts) + f"""
SELECT i AS dim, v AS loading FROM v{PC_ITERS} ORDER BY dim
"""
    )


ORACLES["embedding_top_pc"] = _pc_oracle()


# --- X26b: second principal direction by integer-exact deflation --------------
#
# Embedding-visualization pipelines project onto the top TWO components;
# this extends the power-iteration ring with a Hotelling-style deflation
# that never leaves BIGINT.  Classic deflation subtracts the rank-one
# projection (w.v1 / v1.v1) * v1 — a division that breaks exactness.
# Power iteration is SCALE-INVARIANT, so multiply through instead:
#
#     o = (v1.v1) * w_hat - (w_hat.v1) * v1
#
# is exactly orthogonal-to-v1 up to the later trunc-div rescale, and every
# term is a product of two bounded ints (w_hat, v1 ~ PC_SCALE units after
# their own rescale; v1.v1 <= 64 * (~PC_SCALE)^2 — intermediate magnitude
# ~6.4e13, far inside BIGINT; the pytest tripwire pins the bound).  Each
# deflated round is therefore: multiply by G, rescale, orthogonalize,
# rescale — all trunc-toward-zero integer ops both engines share.

def _pc_deflated_power(
    g: dict[tuple[int, int], int], v1: list[int]
) -> list[int]:
    """PC_ITERS deflated power rounds toward the SECOND dominant
    direction, from the alternating ±PC_SCALE start (deterministic and
    not parallel to v1); exact integers throughout."""
    dim = KM_DIM
    x = [PC_SCALE if i % 2 == 0 else -PC_SCALE for i in range(dim)]
    v1v1 = sum(a * a for a in v1)
    for _ in range(PC_ITERS):
        w = [sum(g[(i, j)] * x[j - 1] for j in range(1, dim + 1))
             for i in range(1, dim + 1)]
        denom = max(_km_tdiv(max(abs(a) for a in w), PC_SCALE), 1)
        wh = [_km_tdiv(a, denom) for a in w]
        wv1 = sum(wh[i] * v1[i] for i in range(dim))
        # degenerate corpus (near-rank-one Gram / iterate parallel to
        # v1): o can collapse toward all-zeros; the >=1 clamp keeps the
        # trunc-div defined, mirrored by GREATEST in the SQL twin
        o = [v1v1 * wh[i] - wv1 * v1[i] for i in range(dim)]
        denom2 = max(_km_tdiv(max(abs(a) for a in o), PC_SCALE), 1)
        x = [_km_tdiv(a, denom2) for a in o]
    return x


def q_embedding_top2_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(dim, loading1, loading2): the checked power ITERATE toward the
    dominant eigenvector (as ``embedding_top_pc``) plus the deflated
    iterate toward the second — the 2-D projection basis an embedding-
    visualization pipeline stores.  One distributed Gram pass feeds both
    driver-side loops; same exact-BIGINT contract, same isotropic-corpus
    honesty (the artifact is the iterate, not a converged eigenvector).
    Near-orthogonality of the two iterates is pytest-pinned."""
    gram_rows = _pc_gram(
        spread(load_table(spark, sf_dir, "embeddings"))
    ).collect()
    g: dict[tuple[int, int], int] = {
        (int(r["i"]), int(r["j"])): int(r["g"]) for r in gram_rows
    }
    v1 = _pc_power(g)[-1]
    v2 = _pc_deflated_power(g, v1)
    schema = T.StructType(
        [
            T.StructField("dim", T.LongType(), False),
            T.StructField("loading1", T.LongType(), False),
            T.StructField("loading2", T.LongType(), False),
        ]
    )
    return local_frame(
        spark, [(i + 1, v1[i], v2[i]) for i in range(KM_DIM)], schema
    )


def _pc2_oracle() -> str:
    """DuckDB twin of the two-component ring.  ``g`` and every iterate
    CTE are MATERIALIZED: the deflation chain references g six times and
    v{PC_ITERS} in every round — inlined re-expansion would replay the
    full corpus x 4096 Gram scan per reference (this file's iterative
    oracles hit exactly that blowup before the hints landed)."""
    series = f"(SELECT unnest(generate_series(1, {KM_DIM})) AS i)"
    parts = [
        f"""u AS MATERIALIZED (
  SELECT list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {KM_SCALE} + 0.5) AS BIGINT))
           AS u
  FROM embeddings
),
g AS MATERIALIZED (
  SELECT si.i AS i, sj.i AS j,
         CAST(SUM(u.u[si.i] * u.u[sj.i]) AS BIGINT) AS g
  FROM u, {series} si, {series} sj
  GROUP BY si.i, sj.i
),
v0 AS (SELECT i, CAST({PC_SCALE} AS BIGINT) AS v FROM {series} s)"""
    ]
    for k in range(1, PC_ITERS + 1):
        parts.append(f"""wv{k} AS (
  SELECT g.i, CAST(SUM(g.g * v.v) AS BIGINT) AS w
  FROM g JOIN v{k - 1} v ON v.i = g.j
  GROUP BY g.i
),
v{k} AS MATERIALIZED (
  SELECT i, CAST(w // (SELECT GREATEST(MAX(ABS(w)) // {PC_SCALE}, 1)
                       FROM wv{k})
                AS BIGINT) AS v
  FROM wv{k}
)""")
    parts.append(
        f"""x0 AS (
  SELECT i, CAST(CASE WHEN i % 2 = 1 THEN {PC_SCALE}
                      ELSE -{PC_SCALE} END AS BIGINT) AS v
  FROM {series} s
),
n1 AS MATERIALIZED (
  SELECT CAST(SUM(v * v) AS BIGINT) AS v1v1 FROM v{PC_ITERS}
)"""
    )
    for k in range(1, PC_ITERS + 1):
        parts.append(f"""wx{k} AS (
  SELECT g.i, CAST(SUM(g.g * x.v) AS BIGINT) AS w
  FROM g JOIN x{k - 1} x ON x.i = g.j
  GROUP BY g.i
),
wh{k} AS MATERIALIZED (
  SELECT i, CAST(w // (SELECT GREATEST(MAX(ABS(w)) // {PC_SCALE}, 1)
                       FROM wx{k})
                AS BIGINT) AS v
  FROM wx{k}
),
d{k} AS MATERIALIZED (
  SELECT CAST(SUM(w.v * v1.v) AS BIGINT) AS wv1
  FROM wh{k} w JOIN v{PC_ITERS} v1 ON v1.i = w.i
),
o{k} AS (
  SELECT w.i,
         CAST((SELECT v1v1 FROM n1) * w.v
              - (SELECT wv1 FROM d{k}) * v1.v AS BIGINT) AS o
  FROM wh{k} w JOIN v{PC_ITERS} v1 ON v1.i = w.i
),
x{k} AS MATERIALIZED (
  SELECT i, CAST(o // (SELECT GREATEST(MAX(ABS(o)) // {PC_SCALE}, 1)
                       FROM o{k})
                AS BIGINT) AS v
  FROM o{k}
)""")
    return (
        "WITH " + ",\n".join(parts) + f"""
SELECT v1.i AS dim, v1.v AS loading1, x.v AS loading2
FROM v{PC_ITERS} v1 JOIN x{PC_ITERS} x ON x.i = v1.i
ORDER BY dim
"""
    )


ORACLES["embedding_top2_pc"] = _pc2_oracle()


# --- X9 + X25 composed: IVF over LEARNED centroids ---------------------------
#
# q_ann_ivf_topk's cells are the first IVF_CELLS corpus vectors (a
# training-free codebook); this variant closes the loop the way FAISS
# does it — train the coarse quantizer with k-means, then assign/probe
# against the learned cells.  Because the codebook AND the cell
# assignment live in exact integer arithmetic (the _km_* ring), the
# index structure is bit-identical cross-engine; floats appear only in
# the final exact rerank, whose fold order is already pinned.

KMIVF_NPROBE = 3  # of KM_K=8 learned cells probed per query


def q_ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k over a k-means-trained IVF index: run the X25 Lloyd
    loop (KM_K cells, KM_ITERS rounds, integer units), assign every
    corpus vector to its nearest learned cell, probe the KMIVF_NPROBE
    nearest cells per query, exact-rerank by cosine inside them.
    Output: (query_id, rn, neighbor_id, cosine) — the same contract as
    knn_cosine/ann_ivf_topk, so recall is directly comparable.

    Scale shape: training touches only K*D driver ints per round (one
    512-group partial-sum shuffle each); assignment and probing are
    NARROW MAPS against the broadcast literal codebook — a row's cell
    and a query's probe list come from folding one in-row distance
    table, no crossJoin, no window shuffle (q_ann_ivf_topk needs a
    per-vector argmax window; here argmin/sort-slice happen inside the
    row).  The only shuffles left are the probe-cell candidate join
    (broadcast probes, corpus streams by untouched) and the final
    per-query top-k."""
    # spread: assignment folds and the rerank's cosine map work are the
    # hot path and must not run 1-core on the one-row-group test parquet
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    q_units = emb.select("vec_id", _km_units().alias("u")).cache()
    cents = _km_learn(q_units)
    dists = _km_dist_structs(cents)
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        _km_units().alias("u"),
    ).select(
        "neighbor_id", "c_emb",
        F.array_min(dists).getField("cid").alias("cell"),
    )
    probes = (
        q_units.filter(F.col("vec_id") < N_QUERY_VECS)
        .select(
            F.col("vec_id").alias("query_id"),
            F.explode(
                F.slice(F.array_sort(dists), 1, KMIVF_NPROBE)
            ).alias("pc"),
        )
        .select("query_id", F.col("pc.cid").alias("cell"))
    )
    q = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
    )
    # r16: probed-cell rerank scoring in the Arrow/NumPy kernel
    # (bit-identical — see _lsh_coded); joins/argmin folds unchanged.
    cand = attach_pair_cosine(
        F.broadcast(probes)
        .join(corpus, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .join(F.broadcast(q), "query_id"),
        "q_emb", "c_emb",
        [("query_id", "bigint"), ("neighbor_id", "bigint")],
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= TOP_K)
        .select(
            "query_id", F.col("rn").cast("bigint").alias("rn"),
            "neighbor_id", "cosine",
        )
    )


def _kmivf_oracle() -> str:
    parts = _km_lloyd_parts()
    parts.append(_km_assign_cte(f"c{KM_ITERS}", "af"))
    parts.append(
        f"""probes AS (
  SELECT vec_id AS query_id, cid AS cell FROM (
    SELECT d.vec_id, d.cid,
           ROW_NUMBER() OVER (PARTITION BY d.vec_id
                              ORDER BY d.dist, d.cid) AS rn
    FROM (
      SELECT q.vec_id, c.cid,
             CAST(SUM((q.u[s.i] - c.c[s.i]) * (q.u[s.i] - c.c[s.i]))
                  AS BIGINT) AS dist
      FROM q, c{KM_ITERS} c, {_KM_POS}
      WHERE q.vec_id < {N_QUERY_VECS}
      GROUP BY q.vec_id, c.cid
    ) d
  ) WHERE rn <= {KMIVF_NPROBE}
)"""
    )
    parts.append(
        """cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN af a ON p.cell = a.cid AND a.vec_id <> p.query_id
)"""
    )
    return (
        "WITH " + ",\n".join(parts) + f""",
scored AS (
  SELECT cd.query_id, cd.neighbor_id, {_DUCK_COS} AS cosine,
         ROW_NUMBER() OVER (PARTITION BY cd.query_id
                            ORDER BY {_DUCK_COS} DESC, cd.neighbor_id ASC) AS rn
  FROM cand cd
  JOIN embeddings a ON a.vec_id = cd.query_id
  JOIN embeddings b ON b.vec_id = cd.neighbor_id
)
SELECT query_id, rn, neighbor_id, cosine FROM scored WHERE rn <= {TOP_K}
"""
    )


ORACLES["ann_ivf_kmeans_topk"] = _kmivf_oracle()


# --- X31: Product Quantization + ADC top-k ------------------------------------
#
# The third FAISS index family (after IVF and the flat scan): split the
# 64-dim vectors into PQ_M sub-blocks, Lloyd-learn a tiny codebook PER
# BLOCK (X25's integer loop at dim=16), code every vector as its M
# nearest-centroid ids, and answer queries by Asymmetric Distance
# Computation — per query, a 16-entry integer lookup table per block,
# candidate distance = sum of M table lookups.  Because the codebooks,
# the codes, AND the ADC distances are all exact BIGINTs, the entire
# index — training, encoding, scan — is value-hash-checkable; floats
# appear only in the final exact rerank (fold order already pinned).

PQ_M = 4        # sub-vector blocks
PQ_SUBDIM = KM_DIM // PQ_M
PQ_K = 8        # centroids per block codebook (PQ_K^PQ_M = 4096 codes)
PQ_ITERS = 2
PQ_CAND = 100   # ADC candidates per query before the exact rerank


def _pq_models(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[list[tuple[int, list[int]]]]]:
    """(spread embeddings frame, per-block Lloyd codebooks).  Training
    cost: PQ_ITERS+1 actions TOTAL — every block's round runs in the ONE
    kernel scan per iteration (veckernels.lloyd_partial_sums emits
    (block, cid, n, sums) partials for all PQ_M blocks at once).

    r17 (r16 verdict #1): the r16 form trained the 4 blocks from a
    4-thread pool — 3 driver barriers per block, overlapped — which
    oversubscribed the local executor (driver bench 0.61x, scaling ratio
    0.57: FASTER at 8 cores than 16).  One multi-block job per round
    replaces 12 overlapping barriers with 2 sequential ones, needs no
    thread pool, and drops the 4 per-block quantized caches entirely
    (quantization now happens inside the kernel, vectorized).  Each
    block's dataflow is untouched — the blocks share no state, and every
    centroid is the same exact integers (order-free int64 sums).

    The spread frame is cached: the seed collect, every Lloyd round and
    the caller's encode read it, and uncached each read re-scans and
    re-shuffles the corpus."""
    emb = spread(load_table(spark, sf_dir, "embeddings")).cache()
    init = emb.filter(F.col("vec_id") < PQ_K).select(
        "vec_id", "embedding"
    ).collect()
    units = _units_rows(init)
    models = [
        [
            (cid, units[cid][m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM])
            for cid in sorted(units)
        ]
        for m in range(PQ_M)
    ]
    models = _lloyd_rounds(
        emb, models, [m * PQ_SUBDIM for m in range(PQ_M)], PQ_ITERS
    )
    return emb, models


def _pq_codes(emb: DataFrame, models) -> DataFrame:
    """(neighbor_id, c0..c{M-1}): the PQ code table — encoding is M
    map-only argmin folds against the literal codebooks.  This is the
    index artifact a deployment persists (2 bits x 4 blocks = 1 byte per
    vector here; 8-64 bytes in production; ``q_ann_pq_serve`` stores it).
    Uncached: each reader (the codebook report, the ADC scan) scans the
    codes once.  r16: the
    raw vector and its norm no longer ride the code table — the ADC
    window was shuffling 64-float embeddings just to rank 4-lookup
    integer sums (guide §2.3: shuffle keys/metadata, not payloads); the
    exact rerank re-attaches vectors by id for only the PQ_CAND
    survivors via ``_rerank_topk``.

    r17 note (guide §1.1, measured): the r16 verdict's #1 item asked for
    an Arrow-kernel encode here; the A/B says no at this corpus size —
    JVM fold 0.28 s vs kernel 0.41 s (2000 rows: the fold's literals are
    FIXED per run, so its generated code is reused across the bench's
    best-of-N, while the kernel pays a Python stage per run).  The
    kernel DOES win where literals change per action — that is training,
    which now runs through veckernels.lloyd_partial_sums (see
    _lloyd_rounds)."""
    blocks = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        *[
            F.slice(_km_units(), m * PQ_SUBDIM + 1, PQ_SUBDIM).alias(f"u{m}")
            for m in range(PQ_M)
        ],
    )
    return blocks.select(
        "neighbor_id",
        *[
            F.array_min(_km_dist_structs(models[m], col=f"u{m}"))
            .getField("cid").alias(f"c{m}")
            for m in range(PQ_M)
        ],
    )


def q_pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ index report: (block, cid, n_vecs, centroid_l1) — how the
    corpus distributes over each block's learned codebook, all exact
    BIGINTs.  The encode pass is M map-only folds into one 16-group
    aggregate; centroid L1 norms attach as a literal 2-D array lookup
    (model constants, never joined)."""
    emb, models = _pq_models(spark, sf_dir)
    codes = _pq_codes(emb, models)
    assigns = F.array(*[
        F.named_struct(
            F.lit("block"), F.lit(m).cast("bigint"),
            F.lit("cid"), F.col(f"c{m}"),
        )
        for m in range(PQ_M)
    ])
    l1_2d = F.expr(
        "array("
        + ", ".join(
            "array(" + ", ".join(
                str(sum(abs(v) for v in c)) + "L" for _cid, c in models[m]
            ) + ")"
            for m in range(PQ_M)
        )
        + ")"
    )
    return (
        codes.select(F.explode(assigns).alias("a"))
        .select(F.col("a.block").alias("block"), F.col("a.cid").alias("cid"))
        .groupBy("block", "cid")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
        .withColumn(
            "centroid_l1",
            F.element_at(
                F.element_at(l1_2d, (F.col("block") + 1).cast("int")),
                (F.col("cid") + 1).cast("int"),
            ),
        )
    )


def q_ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC top-k: code the corpus once, then per query scan CODES
    ONLY — a 4-lookup integer sum against that query's distance table —
    keep the PQ_CAND best, exact-rerank by cosine.  Output (query_id,
    rn, neighbor_id, cosine), the shared ANN contract.

    Scale shape: this is FAISS's ADC scan as a dataflow — the candidate
    pass touches 1 byte/vector of code plus a 64-entry LUT that lives in
    the instruction stream (the N_QUERY_VECS LUTs are driver-computed
    exact ints and inlined as literal arrays; a large query batch would
    broadcast a LUT table and join on code instead).  No join anywhere
    before the rerank: codes explode against the per-query adist structs
    map-only, then one per-query WindowGroupLimit; the rerank joins
    broadcast-tiny sides only."""
    emb, models = _pq_models(spark, sf_dir)
    codes = _pq_codes(emb, models)
    qrows = (
        emb.filter(F.col("vec_id") < N_QUERY_VECS)
        .select("vec_id", _km_units().alias("u"))
        .collect()
    )
    # per-query exact integer LUTs: lut[m][k] = ||q_block_m - cent_mk||^2
    structs = []
    for r in sorted(qrows, key=lambda r: int(r["vec_id"])):
        qid, uq = int(r["vec_id"]), [int(v) for v in r["u"]]
        ad = None
        for m in range(PQ_M):
            lut = [
                sum(
                    (uq[m * PQ_SUBDIM + i] - c[i]) ** 2
                    for i in range(PQ_SUBDIM)
                )
                for _cid, c in models[m]
            ]
            arr = "array(" + ", ".join(f"{v}L" for v in lut) + ")"
            term = F.expr(f"element_at({arr}, cast(c{m} AS int) + 1)")
            ad = term if ad is None else ad + term
        structs.append(
            F.named_struct(
                F.lit("query_id"), F.lit(qid).cast("bigint"),
                F.lit("adist"), ad,
            )
        )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.asc("adist"), F.asc("neighbor_id")
    )
    # r16: the ADC window ranks (query_id, neighbor_id, adist) rows only
    # — the embeddings rejoin by id for the PQ_CAND survivors inside
    # ``_rerank_topk`` (kernel-scored; identical ranking arithmetic).
    pool = (
        codes.select("neighbor_id", F.explode(F.array(*structs)).alias("qa"))
        .select(
            "neighbor_id",
            F.col("qa.query_id").alias("query_id"),
            F.col("qa.adist").alias("adist"),
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("arn", F.row_number().over(w_adc))
        .filter(F.col("arn") <= PQ_CAND)
        .select("query_id", "neighbor_id")
    )
    return _rerank_topk(emb, pool)


def _pq_lloyd_parts() -> list[str]:
    """Per-block Lloyd CTE chains (MATERIALIZED: each chain member is
    referenced by both the next assignment and the next update — the
    inlined-CTE doubling this file's other iterative oracles hit)."""
    pos = f"(SELECT unnest(generate_series(1, {PQ_SUBDIM})) AS i) s"
    parts = [
        f"""qall AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {KM_SCALE} + 0.5) AS BIGINT))
           AS u
  FROM embeddings
)"""
    ]
    for m in range(PQ_M):
        lo, hi = m * PQ_SUBDIM + 1, (m + 1) * PQ_SUBDIM
        parts.append(
            f"q{m} AS MATERIALIZED ("
            f"SELECT vec_id, u[{lo}:{hi}] AS u FROM qall)"
        )
        parts.append(
            f"b{m}c0 AS (SELECT vec_id AS cid, u AS c FROM q{m}"
            f" WHERE vec_id < {PQ_K})"
        )
        for t in range(1, PQ_ITERS + 1):
            parts.append(f"""b{m}a{t} AS MATERIALIZED (
  SELECT vec_id, cid FROM (
    SELECT d.vec_id, d.cid,
           ROW_NUMBER() OVER (PARTITION BY d.vec_id
                              ORDER BY d.dist, d.cid) AS rn
    FROM (
      SELECT q.vec_id, c.cid,
             CAST(SUM((q.u[s.i] - c.c[s.i]) * (q.u[s.i] - c.c[s.i]))
                  AS BIGINT) AS dist
      FROM q{m} q, b{m}c{t - 1} c, {pos}
      GROUP BY q.vec_id, c.cid
    ) d
  ) WHERE rn = 1
)""")
            parts.append(f"""b{m}c{t}_new AS (
  SELECT cid, list(val ORDER BY pos) AS c FROM (
    SELECT a.cid, s.i AS pos,
           CAST(CAST(SUM(q.u[s.i]) AS BIGINT) // COUNT(*) AS BIGINT) AS val
    FROM b{m}a{t} a JOIN q{m} q USING (vec_id), {pos}
    GROUP BY a.cid, s.i
  ) GROUP BY cid
),
b{m}c{t} AS MATERIALIZED (
  SELECT cid, c FROM b{m}c{t}_new
  UNION ALL
  SELECT cid, c FROM b{m}c{t - 1}
  WHERE cid NOT IN (SELECT cid FROM b{m}c{t}_new)
)""")
        parts.append(f"""b{m}af AS MATERIALIZED (
  SELECT vec_id, cid FROM (
    SELECT d.vec_id, d.cid,
           ROW_NUMBER() OVER (PARTITION BY d.vec_id
                              ORDER BY d.dist, d.cid) AS rn
    FROM (
      SELECT q.vec_id, c.cid,
             CAST(SUM((q.u[s.i] - c.c[s.i]) * (q.u[s.i] - c.c[s.i]))
                  AS BIGINT) AS dist
      FROM q{m} q, b{m}c{PQ_ITERS} c, {pos}
      GROUP BY q.vec_id, c.cid
    ) d
  ) WHERE rn = 1
)""")
    return parts


ORACLES["pq_codebook"] = (
    "WITH " + ",\n".join(_pq_lloyd_parts()) + "\n"
    + "\nUNION ALL\n".join(
        f"""SELECT CAST({m} AS BIGINT) AS block, a.cid,
       CAST(COUNT(*) AS BIGINT) AS n_vecs, l.centroid_l1
FROM b{m}af a
JOIN (SELECT cid,
             CAST(list_sum(list_transform(c, x -> abs(x))) AS BIGINT)
               AS centroid_l1
      FROM b{m}c{PQ_ITERS}) l USING (cid)
GROUP BY a.cid, l.centroid_l1"""
        for m in range(PQ_M)
    )
)


def _pq_adc_oracle() -> str:
    pos = f"(SELECT unnest(generate_series(1, {PQ_SUBDIM})) AS i) s"
    parts = _pq_lloyd_parts()
    code_joins = " ".join(
        f"JOIN b{m}af a{m} USING (vec_id)" for m in range(1, PQ_M)
    )
    parts.append(
        "codes AS MATERIALIZED (SELECT vec_id, "
        + ", ".join(f"a{m}.cid AS c{m}" for m in range(PQ_M))
        + " FROM b0af a0 " + code_joins + ")"
    )
    for m in range(PQ_M):
        parts.append(f"""lut{m} AS MATERIALIZED (
  SELECT q.vec_id AS query_id, c.cid,
         CAST(SUM((q.u[s.i] - c.c[s.i]) * (q.u[s.i] - c.c[s.i]))
              AS BIGINT) AS d
  FROM q{m} q, b{m}c{PQ_ITERS} c, {pos}
  WHERE q.vec_id < {N_QUERY_VECS}
  GROUP BY 1, 2
)""")
    lut_joins = " ".join(
        f"JOIN lut{m} l{m} ON l{m}.cid = v.c{m}"
        + (f" AND l{m}.query_id = l0.query_id" if m else "")
        for m in range(PQ_M)
    )
    adist = " + ".join(f"l{m}.d" for m in range(PQ_M))
    parts.append(f"""adc AS (
  SELECT l0.query_id, v.vec_id AS neighbor_id, {adist} AS adist
  FROM codes v {lut_joins}
  WHERE v.vec_id <> l0.query_id
),
cand AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY adist, neighbor_id) AS arn
    FROM adc
  ) WHERE arn <= {PQ_CAND}
)""")
    return (
        "WITH " + ",\n".join(parts) + f""",
scored AS (
  SELECT cd.query_id, cd.neighbor_id, {_DUCK_COS} AS cosine,
         ROW_NUMBER() OVER (PARTITION BY cd.query_id
                            ORDER BY {_DUCK_COS} DESC, cd.neighbor_id ASC) AS rn
  FROM cand cd
  JOIN embeddings a ON a.vec_id = cd.query_id
  JOIN embeddings b ON b.vec_id = cd.neighbor_id
)
SELECT query_id, rn, neighbor_id, cosine FROM scored WHERE rn <= {TOP_K}
"""
    )


ORACLES["ann_pq_adc_topk"] = _pq_adc_oracle()


# --- X32: index SERVING — the build-once / serve-many split ------------------
#
# Every ANN family above re-derives its index (projections, signatures,
# codebooks, codes, cell assignments) inside the query — correct, but the
# benchmark then times TRAINING, which a deployment amortizes across a
# corpus snapshot (r11 verdict #1; FAISS writes an index file once and
# serves millions of queries from it).  These ``*_serve`` twins persist
# the artifact via ``sources/index_store`` and answer the SAME query
# contract from the stored table: the first call after a corpus/params
# change builds (identical arithmetic, so results are bit-identical to
# the build-inline variant and share its oracle); every later call is a
# parquet scan + the per-query work — the number a serving cluster pays.
#
# 100 TB shape: the artifact tables are exactly what a production index
# job writes to the warehouse (codes are ~1-12 bytes/vector, signatures
# 12-byte rows, projections JL_DIM doubles); the serve plan reads ONLY
# the artifact for candidate generation and touches raw vectors just for
# the Q x CAND exact rerank.

# Artifact invalidation is central (r12 ADVICE): index_store folds its
# own INDEX_VERSION plus a transitive-source hash of each builder into
# every digest, so a behavior change in _km_learn / _hyperplane / any
# helper rebuilds automatically and ONE store-level bump invalidates all
# families (including minhash/bpe in operators/text.py).  _serve_fp
# carries only the family PARAMS; an ANN-only invalidation knob below.
ANN_FAMILY_VERSION = 2
# (v2: artifacts built through spread() so the stored table has engine-
# parallelism file counts — a 1-file artifact serves single-core)


def _serve_fp(*parts: object) -> str:
    return "|".join(str(p) for p in (ANN_FAMILY_VERSION, *parts))


def _rerank_topk(emb: DataFrame, pairs: DataFrame) -> DataFrame:
    """(query_id, neighbor_id) candidate pairs -> the shared ANN output
    contract (query_id, rn, neighbor_id, cosine): exact-cosine rerank,
    per-query top-k.  Query side broadcast; the neighbor side is left
    unhinted so Catalyst can pick SMJ on vec_id at scale.  r16: the
    cosine runs in the Arrow/NumPy kernel (bit-identical — see
    _lsh_coded); join shape unchanged."""
    q = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
    )
    scored = attach_pair_cosine(
        pairs.join(F.broadcast(q), "query_id").join(c, "neighbor_id"),
        "q_emb", "c_emb",
        [("query_id", "bigint"), ("neighbor_id", "bigint")],
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select(
            "query_id", F.col("rn").cast("bigint").alias("rn"),
            "neighbor_id", "cosine",
        )
    )


def _lsh_codes_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted (vec_id, table, code) signature table, shared by
    ``ann_lsh_serve`` and ``embedding_lsh_tuning``.  ONE module-level
    builder so both consumers hit the SAME artifact digest (the builder's
    transitive source is part of the identity since r13 — two textually
    different lambdas would store two copies)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # spread: the one-file test parquet would otherwise build (and
    # store) a single-partition artifact, serializing every serve scan
    return ensure_index(
        spark, sf_dir, "lsh_codes", _serve_fp(LSH_TABLES, LSH_BITS),
        lambda: _lsh_coded(spread(emb), 64).select("vec_id", "table", "code"),
    )


def q_ann_lsh_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``q_ann_lsh_topk`` from a STORED signature table: the 12-byte
    (vec_id, table, code) rows are the persisted index; serving is a
    broadcast-query candidate join over the stored codes + the exact
    rerank.  The 32 hyperplane folds run only in the build pass."""
    emb = load_table(spark, sf_dir, "embeddings")
    coded = _lsh_codes_index(spark, sf_dir)
    qcodes = coded.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"), "table", "code"
    )
    candidates = (
        F.broadcast(qcodes)
        .join(
            coded.select(F.col("vec_id").alias("neighbor_id"), "table", "code"),
            ["table", "code"],
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .select("query_id", "neighbor_id")
    )
    return _rerank_topk(emb, candidates)


ORACLES["ann_lsh_serve"] = _lsh_oracle_sql()


def q_ann_jl_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``q_ann_jl_rerank`` from a STORED projection table — the shape the
    operator's own doc promises ("computes it ONCE per corpus snapshot
    and stores it").  Serving scans JL_DIM doubles per vector for the
    candidate pass; the 32 sign-fold projections run only at build."""
    emb = load_table(spark, sf_dir, "embeddings")
    # spread: parallelizes BOTH the build's 32 fold columns and the
    # stored artifact's file count (a 1-file artifact serves 1-core)
    # r16: build runs the Arrow/NumPy projection kernel (bit-identical —
    # see _lsh_coded); the candidate scoring over the stored JL_DIM-dim
    # rows runs the pair kernel too.  Join shapes unchanged.
    proj = ensure_index(
        spark, sf_dir, "jl_proj", _serve_fp(JL_DIM),
        lambda: attach_projection(
            spread(emb), [_jl_signs(i) for i in range(JL_DIM)]
        ),
    )
    q = proj.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"),
        F.col("parr").alias("q_parr"),
    )
    c = proj.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("parr").alias("c_parr"),
    )
    cand = attach_pair_cosine(
        F.broadcast(q).join(c, F.col("query_id") != F.col("neighbor_id")),
        "q_parr", "c_parr",
        [("query_id", "bigint"), ("neighbor_id", "bigint")],
        out_col="pscore", dim=JL_DIM,
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.desc("pscore"), F.asc("neighbor_id")
    )
    pool = (
        cand.withColumn("crn", F.row_number().over(wc))
        .filter(F.col("crn") <= JL_CAND)
        .select("query_id", "neighbor_id")
    )
    return _rerank_topk(emb, pool)


ORACLES["ann_jl_serve"] = ORACLES["ann_jl_rerank"]


def _stored_kmivf_cents(
    spark: SparkSession, sf_dir: str
) -> list[tuple[int, list[int]]]:
    """The k-means coarse quantizer from the model store (trains once per
    corpus snapshot; JSON-roundtripped back to the exact integer lists)."""

    def _train() -> list:
        q_units = (
            spread(load_table(spark, sf_dir, "embeddings"))
            .select("vec_id", _km_units().alias("u"))
            .cache()
        )
        try:
            return _km_learn(q_units)
        finally:
            q_units.unpersist()

    model = ensure_model(
        sf_dir, "kmivf_centroids",
        _serve_fp(KM_K, KM_ITERS, KM_SCALE, KM_DIM), _train,
    )
    return [(int(cid), [int(v) for v in c]) for cid, c in model]


def q_ann_ivf_kmeans_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``q_ann_ivf_kmeans_topk`` from STORED artifacts: the learned
    centroids (model JSON — the K*D-int driver state) and the cell
    assignment table (vec_id, cell).  Serving probes the stored cells:
    one map-only fold over the 10 query vectors picks probe cells, the
    candidate join streams the assignment table by, and only the probed
    candidates hit the exact rerank.  The KM_ITERS Lloyd rounds and the
    corpus-wide assignment run only at build."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _stored_kmivf_cents(spark, sf_dir)
    dists = _km_dist_structs(cents)
    assign = ensure_index(
        spark, sf_dir, "kmivf_assign",
        _serve_fp(KM_K, KM_ITERS, KM_SCALE, KM_DIM),
        lambda: spread(emb)
        .select("vec_id", _km_units().alias("u"))
        .select(
            "vec_id", F.array_min(dists).getField("cid").alias("cell")
        ),
    )
    probes = (
        emb.filter(F.col("vec_id") < N_QUERY_VECS)
        .select("vec_id", _km_units().alias("u"))
        .select(
            F.col("vec_id").alias("query_id"),
            F.explode(
                F.slice(F.array_sort(dists), 1, KMIVF_NPROBE)
            ).alias("pc"),
        )
        .select("query_id", F.col("pc.cid").alias("cell"))
    )
    cand = (
        F.broadcast(probes)
        .join(
            assign.select(F.col("vec_id").alias("neighbor_id"), "cell"),
            "cell",
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
    return _rerank_topk(emb, cand)


ORACLES["ann_ivf_kmeans_serve"] = _kmivf_oracle()


def q_ann_pq_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``q_ann_pq_adc_topk`` from STORED artifacts: the per-block Lloyd
    codebooks (model JSON) and the PQ code table (neighbor_id, c0..c3 —
    the production 1-byte-per-vector artifact).  Serving computes the 10
    query LUTs (driver ints against the stored codebooks), scans CODES
    ONLY for the ADC candidate pass, and reranks the PQ_CAND survivors
    against raw vectors.  The 4 Lloyd trainings and the corpus encode
    run only at build."""
    emb = load_table(spark, sf_dir, "embeddings")
    fp = _serve_fp(PQ_M, PQ_K, PQ_ITERS, KM_SCALE)

    def _train() -> list:
        _emb, models = _pq_models(spark, sf_dir)
        return models

    model = ensure_model(sf_dir, "pq_codebooks", fp, _train)
    models = [
        [(int(cid), [int(v) for v in c]) for cid, c in block]
        for block in model
    ]

    codes = ensure_index(
        spark, sf_dir, "pq_codes", fp, lambda: _pq_codes(spread(emb), models)
    )
    qrows = (
        emb.filter(F.col("vec_id") < N_QUERY_VECS)
        .select("vec_id", _km_units().alias("u"))
        .collect()
    )
    structs = []
    for r in sorted(qrows, key=lambda r: int(r["vec_id"])):
        qid, uq = int(r["vec_id"]), [int(v) for v in r["u"]]
        ad = None
        for m in range(PQ_M):
            lut = [
                sum(
                    (uq[m * PQ_SUBDIM + i] - c[i]) ** 2
                    for i in range(PQ_SUBDIM)
                )
                for _cid, c in models[m]
            ]
            arr = "array(" + ", ".join(f"{v}L" for v in lut) + ")"
            term = F.expr(f"element_at({arr}, cast(c{m} AS int) + 1)")
            ad = term if ad is None else ad + term
        structs.append(
            F.named_struct(
                F.lit("query_id"), F.lit(qid).cast("bigint"),
                F.lit("adist"), ad,
            )
        )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.asc("adist"), F.asc("neighbor_id")
    )
    pool = (
        codes.select("neighbor_id", F.explode(F.array(*structs)).alias("qa"))
        .select(
            "neighbor_id",
            F.col("qa.query_id").alias("query_id"),
            F.col("qa.adist").alias("adist"),
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("arn", F.row_number().over(w_adc))
        .filter(F.col("arn") <= PQ_CAND)
        .select("query_id", "neighbor_id")
    )
    return _rerank_topk(emb, pool)


ORACLES["ann_pq_serve"] = _pq_adc_oracle()


# --- X8e-b: the embedding-LSH carving decision, measured ----------------------
#
# minhash_band_tuning's posture applied to the random-hyperplane index
# (r11 verdict #5): don't ARGUE that 8 tables x 4 bits is the right
# carving for embedding_near_dup_lsh — MEASURE the S-curve.  The same
# TOTAL_PLANES=32 deterministic hyperplane bits re-carve into
# (tables, bits) configurations; each carving's candidate set against
# the exact cosine>=EMBED_NEAR_DUP_COS truth set yields (candidates,
# hits, misses) — precision/recall per carving.  A MULTI-PROBE variant
# (probe each table's code AND its single-bit flips — Lv et al. 2007)
# shows the recall a deployment buys back without adding tables.

LSH_TOTAL_PLANES = LSH_TABLES * LSH_BITS  # 32 shared sign bits
# (tables, bits_per_table, multiprobe): carvings of the 32 planes.
# (8, 4, False) is the production config embedding_near_dup_lsh ships.
EMB_LSH_CONFIGS = [
    (16, 2, False),
    (8, 4, False),
    (4, 8, False),
    (8, 4, True),
]


def _lsh_bits_from_codes(coded: DataFrame) -> DataFrame:
    """(vec_id, bits): the LSH_TOTAL_PLANES sign-bit array RECONSTRUCTED
    from the stored (vec_id, table, code) signature rows — plane
    t*LSH_BITS+b is bit b of table t's code, exactly the indexing
    ``_lsh_coded``'s kernel packs.  The r12 tuning query re-ran the 32
    interpreted hyperplane folds over the corpus per run; unpacking the
    persisted 12-byte rows costs one tiny groupBy instead (r12 verdict
    #3)."""
    codes_map = coded.groupBy("vec_id").agg(
        F.map_from_entries(F.collect_list(F.struct("table", "code"))).alias("m")
    )
    bit_cols = []
    for p in range(LSH_TOTAL_PLANES):
        t, b = divmod(p, LSH_BITS)
        bit_cols.append(
            F.when(
                F.element_at(F.col("m"), F.lit(t)).bitwiseAND(1 << b) > 0, 1
            ).otherwise(0).cast("bigint")
        )
    return codes_map.select("vec_id", F.array(*bit_cols).alias("bits"))


def _near_dup_truth_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact cosine>=EMBED_NEAR_DUP_COS truth set, persisted (r12
    verdict #3): the all-pairs ground-truth pass is the one quadratic
    piece of the tuning study, and it is a pure function of (corpus
    snapshot, threshold) — exactly what the index store keys on.  A
    production-size sweep would persist a SAMPLED truth set the same
    way; at test SF the full set is small (14 pairs at sf0.01)."""
    return ensure_index(
        spark, sf_dir, "near_dup_truth", _serve_fp(EMBED_NEAR_DUP_COS),
        lambda: q_embedding_near_dup(spark, sf_dir).select("vec_a", "vec_b"),
    )


def _carved_codes(bits_df: DataFrame, tables: int, nbits: int) -> DataFrame:
    """(vec_id, table, code) under a (tables, nbits) carving of the
    shared bit array — plane t*nbits+b supplies bit b of table t's code,
    the exact indexing _lsh_coded uses at (8, 4)."""
    entries = []
    for t in range(tables):
        code = None
        for b in range(nbits):
            term = F.element_at("bits", t * nbits + b + 1) * (2 ** b)
            code = term if code is None else code + term
        entries.append(
            F.struct(F.lit(t).cast("bigint").alias("table"),
                     code.alias("code"))
        )
    return bits_df.select(
        "vec_id", F.explode(F.array(*entries)).alias("tc")
    ).select("vec_id", "tc.table", "tc.code")


def q_embedding_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding-LSH parameter study: for each (tables, bits,
    multiprobe) carving of the 32 shared hyperplane bits, report
    (tables, bits_per_table, multiprobe, n_candidates, n_hits,
    n_misses) against the exact cosine>=EMBED_NEAR_DUP_COS truth set.
    More bits per table -> fewer, more precise candidates; multi-probe
    (joining each code and its single-bit flips) recovers recall at
    probe-cost instead of index-cost.  All counts exact BIGINTs; the
    hyperplanes are the shared deterministic constants, so every
    carving is value-hash-checked.

    Scale shape (r13, closing r12 verdict #3 — this row ran 8.05 s as
    the #1 weak item): BOTH expensive inputs now come from persisted
    index artifacts.  The 32-bit sign array unpacks from the stored
    ``lsh_codes`` signature table (shared with ``ann_lsh_serve``; the
    interpreted hyperplane folds run only at build), and the quadratic
    ground-truth pass serves from the stored ``near_dup_truth`` table.
    Steady state pays: one 12-byte-row groupBy to reassemble bits, then
    four carvings moving only (vec_id, table, code) rows through
    ``carving_study``'s one tagged join on (table, code) — multi-probe
    explodes the PROBE side only (bits+1 variants) so the corpus side
    streams by once."""
    bits_df = _lsh_bits_from_codes(_lsh_codes_index(spark, sf_dir)).cache()
    truth = (
        _near_dup_truth_index(spark, sf_dir).select("vec_a", "vec_b").cache()
    )
    keys, probes = [], []
    for tables, nbits, multiprobe in EMB_LSH_CONFIGS:
        coded = _carved_codes(bits_df, tables, nbits)
        keys.append(coded)
        if multiprobe:
            flips = [
                F.col("code").bitwiseXOR(F.lit(1 << b)) for b in range(nbits)
            ]
            coded = coded.select(
                "vec_id", "table",
                F.explode(F.array("code", *flips)).alias("code"),
            )
        probes.append(coded)
    configs = [
        {"tables": t, "bits_per_table": b, "multiprobe": m}
        for t, b, m in EMB_LSH_CONFIGS
    ]
    return carving_study(configs, keys, truth, probes).select(
        "tables", "bits_per_table", "multiprobe", "n_candidates", "n_hits",
        (F.col("n_truth") - F.col("n_hits")).alias("n_misses"),
    )


def _emb_lsh_tuning_oracle() -> str:
    """DuckDB twin: the shared sign bits inline per carving as literal
    hyperplane dot products (the _duck_coded_sql convention); multiprobe
    probes unnest the code plus its single-bit XOR flips."""
    parts = [
        f"""truth AS MATERIALIZED (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE {_DUCK_COS} >= {EMBED_NEAR_DUP_COS}
)"""
    ]
    selects = []
    for ci, (tables, nbits, multiprobe) in enumerate(EMB_LSH_CONFIGS):
        table_exprs = []
        for t in range(tables):
            bits = []
            for b in range(nbits):
                plane = _hyperplane(64, t * nbits + b)
                arr = "[" + ", ".join(repr(v) for v in plane) + "]"
                bits.append(
                    f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]),"
                    f" {arr}) > 0 THEN {2 ** b} ELSE 0 END)"
                )
            table_exprs.append(
                f"SELECT vec_id, {t} AS tbl, CAST("
                + " + ".join(bits)
                + " AS BIGINT) AS code FROM embeddings"
            )
        parts.append(
            f"coded{ci} AS MATERIALIZED (\n  "
            + "\n  UNION ALL\n  ".join(table_exprs)
            + "\n)"
        )
        if multiprobe:
            flips = ", ".join(
                f"xor(code, CAST({1 << b} AS BIGINT))" for b in range(nbits)
            )
            probe_src = (
                f"(SELECT vec_id, tbl, unnest(list_prepend(code, [{flips}]))"
                f" AS code FROM coded{ci})"
            )
        else:
            probe_src = f"coded{ci}"
        parts.append(f"""cand{ci} AS MATERIALIZED (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM {probe_src} a
  JOIN coded{ci} b ON a.tbl = b.tbl AND a.code = b.code
                   AND a.vec_id < b.vec_id
)""")
        selects.append(f"""SELECT CAST({tables} AS BIGINT) AS tables,
       CAST({nbits} AS BIGINT) AS bits_per_table,
       {str(multiprobe).upper()} AS multiprobe,
       CAST(SUM(CASE WHEN c.vec_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_candidates,
       CAST(SUM(CASE WHEN c.vec_a IS NOT NULL AND t.vec_a IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       CAST(SUM(CASE WHEN c.vec_a IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_misses
FROM cand{ci} c FULL JOIN truth t
  ON c.vec_a = t.vec_a AND c.vec_b = t.vec_b""")
    return (
        "WITH " + ",\n".join(parts) + "\n"
        + "\nUNION ALL\n".join(selects)
    )


ORACLES["embedding_lsh_tuning"] = _emb_lsh_tuning_oracle()


# --- X8e-c: multi-probe embedding near-dup (the study's conclusion, shipped) --
#
# q_embedding_lsh_tuning measured that single-bit-flip multi-probe at
# the production (8 tables x 4 bits) carving recovers FULL truth-set
# recall (14/14 at sf0.01 vs exact-probe's 13/14) without adding tables
# — recall bought at probe cost (one 5x explode of the probe side)
# instead of index cost (more signatures stored per vector).  This
# variant SHIPS that configuration for the near-dup contract.

def q_embedding_near_dup_mp(spark: SparkSession, sf_dir: str,
                            dim: int = 64) -> DataFrame:
    """``q_embedding_near_dup_lsh`` with single-bit-flip multi-probe
    (Lv et al. 2007): pairs become candidates when some table gives them
    codes at Hamming distance <= 1, so near-boundary misses of the sign
    hash are recovered.  Same output contract (vec_a, vec_b, cosine >=
    EMBED_NEAR_DUP_COS); recall vs the brute twin is pytest-pinned at
    every SF (1.0 measured where exact-probe holds 0.77-0.93).

    Scale shape: identical to the exact-probe variant except the PROBE
    side explodes into bits+1 code variants (12-byte rows — the corpus
    side streams by once, unexploded); candidate volume grows by the
    per-bucket collision rate of the flipped codes, bounded by
    (bits+1)x worst-case.  The exact-cosine verify keeps precision
    exact, so extra candidates cost compute only, never correctness."""
    emb = load_table(spark, sf_dir, "embeddings")
    coded = _lsh_coded(emb, dim).select("vec_id", "table", "code").cache()
    probes = [F.col("code")]
    probes += [
        F.col("code").bitwiseXOR(F.lit(1 << b)) for b in range(LSH_BITS)
    ]
    a = coded.select(
        F.col("vec_id").alias("vec_a"), "table",
        F.explode(F.array(*probes)).alias("code"),
    )
    cand = (
        a.join(
            coded.select(F.col("vec_id").alias("vec_b"), "table", "code"),
            ["table", "code"],
        )
        .filter(F.col("vec_a") < F.col("vec_b"))
        .dropDuplicates(["vec_a", "vec_b"])
        .select("vec_a", "vec_b")
    )
    ea = emb.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea")
    )
    eb = emb.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb")
    )
    # r16: multi-probe generates the LARGEST candidate set of the family
    # (~40%+ of all pairs on this isotropic corpus — the documented
    # worst regime), so its verify was the single most expensive
    # interpreted-fold site in the bench; the Arrow/NumPy kernel scores
    # it bit-identically with the join shape unchanged.
    return attach_pair_cosine(
        cand.join(ea, "vec_a").join(eb, "vec_b"),
        "ea", "eb", [("vec_a", "bigint"), ("vec_b", "bigint")],
    ).filter(F.col("cosine") >= EMBED_NEAR_DUP_COS)


ORACLES["embedding_near_dup_mp"] = f"""
WITH coded AS (
  {_duck_coded_sql()}
),
probed AS (
  SELECT vec_id, tbl,
         unnest(list_prepend(code, [{", ".join(
             f"xor(code, CAST({1 << b} AS BIGINT))" for b in range(LSH_BITS)
         )}])) AS code
  FROM coded
),
candidates AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM probed a JOIN coded b ON a.tbl = b.tbl AND a.code = b.code
  WHERE a.vec_id < b.vec_id
)
SELECT cd.vec_a, cd.vec_b, {_DUCK_COS} AS cosine
FROM candidates cd
JOIN embeddings a ON a.vec_id = cd.vec_a
JOIN embeddings b ON b.vec_id = cd.vec_b
WHERE {_DUCK_COS} >= {EMBED_NEAR_DUP_COS}
"""


# --- X26c: the 2-D PCA projection, materialized --------------------------------
#
# The consumer of the top-2 basis: project every embedding onto (v1, v2)
# — the coordinates table an embedding-visualization pipeline actually
# writes.  Model driver-side (the two 64-int iterates), projection a
# MAP-ONLY pass folding each row against the broadcast literal basis;
# every coordinate is an exact BIGINT dot product (u in 1e-4 units x v
# in 1e-4 units), so the full pipeline — Gram, iterates, coordinates —
# stays value-hash-checkable end to end.

def q_embedding_pca_coords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, x_units, y_units): every vector's exact-integer
    coordinates along the first two power/deflation iterates.  One
    distributed Gram pass trains the basis (as embedding_top2_pc); the
    projection itself adds ZERO shuffles — two in-row zip_with folds
    against literal arrays, the at-scale shape for materializing a
    visualization or clustering feature table."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    gram_rows = _pc_gram(emb).collect()
    g: dict[tuple[int, int], int] = {
        (int(r["i"]), int(r["j"])): int(r["g"]) for r in gram_rows
    }
    v1 = _pc_power(g)[-1]
    v2 = _pc_deflated_power(g, v1)

    def _coord(vs: list[int]) -> F.Column:
        arr = F.expr(
            "array(" + ", ".join(f"{int(v)}L" for v in vs) + ")"
        )
        return F.aggregate(
            F.zip_with(_km_units(), arr, lambda a, b: a * b),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    return emb.select(
        "vec_id",
        _coord(v1).alias("x_units"),
        _coord(v2).alias("y_units"),
    )


def _pca_coords_oracle() -> str:
    """The _pc2_oracle chain (MATERIALIZED g / iterates) + one per-vector
    projection join: coords = sum over dims of u[i] * v[i]."""
    base = _pc2_oracle()
    # reuse everything up to the final SELECT; swap in the coords query
    head = base.rsplit("SELECT v1.i AS dim", 1)[0].rstrip()
    return (
        head
        + f""",
uv AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {KM_SCALE} + 0.5) AS BIGINT))
           AS u
  FROM embeddings
)
SELECT uv.vec_id,
       CAST(SUM(uv.u[v1.i] * v1.v) AS BIGINT) AS x_units,
       CAST(SUM(uv.u[x2.i] * x2.v) AS BIGINT) AS y_units
FROM uv, v{PC_ITERS} v1 JOIN x{PC_ITERS} x2 ON x2.i = v1.i
GROUP BY uv.vec_id
"""
    )


ORACLES["embedding_pca_coords"] = _pca_coords_oracle()


# --- X32 (semantic-dedup ring): the cell map, SERVED ---------------------------
#
# q_semantic_dedup's own scale note: past SEMDEDUP_MATERIALIZE_ROWS "a
# real deployment writes the cell map to a table between the assign and
# prune stages".  This twin writes it: the (vec_id, cell) assignment
# persists via the index store, and the prune stage — the within-cell
# pairwise compare + keep-lowest-id — runs against the STORED map, so a
# re-prune at a new tau (the knob SemDeDup deployments sweep) never
# re-derives assignments.

def q_semantic_dedup_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``q_semantic_dedup`` from the STORED cell map: read (vec_id,
    cell), join embeddings for the within-cell exact-cosine prune, and
    report the same (vec_id, cell, kept, dup_of) contract.  The
    assignment pass (codebook scoring over the corpus) runs only at
    build; serving pays the co-partitioned within-cell self-join plus
    the final left join — the tau-sweep steady state."""
    emb = load_table(spark, sf_dir, "embeddings")

    def _assign() -> DataFrame:
        ac = _ivf_assignments(spread(emb))
        return ac.groupBy("vec_id").agg(
            F.expr("max_by(centroid_id, struct(cos, -centroid_id))").alias("cell")
        )

    assign = ensure_index(
        spark, sf_dir, "semdedup_cells", _serve_fp(IVF_CELLS), _assign
    )
    members = assign.join(emb.select("vec_id", "embedding"), "vec_id")
    a = members.select(
        F.col("cell"), F.col("vec_id").alias("vid"),
        F.col("embedding").alias("ea"),
    )
    b = members.select(
        F.col("cell"), F.col("vec_id").alias("other"),
        F.col("embedding").alias("eb"),
    )
    # r16: the within-cell pairwise scoring runs in the Arrow/NumPy
    # kernel (bit-identical — see _lsh_coded); the co-partitioned cell
    # self-join is unchanged.
    dups = (
        attach_pair_cosine(
            a.join(b, "cell").filter(F.col("vid") > F.col("other")),
            "ea", "eb", [("vid", "bigint"), ("other", "bigint")],
        )
        .filter(F.col("cosine") >= F.lit(SEMDEDUP_TAU))
        .groupBy("vid")
        .agg(F.min("other").alias("dup_of"))
    )
    return assign.join(dups, assign.vec_id == dups.vid, "left").select(
        "vec_id",
        "cell",
        F.when(F.col("dup_of").isNull(), 1).otherwise(0).cast("bigint").alias("kept"),
        "dup_of",
    )


ORACLES["semantic_dedup_serve"] = ORACLES["semantic_dedup"]


def q_embedding_near_dup_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup CONTRACT served: ``q_embedding_near_dup_mp`` (the
    carving study's shipped multi-probe configuration) answered from the
    stored ``lsh_codes`` signature table instead of re-running the 32
    hyperplane folds per run — the ninth serve twin.  Serving pays the
    probe-side explode (bits+1 12-byte variants), the (table, code)
    candidate join, and the exact-cosine verify; identical arithmetic,
    so it shares the multi-probe oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    coded = _lsh_codes_index(spark, sf_dir)
    probes = [F.col("code")]
    probes += [
        F.col("code").bitwiseXOR(F.lit(1 << b)) for b in range(LSH_BITS)
    ]
    a = coded.select(
        F.col("vec_id").alias("vec_a"), "table",
        F.explode(F.array(*probes)).alias("code"),
    )
    cand = (
        a.join(
            coded.select(F.col("vec_id").alias("vec_b"), "table", "code"),
            ["table", "code"],
        )
        .filter(F.col("vec_a") < F.col("vec_b"))
        .dropDuplicates(["vec_a", "vec_b"])
        .select("vec_a", "vec_b")
    )
    ea = emb.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea")
    )
    eb = emb.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb")
    )
    # r16: same kernel verify as the build-inline twin (bit-identical,
    # join shape unchanged) — serving pays the probe explode, the code
    # join and the vectorized verify only.
    return attach_pair_cosine(
        cand.join(ea, "vec_a").join(eb, "vec_b"),
        "ea", "eb", [("vec_a", "bigint"), ("vec_b", "bigint")],
    ).filter(F.col("cosine") >= EMBED_NEAR_DUP_COS)


ORACLES["embedding_near_dup_serve"] = ORACLES["embedding_near_dup_mp"]


# --- X32b: incremental index maintenance (refresh, not rebuild) ---------------
#
# Every serving family above rebuilds its artifact when the CORPUS
# SNAPSHOT changes — correct, but a production ingest pipeline appends
# batches far more often than it reindexes: FAISS exposes add() next to
# train(), and every vector store ships an upsert path.  This operator
# is that path for the LSH signature family: the STANDING corpus serves
# its codes from the stored artifact, and only the NEW INGEST BATCH pays
# the 32 hyperplane folds.  The refreshed table is value-hash-identical
# to a from-scratch recode (the oracle recodes everything), so the
# incremental path is held to the same exactness contract as the build.

LSH_REFRESH_MOD = 10  # vec_id % MOD == 0 simulates the new ingest batch


def q_lsh_index_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, tbl, code) for the FULL corpus, assembled incrementally:
    stored signatures for the standing slice (vec_id % LSH_REFRESH_MOD
    != 0, persisted once per corpus snapshot) unioned with freshly coded
    signatures for the ingest batch (vec_id % LSH_REFRESH_MOD == 0).

    Scale shape: the standing side is a pure artifact scan (12-byte
    rows, never re-coded); the batch side is a NARROW map over only the
    new vectors — no shuffle, no join, and cost proportional to the
    batch, not the corpus.  At 100 TB this is the ingest steady state:
    code the arriving batch, append it to the signature table, leave the
    billions of standing rows untouched."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = ensure_index(
        spark, sf_dir, "lsh_codes_base",
        _serve_fp(LSH_TABLES, LSH_BITS, LSH_REFRESH_MOD),
        lambda: _lsh_coded(
            spread(emb.filter(F.col("vec_id") % LSH_REFRESH_MOD != 0)), 64
        ).select("vec_id", "table", "code"),
    )
    batch = _lsh_coded(
        emb.filter(F.col("vec_id") % LSH_REFRESH_MOD == 0), 64
    ).select("vec_id", "table", "code")
    return base.unionByName(batch).select(
        "vec_id", F.col("table").alias("tbl"), "code"
    )


ORACLES["lsh_index_refresh"] = f"""
WITH coded AS (
  {_duck_coded_sql()}
)
SELECT vec_id, tbl, code FROM coded
"""


# --- X36: in-engine kNN inference + per-cluster representatives -------------
#
# Two selection/inference operators a training-data pipeline runs on top of
# the embedding ring: label prediction by neighbor vote (the quality-
# classifier serving shape when the "model" is the labeled corpus itself)
# and per-cluster coreset extraction (diversity-aware selection: keep the
# most-central exemplars of every k-means cell — the SemDeDup/coreset
# companion that answers "what DO we keep" after dedup answers "what do we
# drop").

KNN_CLS_K = 5  # neighbors consulted per prediction


def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Majority-vote kNN label inference for the query vectors: each
    vec_id < N_QUERY_VECS is classified by the modal label of its
    KNN_CLS_K nearest labeled neighbors (cosine; the query set itself is
    excluded from the electorate).  Ties break to the smallest label —
    a total order, so the prediction is engine-independent.

    Scale shape: identical to ``q_knn_cosine`` — broadcast the query
    batch, stream the corpus past it once (no shuffle of the corpus),
    WindowGroupLimit keeps per-query top-k partial; the vote is a tiny
    (Q x labels) aggregate.  At 100 TB the electorate scan is the same
    one-pass any brute rerank pays; an indexed deployment swaps the
    candidate source for ``ann_*_serve`` and keeps the vote stage."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
    )
    c = emb.filter(F.col("vec_id") >= N_QUERY_VECS).select(
        F.col("vec_id").alias("neighbor_id"),
        "label",
        F.col("embedding").alias("c_emb"),
    )
    # r16: electorate scoring in the Arrow/NumPy kernel (bit-identical —
    # see _lsh_coded); broadcast-Q / stream-corpus layout unchanged.
    pairs = attach_pair_cosine(
        F.broadcast(q).join(c, F.col("query_id") != F.col("neighbor_id")),
        "q_emb", "c_emb",
        [("query_id", "bigint"), ("neighbor_id", "bigint"),
         ("label", "int")],
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    votes = (
        pairs.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= KNN_CLS_K)
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    wv = Window.partitionBy("query_id").orderBy(F.desc("votes"), F.asc("label"))
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select("query_id", F.col("label").alias("predicted_label"), "votes")
    )


ORACLES["knn_classify"] = f"""
WITH pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, b.label,
         {_DUCK_COS} AS cosine
  FROM embeddings a JOIN embeddings b
    ON b.vec_id >= {N_QUERY_VECS} AND a.vec_id <> b.vec_id
  WHERE a.vec_id < {N_QUERY_VECS}
),
top AS (
  SELECT query_id, label FROM (
    SELECT query_id, label,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id) AS rn
    FROM pairs
  ) WHERE rn <= {KNN_CLS_K}
),
votes AS (
  SELECT query_id, label, COUNT(*) AS votes FROM top GROUP BY query_id, label
)
SELECT query_id, label AS predicted_label, votes FROM (
  SELECT query_id, label, votes,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY votes DESC, label) AS vr
  FROM votes
) WHERE vr = 1
"""


CLUSTER_REPS_K = 3  # exemplars kept per k-means cell


def q_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster coreset: the CLUSTER_REPS_K vectors nearest their own
    k-means centroid (exact integer squared distance, ties to the lower
    vec_id) — the exemplar set a curation run ships per semantic cell
    (cluster labeling, eval-set seeding, per-topic inspection samples).

    Serving-split shape: the centroids come from the SAME stored model
    ``q_ann_ivf_kmeans_serve`` trains once per corpus snapshot
    (``kmivf_centroids`` — reuse, not a tenth family), so the query pays
    one map-only assignment pass over broadcast-literal centroids plus a
    per-cell WindowGroupLimit.  Nothing shuffles wider than the (cell,
    dist) sort keys; at 100 TB the top-k per cell stays partial-aggregated
    per partition before the single per-cell merge."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    cents = _stored_kmivf_cents(spark, sf_dir)
    best = _km_best(cents)
    assigned = emb.select("vec_id", _km_units().alias("u")).select(
        "vec_id",
        best.getField("cid").alias("cid"),
        best.getField("dist").alias("dist"),
    )
    w = Window.partitionBy("cid").orderBy(F.asc("dist"), F.asc("vec_id"))
    return (
        assigned.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= CLUSTER_REPS_K)
        .select("cid", F.col("rn").cast("bigint").alias("rn"), "vec_id", "dist")
    )


def _cluster_reps_oracle() -> str:
    parts = _km_lloyd_parts()
    parts.append(_km_assign_cte(f"c{KM_ITERS}", "af"))
    return (
        "WITH " + ",\n".join(parts) + f"""
SELECT cid, rn, vec_id, dist FROM (
  SELECT cid,
         CAST(ROW_NUMBER() OVER (PARTITION BY cid
                                 ORDER BY dist, vec_id) AS BIGINT) AS rn,
         vec_id, dist
  FROM af
) WHERE rn <= {CLUSTER_REPS_K}
"""
    )


ORACLES["cluster_representatives"] = _cluster_reps_oracle()


def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive pair mining for embedding-model training: for every
    query vector, its most-similar SAME-label neighbor (the positive)
    and its most-similar DIFFERENT-label neighbor (the hard negative) —
    the (anchor, positive, hard-negative) triples a contrastive/triplet
    trainer consumes, long-form: (query_id, role, neighbor_id, cosine),
    ties to the lower neighbor_id.

    Scale shape: identical to ``q_knn_cosine`` — broadcast the query
    batch (now carrying its labels), stream the labeled corpus once, and
    rank per (query, role) with WindowGroupLimit keeping only the top
    row per group partial; nothing shuffles wider than (query_id, role).
    At 100 TB the corpus scan is the same one-pass any mining epoch
    pays; an indexed deployment swaps in `ann_*_serve` candidates per
    role."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_emb"),
    )
    c = emb.filter(F.col("vec_id") >= N_QUERY_VECS).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("c_label"),
        F.col("embedding").alias("c_emb"),
    )
    role = F.when(
        F.col("q_label") == F.col("c_label"), F.lit("positive")
    ).otherwise(F.lit("hard_negative"))
    # r16: mining scan scored in the Arrow/NumPy kernel (bit-identical —
    # see _lsh_coded); broadcast-Q / stream-corpus layout unchanged.
    pairs = attach_pair_cosine(
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", role.alias("role"), "neighbor_id",
                "q_emb", "c_emb"),
        "q_emb", "c_emb",
        [("query_id", "bigint"), ("role", "string"),
         ("neighbor_id", "bigint")],
    )
    w = Window.partitionBy("query_id", "role").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", "role", "neighbor_id", "cosine")
    )


ORACLES["hard_negative_mining"] = f"""
SELECT query_id, role, neighbor_id, cosine FROM (
  SELECT a.vec_id AS query_id,
         CASE WHEN a.label = b.label THEN 'positive'
              ELSE 'hard_negative' END AS role,
         b.vec_id AS neighbor_id,
         {_DUCK_COS} AS cosine,
         ROW_NUMBER() OVER (
           PARTITION BY a.vec_id,
                        CASE WHEN a.label = b.label THEN 'positive'
                             ELSE 'hard_negative' END
           ORDER BY {_DUCK_COS} DESC, b.vec_id ASC) AS rn
  FROM embeddings a JOIN embeddings b
    ON b.vec_id >= {N_QUERY_VECS} AND a.vec_id <> b.vec_id
  WHERE a.vec_id < {N_QUERY_VECS}
) WHERE rn = 1
"""
