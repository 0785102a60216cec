"""The carving-study dataflow shared by the three blocking-parameter
studies (``minhash_band_tuning``, ``embedding_lsh_tuning``,
``image_band_tuning``).

A study carves the same stored signature into several (slot, key)
layouts, one per config.  Two items collide under a config when they
share a key in the same slot; the colliding pairs are that config's
candidates, and counting them against an exact truth set measures the
recall/volume trade the config makes.  Only the carving differs between
studies, so the counting is written once here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _lit(value):
    # Python ints are BIGINT in every study contract; F.lit alone would
    # type small ones INT.
    if isinstance(value, int) and not isinstance(value, bool):
        return F.lit(value).cast("bigint")
    return F.lit(value)


def carving_study(
    configs: list[dict],
    keys: list[DataFrame],
    truth: DataFrame,
    probes: list[DataFrame] | None = None,
) -> DataFrame:
    """One row per config: its literal attributes (``configs[ci]``, in
    order), then ``n_candidates``, ``n_hits`` and ``n_truth`` as BIGINTs.

    ``keys[ci]`` holds config ci's ``(id, slot, key)`` rows.  A pair
    (a, b) with a < b is a candidate when a's probe rows and b's key
    rows share a (slot, key); the probes default to the keys, and a
    multi-probe config passes its expanded probe frame in
    ``probes[ci]``.  ``truth`` is the exact ``(a, b)`` pair set, a < b.
    A pair found in several slots counts once.

    Shape: every config rides one dataflow tagged by config index ci:
    one union of the carved keys, one (ci, slot, key) join, one dedup
    exchange on (ci, a, b), and hits counted by a broadcast left join
    against the truth set (|cand INTERSECT truth| over two distinct
    pair sets), so the candidates never shuffle after the dedup.  One
    dedup exchange, not one per config: concurrent per-config dedups
    left stragglers that were the studies' measured variance.  The
    config frame is literal, and its left join keeps a config with no
    candidates present; |truth| arrives as one broadcast 1-row frame.

    Measured against tagging the truth once per ci and deduping it in
    the candidate exchange (which reads the truth once): the extra
    aggregate columns on every raw candidate row made
    embedding_lsh_tuning about 1 s slower at sf0.1 on 4 vCPUs (4.0 ->
    5.0 s), while this shape held all three studies flat or better."""
    spark = truth.sparkSession
    if probes is None:
        probes = keys

    def tagged(frames: list[DataFrame], id_col: str) -> DataFrame:
        parts = [
            f.toDF(id_col, "slot", "key").select(F.lit(ci).alias("ci"), "*")
            for ci, f in enumerate(frames)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionAll(p)
        return out

    truth = truth.toDF("a", "b")
    cand = (
        tagged(probes, "a")
        .join(tagged(keys, "b"), ["ci", "slot", "key"])
        .filter(F.col("a") < F.col("b"))
        .select("ci", "a", "b")
        .distinct()
    )
    counts = (
        cand.join(F.broadcast(truth.withColumn("is_true", F.lit(1))),
                  ["a", "b"], "left")
        .groupBy("ci")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.sum(F.coalesce("is_true", F.lit(0))).alias("n_hits"),
        )
    )
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    cfg = spark.range(1).select(F.inline(F.array(*[
        F.struct(F.lit(ci).alias("ci"),
                 *[_lit(v).alias(k) for k, v in c.items()])
        for ci, c in enumerate(configs)
    ])))
    return (
        cfg.join(F.broadcast(counts), "ci", "left")
        .crossJoin(F.broadcast(n_truth))
        .select(
            *configs[0],
            *[F.coalesce(n, F.lit(0)).cast("bigint").alias(n)
              for n in ("n_candidates", "n_hits")],
            F.col("n_truth").cast("bigint"),
        )
    )
