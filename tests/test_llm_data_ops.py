"""Tests for the LLM-data-pipeline operators that have no SQL oracle:
multimodal plumbing (mapInPandas feature extraction, decode stub) and the
approximate-NN path (recall vs the exact baseline)."""

from __future__ import annotations

import pytest

from self_healing_data_pipeline_agent_spark.operators.multimodal import (
    decode_image,
    q_multimodal_features,
    q_payload_stats,
)
from self_healing_data_pipeline_agent_spark.operators.similarity import (
    q_ann_lsh_topk,
    q_knn_cosine,
)


def test_multimodal_features_deterministic(spark, sf_dir):
    rows = q_multimodal_features(spark, sf_dir).collect()
    by_doc: dict[int, dict[int, float]] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], {})[r["bin_id"]] = r["weight"]
    assert len(by_doc) == 500
    some_id = min(by_doc)
    hist = by_doc[some_id]
    assert sorted(hist) == list(range(16))  # all 16 bins, zero-weight included
    assert abs(sum(hist.values()) - 1.0) < 1e-9
    # rerun -> identical (no RNG, no ordering dependence)
    rows2 = q_multimodal_features(spark, sf_dir).collect()
    hist2 = {r["bin_id"]: r["weight"] for r in rows2 if r["doc_id"] == some_id}
    assert hist == hist2


def test_multimodal_nbytes_matches_payload_stats(spark, sf_dir):
    """The Python-side byte count must agree with the JVM-side one."""
    feats = {r["doc_id"]: r["n_bytes"] for r in q_multimodal_features(spark, sf_dir).collect()}
    stats = {r["doc_id"]: r["n_bytes"] for r in q_payload_stats(spark, sf_dir).collect()}
    assert feats == stats


def test_decode_stub_contract():
    assert decode_image(b"FAKEIMG:\x00\x01") == b"\x00\x01"
    with pytest.raises(NotImplementedError):
        decode_image(b"\xff\xd8\xff\xe0 jpeg bytes")


def test_ann_recall_vs_exact(spark, sf_dir):
    """LSH top-k must recover a reasonable fraction of the exact top-k.
    With an 8-bit code over 500 random vectors buckets are coarse, so we
    assert recall > 0.3 — the point is the pipeline shape, and that
    whatever it returns is a subset of true neighbors ranked correctly."""
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in q_knn_cosine(spark, sf_dir).collect()
    }
    approx_rows = q_ann_lsh_topk(spark, sf_dir).collect()
    approx = {(r["query_id"], r["neighbor_id"]) for r in approx_rows}
    assert approx, "LSH returned nothing"
    recall = len(exact & approx) / len(exact)
    assert recall > 0.3, f"recall {recall:.2f} too low"
    # within-bucket ranking is exact cosine: rn strictly increasing per query
    by_q: dict[int, list[int]] = {}
    for r in sorted(approx_rows, key=lambda r: (r["query_id"], r["rn"])):
        by_q.setdefault(r["query_id"], []).append(r["rn"])
    assert all(rns == list(range(1, len(rns) + 1)) for rns in by_q.values())


def test_ivf_recall_vs_exact(spark, sf_dir):
    """IVF with nprobe=4/16 cells must recover most exact neighbors, and
    every returned pair must score with true cosine (subset property)."""
    from self_healing_data_pipeline_agent_spark.operators.similarity import (
        q_ann_ivf_topk,
    )

    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in q_knn_cosine(spark, sf_dir).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in q_ann_ivf_topk(spark, sf_dir).collect()
    }
    assert ivf, "IVF returned nothing"
    recall = len(set(exact) & set(ivf)) / len(exact)
    assert recall > 0.5, f"recall {recall:.2f} too low"
    for pair in set(exact) & set(ivf):
        assert ivf[pair] == exact[pair]  # same cosine bits on shared pairs


def test_ivf_kmeans_recall_vs_exact(spark, sf_dir):
    """k-means-trained IVF (nprobe=3/8 learned cells) must recover most
    exact neighbors — measured 0.92/0.92/0.82 at sf0.001/0.01/0.1 —
    beating the training-free q_ann_ivf_topk codebook (0.5 floor) because
    Lloyd cells carve the corpus where the mass actually sits.  Shared
    pairs must carry bit-identical true cosines (subset property)."""
    from self_healing_data_pipeline_agent_spark.operators.similarity import (
        q_ann_ivf_kmeans_topk,
    )

    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in q_knn_cosine(spark, sf_dir).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in q_ann_ivf_kmeans_topk(spark, sf_dir).collect()
    }
    assert ivf, "kmeans-IVF returned nothing"
    recall = len(set(exact) & set(ivf)) / len(exact)
    assert recall > 0.7, f"recall {recall:.2f} too low"
    for pair in set(exact) & set(ivf):
        assert ivf[pair] == exact[pair]  # same cosine bits on shared pairs


def test_jl_recall_vs_exact(spark, sf_dir):
    """JL projection + exact rerank must recover most exact neighbors on
    this corpus — which is JL's WORST case (uniform random vectors, true
    cosines bunched within the projection noise), hence the modest floor;
    measured recall is 0.72/0.74/0.48 at sf0.001/0.01/0.1.  Shared pairs
    must carry bit-identical true cosines (subset property)."""
    from self_healing_data_pipeline_agent_spark.operators.similarity import (
        q_ann_jl_rerank,
    )

    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in q_knn_cosine(spark, sf_dir).collect()
    }
    jl = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in q_ann_jl_rerank(spark, sf_dir).collect()
    }
    assert jl, "JL rerank returned nothing"
    recall = len(set(exact) & set(jl)) / len(exact)
    # SF-aware floor pinned just under the measured worst case at each
    # scale (0.72/0.74/0.48), so pointing SPARK_GRAFT_TEST_SF_DIR at any
    # driver SF keeps the suite green while still tripping on regression.
    floor = 0.4 if sf_dir.rstrip("/").endswith("sf0.1") else 0.6
    assert recall > floor, f"recall {recall:.2f} below {floor} floor"
    for pair in set(exact) & set(jl):
        assert jl[pair] == exact[pair]


def test_bloom_decontaminate_no_false_negatives(spark, sf_dir):
    """Bloom property: membership tests can false-POSITIVE but never
    false-negative — every exact benchmark hit must be bloom-positive
    (n_false_pos >= 0 per doc), and a doc has exact hits iff
    q_decontaminate_docs flags it (the two operators must agree on the
    ground truth they share)."""
    from self_healing_data_pipeline_agent_spark.operators.text import (
        q_bloom_decontaminate,
        q_decontaminate_docs,
    )

    rows = {r["doc_id"]: r for r in q_bloom_decontaminate(spark, sf_dir).collect()}
    assert rows
    for r in rows.values():
        assert r["n_false_pos"] >= 0, f"false negative at doc {r['doc_id']}"
        assert r["n_bloom_pos"] == r["n_exact"] + r["n_false_pos"]
        assert 0 <= r["n_bloom_pos"] <= r["n_shingles"]
    truth = {
        r["doc_id"]: r["contaminated"]
        for r in q_decontaminate_docs(spark, sf_dir).collect()
    }
    assert set(truth) == set(rows)
    for doc_id, contaminated in truth.items():
        assert (rows[doc_id]["n_exact"] > 0) == contaminated


def test_zorder_pruning_invariants(spark, sf_dir):
    """Layout-study cross-checks: the true match count is layout-
    invariant, zone-map scans can only over-approximate (scanned rows >=
    matched rows), file counts stay within the packing budget, and for
    the pinned box the Morton layout must actually beat the linear one —
    the property the operator exists to demonstrate."""
    from self_healing_data_pipeline_agent_spark.operators.relational import (
        ZORDER_FILES,
        q_zorder_pruning,
    )

    rows = {r["layout"]: r for r in q_zorder_pruning(spark, sf_dir).collect()}
    assert set(rows) == {"linear", "zorder"}
    lin, zo = rows["linear"], rows["zorder"]
    assert lin["rows_matched"] == zo["rows_matched"] > 0
    for r in rows.values():
        assert r["n_files"] <= ZORDER_FILES
        assert r["files_scanned"] <= r["n_files"]
        assert r["rows_scanned"] >= r["rows_matched"]
    assert zo["rows_scanned"] < lin["rows_scanned"]
    assert zo["files_scanned"] < lin["files_scanned"]


def test_jl_projection_distortion(spark, sf_dir):
    """The scaled projected squared norm must estimate the true squared
    norm: mean distortion ~1, every vector within the JL concentration
    envelope for 32 dims (measured 0.39..2.18 across SFs — bounds leave
    margin without being vacuous)."""
    from self_healing_data_pipeline_agent_spark.operators.similarity import (
        q_jl_projection,
    )

    rows = q_jl_projection(spark, sf_dir).collect()
    dist = [r["distortion"] for r in rows]
    assert len(dist) == len({r["vec_id"] for r in rows})
    mean = sum(dist) / len(dist)
    assert 0.9 < mean < 1.1, f"mean distortion {mean:.3f} off unity"
    assert all(0.2 < d < 3.0 for d in dist)


class _FakeState:
    """Minimal GroupState stand-in for kernel-level tests."""

    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


def _run_batch(state, ts_list, uid=7):
    import pandas as pd

    from self_healing_data_pipeline_agent_spark.streaming.events import (
        _track_sessions,
    )

    # the streaming plan feeds the kernel epoch MICROS (unix_micros), so
    # the kernel never depends on pandas' datetime64 resolution
    pdf = pd.DataFrame(
        {
            "user_id": [uid] * len(ts_list),
            "event_id": list(range(len(ts_list))),
            "ts": pd.to_datetime(ts_list).astype("datetime64[us]").astype("int64"),
        }
    )
    (out,) = list(_track_sessions((uid,), iter([pdf]), state))
    return out


def test_stateful_session_kernel_multibatch():
    """The open tail session must survive a batch boundary: events in a
    later micro-batch that fall within the gap EXTEND the stored session
    instead of opening a new one."""
    state = _FakeState()
    out1 = _run_batch(state, ["2024-01-01 10:00", "2024-01-01 10:10"])
    assert len(out1) == 0  # session still open
    # batch 2: first event within 30min of the stored tail -> extends;
    # second event 2h later -> closes the extended session
    out2 = _run_batch(state, ["2024-01-01 10:25", "2024-01-01 12:30"])
    assert len(out2) == 1
    closed = out2.iloc[0]
    assert str(closed["session_start"]) == "2024-01-01 10:00:00"
    assert str(closed["session_end"]) == "2024-01-01 10:25:00"
    assert closed["n_events"] == 3
    # the 12:30 event is the new open tail
    assert state.get[2] == 1


def test_stateful_session_kernel_gap_split_within_batch():
    state = _FakeState()
    out = _run_batch(
        state,
        ["2024-01-01 09:00", "2024-01-01 09:05",
         "2024-01-01 11:00",  # > 30min gap -> closes first session
         "2024-01-01 11:20"],
    )
    assert len(out) == 1
    assert out.iloc[0]["n_events"] == 2
    assert state.get[2] == 2  # open tail holds the last two events


def test_transform_with_state_variant_gated_or_equivalent(spark, sf_dir):
    """The transformWithStateInPandas sessionizer shares _fold_sessions
    with the applyInPandasWithState variant.  Where its protobuf
    dependency exists the two APIs must emit identical sessions; where it
    does not, the variant must gate with a clear error and stay OUT of
    the registered query surface."""
    from self_healing_data_pipeline_agent_spark.registry import all_queries
    from self_healing_data_pipeline_agent_spark.streaming.events import (
        stateful_sessions,
        stateful_sessions_tws,
        transform_with_state_available,
    )

    if transform_with_state_available():
        assert "stateful_sessions_tws" in all_queries()
        a = sorted(tuple(r) for r in stateful_sessions_tws(spark, sf_dir).collect())
        b = sorted(tuple(r) for r in stateful_sessions(spark, sf_dir).collect())
        assert a == b
    else:
        assert "stateful_sessions_tws" not in all_queries()
        with pytest.raises(ModuleNotFoundError, match="protobuf"):
            stateful_sessions_tws(spark, sf_dir)


def test_multimodal_codec_registry():
    """Codec dispatch: built-in test codec round-trips, unknown codecs
    fail with the available list, custom registrations dispatch."""
    from self_healing_data_pipeline_agent_spark.operators.multimodal import (
        decode_image,
        decode_payload,
        register_codec,
    )

    assert decode_payload(b"FAKEIMG:abc") == b"abc"
    assert decode_image(b"FAKEIMG:abc") == b"abc"
    with pytest.raises(NotImplementedError):
        decode_payload(b"JPEG...")
    with pytest.raises(NotImplementedError, match="fakeimg"):
        decode_payload(b"x", codec="no_such_codec")
    register_codec("reverse", lambda p: p[::-1])
    assert decode_payload(b"abc", codec="reverse") == b"cba"


def test_ppm_codec_spec_parse():
    """The PPM (P6) codec is the registry's REAL-container path (VERDICT
    r7 #6: only the FAKEIMG pass-through had ever been dispatched).  Pin
    the spec behaviors: header whitespace variants, # comments, and the
    malformed-payload failures a real decoder must catch."""
    from self_healing_data_pipeline_agent_spark.operators.multimodal import (
        _ppm_header,
        decode_payload,
    )

    raster = bytes(range(12))  # 2x2 RGB
    assert decode_payload(b"P6\n2 2\n255\n" + raster, codec="ppm") == raster
    # whitespace variants and comments anywhere between header tokens
    assert decode_payload(
        b"P6 # binary ppm\n # another comment\n2\t2 255 " + raster,
        codec="ppm",
    ) == raster
    assert _ppm_header(b"P6\n# c\n3 1\n255\n" + bytes(9)) == (3, 1, 255, 15)
    with pytest.raises(ValueError, match="magic"):
        decode_payload(b"P5\n2 2\n255\n" + raster, codec="ppm")
    with pytest.raises(ValueError, match="truncated"):
        decode_payload(b"P6\n2 2\n255\n" + raster[:-1], codec="ppm")
    with pytest.raises(ValueError, match="truncated"):
        decode_payload(b"P6\n2 2", codec="ppm")
    with pytest.raises(ValueError, match="maxval"):
        decode_payload(b"P6\n2 2\n0\n" + raster, codec="ppm")
    # ADVICE r8: zero dimensions and a magic fused to the width must fail,
    # not decode to empty bytes / misparse the width
    with pytest.raises(ValueError, match="dimensions"):
        decode_payload(b"P6\n0 0\n255\n", codec="ppm")
    with pytest.raises(ValueError, match="dimensions"):
        decode_payload(b"P6\n2 0\n255\n", codec="ppm")
    with pytest.raises(ValueError, match="magic not followed"):
        decode_payload(b"P64 2\n255\n" + raster, codec="ppm")


def test_ppm_decode_query_roundtrip(spark, sf_dir):
    """End-to-end registry dispatch inside the Arrow kernel: dimensions
    come from the parsed container (not assumed), and channel sums match
    an independent pure-Python decode of the same payloads."""
    from self_healing_data_pipeline_agent_spark.operators.multimodal import (
        PPM_RASTER_BYTES, PPM_W, PPM_H,
        q_multimodal_decode_ppm,
    )

    rows = {r["doc_id"]: r for r in q_multimodal_decode_ppm(spark, sf_dir).collect()}
    assert len(rows) == 500
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    for doc_id in sorted(rows)[:25]:
        r = rows[doc_id]
        assert (r["width"], r["height"]) == (PPM_W, PPM_H)
        raster = docs[doc_id][:PPM_RASTER_BYTES].ljust(PPM_RASTER_BYTES).encode()
        assert r["n_pixels"] == PPM_W * PPM_H
        assert r["sum_r"] == sum(raster[0::3])
        assert r["sum_g"] == sum(raster[1::3])
        assert r["sum_b"] == sum(raster[2::3])


def test_multimodal_resize_contract(spark, sf_dir):
    from self_healing_data_pipeline_agent_spark.operators.multimodal import (
        RESIZE_TARGET, q_multimodal_resize, resize_payload,
    )

    rows = {r["doc_id"]: r for r in q_multimodal_resize(spark, sf_dir).collect()}
    assert len(rows) == 500
    r = rows[min(rows)]
    assert len(r["resized_hex"]) == RESIZE_TARGET * 2  # hex doubles the width
    # pure-python kernel agrees with the distributed result
    assert resize_payload(b"abcdefgh", 4) == b"aceg"


def test_multimodal_frame_sample_contract(spark, sf_dir):
    from self_healing_data_pipeline_agent_spark.operators.multimodal import (
        FRAME_SIZE, FRAME_STRIDE, q_multimodal_frame_sample,
    )

    rows = q_multimodal_frame_sample(spark, sf_dir).collect()
    assert len(rows) == 500
    for r in rows[:20]:
        assert r["n_sampled"] == -(-r["n_frames"] // FRAME_STRIDE)
        assert len(r["sampled_hex"]) <= r["n_sampled"] * FRAME_SIZE * 2


def test_approx_profiles_close_to_exact(spark, sf_dir):
    """The sketch-based scale paths must track their exact twins: HLL
    within 5%, t-digest quantiles within 2% relative error."""
    from self_healing_data_pipeline_agent_spark.operators.relational import (
        q_approx_distinct_counts,
        q_approx_quantile_profile,
        q_distinct_counts,
        q_quantile_profile,
    )

    exact_nd = {r["l_returnflag"]: r for r in q_distinct_counts(spark, sf_dir).collect()}
    approx_nd = {r["l_returnflag"]: r for r in q_approx_distinct_counts(spark, sf_dir).collect()}
    assert set(exact_nd) == set(approx_nd)
    for flag, e in exact_nd.items():
        a = approx_nd[flag]
        # the banded query re-emits the exact counts + in-band booleans
        assert a["nd_partkey"] == e["nd_partkey"]
        assert a["nd_suppkey"] == e["nd_suppkey"]
        assert a["n_rows"] == e["n_rows"]
        assert a["partkey_within_band"] and a["suppkey_within_band"]

    approx_q = q_approx_quantile_profile(spark, sf_dir).collect()
    assert approx_q
    for a in approx_q:
        assert a["p50_within_band"] and a["p25_within_band"] and a["p75_within_band"]
    # silence the unused import of the exact quantile twin
    assert q_quantile_profile(spark, sf_dir).count() > 0


def test_streaming_merge_upsert_converges_to_batch_merge(spark, tmp_path):
    """Two change micro-batches streamed through foreachBatch MERGE must
    leave the snapshot identical to one batch merge of their union."""
    from self_healing_data_pipeline_agent_spark.streaming.merge import (
        merge_upsert,
        streaming_merge_upsert,
    )

    snapshot = str(tmp_path / "snapshot")
    deltas = tmp_path / "deltas"
    deltas.mkdir()
    ckpt = str(tmp_path / "ckpt")

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["k", "s", "v"]
    )
    base.write.parquet(snapshot)
    schema = base.schema

    d1 = spark.createDataFrame([(2, "b2", 21.0), (4, "d", 40.0)], schema)
    d2 = spark.createDataFrame([(4, "d2", 41.0), (5, "e", 50.0)], schema)
    d1.write.parquet(str(deltas / "batch1"))
    q = streaming_merge_upsert(spark, str(deltas / "*"), snapshot, ckpt, "k", schema)
    q.awaitTermination()
    d2.write.parquet(str(deltas / "batch2"))
    q = streaming_merge_upsert(spark, str(deltas / "*"), snapshot, ckpt, "k", schema)
    q.awaitTermination()

    got = {
        r["k"]: (r["s"], r["v"])
        for r in spark.read.parquet(snapshot).collect()
    }
    expected_df = merge_upsert(merge_upsert(base, d1, "k"), d2, "k")
    expected = {r["k"]: (r["s"], r["v"]) for r in expected_df.collect()}
    assert got == expected
    assert got[4] == ("d2", 41.0) and got[2] == ("b2", 21.0)


def test_embedding_near_dup_lsh_subset_and_recall(spark, sf_dir):
    """LSH-blocked near-dup pairs must be a SUBSET of the brute-force
    pairs (exact verification can only drop candidates, never invent
    them), with decent recall — near-dup vectors agree on most sign
    bits, so some table should collide for most true pairs."""
    from self_healing_data_pipeline_agent_spark.operators.similarity import (
        q_embedding_near_dup,
        q_embedding_near_dup_lsh,
    )

    brute = {
        (r["vec_a"], r["vec_b"]) for r in q_embedding_near_dup(spark, sf_dir).collect()
    }
    lsh = {
        (r["vec_a"], r["vec_b"])
        for r in q_embedding_near_dup_lsh(spark, sf_dir).collect()
    }
    assert lsh <= brute
    # r7 found the truth set EMPTY at every SF (threshold 0.9 vs corpus
    # max cosine ~0.5), so the recall branch below had never executed and
    # the LSH blocker was unexercised; with the corpus-calibrated
    # threshold the set is non-empty — pin that so this test can never
    # silently go vacuous again.
    assert brute, "brute-force truth set empty — near-dup threshold vacuous"
    recall = len(lsh) / len(brute)
    assert recall > 0.5, f"recall {recall:.2f} too low"


def test_semantic_dedup_materialized_path_agrees(spark, sf_dir, monkeypatch):
    """Above SEMDEDUP_MATERIALIZE_ROWS the cell-assignment lineage is
    materialized (localCheckpoint) instead of replayed into the prune
    joins — the production shape.  Both paths must return identical
    rows."""
    from self_healing_data_pipeline_agent_spark.operators import similarity as sim

    replay = sorted(tuple(r) for r in sim.q_semantic_dedup(spark, sf_dir).collect())
    monkeypatch.setattr(sim, "SEMDEDUP_MATERIALIZE_ROWS", 0)
    materialized = sorted(
        tuple(r) for r in sim.q_semantic_dedup(spark, sf_dir).collect()
    )
    assert replay == materialized


def test_quantile_profile_strategies_agree(spark, sf_dir):
    """The one-agg `percentile` path (small/medium) and the stacked-rank
    dataflow (at-scale) are both exact and must agree to the digit."""
    from self_healing_data_pipeline_agent_spark.operators.relational import (
        _quantile_profile_agg,
        _quantile_profile_rank,
    )

    agg = sorted(tuple(r) for r in _quantile_profile_agg(spark, sf_dir).collect())
    rank = sorted(tuple(r) for r in _quantile_profile_rank(spark, sf_dir).collect())
    assert agg == rank


# --- prefix-filtered exact set-similarity join (PPJoin family) --------------


def test_prefix_filter_losslessness(spark):
    """The prefix-filter candidate scheme must find EVERY J >= t pair on a
    corpus engineered so near-dup pairs share only mid-rarity shingles
    (the case a buggy prefix length silently drops)."""
    from pyspark.sql import functions as F

    from self_healing_data_pipeline_agent_spark.operators import text as txt

    import tempfile

    docs = [
        # a near-dup pair (J >= 0.6 on 3-gram shingles): long shared run
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
        # an identical pair (J = 1.0)
        (3, "one two three four five six seven"),
        (4, "one two three four five six seven"),
        # unrelated chaff sharing common words
        (5, "alpha beta unrelated words beyond any overlap threshold here"),
        (6, "totally different content with no shared shingles at all yes"),
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            docs, "doc_id long, text string"
        ).withColumn("lang", F.lit("en")).withColumn(
            "source", F.lit("t")
        ).withColumn("n_chars", F.length("text")).write.mode(
            "overwrite"
        ).parquet(f"{d}/documents.parquet")
        got = {
            (r.doc_a, r.doc_b)
            for r in txt.q_prefix_filter_jaccard(spark, d).collect()
        }
        # brute-force truth at the same threshold
        sh = txt._shingle_df(spark, d)
        brute = (
            sh.alias("a")
            .join(
                sh.alias("b"),
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(
                F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db")
            )
            .agg(F.count(F.lit(1)).alias("ni"))
        )
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
        truth = set()
        nmap = {r.doc_id: r.n for r in sizes.collect()}
        for r in brute.collect():
            j = r.ni / (nmap[r.da] + nmap[r.db] - r.ni)
            if j >= txt.PREFIX_JACCARD_T:
                truth.add((r.da, r.db))
        assert truth, "fixture must contain at least one qualifying pair"
        assert got == truth


def test_char_lm_band_edge_tripwire():
    """The r5 driver divergence: char_lm_perplexity's checked score must be
    boundary-robust.  Assert every doc's UNBANDED deci-bit value at all
    three SFs sits >= CHAR_LM_BAND_EDGE_EPS from its nearest band edge, so
    a future data drop landing near floor(bpc*10)'s boundary fails loudly
    here instead of silently in the driver's cross-engine hash compare.
    DuckDB-only (no Spark) — the margin is a property of the data+model."""
    import duckdb

    from self_healing_data_pipeline_agent_spark.operators.text import (
        CHAR_LM_BAND_EDGE_EPS,
        CHAR_LM_MODEL_CTES,
        CHAR_LM_UNBANDED_SQL,
    )

    # built from the SAME strings the oracle uses, so a model change is
    # automatically re-guarded here (never a frozen copy)
    unbanded = f"""
{CHAR_LM_MODEL_CTES}
SELECT doc_id, {CHAR_LM_UNBANDED_SQL} AS v
FROM tf JOIN model USING (bg)
GROUP BY doc_id
"""
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        con = duckdb.connect()
        con.sql(
            "CREATE VIEW documents AS SELECT * FROM "
            f"'/root/testdata/{sf}/documents.parquet'"
        )
        rows = con.sql(unbanded).fetchall()
        con.close()
        assert rows, f"{sf}: no docs scored"
        bad = []
        for doc_id, v in rows:
            margin = abs(v - round(v))
            if margin < CHAR_LM_BAND_EDGE_EPS:
                bad.append((doc_id, v, margin))
        assert not bad, (
            f"{sf}: {len(bad)} docs within {CHAR_LM_BAND_EDGE_EPS} of a "
            f"bpc_band edge (first 3: {bad[:3]}) — the banded oracle is no "
            "longer boundary-robust; widen the band or adjust the model"
        )


def test_char_lm_model_quantization_tripwire():
    """One level below the band tripwire (VERDICT r6 next-round #1b): each
    bigram TYPE's pre-floor quantization input ln(p)*1e6 must sit >=
    CHAR_LM_MODEL_EDGE_EPS from its floor(y+0.5) rounding boundary (i.e.
    |frac(y) - 0.5| >= eps) at all three SFs, so a driver-side libm whose
    ln() differs by a few ulps can never flip an lp_units value.  Built
    from the same shared CTE strings as the oracle."""
    import math

    import duckdb

    from self_healing_data_pipeline_agent_spark.operators.text import (
        CHAR_LM_MODEL_CTES,
        CHAR_LM_MODEL_EDGE_EPS,
        CHAR_LM_V,
    )

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        con = duckdb.connect()
        con.sql(
            "CREATE VIEW documents AS SELECT * FROM "
            f"'/root/testdata/{sf}/documents.parquet'"
        )
        rows = con.sql(
            f"{CHAR_LM_MODEL_CTES} "
            f"SELECT bg, LN((cnt + 1.0) / (tot + {float(CHAR_LM_V)}))"
            " * 1000000.0 AS y FROM bg_counts"
            " JOIN c1_totals ON substr(bg, 1, 1) = c1"
        ).fetchall()
        con.close()
        assert rows, f"{sf}: empty model"
        bad = [
            (bg, y)
            for bg, y in rows
            if abs((y - math.floor(y)) - 0.5) < CHAR_LM_MODEL_EDGE_EPS
        ]
        assert not bad, (
            f"{sf}: {len(bad)} bigram types within {CHAR_LM_MODEL_EDGE_EPS} "
            f"of the lp_units rounding boundary (first 3: {bad[:3]})"
        )


def test_char_lm_corpus_is_pure_ascii():
    """The char-LM normalization (`lower` + regex class) is only
    engine/ICU-version-proof on ASCII input; _char_lm_tf_df's docstring
    relies on this holding for the test corpus.  Fail loudly if a future
    testdata drop introduces non-ASCII, uppercase-beyond-ASCII, or NULL
    text so the normalization gets hardened BEFORE the driver hash can
    silently diverge."""
    import duckdb

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        con = duckdb.connect()
        n_bad, n_null = con.sql(
            "SELECT sum(CASE WHEN regexp_matches(text, '[^\\x20-\\x7E]')"
            " THEN 1 ELSE 0 END),"
            " sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)"
            f" FROM '/root/testdata/{sf}/documents.parquet'"
        ).fetchone()
        con.close()
        assert not n_bad and not n_null, (
            f"{sf}: {n_bad} docs with non-printable-ASCII text, {n_null} "
            "NULL — harden the char-LM normalization before trusting the "
            "cross-engine hash"
        )


def test_substring_dup_spans_fixture(spark, tmp_path):
    """Hand-built corpus pinning the exact-substring-run semantics AND the
    winnowed-candidate prefilter's losslessness at its boundary: an
    exactly-SUBSTR_MIN_SPAN-token shared prefix must be reported with
    exact 0-based starts; a 7-token overlap (>= the 6-token winnowing
    guarantee, so the pair IS a candidate) must be dropped by the run
    filter, not the prefilter."""
    from self_healing_data_pipeline_agent_spark.operators.text import (
        SUBSTR_MIN_SPAN,
        q_substring_dup_spans,
    )

    assert SUBSTR_MIN_SPAN == 8  # fixture texts encode this boundary
    shared8 = "w1 w2 w3 w4 w5 w6 w7 w8"
    shared7 = "p1 p2 p3 p4 p5 p6 p7"
    docs = [
        (1, shared8 + " x1 x2 x3 x4"),
        (2, shared8 + " y1 y2 y3 y4"),
        (3, shared7 + " q1 q2 q3 q4 q5"),
        (4, shared7 + " r1 r2 r3 r4 r5"),
    ]
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    rows = q_substring_dup_spans(spark, str(tmp_path)).collect()
    got = {
        (r.doc_a, r.doc_b, r.start_a, r.start_b, r.span_tokens) for r in rows
    }
    assert got == {(1, 2, 0, 0, 8)}


def test_sq8_rerank_recall_vs_exact(spark, sf_dir):
    """SQ8 + asymmetric distance with a 4x-top-k rerank pool must recover
    EXACTLY the exact top-k on this corpus — int8 reconstruction error is
    <= scale/2 per dim, far below the cosine gaps between true neighbors
    here, and the SQ8_CANDIDATES comment claims losslessness outright, so
    the test pins recall == 1.0 (r7 ADVICE: a >0.9 bound let the claim
    silently degrade).  Shared pairs must carry identical cosine bits
    (the rerank is exact)."""
    from self_healing_data_pipeline_agent_spark.operators.similarity import (
        q_ann_int8_rerank,
    )

    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in q_knn_cosine(spark, sf_dir).collect()
    }
    sq8 = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in q_ann_int8_rerank(spark, sf_dir).collect()
    }
    assert sq8, "SQ8 rerank returned nothing"
    recall = len(set(exact) & set(sq8)) / len(exact)
    assert recall == 1.0, f"recall {recall:.2f} — quantization pool too lossy"
    for pair in set(exact) & set(sq8):
        assert sq8[pair] == exact[pair]


def test_char_lm_bisect_trio_mutually_consistent(spark, sf_dir):
    """The three driver-checked char-LM queries must tell ONE story: the
    counts twin's n_bigrams matches the score query's; and recomputing
    every doc's banded score in Python from the model twin's lp_units and
    the tf frame reproduces bpc_band exactly.  If the driver reds one
    query next round, this pins locally that the OTHER two describe the
    same pipeline state — the bisect's interpretation depends on it."""
    import math

    from self_healing_data_pipeline_agent_spark.operators.text import (
        CHAR_LM_BAND_PER_BIT,
        _char_lm_tf_df,
        q_char_lm_doc_counts,
        q_char_lm_model,
        q_char_lm_perplexity,
    )

    counts = {
        r.doc_id: r.n_bigrams
        for r in q_char_lm_doc_counts(spark, sf_dir).collect()
    }
    scored = {
        r.doc_id: (r.n_bigrams, r.bpc_band)
        for r in q_char_lm_perplexity(spark, sf_dir).collect()
    }
    assert set(counts) == set(scored)
    assert all(counts[d] == scored[d][0] for d in counts)

    lp = {r.bg: r.lp_units for r in q_char_lm_model(spark, sf_dir).collect()}
    tf_rows = _char_lm_tf_df(spark, sf_dir).collect()
    sums: dict[int, int] = {}
    ns: dict[int, int] = {}
    for r in tf_rows:
        sums[r.doc_id] = sums.get(r.doc_id, 0) + r.tf * lp[r.bg]
        ns[r.doc_id] = ns.get(r.doc_id, 0) + r.tf
    for d, (n, band) in scored.items():
        assert ns[d] == n
        bpc = -(sums[d] / 1e6) / math.log(2) / n
        assert math.floor(bpc * CHAR_LM_BAND_PER_BIT) == band, d


def test_graph_pagerank_invariants(spark, sf_dir):
    """Integer-unit PageRank sanity: exactly PR_TOP ranked rows, dense
    rank 1..N, every rank at least the damping base (0.15 * scale — the
    floor any node gets regardless of neighbors), and rank mass bounded
    by the node count (floor divisions only ever LOSE mass).  Determinism
    across runs is implied by the oracle hash check; this pins the
    algebraic invariants a wrong edge build would break."""
    from self_healing_data_pipeline_agent_spark.operators.relational import (
        PR_SCALE,
        PR_TOP,
        q_graph_pagerank,
    )

    rows = q_graph_pagerank(spark, sf_dir).collect()
    assert len(rows) == PR_TOP
    assert sorted(r["rn"] for r in rows) == list(range(1, PR_TOP + 1))
    assert all(r["rank_units"] >= int(0.15 * PR_SCALE) for r in rows)
    assert all(r["node_id"][0] in ("s", "c") for r in rows)
    by_rn = sorted(rows, key=lambda r: r["rn"])
    ranks = [r["rank_units"] for r in by_rn]
    assert ranks == sorted(ranks, reverse=True)


def test_mixture_epochs_waterfill(spark, sf_dir):
    """UniMax waterfill invariants: both branches exercised (the
    constants are chosen so some languages saturate and some share),
    saturated rows get exactly their cap (epochs = EPOCH_CAP), all
    unsaturated rows get the SAME allocation below their cap, and the
    grand total never exceeds the budget (floor divisions only lose)."""
    from self_healing_data_pipeline_agent_spark.operators.text import (
        BUDGET_DEN,
        BUDGET_NUM,
        EPOCH_CAP,
        q_mixture_epochs,
    )

    rows = q_mixture_epochs(spark, sf_dir).collect()
    assert len(rows) >= 2
    sat = [r for r in rows if r["saturated"] == 1]
    unsat = [r for r in rows if r["saturated"] == 0]
    assert sat and unsat, "waterfill must exercise both branches"
    for r in sat:
        assert r["alloc_tokens"] == r["cap_tokens"] == EPOCH_CAP * r["n_tokens"]
        assert r["epochs_milli"] == EPOCH_CAP * 1000
    shares = {r["alloc_tokens"] for r in unsat}
    assert len(shares) == 1, "unsaturated languages must share equally"
    assert all(r["alloc_tokens"] < r["cap_tokens"] for r in unsat)
    budget = (sum(r["n_tokens"] for r in rows) * BUDGET_NUM) // BUDGET_DEN
    total_alloc = sum(r["alloc_tokens"] for r in rows)
    assert total_alloc <= budget
    assert budget - total_alloc < len(unsat) + len(rows)  # only div remainders


def test_leakage_safe_split_hygiene(spark, sf_dir):
    """The operator's reason to exist: the naive per-doc split leaks
    near-dup pairs across the boundary (>0 on this corpus at every SF),
    the cluster-keyed split leaks exactly ZERO by construction, and the
    pair count agrees with the LSH pipeline it reuses."""
    from self_healing_data_pipeline_agent_spark.operators.text import (
        q_leakage_safe_split,
        q_minhash_lsh_pairs,
    )

    row = q_leakage_safe_split(spark, sf_dir).collect()
    assert len(row) == 1
    r = row[0]
    assert r["cluster_cross_pairs"] == 0
    assert r["naive_cross_pairs"] > 0
    assert r["n_dup_pairs"] == q_minhash_lsh_pairs(spark, sf_dir).count()
    assert 0 < r["n_val_naive"] < r["n_docs"]
    assert 0 < r["n_val_cluster"] < r["n_docs"]


def test_png_codec_spec_parse():
    """The PNG codec is the registry's first COMPRESSED real-container
    path: encode cycles all five filter types and splits IDAT in two, so
    a round-trip proves CRC32 + inflate + every unfilter; corrupt CRCs,
    wrong signature, truncated chunks, and unsupported layouts must
    raise ValueError — the shared fail-on-bad-bytes contract."""
    import struct
    import zlib

    from self_healing_data_pipeline_agent_spark.operators.multimodal import (
        PNG_RASTER_BYTES,
        PNG_SIG,
        _png_chunk,
        _png_decode,
        png_encode,
        png_parse,
    )

    raster = bytes((i * 7 + 13) % 256 for i in range(PNG_RASTER_BYTES))
    p = png_encode(raster)
    assert len(p) < PNG_RASTER_BYTES, "IDAT not actually compressed"
    assert _png_decode(p) == raster  # all 5 unfilters + 2-chunk IDAT
    ascii_raster = ("hello world " * 64)[:PNG_RASTER_BYTES].encode()
    assert _png_decode(png_encode(ascii_raster)) == ascii_raster
    # the parse surface reports IHDR facts
    assert png_parse(p)[:4] == (16, 16, 8, 2)

    import pytest

    with pytest.raises(ValueError, match="CRC"):
        bad = bytearray(p)
        bad[60] ^= 1  # inside an IDAT chunk body
        _png_decode(bytes(bad))
    with pytest.raises(ValueError, match="not a PNG"):
        _png_decode(b"XXXX" + p[4:])
    with pytest.raises(ValueError, match="truncated"):
        _png_decode(p[:-8])
    with pytest.raises(ValueError, match="truncated"):
        # chunk DATA complete but the 4-byte CRC field cut short (r12
        # ADVICE: this used to escape as struct.error) — rebuild p so the
        # LAST chunk's CRC is the truncation point
        _png_decode(p[:-2])
    with pytest.raises(ValueError, match="unsupported"):
        # 16-bit depth IHDR with a correct CRC must still be rejected
        ihdr = struct.pack(">IIBBBBB", 16, 16, 16, 2, 0, 0, 0)
        _png_decode(PNG_SIG + _png_chunk(b"IHDR", ihdr))
    with pytest.raises(ValueError, match="inflate"):
        # valid chunks, garbage zlib stream
        ihdr = struct.pack(">IIBBBBB", 16, 16, 8, 2, 0, 0, 0)
        _png_decode(
            PNG_SIG + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", b"not-a-zlib-stream")
            + _png_chunk(b"IEND", b"")
        )
    # bad filter byte inside a VALID zlib stream
    stride = 16 * 3
    raw = bytearray()
    for y in range(16):
        raw.append(9)  # invalid filter type
        raw += bytes(stride)
    ihdr = struct.pack(">IIBBBBB", 16, 16, 8, 2, 0, 0, 0)
    with pytest.raises(ValueError, match="filter"):
        _png_decode(
            PNG_SIG + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
            + _png_chunk(b"IEND", b"")
        )


# sha256 of the sf0.001 corpus's PNG payloads in doc_id order, pinned
# from the per-byte encoder the batch encoder replaced: the batch codec
# must keep every payload byte (same filtered scanlines, default zlib
# level, same two-IDAT split).
PNG_SF0001_PAYLOADS_SHA256 = (
    "3f8e58d2a1634228183444855dc8221e695e2ff0e6d093f25536d62709b4aa57"
)


def _png_reference_unfilter(raw: bytes, w: int, h: int) -> bytes:
    """Per-byte scanline unfilter (PNG spec 9.2-9.4), one byte at a time:
    the reference the batch decoder must agree with."""

    def paeth(a: int, b: int, c: int) -> int:
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        return b if pb <= pc else c

    stride = w * 3
    out = bytearray()
    prev = bytes(stride)
    for y in range(h):
        ft = raw[y * (stride + 1)]
        line = raw[y * (stride + 1) + 1: (y + 1) * (stride + 1)]
        row = bytearray(stride)
        for i in range(stride):
            x = line[i]
            left = row[i - 3] if i >= 3 else 0
            if ft == 0:
                v = x
            elif ft == 1:
                v = x + left
            elif ft == 2:
                v = x + prev[i]
            elif ft == 3:
                v = x + ((left + prev[i]) >> 1)
            elif ft == 4:
                v = x + paeth(left, prev[i], prev[i - 3] if i >= 3 else 0)
            else:
                raise ValueError(f"bad PNG filter type {ft} on row {y}")
            row[i] = v & 0xFF
        out += row
        prev = bytes(row)
    return bytes(out)


def _png_from_scanlines(raw: bytes, w: int, h: int) -> bytes:
    import struct
    import zlib

    from self_healing_data_pipeline_agent_spark.operators.multimodal import (
        PNG_SIG,
        _png_chunk,
    )

    return (
        PNG_SIG
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


def _batch_rasters(payloads) -> list[bytes]:
    """png_decode_batch's shape groups, back in payload order."""
    from self_healing_data_pipeline_agent_spark.operators.multimodal import (
        png_decode_batch,
    )

    out = [None] * len(payloads)
    for rows, rasters in png_decode_batch(payloads):
        for i, raster in zip(rows, rasters):
            out[i] = raster.tobytes()
    return out


def _sf0001_documents(sf_dir):
    import os

    import pyarrow.parquet as pq

    sf0001 = os.path.join(os.path.dirname(sf_dir), "sf0.001")
    return (
        pq.read_table(f"{sf0001}/documents.parquet", columns=["doc_id", "text"])
        .to_pandas()
        .sort_values("doc_id", ignore_index=True)
    )


def test_png_batch_encode_keeps_payload_bytes(sf_dir):
    """The batch encoder writes the very bytes the per-byte encoder
    wrote, over the whole sf0.001 corpus in one Arrow batch."""
    import hashlib

    from self_healing_data_pipeline_agent_spark.operators.multimodal import (
        _png_encode_kernel,
    )

    docs = _sf0001_documents(sf_dir)
    (enc,) = list(_png_encode_kernel(iter([docs])))
    assert list(enc["doc_id"]) == list(docs["doc_id"])
    digest = hashlib.sha256(b"".join(enc["payload"])).hexdigest()
    assert digest == PNG_SF0001_PAYLOADS_SHA256


def test_png_batch_unfilter_matches_per_byte_reference():
    """Random scanlines whose per-row filter types differ from image
    to image, in one batch that mixes two (w, h) shapes: the batch
    decoder agrees byte for byte with the per-byte reference; random
    (non-ASCII) rasters round-trip through the batch encoder."""
    import random
    import zlib

    import numpy as np

    from self_healing_data_pipeline_agent_spark.operators.multimodal import (
        png_decode_batch,
        png_encode_batch,
        png_parse,
    )

    rng = random.Random(11)
    payloads = []
    for _ in range(120):
        w, h = rng.choice([(16, 16), (5, 3)])
        raw = b"".join(
            bytes([rng.randrange(5)])
            + bytes(rng.randrange(256) for _ in range(w * 3))
            for _ in range(h)
        )
        payloads.append(_png_from_scanlines(raw, w, h))
    assert len(png_decode_batch(payloads)) == 2
    want = []
    for p in payloads:
        w, h, _, _, idat = png_parse(p)
        want.append(_png_reference_unfilter(zlib.decompress(idat), w, h))
    assert _batch_rasters(payloads) == want

    rasters = np.frombuffer(
        bytes(rng.randrange(256) for _ in range(40 * 16 * 16 * 3)), np.uint8
    ).reshape(40, 16, 16, 3)
    assert _batch_rasters(png_encode_batch(rasters)) == [
        r.tobytes() for r in rasters
    ]


def test_png_doc_decodes_alike_alone_and_in_batch(sf_dir):
    """A document's raster, channel sums and dHash bands do not
    depend on the batch it is decoded in — image_index_refresh's
    invariant (the refreshed table is hash-identical to a full
    rebuild)."""
    import pandas as pd

    from self_healing_data_pipeline_agent_spark.operators.multimodal import (
        _img_hash_kernel,
        _png_decode,
        _png_decode_kernel,
        _png_encode_kernel,
    )

    docs = _sf0001_documents(sf_dir)
    (enc,) = list(_png_encode_kernel(iter([docs])))
    batch_rasters = _batch_rasters(list(enc["payload"]))
    (sums,) = list(_png_decode_kernel(iter([enc])))
    (bands,) = list(_img_hash_kernel(iter([enc])))
    for i in range(0, len(enc), 37):
        one = enc.iloc[[i]].reset_index(drop=True)
        assert _png_decode(one["payload"][0]) == batch_rasters[i]
        for kernel, whole in (
            (_png_decode_kernel, sums), (_img_hash_kernel, bands)
        ):
            (alone,) = list(kernel(iter([one])))
            pd.testing.assert_frame_equal(
                alone, whole.iloc[[i]].reset_index(drop=True)
            )


def test_png_batch_rejects_a_corrupt_payload_mid_batch():
    """One bad payload among good ones fails the whole batch with the
    same ValueError the one-payload codec raises."""
    import struct
    import zlib

    import numpy as np

    from self_healing_data_pipeline_agent_spark.operators.multimodal import (
        PNG_SIG,
        _png_chunk,
        png_decode_batch,
        png_encode_batch,
    )

    good = png_encode_batch(
        np.arange(4 * 16 * 16 * 3, dtype=np.uint32).astype(np.uint8).reshape(
            4, 16, 16, 3
        )
    )
    p = good[0]
    crc = bytearray(p)
    crc[60] ^= 1
    ihdr8 = struct.pack(">IIBBBBB", 16, 16, 8, 2, 0, 0, 0)
    ihdr16 = struct.pack(">IIBBBBB", 16, 16, 16, 2, 0, 0, 0)
    iend = _png_chunk(b"IEND", b"")
    bad_filter = b"".join(bytes([9]) + bytes(16 * 3) for _ in range(16))
    cases = [
        ("CRC", bytes(crc)),
        ("not a PNG", b"XXXX" + p[4:]),
        ("truncated", p[:-8]),
        ("truncated", p[:-2]),
        (
            "unsupported",
            PNG_SIG + _png_chunk(b"IHDR", ihdr16),
        ),
        (
            "inflate",
            PNG_SIG + _png_chunk(b"IHDR", ihdr8)
            + _png_chunk(b"IDAT", b"not-a-zlib-stream") + iend,
        ),
        (
            "scanline data",
            PNG_SIG + _png_chunk(b"IHDR", ihdr8)
            + _png_chunk(b"IDAT", zlib.compress(b"short")) + iend,
        ),
        (
            "bad PNG filter type 9 on row 0",
            _png_from_scanlines(bad_filter, 16, 16),
        ),
    ]
    for match, bad in cases:
        with pytest.raises(ValueError, match=match):
            png_decode_batch(good[:2] + [bad] + good[2:])


def test_png_batch_codec_empty_batch():
    """An empty Arrow batch codes to an empty frame with the kernels'
    columns."""
    import numpy as np
    import pandas as pd

    from self_healing_data_pipeline_agent_spark.operators.multimodal import (
        IMG_HASH_SCHEMA,
        PNG_SCHEMA,
        _img_hash_kernel,
        _png_decode_kernel,
        _png_encode_kernel,
        png_decode_batch,
        png_encode_batch,
    )

    assert png_decode_batch([]) == []
    assert png_encode_batch(np.zeros((0, 16, 16, 3), np.uint8)) == []
    docs = pd.DataFrame({"doc_id": pd.Series([], dtype="int64"), "text": []})
    (enc,) = list(_png_encode_kernel(iter([docs])))
    assert list(enc.columns) == ["doc_id", "payload"] and enc.empty
    for kernel, schema in (
        (_png_decode_kernel, PNG_SCHEMA), (_img_hash_kernel, IMG_HASH_SCHEMA)
    ):
        (out,) = list(kernel(iter([enc])))
        assert list(out.columns) == schema.fieldNames() and out.empty


def test_wav_codec_spec_parse():
    """The WAV codec is the registry's real-container AUDIO path: valid
    RIFF/WAVE decodes to exactly its PCM bytes; wrong magic, truncation,
    and unsupported layouts (stereo) must raise ValueError — same
    fail-on-bad-bytes contract as the PPM codec."""
    import struct

    from self_healing_data_pipeline_agent_spark.operators.multimodal import (
        WAV_DATA_BYTES,
        _wav_header,
        decode_payload,
    )

    pcm = bytes(range(256)) * 2  # WAV_DATA_BYTES of deterministic PCM
    assert len(pcm) == WAV_DATA_BYTES
    payload = _wav_header() + pcm
    assert decode_payload(payload, codec="wav") == pcm
    with pytest.raises(ValueError, match="malformed"):
        decode_payload(b"RIFX" + payload[4:], codec="wav")
    with pytest.raises(ValueError, match="malformed|truncated"):
        decode_payload(payload[:50], codec="wav")
    # stereo layout: rebuild the fmt chunk with 2 channels
    stereo = (
        b"RIFF" + struct.pack("<I", 36 + WAV_DATA_BYTES) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 2, 8000, 32000, 4, 16)
        + b"data" + struct.pack("<I", WAV_DATA_BYTES) + pcm
    )
    with pytest.raises(ValueError, match="unsupported WAV layout"):
        decode_payload(stereo, codec="wav")


def test_ppm_stream_codec_parse():
    """The frame-stream walker must split concatenated P6 images exactly
    and reject trailing garbage or truncated frames — a real stream
    parser must not silently drop bytes."""
    from self_healing_data_pipeline_agent_spark.operators.multimodal import (
        _ppm_stream_decode,
    )

    f1 = b"P6\n2 1\n255\n" + bytes(6)
    f2 = b"P6\n1 1\n255\n" + bytes([1, 2, 3])
    frames = _ppm_stream_decode(f1 + f2)
    assert frames == [bytes(6), bytes([1, 2, 3])]
    with pytest.raises(ValueError, match="magic"):
        _ppm_stream_decode(f1 + f2 + b"JUNK")
    with pytest.raises(ValueError, match="truncated"):
        _ppm_stream_decode(f1[:-2])
    assert _ppm_stream_decode(b"") == []


def test_kmeans_partitions_corpus_and_tdiv_semantics(spark, sf_dir):
    """The final report must partition the corpus exactly (cluster sizes
    sum to the table's row count, every cid in 0..K-1), inertia and
    centroid_l1 must be positive — and the driver-side truncating
    division must match the engines' trunc-toward-zero `div`/`//`
    semantics on NEGATIVE numerators (Python's bare `//` floors, which
    would silently skew every centroid with a negative component sum)."""
    from self_healing_data_pipeline_agent_spark.operators.similarity import (
        KM_K,
        _km_tdiv,
        q_kmeans_embeddings,
    )
    from self_healing_data_pipeline_agent_spark.sources.tables import (
        parquet_row_count,
    )

    assert _km_tdiv(-7, 2) == -3  # == Spark `-7 div 2` == DuckDB `-7//2`
    assert _km_tdiv(7, 2) == 3
    assert _km_tdiv(-6, 3) == -2
    rows = q_kmeans_embeddings(spark, sf_dir).collect()
    n = parquet_row_count(sf_dir, "embeddings")
    assert sum(r["n_vecs"] for r in rows) == n
    assert all(0 <= r["cid"] < KM_K for r in rows)
    assert all(r["inertia"] > 0 and r["centroid_l1"] > 0 for r in rows)


def test_top_pc_rayleigh_invariants(spark, sf_dir):
    """Power-iteration invariants that hold even on this isotropic
    worst-case corpus (lambda2/lambda1 = 0.93-0.98 — a converged-
    eigenvector assertion would be meaningless here): the Rayleigh
    quotient of the iterates must (a) never exceed numpy's lambda_1 of
    the same quantized Gram matrix, (b) grow (weakly) monotonically
    across rounds up to the integer-rescaling tolerance, and (c) the
    final iterate must equal the operator's output exactly."""
    import numpy as np

    from self_healing_data_pipeline_agent_spark.operators.similarity import (
        KM_SCALE,
        _pc_power,
        q_embedding_top_pc,
    )
    from self_healing_data_pipeline_agent_spark.sources.tables import load_table

    rows = q_embedding_top_pc(spark, sf_dir).collect()
    out = [r["loading"] for r in sorted(rows, key=lambda r: r["dim"])]
    emb = np.array(
        [r["embedding"] for r in
         load_table(spark, sf_dir, "embeddings").select("embedding").collect()],
        dtype=np.float64,
    )
    u = np.floor(emb * KM_SCALE + 0.5)
    g_np = u.T @ u
    g = {(i + 1, j + 1): int(g_np[i, j]) for i in range(64) for j in range(64)}
    iters = _pc_power(g)
    assert iters[-1] == out  # operator output IS the final iterate
    lam1 = float(np.max(np.linalg.eigvalsh(g_np)))

    def rq(v):
        va = np.array(v, dtype=float)
        return float(va @ g_np @ va) / float(va @ va)

    qs = [rq(v) for v in iters]
    for q in qs:
        assert q <= lam1 * (1 + 1e-9)  # Rayleigh bounded by lambda_1
    for a, b in zip(qs, qs[1:]):
        assert b >= a * (1 - 1e-6), f"Rayleigh quotient fell: {a} -> {b}"


def test_threshold_variants_agree_with_exact(spark, sf_dir):
    """The sample-threshold scale paths must track their exact twins
    (r11 verdict #4): dsir_select_threshold's selected fraction within
    [0.5x, 2x] of the exact 1/DSIR_SELECT_DIV and English still
    over-selected; ccnet_ppl_thresholds' tiers non-degenerate (every
    lang has a head tier, every tier boundary ordered) and the head
    tier's share within [0.5x, 2x] of the exact NTILE third per lang."""
    from self_healing_data_pipeline_agent_spark.operators.text import (
        DSIR_SELECT_DIV,
        DSIR_TARGET_LANG,
        q_ccnet_ppl_thresholds,
        q_dsir_select_threshold,
    )

    rows = q_dsir_select_threshold(spark, sf_dir).collect()
    n = sum(r["n_docs"] for r in rows)
    n_sel = sum(r["n_selected"] for r in rows)
    target = n // DSIR_SELECT_DIV
    assert target / 2 <= n_sel <= target * 2, (
        f"threshold selection {n_sel} vs exact target {target}"
    )
    by_lang = {r["lang"]: r for r in rows}
    en = by_lang[DSIR_TARGET_LANG]
    en_rate = en["n_selected"] / en["n_docs"]
    rest_sel = n_sel - en["n_selected"]
    rest_n = n - en["n_docs"]
    assert en_rate > (rest_sel / rest_n), "target lang not over-selected"

    crows = q_ccnet_ppl_thresholds(spark, sf_dir).collect()
    per_lang = {}
    for r in crows:
        per_lang.setdefault(r["lang"], {})[r["bucket"]] = r
    for lang, tiers in per_lang.items():
        assert 1 in tiers, f"{lang}: no head tier"
        total = sum(t["n_docs"] for t in tiers.values())
        head = tiers[1]["n_docs"]
        # the sample quantile converges to the exact third as the 1/16
        # per-lang sample grows; below ~30 sampled docs (480 total) the
        # cut is sample-noise-dominated (sf0.001's small langs), so the
        # share bound applies only above it — non-degeneracy (head
        # exists, boundaries ordered) is asserted always
        if total >= 480:
            assert total / 6 <= head <= 2 * total / 3, (
                f"{lang}: head tier {head}/{total} too far from a third"
            )
        # tier boundaries ordered: max_q of tier k <= min_q of tier k+1
        for k in (1, 2):
            if k in tiers and k + 1 in tiers:
                assert tiers[k]["max_q"] <= tiers[k + 1]["min_q"]


def test_top2_pc_orthogonality_and_bigint_bounds(spark, sf_dir):
    """The deflated second iterate must be (a) near-orthogonal to the
    first (the multiply-through Hotelling step is exact up to one
    trunc-div rescale, so |cos| stays at rounding scale), (b) produced
    without any intermediate leaving a safe BIGINT margin (the
    value-hash contract dies silently on overflow), and (c) NOT simply
    the first iterate again."""
    import math

    import numpy as np

    from self_healing_data_pipeline_agent_spark.operators.similarity import (
        KM_SCALE,
        PC_SCALE,
        _pc_deflated_power,
        _pc_power,
        q_embedding_top2_pc,
    )
    from self_healing_data_pipeline_agent_spark.sources.tables import load_table

    rows = q_embedding_top2_pc(spark, sf_dir).collect()
    out = sorted(rows, key=lambda r: r["dim"])
    v1 = [int(r["loading1"]) for r in out]
    v2 = [int(r["loading2"]) for r in out]
    cos = sum(a * b for a, b in zip(v1, v2)) / math.sqrt(
        sum(a * a for a in v1) * sum(b * b for b in v2)
    )
    assert abs(cos) < 0.01, f"deflated iterate not orthogonal: cos={cos}"
    assert v1 != v2

    # replay the loops in exact ints and pin the intermediate bound:
    # every product the deflation forms must stay under 2^62 (4x margin)
    emb = np.array(
        [r["embedding"] for r in
         load_table(spark, sf_dir, "embeddings").select("embedding").collect()],
        dtype=np.float64,
    )
    u = np.floor(emb * KM_SCALE + 0.5)
    g_np = u.T @ u
    g = {(i + 1, j + 1): int(g_np[i, j]) for i in range(64) for j in range(64)}
    first = _pc_power(g)[-1]
    assert _pc_deflated_power(g, first) == v2
    gmax = max(abs(v) for v in g.values())
    v1max = max(abs(a) for a in first)
    v1v1 = sum(a * a for a in first)
    # w entries: sum of 64 g*x products; o entries: v1v1*wh or wv1*v1
    bound = max(64 * gmax * v1max, v1v1 * PC_SCALE, 64 * v1max * v1max * PC_SCALE)
    assert bound < 2 ** 62, f"deflation intermediate bound {bound} too close to BIGINT"


def test_pc_power_degenerate_gram_no_crash():
    """r12 ADVICE: on a degenerate corpus (all-zero / rank-one Gram, or
    an iterate parallel to v1) the rescale divisor collapses to 0 — both
    loops must survive via the >=1 clamp (the SQL twins carry the same
    GREATEST), not die with ZeroDivisionError."""
    from self_healing_data_pipeline_agent_spark.operators.similarity import (
        KM_DIM,
        _pc_deflated_power,
        _pc_power,
    )

    zero_g = {(i, j): 0 for i in range(1, KM_DIM + 1)
              for j in range(1, KM_DIM + 1)}
    v1 = _pc_power(zero_g)[-1]
    assert all(v == 0 for v in v1)
    assert all(v == 0 for v in _pc_deflated_power(zero_g, v1))
    # rank-one Gram: g = a a^T with tiny a -> max|w| < PC_SCALE on the
    # deflated path once the projection removes v1 exactly
    a = [1 if i % 3 == 0 else 0 for i in range(KM_DIM)]
    one_g = {(i, j): a[i - 1] * a[j - 1]
             for i in range(1, KM_DIM + 1) for j in range(1, KM_DIM + 1)}
    v1 = _pc_power(one_g)[-1]
    _pc_deflated_power(one_g, v1)  # must not raise


def test_dsir_quantization_tripwire():
    """DSIR's per-bucket log-ratio quantization input must sit >=
    DSIR_EDGE_EPS from its floor(y+0.5) rounding boundary at all three
    SFs (the char-LM model tripwire, applied to the importance-weight
    model), so a few-ulp libm ln() difference can never flip an
    lw_units value.  Built from the same shared CTE string as the
    oracle.  Measured min margin: 1.6e-3/1.4e-3/1.9e-3."""
    import math

    import duckdb

    from self_healing_data_pipeline_agent_spark.operators.text import (
        DSIR_EDGE_EPS,
        DSIR_MODEL_CTES,
        DSIR_NB,
    )

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        con = duckdb.connect()
        con.sql(
            "CREATE VIEW documents AS SELECT * FROM "
            f"'/root/testdata/{sf}/documents.parquet'"
        )
        rows = con.sql(
            f"{DSIR_MODEL_CTES} "
            f"SELECT braw.b,"
            f" (LN((COALESCE(ct, 0) + 1.0) / (ttot + {float(DSIR_NB)}))"
            f" - LN((cr + 1.0) / (rtot + {float(DSIR_NB)})))"
            " * 1000000.0 + 0.5 AS y"
            " FROM braw LEFT JOIN btgt USING (b), tots"
        ).fetchall()
        con.close()
        assert rows, f"{sf}: empty model"
        bad = [
            (b, y)
            for b, y in rows
            if min(y - math.floor(y), math.ceil(y) - y) < DSIR_EDGE_EPS
        ]
        assert not bad, (
            f"{sf}: {len(bad)} buckets within {DSIR_EDGE_EPS} of the "
            f"lw_units rounding boundary (first 3: {bad[:3]})"
        )


def test_dsir_select_shifts_mixture_toward_target(spark, sf_dir):
    """With the target model trained on lang='en', the selected slice
    must over-represent English relative to its corpus share — the
    whole point of importance resampling.  Also: exactly
    total//DSIR_SELECT_DIV docs selected, and every per-lang selection
    count is bounded by the lang's doc count."""
    from self_healing_data_pipeline_agent_spark.operators.text import (
        DSIR_SELECT_DIV,
        q_dsir_select,
    )

    rows = {r["lang"]: r for r in q_dsir_select(spark, sf_dir).collect()}
    total = sum(r["n_docs"] for r in rows.values())
    n_sel = sum(r["n_selected"] for r in rows.values())
    assert n_sel == total // DSIR_SELECT_DIV
    for r in rows.values():
        assert 0 <= r["n_selected"] <= r["n_docs"]
    en = rows["en"]
    assert en["n_selected"] / n_sel > en["n_docs"] / total, (
        "selection did not shift the mixture toward the target language"
    )


def test_perceptron_learns_and_trajectory_invariants(spark, sf_dir):
    """The batch perceptron must actually LEARN on this corpus: the
    final round's mistake count must be well below round 0 (= all
    scored docs, by the y*0 <= 0 convention), every count must be
    bounded by the corpus, and w_l1 must be 0 at round 0 and positive
    afterwards (the all-misclassified first update cannot cancel to an
    empty model on a real corpus)."""
    from self_healing_data_pipeline_agent_spark.operators.text import (
        PERC_ROUNDS,
        q_perceptron_lang_clf,
    )

    rows = {
        r["rnd"]: r for r in q_perceptron_lang_clf(spark, sf_dir).collect()
    }
    assert sorted(rows) == list(range(PERC_ROUNDS + 1))
    n_docs = rows[0]["n_mistakes"]  # w=0: every scored doc is a mistake
    assert rows[0]["w_l1"] == 0
    for rnd, r in rows.items():
        assert 0 <= r["n_mistakes"] <= n_docs
        if rnd > 0:
            assert r["w_l1"] > 0
    assert rows[PERC_ROUNDS]["n_mistakes"] < n_docs // 2, (
        "perceptron failed to beat the all-mistakes baseline by 2x"
    )


def test_ccnet_buckets_balanced_and_ordered(spark, sf_dir):
    """CCNet tier invariants: every language gets buckets 1..3, NTILE
    balance (tile sizes differ by at most 1, larger tiles first), and
    the perplexity key ranges are disjoint and ordered — head's max_q <=
    middle's min_q <= tail's min_q (equality only possible on ties,
    which the doc_id tie-break resolves deterministically)."""
    from self_healing_data_pipeline_agent_spark.operators.text import (
        CCNET_NTILES,
        q_ccnet_ppl_buckets,
    )

    rows = q_ccnet_ppl_buckets(spark, sf_dir).collect()
    by_lang: dict[str, dict[int, dict]] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], {})[r["bucket"]] = r
    for lang, tiers in by_lang.items():
        assert sorted(tiers) == list(range(1, CCNET_NTILES + 1)), lang
        sizes = [tiers[b]["n_docs"] for b in sorted(tiers)]
        assert max(sizes) - min(sizes) <= 1, (lang, sizes)
        assert sizes == sorted(sizes, reverse=True), (lang, sizes)
        for b in range(1, CCNET_NTILES):
            assert tiers[b]["max_q"] <= tiers[b + 1]["min_q"], lang
            assert tiers[b]["min_q"] <= tiers[b]["max_q"], lang


def test_band_tuning_s_curve_monotone(spark, sf_dir):
    """The banding S-curve must behave: with rows-per-band increasing
    (bands decreasing), the candidate set can only SHRINK (an AND of
    more signatures) and the missed-truth count can only GROW; hits
    never exceed candidates or the truth size; and the production
    (4, 4) carving must catch every truth pair at sf<=0.01 (pinned by
    minhash_lsh_pairs' green history)."""
    from self_healing_data_pipeline_agent_spark.operators.text import (
        q_minhash_band_tuning,
    )

    rows = {
        (r["bands"], r["rows_per_band"]): r
        for r in q_minhash_band_tuning(spark, sf_dir).collect()
    }
    assert set(rows) == {(8, 2), (4, 4), (2, 8)}
    truth_n = {r["n_hits"] + r["n_misses"] for r in rows.values()}
    assert len(truth_n) == 1  # same truth set for every carving
    ordered = [rows[(8, 2)], rows[(4, 4)], rows[(2, 8)]]
    for a, b in zip(ordered, ordered[1:]):
        assert a["n_candidates"] >= b["n_candidates"]
        assert a["n_misses"] <= b["n_misses"]
    for r in rows.values():
        assert 0 <= r["n_hits"] <= r["n_candidates"]


def test_embedding_lsh_tuning_s_curve(spark, sf_dir):
    """The hyperplane carving study must behave like its MinHash twin:
    with bits-per-table increasing (tables decreasing), candidates can
    only SHRINK and misses only GROW; multi-probe at the production
    (8, 4) carving can only ADD candidates and can only REDUCE misses
    relative to exact-probe (8, 4); all configs share one truth set."""
    from self_healing_data_pipeline_agent_spark.operators.similarity import (
        q_embedding_lsh_tuning,
    )

    rows = {
        (r["tables"], r["bits_per_table"], r["multiprobe"]): r
        for r in q_embedding_lsh_tuning(spark, sf_dir).collect()
    }
    assert set(rows) == {
        (16, 2, False), (8, 4, False), (4, 8, False), (8, 4, True)
    }
    truth_n = {r["n_hits"] + r["n_misses"] for r in rows.values()}
    assert len(truth_n) == 1 and truth_n.pop() > 0
    exact = [rows[(16, 2, False)], rows[(8, 4, False)], rows[(4, 8, False)]]
    for a, b in zip(exact, exact[1:]):
        assert a["n_candidates"] >= b["n_candidates"]
        assert a["n_misses"] <= b["n_misses"]
    base, mp = rows[(8, 4, False)], rows[(8, 4, True)]
    assert mp["n_candidates"] >= base["n_candidates"]
    assert mp["n_misses"] <= base["n_misses"]
    for r in rows.values():
        assert 0 <= r["n_hits"] <= r["n_candidates"]


def test_carving_study_counts(spark, sf_dir):
    """The shared study dataflow, on hand-built frames: a config with no
    candidates keeps its row, a pair colliding in several slots counts
    once, equal keys in different slots do not collide, a truth pair no
    config finds is a miss everywhere, and an empty truth gives n_truth
    0.  Then the image study on the fixture: one truth size for every
    carving, hits bounded by both sides, recall in 1e-4 units, and no
    cache left pinned."""
    from self_healing_data_pipeline_agent_spark.functions.carving import (
        carving_study,
    )
    from self_healing_data_pipeline_agent_spark.operators.multimodal import (
        q_image_band_tuning,
    )

    def values(rows: str, cols: str):
        # SQL VALUES plans JVM-side; a createDataFrame list would make
        # every scan of these frames a Python-RDD job (~10x slower here)
        return spark.sql(f"SELECT * FROM VALUES {rows} AS t({cols})")

    keys = [
        # (1, 2) collides in slots 0 and 1; (1, 3) in slot 2
        values("(1, 0, 'a'), (2, 0, 'a'), (1, 1, 'b'), (2, 1, 'b'), "
               "(1, 2, 'e'), (3, 2, 'e'), (4, 0, 'd')", "id, slot, key"),
        # "q" sits in two different slots: no candidate at all
        values("(1, 0, 'q'), (2, 1, 'q'), (4, 0, 'x'), (5, 0, 'y')",
               "id, slot, key"),
    ]
    configs = [{"name": "dense", "width": 2}, {"name": "sparse", "width": 1}]

    def run(truth):
        out = carving_study(configs, keys, truth)
        assert out.columns == [
            "name", "width", "n_candidates", "n_hits", "n_truth"
        ]
        assert dict(out.dtypes)["width"] == "bigint"
        return {r["name"]: tuple(r)[2:] for r in out.collect()}

    # (4, 5) is found by no config: a miss (n_truth - n_hits) in both
    truth = values("(1, 2), (4, 5)", "a, b")
    assert run(truth) == {"dense": (2, 1, 2), "sparse": (0, 0, 2)}
    assert run(truth.where("false")) == {"dense": (2, 0, 0), "sparse": (0, 0, 0)}

    jrdds = spark.sparkContext._jsc
    pinned = jrdds.getPersistentRDDs().size()
    rows = q_image_band_tuning(spark, sf_dir).collect()
    assert jrdds.getPersistentRDDs().size() == pinned
    assert len(rows) == 3 and len({r["n_truth"] for r in rows}) == 1
    for r in rows:
        assert 0 <= r["n_caught"] <= min(r["n_cand"], r["n_truth"])
        assert r["recall_units"] == r["n_caught"] * 10000 // r["n_truth"]


def test_image_band_tuning_empty_truth(spark, monkeypatch):
    """A corpus with no pair within Hamming IMG_HAM_MAX reports recall
    NULL (the DuckDB twin's integer division by a zero count), not a
    DIVIDE_BY_ZERO under ANSI mode."""
    from self_healing_data_pipeline_agent_spark.operators import multimodal

    # 0x00FF/0xFF00, 0x0F0F/0xF0F0, 0x3333/0xCCCC: 48 bits apart; the
    # shared nonzero band b0 still makes (1, 2) a candidate under the
    # 4x16 and 8x8 carvings.  SQL VALUES keeps the frame JVM-side.
    hashes = spark.sql(
        "SELECT * FROM VALUES (1L, 1L, 255L, 3855L, 13107L), "
        "(2L, 1L, 65280L, 61680L, 52428L) AS t(doc_id, b0, b1, b2, b3)"
    )
    monkeypatch.setattr(
        multimodal, "_img_hash_index", lambda _spark, _sf_dir: hashes
    )
    rows = {
        r["carving"]: (r["n_cand"], r["n_truth"], r["n_caught"],
                       r["recall_units"])
        for r in multimodal.q_image_band_tuning(spark, "unused").collect()
    }
    assert rows == {
        "2x32": (0, 0, 0, None),
        "4x16": (1, 0, 0, None),
        "8x8": (1, 0, 0, None),
    }


def test_embedding_near_dup_mp_recall(spark, sf_dir):
    """The multi-probe variant ships the tuning study's conclusion, so
    its guarantees must hold as data: its verified pair set is a
    SUPERSET of the exact-probe variant's (flipping bits only adds
    probes), and recall vs the brute-force twin is complete at the SFs
    the study measured (7/7 and 14/14 at sf0.001/0.01; larger corpora
    assert only the superset + no-precision-loss contract, since the
    exact verify already guarantees precision 1.0)."""
    from self_healing_data_pipeline_agent_spark.operators.similarity import (
        q_embedding_near_dup,
        q_embedding_near_dup_lsh,
        q_embedding_near_dup_mp,
    )

    truth = {
        (r["vec_a"], r["vec_b"])
        for r in q_embedding_near_dup(spark, sf_dir).collect()
    }
    lsh = {
        (r["vec_a"], r["vec_b"])
        for r in q_embedding_near_dup_lsh(spark, sf_dir).collect()
    }
    mp = {
        (r["vec_a"], r["vec_b"])
        for r in q_embedding_near_dup_mp(spark, sf_dir).collect()
    }
    assert truth, "brute twin found nothing — vacuous"
    assert lsh <= mp, "multi-probe must not LOSE exact-probe pairs"
    assert mp <= truth, "exact verify must keep precision 1.0"
    if len(truth) <= 20:  # the sf0.001/sf0.01 regime the study measured
        assert mp == truth, (
            f"multi-probe recall {len(mp)}/{len(truth)} — the study's "
            "full-recall conclusion no longer holds"
        )


def test_pq_adc_recall_vs_exact(spark, sf_dir):
    """PQ-ADC (4 blocks x 8 centroids = 12-bit codes, 100 ADC
    candidates) must recover most exact neighbors — measured
    0.80/0.76/0.76 at sf0.001/0.01/0.1 on this worst-case isotropic
    corpus (floor 0.6) — and shared pairs carry bit-identical true
    cosines (the rerank is exact)."""
    from self_healing_data_pipeline_agent_spark.operators.similarity import (
        q_ann_pq_adc_topk,
    )

    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in q_knn_cosine(spark, sf_dir).collect()
    }
    pq = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in q_ann_pq_adc_topk(spark, sf_dir).collect()
    }
    assert pq, "PQ-ADC returned nothing"
    recall = len(set(exact) & set(pq)) / len(exact)
    assert recall > 0.6, f"recall {recall:.2f} too low"
    for pair in set(exact) & set(pq):
        assert pq[pair] == exact[pair]


def test_pq_codebook_partitions_each_block(spark, sf_dir):
    """Each block's codebook must partition the corpus: per block the
    n_vecs sum to the corpus size, every (block, cid) cell is
    non-empty at these SFs, and centroid L1 norms are positive."""
    from self_healing_data_pipeline_agent_spark.operators.similarity import (
        PQ_K,
        PQ_M,
        q_pq_codebook,
    )
    from self_healing_data_pipeline_agent_spark.sources.tables import (
        parquet_row_count,
    )

    n = parquet_row_count(sf_dir, "embeddings")
    rows = q_pq_codebook(spark, sf_dir).collect()
    assert len(rows) == PQ_M * PQ_K
    by_block: dict[int, int] = {}
    for r in rows:
        by_block[r["block"]] = by_block.get(r["block"], 0) + r["n_vecs"]
        assert r["n_vecs"] > 0 and r["centroid_l1"] > 0
    assert by_block == {m: n for m in range(PQ_M)}


def test_bm25_units_margin():
    """The BM25 cross-engine float tripwire (r14 verdict #4 / ADVICE):
    every per-term contribution's pre-floor value y = score*1e6 must sit
    >= BM25_UNITS_EDGE_EPS from its floor(y + 0.5) truncation boundary
    (|frac(y) - 0.5| >= eps) at all three SFs, so a last-ulp libm
    ln()/division divergence between JVM and DuckDB can never flip a
    truncated unit.  With units stable the BIGINT sums — and therefore
    the (score_units desc, doc_id asc) ranks — are engine-exact, so no
    separate rank-tie assertion is needed: ties resolve on doc_id, which
    both engines order identically.  Built from the same shared CTE
    chain as the oracle (the char_lm_model_edge posture)."""
    import math

    import duckdb

    from self_healing_data_pipeline_agent_spark.operators.text import (
        BM25_PREFLOOR_CTES,
        BM25_UNITS_EDGE_EPS,
    )

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        con = duckdb.connect()
        con.sql(
            "CREATE VIEW documents AS SELECT * FROM "
            f"'/root/testdata/{sf}/documents.parquet'"
        )
        ys = [
            r[0]
            for r in con.sql(
                f"{BM25_PREFLOOR_CTES} SELECT y FROM prefloor"
            ).fetchall()
        ]
        con.close()
        assert ys, f"{sf}: empty contribution set"
        bad = [
            y
            for y in ys
            if abs((y - math.floor(y)) - 0.5) < BM25_UNITS_EDGE_EPS
        ]
        assert not bad, (
            f"{sf}: {len(bad)} of {len(ys)} contributions within "
            f"{BM25_UNITS_EDGE_EPS} of the unit truncation boundary "
            f"(first 3: {bad[:3]})"
        )


def test_pack_pairs_invariants(spark, sf_dir):
    """The boundary-packing contract: every document appears exactly
    once; no pack overfills the context window; mates are SYMMETRIC
    (a's mate names a back — the pairing rule computes the same fit
    from both sides); a paired doc's fill is the pair sum and a
    singleton's fill is its own capped length."""
    from self_healing_data_pipeline_agent_spark.operators.text import (
        PACK_CTX_TOKENS,
        q_pack_pairs,
    )
    from self_healing_data_pipeline_agent_spark.sources.tables import load_table

    rows = {r["doc_id"]: r for r in q_pack_pairs(spark, sf_dir).collect()}
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs
    paired = 0
    for r in rows.values():
        assert 0 < r["pack_fill"] <= PACK_CTX_TOKENS
        assert r["len"] <= PACK_CTX_TOKENS
        if r["mate_id"] is not None:
            paired += 1
            mate = rows[r["mate_id"]]
            assert mate["mate_id"] == r["doc_id"], "asymmetric pairing"
            assert r["pack_fill"] == r["len"] + mate["len"]
        else:
            assert r["pack_fill"] == r["len"]
    assert paired > 0, "pairing never fired on this corpus"


def test_pack_kway_invariants(spark, sf_dir):
    """K-way packing contract: every doc assigned exactly once; every
    pack's fill <= the context budget; at most PACK_KWAY_K docs per
    (lang, pack); prefix-overflow docs pack alone with fill == their own
    length; multi-doc packs exist (the variant must actually pack)."""
    from collections import defaultdict

    from self_healing_data_pipeline_agent_spark.operators.text import (
        PACK_CTX_TOKENS,
        PACK_KWAY_K,
        q_pack_kway,
    )
    from self_healing_data_pipeline_agent_spark.sources.tables import load_table

    rows = q_pack_kway(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs
    packs = defaultdict(list)
    for r in rows:
        assert 0 < r["pack_fill"] <= PACK_CTX_TOKENS
        assert r["len"] <= PACK_CTX_TOKENS
        packs[(r["lang"], r["pack_id"])].append(r)
    multi = 0
    for members in packs.values():
        assert len(members) <= PACK_KWAY_K
        fill = members[0]["pack_fill"]
        assert all(m["pack_fill"] == fill for m in members)
        if len(members) > 1:
            multi += 1
            assert fill == sum(m["len"] for m in members)
            assert fill <= PACK_CTX_TOKENS
    assert multi > 0, "k-way packing never co-packed on this corpus"


def test_bm25_prune_equals_exhaustive_and_stats_reconcile(spark, sf_dir):
    """Safe pruning's whole claim, asserted in-engine on top of the
    oracle check: the pruned rankings equal their exhaustive twins ROW
    FOR ROW (doc regime vs q_bm25_topk; kw regime vs the uncut ranking
    over the same keyword frames), and the stats rows reconcile
    (scored + skipped == all, skipped >= 0, essential <= terms)."""
    from self_healing_data_pipeline_agent_spark.operators.text import (
        BM25_KW_TERMS,
        _bm25_prune_frames,
        _bm25_rank_units,
        q_bm25_prune,
        q_bm25_prune_kw,
        q_bm25_prune_stats,
        q_bm25_topk,
    )

    exact = sorted(tuple(r) for r in q_bm25_topk(spark, sf_dir).collect())
    pruned = sorted(tuple(r) for r in q_bm25_prune(spark, sf_dir).collect())
    assert pruned == exact

    qcontrib, _, _, _ = _bm25_prune_frames(
        spark, sf_dir, kw_terms=BM25_KW_TERMS
    )
    kw_exact = sorted(
        tuple(r)
        for r in _bm25_rank_units(
            qcontrib.select("q_id", "doc_id", "cu")
        ).collect()
    )
    kw_pruned = sorted(
        tuple(r) for r in q_bm25_prune_kw(spark, sf_dir).collect()
    )
    assert kw_pruned == kw_exact

    stats = q_bm25_prune_stats(spark, sf_dir).collect()
    assert {r["variant"] for r in stats} == {"doc", f"kw{BM25_KW_TERMS}"}
    for r in stats:
        assert r["n_postings_scored"] + r["n_postings_skipped"] == (
            r["n_postings_all"]
        )
        assert r["n_postings_skipped"] >= 0
        assert 0 < r["n_essential"] <= r["n_terms"]
        if r["variant"] != "doc":
            assert r["n_terms"] == BM25_KW_TERMS


def test_perceptron_serve_matches_final_training_round(spark, sf_dir):
    """The stored model must be the trained model: mistakes counted
    under the SERVED weights equal the trajectory's final-round
    n_mistakes, and every prediction is the margin's sign."""
    from self_healing_data_pipeline_agent_spark.operators.text import (
        q_perceptron_lang_clf,
        q_perceptron_serve,
    )

    traj = {r["rnd"]: r for r in q_perceptron_lang_clf(spark, sf_dir).collect()}
    served = q_perceptron_serve(spark, sf_dir).collect()
    n_mis = sum(1 for r in served if r["y_true"] * r["margin"] <= 0)
    assert n_mis == traj[max(traj)]["n_mistakes"]
    for r in served:
        assert r["pred"] == (1 if r["margin"] > 0 else -1)


def test_pack_waste_report_reconciles(spark, sf_dir):
    """The cross-packer report's internal logic: capacity >= fill for
    every row, and the documented ordering holds on this short-doc
    corpus — chunk (splits docs, pads only the final window) wastes
    least, kway (boundary-respecting, K docs max) sits between, pairs
    (2 docs max) wastes most."""
    from self_healing_data_pipeline_agent_spark.operators.text import (
        PACK_CTX_TOKENS,
        q_pack_waste_report,
    )

    rows = q_pack_waste_report(spark, sf_dir).collect()
    by_lang: dict[str, dict[str, int]] = {}
    for r in rows:
        assert r["n_packs"] * PACK_CTX_TOKENS >= r["fill_tokens"]
        assert 0 <= r["waste_per_10k"] < 10000
        by_lang.setdefault(r["lang"], {})[r["variant"]] = r["waste_per_10k"]
    for lang, w in by_lang.items():
        assert set(w) == {"chunk", "pairs", "kway8"}
        assert w["chunk"] <= w["kway8"] <= w["pairs"], (lang, w)
