"""Physical-plan audit across every registered query: prints scale red
flags (cartesian products, unexpected nested-loop joins, heavy shuffle
counts, missing pushdown on filtered scans).

Run: ``python scripts/plan_audit.py [sf_dir]``

Complements tests/test_plan_shapes.py (which pins specific plans in CI);
this sweeps the WHOLE surface after adding operators, so a new query with
an accidentally quadratic or shuffle-happy plan is caught before it ships.
Known-justified flags are listed in EXPECTED with their reason.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from self_healing_data_pipeline_agent_spark.registry import all_queries  # noqa: E402
from self_healing_data_pipeline_agent_spark.session import get_spark  # noqa: E402

# query -> reason a flag is the RIGHT plan there.  r8 lesson (the dtype
# audit all over again): this list had not been maintained since r5, so
# every r6/r7 operator ran UNEXPLAINED and nobody noticed — the audit is
# now executed by tests/test_plan_audit.py, so an unexplained flag fails
# ``pytest tests/`` and the list must be updated WITH the new operator.
EXPECTED = {
    "ann_ivf_topk": "BNLJ = broadcast cross join with the 16-centroid codebook",
    "knn_cosine": "BNLJ = tiny broadcast query set against the corpus scan",
    "embedding_near_dup": "BNLJ = documented brute-force small-scale twin of LSH",
    "simhash_near_dup": "BNLJ = hamming-band non-equi pair join, broadcast side",
    "tfidf_top_terms": "BNLJ = 1-row corpus-size broadcast crossJoin",
    "bm25_topk": (
        "BNLJ = 1-row N/avgdl scalar broadcast crossJoin; shuffles: the "
        "cached tf aggregate feeds 4 consumers (dl/dfreq/queries/scoring) "
        "— one corpus explode, the rest move vocabulary- or "
        "candidate-sized rows (pinned by test_plan_shapes)"
    ),
    "bm25_prune": (
        "shuffles: the MaxScore frames — seed/theta/essential windows + "
        "candidate distinct + final rank — all over the broadcast-"
        "restricted candidate contributions (query-batch x matching "
        "docs), never the corpus; the posting scan itself shuffles zero "
        "(pinned Generate-free by test_plan_shapes)"
    ),
    "bm25_prune_kw": (
        "shuffles: the same MaxScore frames plus the per-query rarest-"
        "terms rank window; all frames are keyword-restricted (<= "
        "BM25_KW_TERMS terms per query), strictly smaller than the doc-"
        "regime twin's"
    ),
    "bm25_prune_stats": (
        "shuffles: the report re-derives BOTH regimes' frames and "
        "aggregates three counters per regime — every stage moves "
        "candidate- or query-batch-sized rows; a study/report query "
        "(the image_band_tuning class), not a serving path"
    ),
    "pack_waste_report": (
        "shuffles: three per-lang rollups, one over each packer's frame "
        "(chunk's plain agg, pairs' window+self-join, kway's windows) — "
        "the report legs move lang-cardinality rows; the packer frames "
        "they summarize carry the real cost and are audited as their "
        "own queries"
    ),
    "bm25_index_refresh": (
        "BNLJ = the same 1-row N/avgdl scalar broadcast crossJoin as "
        "bm25_topk; shuffles: standing postings are an artifact SCAN "
        "(no explode — pinned), the batch pays one tokenize + tf/dl "
        "aggregates, and df/N/avgdl re-aggregate over the cached merged "
        "posting rows (term strings + BIGINTs, never text) feeding the "
        "same 4-consumer scoring shape as the build"
    ),
    "image_band_tuning": (
        "BNLJ = the exact Hamming truth set, an all-pairs popcount join "
        "over 40-byte hash rows — quadratic BY DESIGN, the study's "
        "ground truth (minhash_band_tuning's exact-truth role), run at "
        "study time only — plus carving_study's 1-row |truth| broadcast "
        "crossJoin; the three carvings share one (ci, slot, key) "
        "candidate join, one (ci, pair) dedup exchange, a broadcast "
        "truth intersection and one per-carving count"
    ),
    "cross_modal_dedup": (
        "shuffles: the three pair chains' own candidate/verify "
        "aggregations (each individually audited at its source query: "
        "minhash_lsh_serve, embedding_near_dup_serve, image_near_dup) "
        "plus one explode+distinct membership agg per modality — "
        "pair-sized, corpus-sublinear — and three keyed left joins from "
        "documents; nothing here is all-pairs or corpus-wide beyond the "
        "artifact scans"
    ),
    "source_mix": "BNLJ = 1-row corpus-total broadcast crossJoin",
    "idle_rich_customers": "BNLJ = 1-row global-average broadcast crossJoin",
    "jaccard_pairs": "shuffles: cached shingle set feeds 3 consumers",
    "minhash_lsh_pairs": "shuffles: signature agg + band join + verification",
    "incremental_dedup": "shuffles: signature agg + batch-vs-corpus band join + verification",
    "quantile_profile": "shuffles: two ranked columns, tiny offset windows",
    "semantic_dedup": "BNLJ = broadcast cross join with the 16-centroid codebook",
    # r6/r7/r8 operators (back-filled in r8 when the audit was wired
    # into pytest; each reason matches the shape its plan test pins)
    "ann_pq_adc_topk": "shuffles: the Lloyd training loop materializes the cached spread embeddings while the plan is built, so simple-mode explain renders that cache's round-robin exchange inline at each of its readers (encode, rerank sides); the run reads the cache",
    "ann_int8_rerank": "BNLJ = broadcast query set + 1-row broadcast codebook crossJoin (pinned by test_plan_shapes)",
    "char_lm_perplexity": "shuffles: bigram tf -> model -> per-doc score aggs of one corpus pipeline; model side is V^2-bounded",
    "curate_corpus": "BNLJ = 1-row corpus-total broadcasts; shuffles: dedup+gates+decontaminate funnel composed in ONE lazy plan",
    "heavy_hitters": "BNLJ = tiny broadcast MG-candidate/threshold frame against the exact recount",
    "kll_quantile_bounds": "BNLJ = 1-row merged-sketch broadcast crossJoin against the probe grid",
    "prefix_filter_jaccard": "shuffles: rarity ranking + prefix explode + candidate join + exact verification (lossless pruning stages)",
    "source_scorecard": "shuffles: five doc_id-co-keyed signal pipelines composed in one plan; nothing shuffles wider than doc_id (pinned by test_plan_shapes)",
    "streaming_profile_compaction": "BNLJ = 1-row max-day broadcast crossJoin (the retention cutoff)",
    "streaming_profile_compaction2": "BNLJ = 1-row max-day broadcast for BOTH tier keyings; shuffles: two union tiers + the rank-audit join over sketch-row-sized data",
    "substring_dup_spans": "shuffles: postings/fingerprint index builds + doc-prune semis + gram join + islands window (pinned by test_plan_shapes); all stages bucketed, none all-pairs",
    "substring_dup_serve": "shuffles: the spans pipeline minus the index builds (both read from stored parquet): candidate self-join + doc-prune semis + gram join + islands window — 9 vs the build-inline 17",
    "substring_dup_coverage": "shuffles: the spans lineage + interval-union agg + per-doc join; union runs over pair-count-sized data only",
    "theta_priority_overlap": "BNLJ = pairwise combination of priority-count-sized broadcast sketch rows",
    # r9 operators
    "ann_jl_rerank": "BNLJ = tiny broadcast query set scanning the projected corpus (knn_cosine's layout in 32 dims)",
    "graph_pagerank": "shuffles: iterative fixpoint — graph build (pair dedup + degree + edge-deg join) plus 2 shuffles per PageRank round; the rendered count also re-inlines the cached edges frame's lineage per round, runtime stages dedupe via the cache",
    "bloom_decontaminate": "shuffles: cached shingle set feeds bitset build + probe verdict + exact verify; the candidate TEST itself is the broadcast bloom join (map-only)",
    "mixture_epochs": "BNLJ = two 1-row broadcasts (budget, leftover pool); shuffles: per-lang token agg + the k-row waterfill window stages over |languages| rows",
    "leakage_safe_split": "BNLJ = 1-row crossing-count broadcast; shuffles: the LSH pair pipeline + iterative CC rounds (cached pairs feed clustering AND the crossing count) + two doc_id-keyed assignment joins",
    # r10/r11 operators
    "bloom_sized_decontaminate": "shuffles: bloom_decontaminate's shape (cached shingle set feeds bitset build + probe verdict + exact verify) with the footer-probe sizing adding no data pass",
    "graph_pagerank_by_region": "shuffles: graph_pagerank's iterative fixpoint (2/round over the cached edge frame, lineage re-inlined per round in the rendered count) + the region-labeled degree build + the PARTITIONED per-region top-k window",
    "dsir_weights": "BNLJ = 1-row feature-totals broadcast crossJoin; shuffles: (doc_id,b) tf agg + bucket-bounded model aggs + per-doc score agg — the rendered count re-inlines the cached tf frame per consumer",
    "dsir_select": "BNLJ = two 1-row broadcasts (feature totals, scored-doc count); shuffles: dsir_weights' pipeline + the global top-N rank + the 5-row mixture agg, with the cached tf lineage re-inlined per consumer in the rendered count",
    "ccnet_ppl_buckets": "shuffles: the char-LM two-shuffle scoring + the doc_id lang join + ONE per-lang NTILE window + the 15-row tier agg",
    "minhash_band_tuning": "BNLJ = carving_study's 1-row |truth| broadcast crossJoin; shuffles: the exact-Jaccard truth pipeline + the signature build (the cached sigs/truth frames re-inline per rendering — runtime stages dedupe via the caches) + ONE (ci, band, band_sig) candidate join, ONE (ci, pair) dedup exchange and one per-ci count for all three carvings; hits are a broadcast intersection, never all-pairs",
    # r12 operators
    "ann_jl_serve": "BNLJ = tiny broadcast query set scanning the STORED projection table (ann_jl_rerank's layout served from parquet)",
    "minhash_lsh_serve": "shuffles: band join over the stored signature table + the exact-verify pipeline (minhash_lsh_pairs' shape with the sig agg replaced by a parquet scan)",
    "dsir_select_threshold": "BNLJ = 1-row broadcasts (feature totals, sample-quantile threshold); shuffles: dsir_weights' pipeline rendered TWICE (sample path + final agg both consume scored; runtime dedupes via the cached tf frame) + the sample-bounded rank windows",
    "ccnet_ppl_thresholds": "shuffles: the char-LM scoring pipeline rendered twice (sample path + final tier agg; runtime dedupes via the cached tf frame) + the per-lang SAMPLE rank window + the 15-row tier agg",
    "embedding_lsh_tuning": "BNLJ = carving_study's 1-row |truth| broadcast crossJoin; shuffles: the bit reassembly groupBy over the stored lsh_codes rows (the cached bit table re-inlines per carving in the rendering) + ONE (ci, table, code) candidate join, ONE (ci, pair) dedup exchange and one per-ci count for all four carvings; the truth serves from the stored near_dup_truth table and hits are a broadcast intersection, never all-pairs",
    # r13 operators
    "knn_classify": "BNLJ = tiny broadcast query set against the labeled corpus scan (knn_cosine's layout + a Q-by-labels vote agg)",
    "edit_distance_dedup": "shuffles: signature agg + band candidate join + the two doc_id-keyed text joins feeding the Levenshtein verify (minhash_lsh_pairs' shape with edit-distance verification)",
    "hard_negative_mining": "BNLJ = tiny broadcast query set (with labels) against the labeled corpus scan — knn_cosine's layout ranked per (query, role)",
}

STREAMING = {"streaming_hourly_counts", "streaming_dq_profile", "stateful_sessions"}


def query_flags(df) -> list[str]:
    """Scale red flags for one query's physical plan."""
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    flags = []
    if "CartesianProduct" in plan:
        flags.append("CARTESIAN")
    if "BroadcastNestedLoopJoin" in plan:
        flags.append("BNLJ")
    n_shuffles = sum(
        1 for line in plan.splitlines()
        if "Exchange" in line and "Broadcast" not in line
    )
    if n_shuffles > 6:
        flags.append(f"shuffles={n_shuffles}")
    return flags


def audit(spark, sf_dir: str, verbose: bool = False) -> list[tuple[str, list[str]]]:
    """[(query, flags)] for every flagged query WITHOUT an EXPECTED
    reason.  Importable so the test suite runs the sweep per round."""
    unexplained = []
    for name, fn in sorted(all_queries().items()):
        if name in STREAMING:
            continue
        flags = query_flags(fn(spark, sf_dir))
        if flags:
            reason = EXPECTED.get(name)
            tag = f"expected ({reason})" if reason else "UNEXPLAINED"
            if verbose:
                print(f"{name}: {', '.join(flags)} — {tag}")
            if not reason:
                unexplained.append((name, flags))
    return unexplained


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="plan-audit", master="local[8]",
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    unexplained = audit(spark, sf_dir, verbose=True)
    if unexplained:
        print(f"\nFAIL: unexplained plan flags in {[n for n, _ in unexplained]}")
        sys.exit(1)
    print("\nplan audit clean (all flags documented)")


if __name__ == "__main__":
    main()
