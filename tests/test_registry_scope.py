"""The registry's cache lifetime: a query's caches last until the next
registry query starts (``registry`` module docstring).

Every query shares one SparkSession, so a cache one query leaves behind
can change the plan, the timing or the memory of the next.  These tests
pin the rule from both sides: the session holds no cached data when a
registry query's body starts, and the queries that do cache return their
oracle's values in any order.
"""

from __future__ import annotations

import random

import duckdb
import pytest

from perfbench.mixes import value_hash
from self_healing_data_pipeline_agent_spark import registry
from self_healing_data_pipeline_agent_spark.operators import relational, text
from self_healing_data_pipeline_agent_spark.sources.tables import TABLE_NAMES

# Every registry query that still holds cached data after it has run:
# at sf0.001, forced through the noop sink, the CacheManager is not empty
# afterwards.  A query that starts or stops caching belongs here.
CACHING_QUERIES = [
    "ann_ivf_kmeans_topk", "ann_lsh_topk", "ann_pq_adc_topk",
    "bloom_decontaminate", "bloom_sized_decontaminate", "bm25_index_refresh",
    "bm25_prune", "bm25_prune_kw", "bm25_prune_stats", "bm25_topk",
    "ccnet_ppl_buckets", "ccnet_ppl_thresholds", "char_lm_doc_counts",
    "char_lm_model", "char_lm_perplexity", "contamination_score",
    "cross_modal_dedup", "decontaminate_docs", "dedup_keep_best",
    "dedup_rate_by_source", "dsir_select", "dsir_select_threshold",
    "dsir_weights", "dup_cluster_stats", "dup_ngram_coverage",
    "duplicate_clusters", "edit_distance_dedup", "embedding_lsh_tuning",
    "embedding_near_dup_lsh", "embedding_near_dup_mp", "graph_pagerank",
    "graph_pagerank_by_region", "incremental_dedup",
    "jaccard_pairs", "kmeans_embeddings", "leakage_safe_split",
    "mad_outlier_profile", "minhash_band_tuning", "minhash_lsh_pairs",
    "minhash_lsh_serve", "ngram_novelty", "pq_codebook",
    "prefix_filter_jaccard", "source_scorecard", "substring_dup_coverage",
    "substring_dup_serve", "substring_dup_spans",
]


def test_registry_query_starts_with_no_cached_data(spark, sf_dir, monkeypatch):
    """bm25_prune_stats caches six frames; the next registry query's body
    must start with none of them.  ``getPersistentRDDs`` is not the
    measure: ``localCheckpoint`` RDDs belong to the ContextCleaner and go
    on garbage collection, not by the scope."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    seen = []
    q_tpch_q1 = relational.q_tpch_q1

    def probe(spark, sf_dir):
        seen.append(cm.isEmpty())
        return q_tpch_q1(spark, sf_dir)

    monkeypatch.setattr(relational, "q_tpch_q1", probe)
    queries = registry.all_queries()
    queries["bm25_prune_stats"](spark, sf_dir).collect()
    assert not cm.isEmpty()
    queries["tpch_q1"](spark, sf_dir).collect()
    assert seen == [True]


def test_caching_queries_are_order_independent(spark, sf_dir):
    """Every caching query, in one session and a seeded shuffled order
    (the parity suite runs them sorted), must hash-equal its oracle and
    leave the session conf as it found it."""
    queries, oracles = registry.all_queries(), registry.all_oracles()
    names = list(CACHING_QUERIES)
    random.Random(7).shuffle(names)
    conf = dict(spark.conf.getAll)
    con = duckdb.connect()
    try:
        for t in TABLE_NAMES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for name in names:
            df = queries[name](spark, sf_dir)
            got = value_hash(list(df.columns), [tuple(r) for r in df.collect()])
            if name in oracles:
                rel = con.sql(oracles[name])
                assert got == value_hash(list(rel.columns), rel.fetchall()), name
            assert dict(spark.conf.getAll) == conf, name
    finally:
        con.close()


def test_connected_components_releases_its_edge_cache(spark, monkeypatch):
    """A direct ``_connected_components`` call (no registry scope around
    it) leaves no cached data behind, whether the propagation converges
    or hits the iteration cap: the labels it returns are checkpointed and
    read no cache."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6)], "doc_a long, doc_b long"
    )
    labels = text._connected_components(pairs).collect()
    got = {r.doc_id: r.cluster_id for r in labels}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5}
    assert cm.isEmpty()
    monkeypatch.setattr(text, "CC_MAX_ITERS", 1)
    with pytest.raises(RuntimeError, match="did not converge"):
        text._connected_components(pairs)
    assert cm.isEmpty()
