"""Benchmark harness: runs the headline query set at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced end-to-end with a noop sink (full execution, no
driver-side collect overhead) — the same way you'd measure a cluster job.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from self_healing_data_pipeline_agent_spark.registry import all_queries  # noqa: E402
from self_healing_data_pipeline_agent_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "tpch_q1",
    "revenue_by_nation",
    "shipping_priority",
    "regional_supplier_volume",
    "cube_summary",
    "promo_revenue_share",
    "ann_ivf_topk",
    "stats_profile",
    "grouped_drift_profile",
    "grouped_dq_profile",
    "quantile_profile",
    "distinct_counts",
    "dedup_first_lineitem",
    "topk_orders_per_priority",
    "order_lag_lead",
    "rolling_order_totals",
    "attribution_asof",
    "tfidf_top_terms",
    "drift_compare",
    "anti_join_no_f_orders",
    "referential_orphans",
    "rollup_summary",
    "json_extract",
    "hourly_windows",
    "sessionization",
    "top_terms",
    "jaccard_pairs",
    "minhash_lsh_pairs",
    "minhash_lsh_serve",  # serve = production; build-inline twin above
    "duplicate_clusters",
    "decontaminate_docs",
    "knn_cosine",
    "exact_dedup_docs",
    "repetition_ratio",
    "pack_sequences",
    # r15: the boundary-respecting packing twin, benched beside the
    # concat-and-chunk row so the archive pairs the waste/contamination
    # trade (same single per-lang window + a co-partitioned self-join).
    "pack_pairs",
    "pii_scrub",
    "salted_hot_key_agg",
    "customer_order_distribution",
    "anomaly_zscore",
    "tpch_q7",
    "tpch_q10",
    "psi_drift",
    "error_context_join",
    "incremental_dedup",
    "normalize_text",
    # dup_ngram_coverage is the one r2-late addition that is genuinely
    # work-bound at sf0.1 (document-frequency join over the shingle set,
    # Spark ~0.9x the embedded oracle); the other late ops are sub-second
    # and would only add scheduler floor to the aggregate.
    "dup_ngram_coverage",
    # r3 additions, benched from r4 so the headline tracks the full
    # surface: the pigeonhole-blocked SimHash scale path, SemDeDup
    # semantic dedup, and the multimodal kernel trio.
    "simhash_near_dup_blocked",
    "semantic_dedup",
    "semantic_dedup_serve",  # serve = production (tau-sweep steady state)
    "multimodal_features",
    "multimodal_resize",
    "multimodal_frame_sample",
    # r4: the composed curation funnel (dedup -> gates -> decontaminate
    # in one lazy plan) — the flagship end-to-end pipeline measurement.
    "curate_corpus",
    # r5: the mergeable-sketch profiling ring (X23).  These are
    # floor-bound at sf0.1 (multi-stage plans over ~150k-row inputs, each
    # stage paying scheduler latency); their value is the at-scale shape —
    # sketches shuffle KBs where the oracle reshuffles raw keys.
    "hll_distinct_profile",
    "theta_priority_overlap",
    "kll_quantile_bounds",
    "heavy_hitters",
    "one_pass_profile",
    "customer_churn_sketch",
    # map-only RAG chunker: the corpus-to-chunk-store job at scan speed
    "chunk_with_overlap",
    # r6: profile-table heavy hitters from the mergeable MG summary and
    # the sketch-only quantile-drift decision (streaming_churn_profile is
    # excluded: a bench row would time stream staging, not the operator),
    # plus the two work-bound corpus queries — soft contamination scoring
    # (shingle-broadcast join) and the deterministic shard shuffle.
    "frequent_items_sketch",
    "kll_quantile_drift",
    "contamination_score",
    "shard_manifest",
    # r7: the exact duplicated-substring spans (gram-postings join — the
    # round's work-bound addition), the composed per-source scorecard
    # (5 co-keyed per-doc signal joins), and the char-LM scorer (two
    # corpus shuffles + broadcast model dot product).
    # streaming_profile_compaction is excluded like the other streaming
    # rows: a bench row would time stream staging, not the operator.
    "substring_dup_spans",
    # r13: the spans twin served from the stored postings/fingerprint
    # indexes — measures the per-snapshot steady state (build warmed out
    # like every *_serve row); serve = production
    "substring_dup_serve",
    "substring_dup_coverage",
    "source_scorecard",
    "char_lm_perplexity",
    "ann_int8_rerank",
    # r8: the registry-dispatched PPM decode kernel (Arrow-batched real
    # container parse — the round's Python-side work-bound row), the
    # re-contracted block-level payload dedup (256-byte block explode +
    # digest agg), and the LSH-blocked near-dup pairs, whose truth set
    # is non-empty for the first time (threshold recalibration).
    # streaming_profile_compaction2 is excluded like the other streaming
    # rows: a bench row would time stream staging, not the operator.
    "multimodal_decode_ppm",
    "payload_dedup",
    "embedding_near_dup_lsh",
    # r13: the shipped multi-probe variant next to its serving twin —
    # the near-dup contract's build/serve pair (serve = production)
    "embedding_near_dup_mp",
    "embedding_near_dup_serve",
    # r12: the compressed-codec ring — real zlib deflate+inflate and
    # five-filter PNG coding in two chained Arrow kernels, each coding
    # its whole batch in NumPy (per payload only the chunk walk and
    # zlib run).
    "multimodal_decode_png",
    # r9: the JL projected-candidate ANN (32-dim brute scan + exact
    # rerank), the Morton-vs-linear layout study (full lineitem scan +
    # two zone-map aggs), and the Bloom-bitset decontamination prefilter
    # (shingle stream probed against a broadcast bitset + exact verify).
    # jl_projection itself is excluded: a map-only projection pass is
    # pure scheduler floor at sf0.1 and is timed inside ann_jl_rerank
    # anyway.
    "ann_jl_rerank",
    "ann_jl_serve",  # serve = production; build-inline twin above
    "zorder_pruning",
    "bloom_decontaminate",
    # r9: integer-unit PageRank over the supplier<->customer graph —
    # the round's iterative work-bound row (3 join+agg rounds over the
    # cached edge frame).  streaming_error_orphans is excluded like the
    # other streaming rows: a bench row would time stream staging.
    "graph_pagerank",
    # r9 second wave: the UniMax waterfill (its cost is the corpus token
    # count), the cluster-aware split-hygiene report (LSH pairs +
    # iterative CC + crossing counts — a composed work-bound pipeline),
    # and the RIFF/WAVE decode kernel (the audio twin of the PPM row).
    "mixture_epochs",
    "leakage_safe_split",
    "multimodal_decode_wav",
    "multimodal_decode_ppm_stream",
    # r10/r11: the per-region PageRank fixpoint, the sized-Bloom
    # companion, and the three TPC-H completions (Q2/Q12/Q20
    # adaptations — fact-scan join-aggs, benched like the rest of the
    # X5 family).  streaming_state_metrics is excluded like the other
    # streaming rows: a bench row would time stream staging, not the
    # operator.  bpe_merges and kmeans_embeddings are excluded as
    # REDUNDANT wall-clock, not as slow paths: bpe_encode_stats runs
    # the entire 8-round learn loop before its encode scan, and
    # ann_ivf_kmeans_topk runs the full Lloyd training before its
    # probe/rerank — each bench row below already times its
    # contained loop plus more.
    "graph_pagerank_by_region",
    "bloom_sized_decontaminate",
    "min_cost_supplier",
    "ship_latency_priority",
    "dominant_part_suppliers",
    # r11 second wave: the tokenizer LEARN+APPLY pass (the full
    # 8-round merge loop + one map-only encode scan into a 5-row agg).
    "bpe_encode_stats",
    "bpe_encode_serve",  # serve = production; learn loop runs at build only
    # r11: the distributed Gram build (map-only outer product into a
    # 4096-cell agg) + driver-side integer power iteration.
    # embedding_top2_pc and embedding_pca_coords (r12) are excluded as
    # REDUNDANT wall-clock, the bpe_merges convention: both run the
    # identical Gram pass (+ driver loops / one map-only projection), so
    # this row already times the distributed cost.
    "embedding_top_pc",
    # r11 third wave: the learned-codebook IVF index (Lloyd train ->
    # map-only assign/probe -> broadcast exact rerank, recall 0.82 vs
    # exact at sf0.1 probing 3/8 cells), and DSIR importance weights
    # (one corpus explode -> hashed-bucket counts -> broadcast 256-row
    # model -> per-doc BIGINT dot product).
    "ann_ivf_kmeans_topk",
    "ann_ivf_kmeans_serve",  # serve = production; Lloyd runs at build only
    "dsir_weights",
    # r11: the in-engine trained model — batch perceptron over the DSIR
    # feature space (3 rounds: broadcast-map margins -> mistake
    # semi-join -> 256-group update sums) — and the CCNet perplexity
    # tiers (char-LM scoring + one per-lang NTILE window).
    "perceptron_lang_clf",
    "ccnet_ppl_buckets",
    # r12: the sample-threshold tiering twin — benched NEXT TO the NTILE
    # row above so the archive shows the stateless scale path costs no
    # more than the exact window.  dsir_select_threshold is excluded as
    # redundant wall-clock: dsir_weights already times the scoring plan
    # and the threshold adds only a sample rank + map filter.
    "ccnet_ppl_thresholds",
    # r11: the LSH banding study (one cached signature build whose
    # three carvings share functions.carving's single tagged join and
    # (ci, pair) aggregate, which also reads the exact truth set once),
    # and the PQ-ADC ring (4 per-block Lloyd trainings + the map-only
    # LUT-sum candidate scan + broadcast rerank).
    "minhash_band_tuning",
    "ann_pq_adc_topk",
    "ann_pq_serve",  # serve = production; block Lloyds run at build only
    # r12: the hyperplane carving study — the same shared carving
    # dataflow over four carvings of the embedding LSH bits, incl. the
    # multi-probe variant (probe-side explode only).
    "embedding_lsh_tuning",
    # r13: the LSH ANN family pair — build-inline (codes re-derived per
    # run) next to its serving twin, completing the build/serve pairing
    # every *_serve row now has.  Serve rows: the first run builds and
    # persists the artifact (sources/index_store); later runs serve from
    # the stored table, so best-of-N reports the steady-state serving
    # cost — the PRODUCTION number; the build-inline twin is the
    # per-snapshot amortized cost.
    "ann_lsh_topk",
    "ann_lsh_serve",
    # r13: the index-maintenance row — standing corpus served from the
    # stored signature table, only the ingest batch (10%) re-coded; the
    # steady state an append-heavy vector store pays per batch.
    "lsh_index_refresh",
    # r13 second wave: the selection/inference ring's work-bound rows —
    # per-doc n-gram novelty (document-frequency join over the shingle
    # index, dup_ngram_coverage's cost class), edit-distance verification
    # of banded-LSH candidates (the O(len^2) DP runs only on candidates),
    # and the per-cluster coreset (map-only assignment against the stored
    # kmivf_centroids model + one per-cell window — a serve-shaped row).
    # knn_classify is excluded as REDUNDANT wall-clock (knn_cosine
    # already times the identical broadcast corpus scan; the vote adds a
    # Q-by-labels agg); priority_sample is excluded as pure scheduler
    # floor (map + TakeOrdered, zero exchanges, sub-second at any SF).
    "ngram_novelty",
    "edit_distance_dedup",
    "cluster_representatives",
    # r13: the relational serving split — order_priority_check's semi
    # join answered from stored BUCKETED copies of both fact tables
    # (zero exchanges below the join) next to its shuffle-planned twin;
    # at test SF the win is bounded by the scheduler floor — the row
    # exists to pin the co-located plan's steady state, the at-scale
    # argument is the layout.
    "order_priority_check",
    "bucketed_late_shipments",
    # r13: the text-ring maintenance row (lsh_index_refresh's posture on
    # the substring postings index): standing postings from the stored
    # artifact, only the ingest batch re-tokenized.  hard_negative_mining
    # is excluded as REDUNDANT wall-clock (knn_cosine times the identical
    # broadcast corpus scan; the per-role rank adds only window work);
    # dup_cluster_stats and dedup_rate_by_source likewise
    # (duplicate_clusters times the whole CC fixpoint they ride; the
    # histogram/per-source slices add only KB-sized aggs).
    "substring_index_refresh",
    # r13: per-user hourly gap-fill + LOCF — the time-series
    # regularization row (grid generate + keyed join + one per-user
    # window; ~1M grid rows at sf0.1, genuinely work-bound).
    "event_gap_fill",
    # r13: CDC apply — ordered I/U/D log resolved latest-wins against
    # the base snapshot (merge_upsert_orders' multi-op generalization;
    # benched next to it so the archive pairs single-op vs log apply).
    "cdc_apply",
    # r13: the closed-form regression fit — one sufficient-stats
    # aggregate past a per-order count join; the in-engine-training
    # family's cheapest member, benched to pin the one-pass shape.
    "linreg_price_per_item",
    # r16: the stored-model residual diagnostics beside the fit — the
    # model attaches as a literal map (no re-solve), same two scans +
    # one aggregate (serve = production monitoring).
    "linreg_serve",
    # r14: the image-modality near-dup row — band explode + equi-join +
    # Hamming verify over the STORED 40-byte dHash table (the
    # encode/decode kernels run at build only; best-of-N reports the
    # steady serving cost, the production number).
    "image_near_dup",
    # r14: the CDC apply against the X38 bucketed base — benched next to
    # its shuffle-planned twin above so the archive pairs them (the
    # snapshot side plans zero exchanges; only the stream-sized log
    # shuffles).
    "bucketed_cdc_apply",
    # r14: image-ring maintenance — standing hashes from the stored
    # artifact, only the ingest batch (10%) re-encoded/decoded/hashed
    # through the Arrow kernels; the image-ingest steady state.
    # image_dup_clusters is excluded as REDUNDANT wall-clock (the
    # duplicate_clusters row times the identical CC fixpoint over a
    # larger pair set; the image edges add only the artifact scan
    # image_near_dup already times).  image_band_tuning (r15) is
    # excluded for the OPPOSITE reason: measured 1.97 s Spark /
    # 29.7 s DuckDB at sf0.1 (the oracle recomputes the full in-SQL
    # hash chain AND the quadratic all-pairs truth single-pipeline) —
    # one study row would dominate duck_total and flatter the
    # aggregate ratio; image_near_dup already times the artifact-served
    # banded path both engines share.
    "image_index_refresh",
    # r14: BM25 more-like-this retrieval — the cached tf aggregate (one
    # corpus explode) feeding broadcast-joined doc-frequency/query/scalar
    # sides and one (query, doc) scoring aggregate; the work-bound
    # lexical-IR row.
    "bm25_topk",
    # r15: the BM25 serve twin — postings (tf/dl/df/N/avgdl denormalized)
    # persisted via ensure_index; serving = artifact scan + broadcast
    # query terms + the same truncated-unit scoring (serve = production).
    "bm25_serve",
    # r15: the lexical ring's maintenance row — standing (tf, dl) posting
    # rows from the stored artifact, only the ingest batch re-tokenized,
    # df/N/avgdl re-aggregated from posting rows; benched beside the
    # build/serve pair like the lsh/substring refresh rows.
    "bm25_index_refresh",
    # r16: MaxScore-safe pruned serving next to the exhaustive serve row
    # — same stored postings, same bit-exact result, plus the
    # seed/theta/essential-cut frames; on THIS near-uniform corpus the
    # cut skips little (documented in the operator), so the row prices
    # the pruning machinery honestly rather than showcasing it.
    # bm25_prune_kw and bm25_prune_stats are excluded as REDUNDANT
    # wall-clock (the kw twin runs strictly smaller frames than the doc
    # twin; the stats report re-derives both regimes' frames — a study
    # row, the image_band_tuning exclusion class).
    "bm25_prune",
    # r16: k-way packing beside the 2-way and concat-and-chunk rows —
    # the same single per-lang rank window plus in-partition (lang,pack)
    # sorts, completing the packing triple's cost story.
    "pack_kway",
    # r16: the stored-model serve twin beside the training row — map-only
    # margin scoring from the persisted 256-int weights (serve =
    # production; the trajectory row prices training).
    "perceptron_serve",
    # r14: the salted JOIN demo next to the salted agg — SMJ on
    # (key, _salt), the hot key spread over 16 tasks by construction.
    "salted_skew_join",
    # r14: X38's maintenance member — the semi join over the
    # ingest-appended bucketed orders (multi-file buckets: co-location
    # kept, in-task sort paid); benched next to the one-file layout row.
    "bucketed_ingest_join",
    # r15: the lifecycle's compaction member — same join over the
    # compacted (one file per bucket) table, sort-free again; benched
    # next to the sort-taxed row so the archive pairs the trade.
    # cross_modal_dedup is excluded as REDUNDANT wall-clock (the
    # image_near_dup, minhash_lsh_serve and embedding_near_dup_serve
    # rows already time all three pair chains; the report adds three
    # KB-sized membership joins).
    "bucketed_compaction",
]


TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Two same-plan runs landing this far apart means a transient host stall
# (CPU steal / noisy neighbor), not the engine — take extra samples.
NOISE_RATIO = 2.0
MAX_RUNS = 4
WARMING_RATIO = 0.85  # newest run >15% under the prior best = still warming
# 200 (was 300 through r14): the r15 stall-defense fields below cost the
# line ~150 chars and the 2000-char tail guarantee is zero-sum; 200 still
# holds the ~9 most expensive noisy names (r14's full list was ~140)
NOISY_ARCHIVE_CHARS = 200  # cap on the archived noisy-name string
DUCK_QUERY_TIMEOUT_S = 120  # watchdog cap per oracle execution

# SUSTAINED-stall defense (r14 verdict #2): the >NOISE_RATIO consecutive-
# run resampler above catches a stall that lands BETWEEN two runs, but
# during a minutes-long steal burst consecutive runs of the same query
# AGREE (both inflated) and pass it — the r14 record carried six rows
# 10-80x over their archived steady states, contiguous in run order,
# none flagged.  Two independent detectors close that class:
#  - REFERENCE CHECK: each best-of-N is compared against the archived
#    quiet-window steady state (BENCH.md's machine-generated table);
#    rows > REF_OUTLIER_RATIO x steady (and above the scheduler-floor
#    guard) are RE-QUEUED for a second sampling pass at session END —
#    minutes later, typically outside the burst.  Rows still outlying
#    after the re-pass are flagged noisy, so a contaminated record
#    self-identifies instead of silently failing the gate.
#  - STEAL COUNTER: /proc/stat steal-tick deltas are captured around
#    each query's sampling; a query whose window lost more than
#    STEAL_FLAG_PCT% of machine capacity to the hypervisor is flagged
#    noisy regardless of agreement, and the per-query percentages for
#    the archived top rows ride the JSON line (``steal_pct_top``).
REF_OUTLIER_RATIO = 3.0
REF_OUTLIER_FLOOR = 1.0  # sub-second rows bounce off the scheduler floor
STEAL_FLAG_PCT = 5  # >=5% of machine capacity stolen during sampling


def _steal_ticks() -> int | None:
    """Aggregate hypervisor steal ticks (USER_HZ, summed across CPUs)
    from /proc/stat; None where unreadable (non-Linux, masked procfs)."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        return int(parts[8])  # user nice system idle iowait irq softirq STEAL
    except (OSError, IndexError, ValueError):
        return None


def _steal_pct(t0: int | None, wall_s: float) -> int | None:
    """Percent of total machine capacity stolen since tick-count ``t0``."""
    t1 = _steal_ticks()
    if t0 is None or t1 is None or wall_s <= 0:
        return None
    hz = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100
    return round(100.0 * (t1 - t0) / hz / (wall_s * (os.cpu_count() or 1)))


def _load_reference(path: str | None = None) -> dict[str, float]:
    """Archived quiet-window steady states: parse BENCH.md's HEADLINE
    measurement table (machine-generated by scripts/make_bench_md.py)
    into {query: spark_seconds}.  Parsing is anchored to that one table
    — rows are consumed only between its ``| query | spark (s) | ...``
    header and its ``**total**`` footer (r15 ADVICE: an unanchored
    '| word | number |' match would let a plain-named row in any OTHER
    table silently inject a wrong steady state into the requeue
    reference).  Missing/unparseable file -> {} and the reference check
    no-ops — the bench must never fail for want of its own archive."""
    import re

    path = path or os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH.md"
    )
    ref: dict[str, float] = {}
    in_table = False
    try:
        with open(path) as fh:
            for line in fh:
                if re.match(r"\|\s*query\s*\|\s*spark \(s\)\s*\|", line):
                    in_table = True
                    continue
                if not in_table:
                    continue
                if re.match(r"\|\s*\*\*total\*\*", line):
                    break
                m = re.match(r"\|\s*(\w+)\s*\|\s*([0-9.]+)\s*\|", line)
                if m:
                    ref[m.group(1)] = float(m.group(2))
    except OSError:
        return {}
    return ref

# Per-query entries kept in the archived JSON line (the most expensive
# ones); the rest fold into oq_n/oq_sum.  Since r12 the SAME top names
# also carry their DuckDB oracle time (``duck_queries``) so a future
# per-query regression is adjudicable from the archived artifact alone
# (the r09->r11 noise adjudication needed BENCH.md regenerated on a
# quiet host because the archive had only Spark numbers).  Two maps at
# K entries each, worst-case 999.99-clamped values and the longest
# names, must stay well under the driver's 2000-char tail — pinned by
# tests/test_tooling.py.
TOP_K = 22


def _time_spark(queries, name, spark, sf_dir) -> float:
    t0 = time.perf_counter()
    queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _sample_runs(once) -> tuple[list[float], bool]:
    """Best-of-N sampling with two continue conditions, up to MAX_RUNS:

    - NOISE: consecutive same-plan runs disagreeing by >NOISE_RATIO mean
      the host stalled mid-pair (CPU steal) — resample, and flag the
      query noisy in the archive.
    - WARMING: the newest run beating every prior one by >15% means the
      plan's one-time compile / codegen JIT is still amortizing, NOT
      noise — the heavy driver-loop rows (perceptron, BPE, PageRank)
      compile for seconds, and a declining [13 s, 7 s] pair passes the
      noise stop rule yet records ~3x the steady state (r13 preview:
      perceptron_lang_clf 7.24 s recorded, 2.8 s steady).  Keep sampling
      toward the floor; a warming-only resample is NOT flagged noisy.
      It is never a data-cache hit: each sample is a registry call, and
      the registry drops every cached frame when a query starts.
    """
    runs: list[float] = []
    was_noisy = False
    while len(runs) < MAX_RUNS:
        runs.append(once())
        if len(runs) < 2:
            continue
        if runs[-1] < WARMING_RATIO * min(runs[:-1]):
            # checked BEFORE the noise rule: a stall makes runs SLOWER,
            # never faster, so a new floor is warming by construction
            # (and must not trip the >NOISE_RATIO pair check that a
            # steep [13, 7, 3] descent would otherwise hit)
            continue
        if max(runs[-2:]) > NOISE_RATIO * min(runs):
            was_noisy = True
            continue
        break
    return runs, was_noisy


def _bench_duckdb(names: list[str], sf_dir: str) -> dict[str, float]:
    """Time the DuckDB oracle for each headline query IN THIS PROCESS, so
    the Spark/DuckDB ratio is measured under identical host conditions.

    The r3 driver bench regressed 3.1x with zero plan changes — pure VM
    noise — and the absolute wall total is the gated number.  A ratio
    taken in the same minute on the same host is immune to that failure
    mode: noise slows both engines together.

    The WHOLE body is guarded: a missing duckdb module, a missing table
    file (DuckDB binds the view SELECT at creation), or any other setup
    failure returns {} so the already-collected Spark timings still print
    — one failure must not cost the round's record."""
    try:
        import duckdb

        from self_healing_data_pipeline_agent_spark.registry import all_oracles

        oracles = all_oracles()
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    except Exception as exc:  # noqa: BLE001 - comparison column is optional
        print(f"# duckdb comparison unavailable: {exc}", file=sys.stderr)
        return {}
    timings: dict[str, float] = {}
    # Per-oracle watchdog: a single runaway oracle (e.g. an inlined-CTE
    # blowup before the MATERIALIZED hints landed) used to hang the
    # whole bench past the round driver's budget — losing the ROUND'S
    # ENTIRE BENCH RECORD, which is worse than one missing comparison
    # cell.  con.interrupt() from a timer thread aborts just that query;
    # the oracle is then reported failed and the sweep continues.
    import threading

    for name in names:
        sql = oracles.get(name)
        if sql is None:
            continue
        try:
            best = float("inf")
            runs = []
            spurious = 0
            while len(runs) < MAX_RUNS:
                t0 = time.perf_counter()
                # Watchdog race guard (r11 ADVICE): if the timer fires just
                # as fetchall() completes, cancel() cannot undo the already-
                # fired con.interrupt(), which then aborts the NEXT query on
                # this connection.  Two-layer defense: the callback checks a
                # completion Event before interrupting (closes all but a
                # microsecond window), and an InterruptException landing FAR
                # from this run's own timeout is treated as that stale
                # interrupt and retried, not reported as an oracle failure.
                done = threading.Event()
                watchdog = threading.Timer(
                    DUCK_QUERY_TIMEOUT_S,
                    lambda d=done: None if d.is_set() else con.interrupt(),
                )
                watchdog.start()
                try:
                    con.sql(sql).fetchall()
                except duckdb.InterruptException:
                    if (
                        time.perf_counter() - t0 < DUCK_QUERY_TIMEOUT_S - 1
                        and spurious < 2
                    ):
                        spurious += 1
                        continue
                    raise
                finally:
                    done.set()
                    watchdog.cancel()
                runs.append(time.perf_counter() - t0)
                best = min(runs)
                if len(runs) >= 2 and max(runs[-2:]) <= NOISE_RATIO * best:
                    break
            timings[name] = round(best, 3)
        except Exception as exc:  # noqa: BLE001 - one bad oracle must not
            # cost the whole comparison column
            print(f"# duckdb oracle failed for {name}: {exc}", file=sys.stderr)
    con.close()
    return timings


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Core-count contract (r16 verdict #2): an EXPLICITLY-set
    # $SPARK_GRAFT_CPUS is honored verbatim — the driver runs the bench
    # at several core counts to measure scaling, and silently clamping
    # its request distorts that measurement (the r16 scaling block's
    # ideal ratio was 2.0 when the driver believed 4.0).  The historical
    # 16-thread anti-oversubscription cap (BENCH.md: >16 JVM threads on
    # this VM showed 3-5x steal jitter) now applies ONLY to the unset
    # default; $SPARK_GRAFT_BENCH_CPUS still overrides both.
    cpus = int(
        os.environ.get("SPARK_GRAFT_BENCH_CPUS")
        or os.environ.get("SPARK_GRAFT_CPUS")
        or 16
    )
    spark = get_spark(app_name="bench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    queries = all_queries()
    names = [n for n in HEADLINE if n in queries]

    # warmup: JIT, noop-sink init, file-listing caches — not measured
    queries["row_count"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    # best-of-N per query: first run includes one-time plan compilation /
    # codegen JIT for that plan shape; the min is the steady-state number a
    # cluster actually sees on a recurring workload.  Normally N=2; when
    # consecutive runs of the SAME plan disagree by >NOISE_RATIO the host
    # stalled mid-run, so sample up to MAX_RUNS to find a clean window.
    timings: dict[str, float] = {}
    noisy: list[str] = []
    errors: list[str] = []
    steal_pct: dict[str, int] = {}
    session_steal0 = _steal_ticks()
    session_t0 = time.perf_counter()
    for name in names:
        try:
            if name.endswith("_serve"):
                # a serve query's FIRST call may build+persist its index
                # artifact; the serving cost is the steady state, so the
                # build run is warmed out of the measured sample (without
                # this, runs=[build, serve] can satisfy the noise stop
                # rule with the still-warming second run as the min —
                # observed 3.49 s recorded for a 1.45 s steady state)
                _time_spark(queries, name, spark, sf_dir)
            st0, w0 = _steal_ticks(), time.perf_counter()
            runs, was_noisy = _sample_runs(
                lambda: _time_spark(queries, name, spark, sf_dir)
            )
            pct = _steal_pct(st0, time.perf_counter() - w0)
            if pct is not None:
                steal_pct[name] = pct
                # a sustained burst inflates consecutive runs TOGETHER,
                # so the agreement-based resampler cannot see it — the
                # steal counter can, and the flag makes the record
                # self-identify as contaminated
                was_noisy = was_noisy or pct >= STEAL_FLAG_PCT
            if was_noisy:
                noisy.append(name)
            timings[name] = round(min(runs), 3)
        except Exception as exc:  # noqa: BLE001 - one broken query must not
            # cost the round's entire benchmark record
            errors.append(name)
            print(f"# spark query failed for {name}: {exc}", file=sys.stderr)

    duck_timings = _bench_duckdb(names, sf_dir)

    # Session-end re-queue (after the DuckDB sweep, so the second pass
    # sits minutes from the first — outside a typical burst): rows whose
    # best-of-N exceeds REF_OUTLIER_RATIO x the archived quiet-window
    # steady state get one more sampling pass; the min of both passes is
    # recorded, and a row STILL outlying is flagged noisy.
    ref = _load_reference()
    requeued: list[str] = []
    for name in names:
        steady = ref.get(name)
        if not steady or name not in timings:
            continue
        cut = max(REF_OUTLIER_RATIO * steady, REF_OUTLIER_FLOOR)
        if timings[name] <= cut:
            continue
        try:
            st0, w0 = _steal_ticks(), time.perf_counter()
            runs, _ = _sample_runs(
                lambda: _time_spark(queries, name, spark, sf_dir)
            )
            pct = _steal_pct(st0, time.perf_counter() - w0)
            requeued.append(name)
            best2 = round(min(runs), 3)
            if best2 < timings[name]:
                timings[name] = best2
                # the archived steal% must describe the pass the
                # recorded timing came from, or the record's evidence
                # contradicts its own number
                if pct is not None:
                    steal_pct[name] = pct
            if timings[name] > cut:
                if name not in noisy:
                    noisy.append(name)
            elif best2 < cut and name in noisy:
                # the recorded timing now comes from the clean pass-2
                # window, and it sits below the cut — keeping the pass-1
                # steal flag would archive a noisy mark contradicted by
                # the steal% riding the record (r15 ADVICE)
                if pct is None or pct < STEAL_FLAG_PCT:
                    noisy.remove(name)
        except Exception as exc:  # noqa: BLE001
            print(f"# requeue failed for {name}: {exc}", file=sys.stderr)
    if requeued:
        print(f"# requeued_vs_reference: {json.dumps(requeued)}", file=sys.stderr)
    session_steal_s = None
    if session_steal0 is not None and (t1 := _steal_ticks()) is not None:
        hz = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100
        session_steal_s = round((t1 - session_steal0) / hz, 1)
        print(
            f"# session_steal_cpu_s: {session_steal_s} over "
            f"{round(time.perf_counter() - session_t0, 1)} s wall",
            file=sys.stderr,
        )
    # ratio over the queries BOTH engines completed, so a one-sided
    # failure skews neither numerator nor denominator
    common = set(timings) & set(duck_timings)
    spark_common = round(sum(timings[n] for n in common), 3)
    duck_total = round(sum(duck_timings[n] for n in common), 3)

    total = round(sum(timings.values()), 3)
    # The driver archives only the LAST 2000 chars of this line
    # (BENCH_r04.json lost the Spark per-query dict to head truncation).
    # Field order is therefore load-bearing: summary fields FIRST, the
    # Spark per-query dict LAST so it always survives the preserved tail.
    # The DuckDB per-query map is stderr-only (BENCH.md carries the full
    # table); ~51 ms-rounded Spark entries fit inside 2000 chars.
    print(
        f"# duckdb_oracle_queries: {json.dumps(duck_timings)}",
        file=sys.stderr,
    )
    print(
        _result_line(
            total=total,
            sf=float(sf) if sf.replace(".", "").isdigit() else sf,
            timings=timings,
            noisy=noisy,
            errors=errors,
            duck_total=duck_total,
            ratio=round(spark_common / duck_total, 3) if duck_total else None,
            duck_timings=duck_timings,
            steal_pct=steal_pct,
            steal_s=session_steal_s,
            n_requeued=len(requeued),
        )
    )
    spark.stop()


def _result_line(
    *, total, sf, timings, noisy, errors, duck_total, ratio,
    duck_timings=None, steal_pct=None, steal_s=None, n_requeued=0,
) -> str:
    """One-line JSON result sized to survive the driver's 2000-char TAIL
    keep whole: the Spark per-query dict is the FINAL key (r4 lost it to
    head truncation) and the summary fields are count-only (names of
    noisy/errored queries go to stderr) so the full line stays under
    2000 chars even on a worst-case noisy host at the current headline
    size — otherwise the tail keep would instead truncate ``value`` (the
    gated headline number) off the head.  Worst-case length is pinned by
    ``test_bench_result_line_queries_survive_tail_truncation``."""
    if noisy:
        print(f"# noisy_queries: {json.dumps(noisy)}", file=sys.stderr)
    if errors:
        print(f"# errored_queries: {json.dumps(errors)}", file=sys.stderr)
    # Archive WHICH queries were noisy in the JSON line itself (r12
    # verdict #2): stderr is not preserved by the round driver, and the
    # adjudication question — "did the regression land on a noisy row?"
    # — needs the names in the permanent record.  Budgeted to the same
    # 2000-char tail guarantee as everything else: a comma-joined string
    # capped at NOISY_ARCHIVE_CHARS, most-expensive-first (the expensive
    # noisy rows are the ones adjudicated), "(+N)" marks the overflow;
    # n_noisy stays the exact count.
    by_cost = sorted(noisy, key=lambda n: (-timings.get(n, 0.0), n))
    noisy_arch = ""
    dropped = 0
    for n in by_cost:
        cand = f"{noisy_arch},{n}" if noisy_arch else n
        if len(cand) > NOISY_ARCHIVE_CHARS:
            dropped = len(by_cost) - by_cost.index(n)
            break
        noisy_arch = cand
    if dropped:
        noisy_arch += f"(+{dropped})"
    print(f"# runs: 2-{MAX_RUNS} best-of per query", file=sys.stderr)
    # Per-query values are clamped to 999.99 s: bench.py has no per-query
    # timeout of its own, and a single hung query reported at >=1000 s
    # would widen its JSON value past the 6-char budget the 2000-char
    # archiver-tail guarantee is sized for.  The clamp is visible (the
    # real duration goes to stderr) and `value` (the gated total) stays
    # exact.
    capped = [n for n, v in timings.items() if v > 999.99]
    if capped:
        print(
            "# capped_queries (true seconds): "
            + json.dumps({n: round(timings[n], 1) for n in capped}),
            file=sys.stderr,
        )
    # The archived line carries per-query timings only for the TOP_K most
    # expensive queries (value desc, name asc tie-break — deterministic);
    # the remainder is summarized as oq_n/oq_sum.  At 62 headline queries
    # the full dict left ~40 chars of tail headroom — zero room for new
    # operators; a fixed K makes the line length independent of headline
    # growth.  Sub-second floor-bound rows carry no per-query signal in
    # the archive anyway; the FULL map goes to stderr here and to
    # BENCH.md's measurement table (scripts/make_bench_md.py).
    print(f"# spark_queries_full: {json.dumps(timings)}", file=sys.stderr)
    top = sorted(timings.items(), key=lambda kv: (-kv[1], kv[0]))[:TOP_K]
    top_names = {n for n, _ in top}
    rest = [v for n, v in timings.items() if n not in top_names]
    duck_timings = duck_timings or {}
    return json.dumps(
        {
            "metric": "headline_queries_total_wall",
            "value": total,
            "unit": "sec",
            "sf": sf,
            "n_queries": len(timings),
            "n_noisy": len(noisy),
            "noisy_queries": noisy_arch,
            "n_errored": len(errors),
            "duck_total": duck_total,
            "spark_vs_duckdb_ratio": ratio,
            "oq_n": len(rest),
            "oq_sum": round(sum(rest), 2),
            # sustained-stall self-identification (r14 verdict #2):
            # total hypervisor steal during the Spark sweep, how many
            # rows the reference check re-queued, and — positionally
            # aligned with the ``queries`` keys below — the percent of
            # machine capacity stolen during each top row's sampling
            # window (a contaminated record carries its own evidence)
            "steal_s": steal_s,
            "n_requeued": n_requeued,
            # '-' = steal was NOT measurable for that row (non-Linux or
            # masked procfs) — distinct from a measured 0, so absence of
            # evidence is never archived as a certified-quiet window
            # (r15 ADVICE)
            "steal_pct_top": ",".join(
                "-"
                if (steal_pct or {}).get(n) is None
                else str(min(steal_pct[n], 99))
                for n, _ in top
            ),
            # oracle times for the SAME top names (adjudication column:
            # a per-query Spark regression with a flat duck twin is a
            # plan problem; both moving together is host noise)
            "duck_queries": {
                n: round(min(duck_timings[n], 999.99), 2)
                for n, _ in top
                if n in duck_timings
            },
            # centisecond resolution: an order of magnitude below host
            # jitter; with the 999.99 clamp this pins each entry's width
            "queries": {n: round(min(v, 999.99), 2) for n, v in top},
        }
    )


if __name__ == "__main__":
    main()
