#!/usr/bin/env python3
"""Headline benchmark: runs the engine's flagship queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with the noop sink (full execution, no
driver-side materialization cost).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    # name, description (SURVEY.md §2 families exercised)
    "q1_pricing_summary",        # scan + agg (A1)
    "q5_local_supplier_volume",  # 6-way join, broadcast dims
    "q18_large_volume_customer", # aggregate-then-join (HAVING subquery)
    "vocab_top_terms",           # tokenize + explode + distinct-agg top-k
    "broadcast_lookup_join",     # fact⋈dim broadcast join (J7)
    "left_join_count",           # outer join + count (J3)
    "distinct_on_survivor",      # window dedup (D2/W2)
    "topk_per_group",            # per-group top-k (W2/O7)
    "events_sessionize",         # lag + running-sum windows
    "events_lifecycle",          # lifecycle agg (A1/A5)
    "wiki_citations_at_revision",  # flagship: semi/anti join + lifecycle
    "serving_article_citations",   # serving endpoint over warehouse tables
    "dedup_exact",               # hash dedup
    "dedup_minhash_lsh",         # MinHash+LSH near-dedup
    "dedup_simhash",             # SimHash fingerprints
    "text_quality_score",        # text analysis
    "ann_cosine_topk",           # brute-force cosine top-k
    "ann_lsh_bucketed",          # LSH-bucketed ANN
    "ann_ivf_probe",             # IVF cell-probe ANN
    "q6_forecast_revenue",       # pure pushdown scan-aggregate
    "corpus_dup_span_stats",     # cross-corpus span dedup (inverted index)
    "tfidf_top_terms",           # tf/df aggregates + broadcast stats top-k
    "events_funnel_sessions",    # sessionize windows + funnel rollup
    "customers_rfm_segments",    # keyed agg + distributed-NTILE + rollup
    # added round 4 (totals comparable to r3 only over the 24 above)
    "doc_chunk_sliding",         # map-only token-window fan-out
    "kmeans_lloyd_update",       # broadcast-centroid assign + keyed mean
    "embedding_quantize_int8",   # shuffle-free higher-order array math
    # added late round 4 (totals comparable to earlier records only
    # over the shared prefix; per-query timings always comparable)
    "q7_volume_shipping",        # bilateral 6-way join, nations broadcast
    "q21_blocking_supplier",     # EXISTS+NOT EXISTS collapsed to one window pass
    "rare_token_score",          # explode -> keyed freq join -> decimal agg
    "pq_codebook_assign",        # PQ assign: slice fan-out + rank-limit window
    "q13_customer_distribution", # outer-join double aggregation
    "pareto_skyline_parts",      # P-way global running max (operators/ordered)
    # added with the warehouse-ops family (same shared-prefix caveat)
    "dedup_canonical_pick",      # CC closure + per-cluster survivor election
    "multimodal_phash_dedup",    # banded Hamming near-dup (added round 6)
    "table_profile_stats",       # per-column ANALYZE profile (union of pruned scans)
    "zorder_morton_codes",       # Morton interleave + block stats (storage layout)
    "triangle_count_cosupplier", # degree-ordered triangles on hash-capped backbone
    # added late round 6 (same shared-prefix caveat)
    "graph_bfs_khop",            # frontier-expansion BFS, 3 keyed shuffles
    "bigram_lm_doc_score",       # bigram-model build + keyed re-join scoring
    "dedup_jaccard_prefix_filter",  # All-Pairs prefix-filtered similarity join
    "embedding_coreset_per_cell",   # broadcast-centroid assign + rank-1 election
    "sketch_sample_quantiles",   # hash-sample + P-way global rank quantiles
    # added end of round 6 (same shared-prefix caveat)
    "ols_normal_equations",      # one-pass Gram-matrix OLS, 1-row shuffle
    "target_encode_oof",         # out-of-fold encoder, cells-only payload
    "priority_weighted_sample",  # DLT weighted top-k, TakeOrdered heaps
    "sketch_ams_f2",             # tug-of-war F2, 5x64 counter payload
    "events_seasonal_anomaly",   # hour-of-day baseline deviation
    "interval_merge_coverage",   # gaps-and-islands interval union, 1 shuffle
    "event_type_trigrams",       # double-lead sequence mining + TakeOrdered
    "join_cardinality_stats",    # histogram-product join size, join never run
    "sketch_hll_sliding_union",  # per-hour HLL registers, sliding register merge
    # added round 10 (same shared-prefix caveat)
    "dedup_semdedup_cells",      # SemDeDup: cluster-scoped semantic dedup
    # added round 11 (same shared-prefix caveat)
    "dedup_semdedup_cells_kfixed",  # fixed-k SemDeDup (production centroid shape)
    "dedup_embedding_cosine",    # banded sign-LSH, corpus-adaptive band width
    "dedup_embedding_cosine_projected",  # hashed-hyperplane twin (dim-independent)
    # added round 12 (same shared-prefix caveat)
    "dedup_winnowing_fingerprints",  # robust winnowing + DF-capped pair index
    "dedup_cdc_chunks",          # content-defined chunking, exact-dedup-shaped agg
    "semantic_decontaminate_lsh",  # train x eval banded-LSH decontamination
    "rrf_hybrid_rank",           # lexical+vector reciprocal-rank fusion
    # added round 13 (same shared-prefix caveat)
    "rrf_hybrid_generators",     # RRF over LSH + stopgram-index candidates
    # added round 13 batch 2 (same shared-prefix caveat)
    "dup_span_maximal_runs",     # ExactSubstr islands over dup gram positions
    "embedding_matryoshka_recall",  # truncated-dim retrieval recall meter
    "adamic_adar_links",         # capped common-neighbor link prediction
    "phrase_tag_dictionary",     # broadcast phrase-dictionary tagging
    "source_length_ks",          # per-source two-sample KS drift test
    "mmr_diversify_topk",        # unrolled greedy MMR diversified re-rank
    # added round 13 batch 3 (same shared-prefix caveat)
    "simhash_hamming_pairs",     # exact pigeonhole Hamming<=3 pair join
    # added round 13 batch 4 (same shared-prefix caveat)
    "perceptron_quality_train",  # integer-exact full-batch trainer, 3 iters
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from wiki_references_db_spark.session import get_spark
    from wiki_references_db_spark.queries import all_queries

    spark = get_spark(app_name="wikirefs-bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()

    # Derive the sf label from the directory name (e.g. sf0.1 -> 0.1).
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        sf = float(base.replace("sf", ""))
    except ValueError:
        sf = base

    # JVM/codegen warmup outside the timed region: run every headline
    # query once at the smallest scale factor.  The generated whole-stage
    # code is identical across scale factors (paths/stats live outside the
    # codegen source), so this populates Spark's codegen cache and warms
    # janino/JIT — compile cost that amortizes to zero at scale — while
    # the timed sf run below still analyzes, optimizes, and executes a
    # fresh plan over the full data.  That holds only because the
    # session's cache (``session._DEFAULTS``, 4096 entries) is larger than
    # the headline's working set of about 1,540 classes: at Spark's
    # default 100 entries the warm-up itself compiled about 1,960 classes and
    # the timed runs found almost none of them.  ``warmup_compiles`` and
    # the per-query ``compiles`` of the timed runs on the extended line
    # show whether it held.
    compile_timer = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    )
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    warm_start = compile_timer.getCount()
    spark.range(1_000_000).selectExpr("sum(id)").write.mode("overwrite").format(
        "noop"
    ).save()
    for name in HEADLINE:
        queries[name](spark, warm_dir).write.mode("overwrite").format(
            "noop"
        ).save()
    warmup_compiles = compile_timer.getCount() - warm_start

    # Two timed executions per query, report the min: single runs on a
    # shared container jitter by ±2x on sub-second queries, and the min
    # is the honest estimate of plan cost.  NOTE (methodology, recorded
    # in the JSON below): rounds 1-2 reported single-run timings; from
    # round 3 on it is min-of-2 — cross-round total comparisons are only
    # valid within the same methodology, so `first_run_total_sec` keeps
    # the old measure alongside.
    # Construction (the ``fn(spark, sf_dir)`` call) is not in the timed
    # region, but a query that runs jobs while it is built (iterative
    # training, eager checkpoints) does real work there; the extended
    # line reports it per query, from spans of perfbench's tracer.
    from perfbench.trace import Tracer

    tracer = Tracer(spark, enabled=True)
    timings: dict[str, float] = {}
    first_run: dict[str, float] = {}
    construct_sec: dict[str, float] = {}
    construct_jobs: dict[str, int] = {}
    compiles: dict[str, int] = {}
    for name in HEADLINE:
        fn = queries[name]
        best = None
        compiled_before = compile_timer.getCount()
        for i in range(2):
            with tracer.span(name) as sp:
                df = fn(spark, sf_dir)
            construct_sec[name] = round(
                min(sp.seconds, construct_sec.get(name, sp.seconds)), 3
            )
            construct_jobs[name] = max(sp.spark["jobs"], construct_jobs.get(name, 0))
            t0 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            dt = time.perf_counter() - t0
            if i == 0:
                first_run[name] = round(dt, 3)
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
        compiles[name] = compile_timer.getCount() - compiled_before
        # Queries that persist() intermediates must not leak cached
        # blocks into the NEXT query's measurement; within a query's two
        # runs the cache stays (round-3 methodology — min-of-2 measures
        # the warm plan, first_run_sec keeps the cold number).
        spark.catalog.clearCache()

    # The identical DuckDB oracle SQL on the same parquet, same min-of-2
    # warm timing — the per-round evidence for the "within 2x of the
    # single-node engine" contract.
    from wiki_references_db_spark.oracle import duckdb_connection
    from wiki_references_db_spark.queries import all_oracles

    oracles = all_oracles()
    oracle_timings: dict[str, float] = {}
    con = duckdb_connection(sf_dir)
    try:
        for name in HEADLINE:
            sql = oracles.get(name)
            if sql is None:
                continue
            best = None
            for _ in range(2):
                t0 = time.perf_counter()
                con.execute(sql).fetchall()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            oracle_timings[name] = round(best, 3)
    finally:
        con.close()

    total = round(sum(timings.values()), 3)
    oracle_total = round(sum(oracle_timings.values()), 3)
    # Extended evidence (cold-run timings, oracle per-query timings,
    # per-query construction seconds (min of 2) and jobs (max of 2),
    # classes compiled in the warm-up and in each query's two runs) goes
    # on its OWN stdout line first; the driver only parses the FINAL
    # line, and captures a bounded tail of output — rounds 4-5 proved
    # that folding everything into one line pushes it past the capture
    # window and the driver records `parsed: null`.  The final line is
    # the compact contract record and must stay well under 2000 chars.
    print(
        json.dumps(
            {
                "detail": "bench_extended",
                "runs_per_query": 2,
                "timing": "min",
                "first_run_sec": first_run,
                "first_run_total_sec": round(sum(first_run.values()), 3),
                "oracle_sec": oracle_timings,
                "construct_sec": construct_sec,
                "construct_total_sec": round(sum(construct_sec.values()), 3),
                "construct_jobs": construct_jobs,
                "warmup_compiles": warmup_compiles,
                "compiles": compiles,
            }
        )
    )
    # Self-contained final line (round-7): the driver preserves only the
    # LAST 2000 chars of stdout, so per-query ORACLE timings must ride in
    # the final line itself or they are lost (r6's extended line survived
    # for just 8/52 queries).  Repeating 52 query names would blow the
    # budget, so the oracle times go as an array aligned with the
    # "queries" dict key order (JSON objects preserve insertion order):
    # oracle_sec_in_query_order[i] pairs with list(queries)[i].  Full
    # 3-decimal spark timings and the name-keyed oracle dict remain on
    # the extended line above for local runs.
    final = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in timings.items()},
        "sf": sf,
        "oracle_total_sec": oracle_total,
        "spark_vs_oracle_ratio": (
            round(total / oracle_total, 3) if oracle_total else None
        ),
        "oracle_sec_in_query_order": [
            round(oracle_timings[k], 2) if k in oracle_timings else None
            for k in timings
        ],
    }
    line = json.dumps(final, separators=(",", ":"))
    if len(line) > 1950:  # degrade gracefully, never lose the contract line
        final.pop("oracle_sec_in_query_order")
        line = json.dumps(final, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
