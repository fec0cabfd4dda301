#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced end-to-end with a noop-format write (full
materialization, no driver collect bottleneck).

Each headline query runs $SPARK_GRAFT_BENCH_RUNS times (default 3),
round-robin interleaved so JVM/JIT warm-up is shared instead of charged
to whichever query runs first; "queries" reports the per-query MEDIAN
and "query_runs" the raw samples. Rationale: at the 1–2 s/query floor,
single-run deltas of ±50% are JVM noise — r2's two flagged
"regressions" vanished on re-measure — so round-over-round comparisons
must use medians with visible spread (r3 VERDICT task 5)."""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

HEADLINE = [
    "ts_range_read",
    "ts_get_data",
    "ts_value_at",
    "ts_latest",
    "ts_minmax",
    "ts_cull_band",
    "ts_deadband",
    "ts_locf_grid",
    "ts_heartbeat_fill",
    "ts_status_activity",
    "ts_enum_labels",
    "rel_score_sums",
    "rel_orders_no_lineitem",
    "emb_pairwise_topk",
    "rel_pair_scores",
    "rel_related_topk",
    "rel_pricing_summary",
    "rel_top_orders",
    "rel_regional_revenue",
    "rel_order_priority",
    "doc_fingerprints",
    "doc_quality",
    "doc_langid",
    "doc_minhash_neardups",
    "doc_simhash_neardups",
    "doc_jaccard_pairs",
    "doc_repetition",
    "doc_contamination",
    "doc_global_shuffle",
    "doc_chunks",
    "doc_segment_dedup",
    "doc_incremental_dedup",
    "doc_unigram_logprob",
    "emb_topk_lsh_multi",
    "ts_rate_windowed",
    "ts_alarm_transitions",
    "ts_daily_rollup",
    "emb_topk_cosine",
    "emb_topk_lsh",
    # new in r4: the bounded as-of twins (show the pruned-scan win next
    # to ts_get_data / ts_locf_grid), sessionization, vocabulary audit
    "ts_get_data_bounded",
    "ts_locf_grid_bounded",
    "ts_sessions",
    "doc_vocab_topk",
    "doc_substring_dedup",
    "doc_bigram_logprob",
    "doc_quality_classifier",
    "emb_contamination",
    # clickstream analytics family + the Gopher rule filter
    "ev_funnel",
    "ev_retention",
    "ev_props_rollup",
    "ev_rolling_dau",
    "doc_gopher_rules",
    # viewer-side reductions pushed into the engine + two more join-heavy
    # relational shapes (Q10/Q16-style)
    "ts_twa",
    "ts_decimate",
    "rel_returned_items",
    "rel_supplier_parts",
    # r4b: distribution/outlier reductions, JL sketch, media near-dup
    "ts_histogram",
    "ts_outliers",
    "rel_disjunctive_revenue",
    "emb_project",
    "mm_near_dups",
    "ts_correlation",
    "doc_length_trim",
    "emb_pq_codes",
    "emb_ivfpq_topk",
    "ts_ramps",
    "ts_seasonal",
    "doc_paragraph_dedup",
    "ts_skew_counts",
    "ts_availability",
    "doc_blocklist",
    "ts_drift",
    "doc_heavy_hitters",
    "ev_transitions",
    "rel_promo_share",
    "ts_compression_report",
    "ts_level_shifts",
    "doc_winnow_pairs",
    "rel_large_orders",
    "ev_top_paths",
    "ts_related_corr",
    "rel_forecast_revenue",
    "emb_ann_recall",
    "ts_autocorr",
    "ts_interp_grid",
    # r6: content-defined chunking dedup, DSIR selection, rolling anomalies
    "doc_cdc_dup_chunks",
    "doc_dsir_scores",
    "ts_rolling_outliers",
    # r6b: SemDeDup, CCNet tiers, scalar-subquery relational shapes
    "emb_semantic_dedup",
    "doc_ccnet_buckets",
    "rel_part_value_share",
    "rel_top_supplier",
    "rel_idle_customers",
    "emb_prototype_scores",
    "doc_corpus_report",
    "doc_mixture_plan",
    "doc_ngram_diversity",
    "doc_oov_rates",
    "doc_pipeline_verdicts",
    "doc_budget_selection",
    "doc_dedup_shards",
    "rel_order_count_dist",
    "ts_lttb",
    "ev_inter_arrival",
    "ts_health_report",
    "doc_tokenizer_fertility",
    "doc_collocations",
    "rel_nation_trade",
    "doc_corpus_diff",
    "emb_pipeline_verdicts",
    "ev_cohort_value",
    # r7: persisted-components read-back lane (production dedup-shard shape)
    "doc_dedup_shards_indexed",
    "doc_splits_indexed",
    "doc_winnow_indexed",
    "rel_market_share",
    "rel_product_profit",
    "rel_small_qty_revenue",
    "doc_hapax_zipf",
    "doc_readability",
    "ev_attribution",
    "ev_session_stats",
    "emb_cell_quality",
    "doc_minhash_indexed",
    "emb_kmeans_refine",
    "ev_dau_anomalies",
    "doc_split_leakage",
    "ts_latest_bucketed",
    "rel_late_suppliers",
    "rel_ship_delay_dist",
    "rel_min_cost_supplier",
    "rel_dominant_suppliers",
    "emb_hard_negatives",
    "emb_knn_labels",
    "emb_gram_matrix",
    "rel_pagerank",
    "ts_xcorr_lag",
    "doc_bpe_pairs",
    "ts_flatlines",
    "ev_linear_attribution",
    "emb_dispersion",
    "ts_grid_pivot",
    "ev_position_attribution",
    "doc_graph_profile",
    "emb_corpus_drift",
    "doc_nb_audit",
    "ts_seasonal_anomalies",
    "doc_minhash_quality",
    "doc_component_splits",
    "doc_pack_sequences",
    "doc_quality_survivors",
    "ev_funnel_times",
    "doc_ccnet_indexed",
    # r8 additions
    "ctl_alert_upsert",
    "ts_get_data_bucketed",
    "ts_locf_bucketed",
    "ts_sessions_bucketed",
    "doc_survivors_indexed",
    "doc_bm25_topk",
    "rel_fuzzy_customers",
    "doc_soft_dedup",
    "doc_graph_profile_indexed",
    "doc_bm25_indexed",
    "doc_keyword_labels",
    # r9 additions: the sampling dial (vs doc_minhash_quality's full
    # truth set) and the hot-block drop report
    "doc_minhash_quality_sampled",
    "rel_fuzzy_blocks",
    # r9: hybrid retrieval (RRF over the BM25 + cosine lanes) and the
    # two-stage ADC→exact-rerank ANN shape
    "doc_hybrid_rrf",
    "emb_ivfpq_rerank",
    "emb_mmr_topk",
    "ts_ewma",
    "ts_ewma_bucketed",
    "emb_ivfpq_rerank_indexed",
    "emb_retrieval_eval",
    "ts_rollup_cube",
    "doc_bm25_prf",
    "emb_kpp_init",
    "doc_qld_topk",
    "doc_hybrid_rrf3",
    "rel_entity_resolution",
    "doc_bm25_multi",
    "rel_entity_resolution_indexed",
    "doc_snippets",
    "ts_seasonal_profile",
    "doc_triangles",
    "doc_related_terms",
    "emb_standardize",
    # r10 additions: the artifact read-back + incremental lanes, the
    # forecasting twin of ewma
    "doc_triangles_indexed",
    "doc_components_incremental",
    "ts_holt_linear",
    "ts_sax",
    "doc_rake_keyphrases",
    "emb_sq8_rerank",
    "emb_sq8_rerank_indexed",
    # r11 additions: the iSAX similarity lanes, the HOT-SAX discord
    # screen, the curation detectors
    "ts_holt_winters",
    "ts_sax_topk",
    "ts_sax_topk_indexed",
    "ts_discords",
    "doc_boilerplate",
    "doc_mojibake",
    "ts_forecast_eval",
    "ts_sax_recall",
    "ts_rollup_indexed",
    "ts_cusum",
    "ts_cusum_segments",
    "ts_cusum_target",
    "ts_sax_topk_auto",
    "ts_sax_health",
    "ts_sax_words_incremental",
    # r13 additions: the honest refresh split (artifact built once per
    # corpus, refresh timed alone), the warm-started CUSUM lane, and
    # the adaptive iSAX sizing branches
    "ts_sax_words_refresh_only",
    "ts_cusum_warm",
    "ts_sax_topk_auto_adaptive",
    "ts_sax_topk_auto_fence",
    "ts_discords_confirmed",
]


def bench_ingest(spark, tmp: str) -> float:
    """Streaming ingest throughput: the full archiver pipeline
    (compress → bucketed parquet append) over the sf events, availableNow.
    The reference's operational ceiling is ~750 inserts/s (BASELINE.md);
    this measures the engine's equivalent end-to-end path."""
    from pyspark.sql import functions as F

    from epicsarchiver_spark.catalog import points_view
    from epicsarchiver_spark.streaming.ingest import (
        archive_query,
        compressed_stream,
        ingest_session,
    )

    src = f"{tmp}/events_in"
    points_view(spark, SF_DIR).select("pvname", "time", "value").coalesce(4).write.mode(
        "overwrite"
    ).parquet(src)
    # state partitions sized from input volume, not core count (r14:
    # ingest_state_partitions — the stateful operator's per-partition
    # fixed costs made the bench-scale stream FASTER at 8 cores than 32;
    # the sizing rule is scale-adaptive, the stream runs on a sibling
    # session so the bench session's conf is untouched). Timing
    # methodology unchanged: same timed region, same availableNow run.
    s_ing = ingest_session(spark, src)
    stream = s_ing.readStream.schema("pvname string, time double, value double").parquet(src)
    t0 = time.perf_counter()
    q = (
        archive_query(
            compressed_stream(stream, deadtime=60.0, deadband=0.0, flush_ms=None),
            f"{tmp}/points_out",
            f"{tmp}/ckpt",
            buckets=32,
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    return time.perf_counter() - t0


def bench_store(spark, tmp: str) -> dict[str, float]:
    """Points-store read path: write the sf events as a run+bucket
    partitioned store once, then time pruned single-series range reads."""
    from epicsarchiver_spark.catalog import points_view
    from epicsarchiver_spark.sources.points_store import range_read_store, write_points

    path = f"{tmp}/store"
    pts = points_view(spark, SF_DIR).select("pvname", "time", "value")
    t0 = time.perf_counter()
    write_points(pts, path, run="run_001", n_buckets=32, mode="overwrite")
    t_write = time.perf_counter() - t0

    name = pts.select("pvname").head().pvname
    t0 = time.perf_counter()
    for _ in range(5):
        range_read_store(spark, path, name, 1.7045e9, 1.7055e9).write.format(
            "noop"
        ).mode("overwrite").save()
    t_read = (time.perf_counter() - t0) / 5
    return {"store_write": round(t_write, 4), "store_series_read": round(t_read, 4)}


def bench_lsh_highdim(spark, n: int = 20_000, dim: int = 768) -> float:
    """ANN at real embedding width: 20k synthetic 768-dim vectors →
    LSH-bucket top-k. Signatures are computed by the Arrow-batched GEMM
    UDF, so the logical plan stays flat in dim (the literal-hyperplane
    formulation put n_planes × dim nodes in the expression tree and
    collapsed at this width)."""
    from pyspark.sql import functions as F

    from epicsarchiver_spark.operators.similarity import lsh_bucket_topk

    vecs = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda i: (
                F.pmod(F.xxhash64(F.col("id"), i), F.lit(1000)).cast("double") / 500.0 - 1.0
            ),
        ).alias("embedding"),
    )
    vecs = vecs.persist()
    vecs.count()  # materialize: time the ANN query, not the synth generator
    query = [((7 * j) % 1000) / 500.0 - 1.0 for j in range(dim)]
    t0 = time.perf_counter()
    lsh_bucket_topk(vecs, query, k=10, n_planes=16, max_hamming=4).write.format(
        "noop"
    ).mode("overwrite").save()
    dt = time.perf_counter() - t0
    vecs.unpersist()
    return dt


MAX_STDOUT_LINE = 1400  # hard ceiling, well under the driver's 2,000-char tail


def final_stdout_line(timings: dict[str, float], sf: float) -> str:
    """The ONE stdout line the driver parses. Contract (broken in r4 AND
    r5, VERDICT r5 item 1): must fit the driver's 2,000-char tail-capture
    window with margin. The full medians live in BENCH_RUNS.json; the
    line carries only the slowest queries — as many as fit under
    MAX_STDOUT_LINE — so the schema keeps a "queries" dict without ever
    outgrowing the window regardless of how many queries are added."""
    total = round(sum(timings.values()), 4)
    by_cost = sorted(timings.items(), key=lambda kv: -kv[1])
    shown: dict[str, float] = {}
    line = ""
    for name, sec in by_cost:
        trial = dict(shown)
        trial[name] = sec
        candidate = json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "n_queries": len(timings),
                "queries": trial,
                "queries_note": "slowest shown; full medians in BENCH_RUNS.json",
            }
        )
        if len(candidate) > MAX_STDOUT_LINE:
            break
        shown = trial
        line = candidate
    if not line:  # degenerate: even one entry overflows — drop the dict
        line = json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "n_queries": len(timings),
                "queries": {},
            }
        )
    return line


def main() -> None:
    import shutil
    import tempfile

    import __spark_entry__ as entrymod
    from epicsarchiver_spark.session import get_spark

    spark = get_spark("epicsarchiver-bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    # warm the JVM + parquet footers so timings measure the queries
    qs["ts_range_read"](spark, SF_DIR).write.format("noop").mode("overwrite").save()

    from statistics import median

    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    raw: dict[str, list[float]] = {}
    for _ in range(n_runs):
        for name in HEADLINE:
            fn = qs.get(name)
            if fn is None:
                continue
            t0 = time.perf_counter()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            raw.setdefault(name, []).append(round(time.perf_counter() - t0, 4))
            # isolation: frames persisted inside one query's plan (winnow
            # fingerprints, LSH signatures, …) must not squat in executor
            # memory and evict/THROTTLE later queries — r5 saw a ~15-query
            # 1.2–1.6× drift with no code change in those queries
            # (VERDICT r5 item 2); every query pays its own cold cost.
            spark.catalog.clearCache()
            # ...and localCheckpoint RDDs (the iterative lanes' lineage
            # truncations) are NOT covered by clearCache — they free only
            # after the Python DataFrame objects are collected and the
            # ContextCleaner runs. Collect deterministically so a long
            # bench does not accrue dead RDD blocks that pressure the
            # end-of-suite queries (the r13 "end-of-bench drift"
            # adjudicated on emb_pipeline_verdicts/stream_ingest). Same
            # isolation rationale as the clearCache above; timing loop
            # unchanged (runs OUTSIDE the timed region).
            gc.collect()

    timings: dict[str, float] = {k: round(median(v), 4) for k, v in raw.items()}

    # single-run benches: long enough (≥5 s) to sit above the noise floor.
    # They run AFTER the 216-query loop — give them the same isolation the
    # loop gives every query (clearCache + deterministic collection of
    # dead checkpoint RDDs), or they inherit the whole suite's residue:
    # these single-shot lanes were the r13 adjudicated end-of-bench
    # drifters (d768 LSH 1.9 s isolated vs 6-10 s in-bench).
    spark.catalog.clearCache()
    gc.collect()
    timings["emb_topk_lsh_d768"] = round(bench_lsh_highdim(spark), 4)

    tmp = tempfile.mkdtemp(prefix="pvarch_bench_")
    try:
        timings["stream_ingest_pipeline"] = round(bench_ingest(spark, tmp), 4)
        timings.update(bench_store(spark, tmp))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    # Raw per-run samples AND the full per-query medians dict go to a side
    # file + stderr, NOT the final stdout line: the driver tail-captures
    # only the last 2,000 chars of stdout. r4 broke it by embedding the
    # 89×3 query_runs arrays (VERDICT r4 item 1); r5 broke it AGAIN by
    # leaving the 88-entry medians dict on the line — 2,489 chars
    # (VERDICT r5 item 1). The stdout contract is ONE compact line,
    # built by final_stdout_line() and unit-capped at <1,500 chars
    # (tests/test_bench_contract.py).
    runs_payload = json.dumps(
        {"runs_per_query": n_runs, "query_runs": raw, "medians": timings}
    )
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_RUNS.json"), "w"
        ) as fh:
            fh.write(runs_payload + "\n")
    except OSError:
        pass
    print(runs_payload, file=sys.stderr)
    print(final_stdout_line(timings, float(sf)))
    spark.stop()


if __name__ == "__main__":
    main()
