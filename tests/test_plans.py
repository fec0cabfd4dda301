"""Physical-plan shape assertions for the headline queries: broadcasts
where dimensions are small, map-side partial aggregation, pushdown — the
"would this survive 100×" checks, enforced as tests."""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entrymod
from epicsarchiver_spark.plans import explain_str, pushed_filters
from tests.conftest import SF_ORACLE


def _plan(spark, name: str) -> str:
    return explain_str(entrymod.queries()[name](spark, SF_ORACLE))


def test_regional_revenue_broadcasts_dimensions(spark):
    plan = _plan(spark, "rel_regional_revenue")
    assert len(re.findall(r"BroadcastHashJoin", plan)) >= 3, plan[:2000]
    # the fact table shuffles once for the aggregate, not for the joins
    assert "SortMergeJoin" not in plan or plan.count("SortMergeJoin") <= 1


def test_pricing_summary_partial_aggregation(spark):
    plan = _plan(spark, "rel_pricing_summary")
    assert "partial_" in plan, "no map-side partial aggregate"


def test_range_read_pushes_time_filter(spark):
    df = entrymod.queries()["ts_range_read"](spark, SF_ORACLE)
    filters = pushed_filters(df)
    assert any("ts" in f or "time" in f for f in filters), filters


def test_meta_join_is_broadcast(spark):
    plan = _plan(spark, "ts_meta_join")
    assert "BroadcastHashJoin" in plan


def test_top_orders_uses_take_ordered(spark):
    plan = _plan(spark, "rel_top_orders")
    assert "TakeOrderedAndProject" in plan, "top-k should not be a global sort"


def test_latest_uses_hash_aggregate_not_window(spark):
    """latest_per_key is max_by (hash agg + partial), not a sort window."""
    plan = _plan(spark, "ts_latest")
    assert "Window" not in plan
    assert re.search(r"(HashAggregate|SortAggregate)", plan)


def test_anti_join_stays_anti(spark):
    plan = _plan(spark, "rel_orders_no_lineitem")
    assert "LeftAnti" in plan


def test_banded_cosine_candidates_equi_join(spark):
    """The banded near-dup operator's candidate generation must plan as a
    hash equi-join on (band, bits) — never a nested-loop/cartesian pair
    blow-up (that is exactly what banding exists to avoid)."""
    plan = _plan(spark, "emb_cosine_neardups_banded")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert re.search(r"(ShuffledHashJoin|SortMergeJoin|BroadcastHashJoin)", plan)


def test_lsh_plan_size_flat_in_dim(spark):
    """The hyperplane signature must NOT inline n_planes × dim literal
    nodes: plan text at dim 512 stays within 2× of dim 8 (the literal
    formulation grew ~64×)."""
    from pyspark.sql import functions as F

    from epicsarchiver_spark.operators.similarity import lsh_bucket_topk

    def plan_at(dim):
        vecs = spark.range(50).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(dim)),
                lambda i: (F.pmod(F.xxhash64(F.col("id"), i), F.lit(100)).cast("double")),
            ).alias("embedding"),
        )
        q = [float((3 * j) % 7 + 1) for j in range(dim)]
        return explain_str(lsh_bucket_topk(vecs, q, k=5, n_planes=8, max_hamming=1))

    small, large = len(plan_at(8)), len(plan_at(512))
    assert large < 2 * small + 20_000, (small, large)


def test_banded_cosine_shuffles_ids_not_vectors(spark):
    """Candidate generation must move only (id, band, bits) — the
    embedding vector is re-attached after the pair dedup, so the explode/
    join exchanges must not carry the array column."""
    plan = _plan(spark, "emb_cosine_neardups_banded")
    gen = plan.split("Generate")  # the explode node
    assert len(gen) > 1, plan[:1500]
    # between the explode and the first join there must be no vector col;
    # cheap proxy: the Generate node's output lists only scalar cols
    gen_node = gen[1].split("\n")[0]
    assert "v#" not in gen_node.replace("vec", ""), gen_node


def test_cull_loop_reads_predecessor_cache(spark):
    """cull_data's driver loop must persist each pass: pass N's plan reads
    pass N-1's in-memory materialization, not the raw scan re-derived
    (which is quadratic work in pass count)."""
    from epicsarchiver_spark.operators import cull

    df = entrymod.queries()["ts_cull_full"](spark, SF_ORACLE)
    plan = explain_str(df)
    assert "InMemoryTableScan" in plan, plan[:2000]
    # the final frame's lineage must NOT contain the parquet scan — only
    # the cached predecessor
    assert "Scan parquet" not in plan.split("InMemoryTableScan")[0]
    df.unpersist()


def test_instrument_restore_pushes_membership(spark):
    """Literal member lists compile to an In() predicate pushed at the
    scan — no join for the typical tens-of-PVs instrument."""
    df = entrymod.queries()["ts_instrument_restore"](spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


def test_upsert_below_the_bound_opens_no_base_file(spark, tmp_path):
    """A cache batch whose delta stays below the fold bound plans no read
    of the base: with every base data file replaced by junk of the same
    size, the upsert still lands its one delta file, while a read of
    the cache, which does open the base, fails."""
    import glob
    import os

    from epicsarchiver_spark.streaming.ingest import read_cache, upsert_latest

    cache = str(tmp_path / "cache")
    schema = "pvname string, time double, value double"
    upsert_latest(spark.createDataFrame([(f"PV{i}", 1.0, 1.0) for i in range(400)], schema), cache)
    base = glob.glob(f"{cache}/bucket=0/*.parquet")
    assert base
    for path in base:
        size = os.path.getsize(path)
        with open(path, "wb") as fh:
            fh.write(b"\0" * size)
    upsert_latest(spark.createDataFrame([("PV0", 2.0, 2.0)], schema), cache)
    assert [os.path.basename(p) for p in glob.glob(f"{cache}/_delta/*")] == ["1.parquet"]
    with pytest.raises(Exception):
        read_cache(spark, cache).collect()


def test_global_shuffle_windows_per_bucket_not_globally(spark):
    """The stable-index window must partition by the hash bucket — a
    global ORDER BY row_number would be a single-partition sort."""
    plan = _plan(spark, "doc_global_shuffle")
    assert "hashpartitioning(_b" in plan, plan[:2000]
    assert "BroadcastHashJoin" in plan  # offsets re-attach is broadcast


def test_contamination_broadcasts_benchmark(spark):
    plan = _plan(spark, "doc_contamination")
    assert "BroadcastHashJoin" in plan, plan[:2000]


def _assert_no_jobs_during(spark, build, group: str):
    """Building a DataFrame must be plan-only: zero Spark jobs. Catches
    eager driver actions (.count()/.first() probes) hidden in operator
    constructors — at scale every such action is a full extra job before
    the real one starts."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "plan-only construction")
    try:
        df = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    return df


def test_tfidf_builds_without_eager_count(spark):
    """tfidf_top_terms must derive N inside the job (broadcast 1-row
    cross join), not via an eager docs.count() scan."""
    from epicsarchiver_spark.operators import text_ops

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    df = _assert_no_jobs_during(
        spark, lambda: text_ops.tfidf_top_terms(docs, k=3), "tfidf-plan-only"
    )
    plan = explain_str(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan[:2000]


def test_banded_cosine_builds_without_dim_probe(spark):
    """cosine_near_duplicates_banded with dim=None must not run a
    .first() probe job — planes are derived executor-side."""
    from epicsarchiver_spark.operators import similarity

    vecs = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    _assert_no_jobs_during(
        spark,
        lambda: similarity.cosine_near_duplicates_banded(vecs, threshold=0.5),
        "banded-plan-only",
    )


def test_bounded_asof_prunes_seed_scan(spark):
    """The heartbeat-bounded as-of read must apply time >= t0 - lookback
    BEFORE the per-series window sort — at 100 TB that bound is the
    difference between windowing two days and windowing all history.
    (On the events harness view `time` is derived from `ts`, so the
    bound lands as an early Filter, not in PushedFilters — the physical
    points store has a real double `time` column and gets true scan
    pushdown, asserted in test_facade_defaults_to_heartbeat_lookback.)"""
    import __spark_entry__ as em

    lo = em.T0 - em.ASOF_LOOKBACK
    # Java renders the double in scientific notation (1.7043264E9)
    forms = (f">= {lo}", f">= {int(lo)}", f">= {lo / 1e9}E9")

    plan = explain_str(entrymod.queries()["ts_get_data_bounded"](spark, SF_ORACLE))
    assert any(f in plan for f in forms), plan[:3000]

    gplan = explain_str(entrymod.queries()["ts_locf_grid_bounded"](spark, SF_ORACLE))
    assert any(f in gplan for f in forms), gplan[:3000]


def test_facade_defaults_to_heartbeat_lookback(spark, tmp_path):
    """PVArchEngine.get_data's DEFAULT plan must push the bounded seed
    scan (lookback='auto' → 2×heartbeat_s) down to the parquet scan of a
    physical points store, and heartbeat_s=None must restore the
    unbounded seed scan."""
    import pandas as pd

    from epicsarchiver_spark.api import PVArchEngine

    path = str(tmp_path / "pts")
    pdf = pd.DataFrame(
        [("P1", float(t), 1.0) for t in range(0, 5000, 50)],
        columns=["pvname", "time", "value"],
    )
    spark.createDataFrame(pdf).write.parquet(path)
    pts = spark.read.parquet(path)

    # heartbeat 1000 → lookback 2000 → seed scan bound = 3000 - 2000
    bounded = " ".join(
        pushed_filters(PVArchEngine(spark, pts, heartbeat_s=1000.0).get_data("P1", 3000.0, 4000.0))
    )
    assert "GreaterThanOrEqual(time" in bounded and "1000.0" in bounded, bounded

    unbounded = " ".join(
        pushed_filters(PVArchEngine(spark, pts, heartbeat_s=None).get_data("P1", 3000.0, 4000.0))
    )
    assert "1000.0" not in unbounded, unbounded  # only the range bounds remain


def _jobs_and_tasks(spark, group: str, action):
    """Run ``action`` under a fresh job group; (result, jobs, tasks)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = [s for j in jobs for s in st.getJobInfo(j).stageIds]
    return out, len(jobs), sum(st.getStageInfo(s).numTasks for s in stages)


def test_single_series_reads_run_one_scan_in_one_job(spark, tmp_path):
    """On a recorded 2-run store, PVArchEngine.get_data plans one parquet
    scan and no Exchange, and its collect is one job of one task (the
    seed comes from the same scan); get_value_at_time is one job too."""
    import pandas as pd

    from epicsarchiver_spark.api import PVArchEngine
    from epicsarchiver_spark.sources.points_store import read_points, write_points

    path = str(tmp_path / "pts")
    for run, lo in (("run_001", 0), ("run_002", 2500)):
        pdf = pd.DataFrame(
            [(pv, float(t), 1.0) for pv in ("P1", "P2", "P3") for t in range(lo, lo + 2500, 50)],
            columns=["pvname", "time", "value"],
        )
        write_points(spark.createDataFrame(pdf), path, run=run, n_buckets=4)
    eng = PVArchEngine(spark, read_points(spark, path))

    df = eng.get_data("P1", 2400.0, 2600.0)
    rows, jobs, tasks = _jobs_and_tasks(spark, "single-pv-get-data", df.collect)
    assert [r.time for r in rows] == [2350.0 + 50 * i for i in range(6)]
    assert (jobs, tasks) == (1, 1)
    plan = explain_str(df)
    assert "Exchange" not in plan, plan
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1, plan

    got, jobs, _ = _jobs_and_tasks(
        spark, "single-pv-value-at", lambda: eng.get_value_at_time("P1", 2512.0)
    )
    assert got == (2500.0, 1.0) and jobs == 1


def test_single_series_read_with_deltas_pending_prunes_to_its_bucket(spark, tmp_path):
    """With small appends pending in a run's delta partition, a pruned
    single-PV get_data lists only the PV's bucket and the delta
    partition (bucket IN (k, -1)), plans no Exchange, runs one job, and
    returns the appended rows."""
    import pandas as pd
    from pyspark.sql import functions as F

    from epicsarchiver_spark.api import PVArchEngine
    from epicsarchiver_spark.sources.points_store import bucket_of, read_points, write_points

    def frame(lo, hi):
        pdf = pd.DataFrame(
            [(pv, float(t), 1.0) for pv in ("P1", "P2", "P3") for t in range(lo, hi, 50)],
            columns=["pvname", "time", "value"],
        )
        return spark.createDataFrame(pdf)

    path = str(tmp_path / "pts")
    write_points(frame(0, 2500), path, run="run_001", n_buckets=4)
    for lo in (2500, 2600):
        write_points(frame(lo, lo + 100), path, run="run_001", n_buckets=4)
    assert len(list((tmp_path / "pts" / "run=run_001" / "bucket=-1").glob("*.parquet"))) == 2
    eng = PVArchEngine(spark, read_points(spark, path))
    k = spark.range(1).select(bucket_of(F.lit("P1"), 4)).head()[0]

    df = eng.get_data("P1", 2400.0, 2700.0)
    rows, jobs, _ = _jobs_and_tasks(spark, "single-pv-get-data-delta", df.collect)
    assert [r.time for r in rows] == [2350.0 + 50 * i for i in range(7)]
    assert jobs == 1
    plan = explain_str(df)
    assert "Exchange" not in plan, plan
    (filters,) = re.findall(r"PartitionFilters: \[(.*)\]", plan)
    (listed,) = re.findall(r"bucket#\d+ IN \(([^)]*)\)", filters)
    assert {int(v) for v in listed.split(",")} == {k, -1}, filters


def test_vocab_topk_is_take_ordered_no_count_distinct(spark):
    """vocabulary_topk: the final top-k must plan as
    TakeOrderedAndProject (per-partition heaps, no global sort) and df
    must come from a plain count over pre-distinct (doc, term) rows —
    no `expand`-based count-distinct in the plan."""
    plan = _plan(spark, "doc_vocab_topk")
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "Expand" not in plan, plan[:2000]


def test_sessionize_single_exchange(spark):
    """sessionize keys both the window and the aggregate on the series:
    exactly one shuffle on pvname feeds the whole plan."""
    plan = _plan(spark, "ts_sessions")
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 1, f"{n_exchanges} exchanges\n" + plan[:2000]


def test_minhash_builds_without_eager_count(spark):
    """minhash_candidates must be plan-only at construction: the old
    cache-priming sigs.count() was one driver-blocking full scan before
    the real job (r3 VERDICT nit #1)."""
    from epicsarchiver_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    _assert_no_jobs_during(
        spark, lambda: dedup.minhash_candidates(docs, shingle_k=2), "minhash-plan-only"
    )


def test_lsh_multi_probe_is_broadcast_equi_join(spark):
    """Multi-probe ANN must candidate-generate via a broadcast hash
    equi-join on the exploded hamming ball — a bit_count theta-join
    would plan as a nested loop over probes × corpus."""
    plan = _plan(spark, "emb_topk_lsh_multi")
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_lsh_single_query_is_joinless_set_filter(spark):
    """The single-query small-ball path is a plain ``sig IN (ball)``
    filter: NO join of any kind (the r4 broadcast-ball equi-join paid a
    broadcast-build job + a 37-row createDataFrame per query — ~2× the
    wall time at sf0.1), and no full-corpus bit_count theta-filter
    either (r3 VERDICT nit #2): the candidate cut must be an IN-set on
    the signature column."""
    plan = _plan(spark, "emb_topk_lsh")
    assert " IN " in plan or "INSET" in plan.upper(), plan[:2000]
    assert "bit_count" not in plan
    # assert on concrete join operators, not the bare substring "Join"
    # (plan-format text like "subquery reuse" notes could contain it)
    for op in (
        "BroadcastHashJoin",
        "SortMergeJoin",
        "ShuffledHashJoin",
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
    ):
        assert op not in plan, plan[:2000]


def test_value_histogram_broadcasts_ranges_and_partials(spark):
    plan = _plan(spark, "ts_histogram")
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "partial_" in plan  # both aggregates combine map-side


def test_robust_outliers_single_scan_single_exchange(spark):
    """r13: median and MAD are whole-partition window aggregates over
    one series-keyed exchange — the former aggregate-and-join-back pair
    scanned the points 3× and shipped every value through its exact-
    median partials anyway (no shuffle saving to show for the scans)."""
    plan = _plan(spark, "ts_outliers")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan[:2000]
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan[:2000]
    assert "Join" not in plan, plan[:2000]


def test_ivfpq_topk_is_take_ordered(spark):
    plan = _plan(spark, "emb_ivfpq_topk")
    assert "TakeOrderedAndProject" in plan, plan[:1500]


def test_heavy_hitters_prefilters_before_exact_aggregate(spark):
    plan = _plan(spark, "doc_heavy_hitters")
    # the sketch-estimate filter must sit BELOW the final hash aggregate
    # (tokens drop before the shuffle) — assert a Filter on the literal
    # sketch arrays precedes the aggregate on term
    agg_at = plan.find("HashAggregate")
    filt_at = plan.find("Filter")
    assert agg_at != -1 and filt_at != -1
    assert "least(" in plan.lower() or "element_at" in plan.lower(), plan[:1200]


def test_near_dup_media_joins_on_blocks_not_all_pairs(spark):
    plan = _plan(spark, "mm_near_dups")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan), plan[:1500]


def test_correlation_gemm_single_block_shuffle(spark):
    plan = _plan(spark, "ts_correlation")
    # the pair blow-up lives inside applyInPandas (FlatMapGroupsInPandas);
    # no join between grid copies appears in the plan
    assert "FlatMapGroupsInPandas" in plan, plan[:1500]
    assert "SortMergeJoin" not in plan.split("FlatMapGroupsInPandas")[0]


def test_skew_counts_two_stage_partials(spark):
    plan = _plan(spark, "ts_skew_counts")
    assert plan.count("HashAggregate") >= 3, plan[:1500]  # partial+final × 2 stages


def test_forecast_revenue_pushes_all_three_ranges(spark):
    from epicsarchiver_spark.operators.relational import forecast_revenue
    from epicsarchiver_spark.plans import pushed_filters

    df = forecast_revenue(spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet"))
    filters = " ".join(pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in filters, filters


def test_shingle_basis_hashes_tokens_exactly_once(spark):
    """The layered-projection contract of _shingle_basis_frame (r6): the
    per-token hash pipeline must appear EXACTLY ONCE in the optimized
    plan. The single-expression form let CollapseProject clone the
    tokenize+hash pipeline into every one of the fold's k+1 references —
    measured ~4× the basis CPU at sf0.1 even for k=2 (md5 basis
    1.7 s → 0.4 s after layering). A count > 1 here means a refactor
    reintroduced the clone."""
    from epicsarchiver_spark.catalog import load_table
    from epicsarchiver_spark.operators import dedup

    docs = load_table(spark, SF_ORACLE, "documents")
    md5_plan = (
        dedup.minhash_signatures(docs, shingle_k=2, basis="md5")
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert md5_plan.count("md5") == 1, md5_plan[:3000]
    xx_plan = (
        dedup._shingle_basis_frame(docs, "text", "doc_id", 2, "xxhash")
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert xx_plan.count("xxhash64") == 1, xx_plan[:3000]


def test_duplicated_spans_single_fold_single_exchange(spark):
    """duplicated_spans (r6): the occurrence count is a window over h —
    ONE evaluation of the md5 fold and ONE exchange; the old
    groupBy+semi-join shape evaluated the fold once per join branch."""
    from epicsarchiver_spark.catalog import load_table
    from epicsarchiver_spark.operators import dedup

    docs = load_table(spark, SF_ORACLE, "documents")
    q = dedup.duplicated_spans(docs, window=8)._jdf.queryExecution()
    opt = q.optimizedPlan().toString()
    assert opt.count("md5") == 1, opt[:3000]
    phys = q.executedPlan().toString()
    import re as _re

    assert len(_re.findall(r"Exchange hashpartitioning", phys)) == 1, phys[:3000]


def test_cdc_single_fold_bounded_exchanges(spark):
    """CDC lane (r6): each operator evaluates the md5 token fold exactly
    once; chunk signatures run through ONE hash exchange (running
    boundary count; the chunk aggregate reuses its partitioning) and
    corpus-level dup grouping adds exactly one more."""
    import re as _re

    from epicsarchiver_spark.catalog import load_table
    from epicsarchiver_spark.operators import dedup

    docs = load_table(spark, SF_ORACLE, "documents")
    for build, max_ex in (
        (lambda: dedup.cdc_chunk_signatures(docs), 1),
        (lambda: dedup.cdc_duplicate_chunks(docs), 2),
    ):
        qe = build()._jdf.queryExecution()
        assert qe.optimizedPlan().toString().count("md5") == 1
        n = len(_re.findall(r"Exchange hashpartitioning", qe.executedPlan().toString()))
        assert n <= max_ex, (n, max_ex)


def test_cell_sample_uses_window_group_limit(spark):
    """The per-cell quota filter must compile to WindowGroupLimit: each
    map partition keeps only its top-per_cell rows BEFORE the exchange —
    shuffle volume partitions × cells × quota, not the corpus."""
    from epicsarchiver_spark.catalog import load_table
    from epicsarchiver_spark.operators.similarity import cell_balanced_sample

    df = cell_balanced_sample(
        load_table(spark, SF_ORACLE, "embeddings"), per_cell=4, n_cells=8, dim=64
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan[:2000]


def test_scalar_subquery_shapes_broadcast_the_one_row_frames(spark):
    """Q11/Q15/Q22 adaptations: the scalar aggregate (total / max / avg)
    must ride a BroadcastNestedLoopJoin or broadcast exchange — never a
    shuffled cartesian — and the dimension joins must broadcast."""
    for name in ("rel_part_value_share", "rel_top_supplier", "rel_idle_customers"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, (
            name,
            plan[:1500],
        )


def test_semantic_dedup_one_cell_shuffle_no_pair_join(spark):
    """The pair space must live inside the per-cell GEMM, not the plan:
    no join of any kind, exactly one exchange (the cell-keyed shuffle
    feeding applyInPandas)."""
    plan = _plan(spark, "emb_semantic_dedup")
    for op in (
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
        "SortMergeJoin",
        "ShuffledHashJoin",
        "BroadcastHashJoin",
    ):
        assert op not in plan, op
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan[:1500]
    assert "FlatMapGroupsInPandas" in plan


def test_ccnet_buckets_has_no_global_single_partition_window(spark):
    """The ntile decomposition must not funnel the corpus through one
    task: every Window over doc-keyed rows is partitioned (the only
    unpartitioned window runs on the distinct-score frame, which is
    bounded); assert no `Window` whose partition spec is empty operates
    directly on the exploded doc frame by checking the doc-side window
    carries a partitionBy on the score."""
    plan = _plan(spark, "doc_ccnet_buckets")
    # row_number window partitioned by score: Spark renders the partition
    # spec inside the Window operator arguments
    assert "row_number" in plan
    m = re.search(r"Window \[row_number\(\).*?\]", plan)
    assert m is None or "partitionBy" not in m.group(0) or "mean_neg_logprob" in m.group(0)
    # r7 structural bound: every UNPARTITIONED window consumes only the
    # per-range-partition totals (_pt, ≤64 rows by construction) — never
    # the distinct-score frame, whose size is data-dependent
    _assert_unpartitioned_windows_bounded(plan)


def _assert_unpartitioned_windows_bounded(plan: str) -> None:
    wins = re.findall(r"\(\d+\) Window\nInput[^\n]*\nArguments: ([^\n]*)", plan)
    # a partitioned Window renders THREE bracket groups ([exprs],
    # [partition], [order]); with an empty partition spec the middle
    # group is omitted and only two remain
    unpart = [w for w in wins if w.count("], [") == 1]
    assert unpart, "expected the bounded offsets window in the plan"
    for w in unpart:
        assert "sum(_pt" in w, f"unpartitioned window over a non-bounded frame: {w}"


def test_prototype_scores_broadcasts_cells_frame(spark):
    plan = _plan(spark, "emb_prototype_scores")
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "partial_avg" in plan or "partial_" in plan  # centroid map-side partials


def test_budget_selection_no_corpus_global_window(spark):
    """The only unpartitioned running-sum window must consume the
    distinct-score aggregate, never doc-keyed rows: assert the doc-side
    cum-sum window is partitioned by the score column."""
    plan = _plan(spark, "doc_budget_selection")
    wins = re.findall(r"\(\d+\) Window\nInput[^\n]*\nArguments: ([^\n]*)", plan)
    assert wins, plan[:1500]
    doc_wins = [w for w in wins if "sum(n_tokens" in w]
    assert doc_wins and all(
        "quality_prob" in w.split("], [", 1)[1] for w in doc_wins
    ), doc_wins
    # r7 structural bound: the only unpartitioned window consumes the
    # ≤64-row per-range-partition totals, never doc or score rows
    _assert_unpartitioned_windows_bounded(plan)


def test_pipeline_verdicts_single_spine_join(spark):
    """Drop lists reduce to (id, pri) before the merge: the final stage
    must be ONE left join onto the id spine (plus the per-stage internal
    joins), with no cartesian anywhere."""
    plan = _plan(spark, "doc_pipeline_verdicts")
    assert "CartesianProduct" not in plan


def test_oov_rates_vocab_is_take_ordered_and_broadcast(spark):
    plan = _plan(spark, "doc_oov_rates")
    assert "TakeOrderedAndProject" in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_nation_trade_broadcasts_all_dims(spark):
    """Q7 shape: supplier/customer/nation chains broadcast; only the
    orders join may shuffle the fact."""
    plan = _plan(spark, "rel_nation_trade")
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"BroadcastHashJoin", plan)) >= 2, plan[:2000]
    assert plan.count("SortMergeJoin") <= 1, plan[:2000]


def test_market_share_single_fact_pass_and_broadcast_dims(spark):
    """Q8 shape: part/supplier/customer-region chains broadcast; the
    fact scans ONCE (the share is a conditional sum, not two scans);
    only the orders join may shuffle."""
    plan = _plan(spark, "rel_market_share")
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"BroadcastHashJoin", plan)) >= 3, plan[:2000]
    assert plan.count("SortMergeJoin") <= 1, plan[:2000]
    # one lineitem scan: the conditional-sum decomposition, not a rescan
    # (formatted plans name the file only in the detail Location line)
    assert len(re.findall(r"Location:[^\n]*lineitem", plan)) == 1, plan[:2000]


def test_product_profit_broadcast_dims(spark):
    plan = _plan(spark, "rel_product_profit")
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"BroadcastHashJoin", plan)) >= 2, plan[:2000]
    assert plan.count("SortMergeJoin") <= 1, plan[:2000]


def test_small_qty_revenue_threshold_is_broadcast_aggregate(spark):
    """Q17's correlated scalar subquery must be one per-part aggregate
    joined back broadcast — never a per-row rescan / nested loop."""
    plan = _plan(spark, "rel_small_qty_revenue")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_kmeans_refine_broadcast_cells_no_cartesian(spark):
    """The reassignment cross join must build on the |cells|-row
    centroid frame (BroadcastNestedLoopJoin over a BroadcastExchange),
    never a CartesianProduct over vectors."""
    plan = _plan(spark, "emb_kmeans_refine")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan, plan[:2000]
    # the max_by reassignment reduces map-side
    assert "partial_max_by" in plan or "partial_" in plan


def test_hapax_zipf_rank_window_partitioned_by_source(spark):
    plan = _plan(spark, "doc_hapax_zipf")
    wins = re.findall(r"\(\d+\) Window\nInput[^\n]*\nArguments: ([^\n]*)", plan)
    rank_wins = [w for w in wins if "row_number" in w]
    assert rank_wins and all("source" in w.split("], [", 1)[1] for w in rank_wins)


def test_late_suppliers_window_reuses_join_partitioning(spark):
    """Q21 shape at scale: with broadcasts off (the 100-TB regime),
    the (order, supplier) reduce and both per-order window counts must
    reuse the sort-merge join's HashPartitioning(l_orderkey) — no
    fact-sized Exchange between the join and the Window — and the
    top-k must be TakeOrderedAndProject, not a global sort."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, "rel_late_suppliers")
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    # in the formatted tree (top-down), the span between the Window and
    # the fact SortMergeJoin is the (order, supplier) reduce — it must
    # carry no Exchange (the join's orderkey partitioning satisfies it)
    tree = plan.split("\n\n", 1)[0].splitlines()
    i_win = next(i for i, ln in enumerate(tree) if "Window" in ln)
    i_join = next(i for i, ln in enumerate(tree) if "SortMergeJoin" in ln)
    assert i_win < i_join, plan[:2000]
    span = "\n".join(tree[i_win:i_join])
    assert "Exchange" not in span, span


def test_ship_delay_dist_single_fact_shuffle(spark):
    """Q12 shape: one equi-join on orderkey, conditional dual count in
    ONE aggregate pass (no second fact scan, no Expand)."""
    plan = _plan(spark, "rel_ship_delay_dist")
    assert "CartesianProduct" not in plan
    assert "Expand" not in plan
    assert "partial_" in plan, "aggregate must reduce map-side"
    assert len(re.findall(r"Location:[^\n]*lineitem", plan)) == 1, plan[:2000]


def test_pack_sequences_no_corpus_global_window(spark):
    """The packing offsets must use the two-level decomposition: the
    only unpartitioned window consumes the per-bucket token totals
    (16^hex_digits tiny rows), never the corpus-sized chunk frame."""
    plan = _plan(spark, "doc_pack_sequences")
    wins = re.findall(r"\(\d+\) Window\nInput[^\n]*\nArguments: ([^\n]*)", plan)
    assert wins, plan[:2000]
    unpart = [w for w in wins if "windowspecdefinition(_b" not in w]
    for w in unpart:
        assert "_t" in w, w
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan[:1500]


def test_quality_survivors_hash_agg_winner_no_global_window(spark):
    """The per-group winner must be a max_by hash aggregate (map-side
    partials), never a corpus-ordered window; no cartesian anywhere."""
    plan = _plan(spark, "doc_quality_survivors")
    assert "CartesianProduct" not in plan
    assert "partial_max_by" in plan, plan[:2000]
    # the only Window ops allowed are inside the (drop-edge-sized) CC
    # lineage, which is checkpointed away — the final plan has none
    assert "Window" not in plan, plan[:2000]


def test_min_cost_supplier_windowgrouplimit_and_broadcasts(spark):
    """Q2 analog: the rank()==1 min-cost filter must compile to
    WindowGroupLimit (map-side top-1 with ties before the shuffle) and
    every dimension chain must broadcast — the fact pair frame is the
    only thing that shuffles."""
    plan = _plan(spark, "rel_min_cost_supplier")
    assert "WindowGroupLimit" in plan, plan[:2000]
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_dominant_suppliers_pushdown_and_broadcasts(spark):
    """Q20 analog: date-range predicate reaches the fact scan, the
    promoted-part filter broadcasts into it, and no join degenerates to
    sort-merge or nested-loop."""
    df = entrymod.queries()["rel_dominant_suppliers"](spark, SF_ORACLE)
    filters = pushed_filters(df)
    assert any("l_shipdate" in f for f in filters), filters
    plan = explain_str(df)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize("name", ["emb_hard_negatives", "emb_knn_labels"])
def test_label_aware_gemm_ops_one_cell_shuffle_no_pair_join(spark, name):
    """hard_negatives / knn_labels reuse semantic_dedup's pair fence:
    the quadratic space lives inside the per-cell GEMM — no join
    operator of any kind, exactly one exchange (the cell-keyed shuffle
    feeding applyInPandas)."""
    plan = _plan(spark, name)
    for op in (
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
        "SortMergeJoin",
        "ShuffledHashJoin",
        "BroadcastHashJoin",
    ):
        assert op not in plan, op
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan[:1500]
    assert "FlatMapGroupsInPandas" in plan


def test_gram_matrix_no_join_one_partial_exchange(spark):
    """The Gram op must move only the tiny per-partition partial frames:
    no join, no posexplode pair blow-up, exactly one exchange feeding
    the final hash aggregate, with map-side partial aggregation."""
    plan = _plan(spark, "emb_gram_matrix")
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "Generate" not in plan, "posexplode blow-up crept in"
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan[:1500]
    assert "partial_" in plan


def test_dispersion_no_pairs_no_joins(spark):
    """The diversity metric must come from the sum-vector identity —
    no join operator anywhere, shuffles only the (cell, pos) partial
    frame (corpus-size independent)."""
    plan = _plan(spark, "emb_dispersion")
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "partial_" in plan


def test_grid_pivot_single_aggregate_no_pivot_shuffle_blowup(spark):
    """The wide matrix is ONE groupBy(t) with conditional aggregates —
    no join per column, no Expand."""
    plan = _plan(spark, "ts_grid_pivot")
    assert "Join" not in plan.replace("ASOF", "")  # locf grid uses windows, not joins
    assert "Expand" not in plan
    assert "partial_" in plan


def test_xcorr_lag_broadcasts_pairs_no_cartesian(spark):
    """The candidate pair list must broadcast onto the grid and the lag
    join must stay an equi-join on integer indices."""
    plan = _plan(spark, "ts_xcorr_lag")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_flatlines_single_series_exchange(spark):
    """Windows and both aggregates of the island computation must share
    ONE series-keyed exchange (plus AQE reads) — no join anywhere."""
    plan = _plan(spark, "ts_flatlines")
    assert "Join" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2, plan[:1500]


def test_linear_attribution_no_expand_no_cartesian(spark):
    """The touch expansion is a user-keyed equi-join with range
    residuals; the distinct-conversion count must come from the
    two-level aggregate, never a count-distinct Expand."""
    plan = _plan(spark, "ev_linear_attribution")
    assert "Expand" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_nb_audit_no_cartesian_blowup(spark):
    """The V×K weight build uses broadcast crosses of the tiny class /
    V frames — never a nested-loop between corpus-sized frames; the
    argmax window partitions on the doc id."""
    plan = _plan(spark, "doc_nb_audit")
    assert "CartesianProduct" not in plan
    # the only nested-loop joins are the broadcast one-row/`classes`
    # frames (the documented scalar-cross pattern)
    assert plan.count("SortMergeJoin") <= 2, plan[:1500]


def test_seasonal_anomalies_bounded_aggregates(spark):
    """Baseline and MAD passes are keyed aggregates; the per-series
    stats re-attach as broadcasts — no corpus-sized window, no
    cartesian."""
    plan = _plan(spark, "ts_seasonal_anomalies")
    assert "CartesianProduct" not in plan
    assert "partial_" in plan


def test_corpus_drift_only_cell_sized_joins(spark):
    """Both releases reduce to |cells|-row frames before any join. The
    full-outer cell merge cannot broadcast (outer side must shuffle),
    so a sort-merge join on the TINY cell frames is the expected shape
    — the pin is that nothing corpus-sized joins and no cartesian
    appears (the one BroadcastNestedLoopJoin is the documented one-row
    totals cross)."""
    plan = _plan(spark, "emb_corpus_drift")
    assert "CartesianProduct" not in plan
    # formatted explain lists each operator in the tree AND the detail
    # section → counts double: one SMJ (cell merge) + one BNLJ (totals)
    assert plan.count("SortMergeJoin") <= 4, plan[:1500]
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_bm25_topk_rank_window_bounded_under_limit(spark):
    """The docstring's plan claims, pinned: top-k lands as
    TakeOrderedAndProject and the ONLY unpartitioned window (the rank)
    consumes its output — ≤ k rows under a GlobalLimit — never the
    match set; the N/avgdl cross is the documented one-row broadcast."""
    plan = _plan(spark, "doc_bm25_topk")
    assert "TakeOrderedAndProject" in plan, plan[:1500]
    assert "CartesianProduct" not in plan
    # the rank Window node must be the PARENT of TakeOrderedAndProject
    # (formatted explain numbers leaves lowest, so parent id > child id)
    win = re.search(r"\((\d+)\) Window", plan)
    top = re.search(r"\((\d+)\) TakeOrderedAndProject", plan)
    assert win and top and int(win.group(1)) > int(top.group(1)), plan[:1500]


def test_fuzzy_matches_is_block_equi_join(spark):
    """fuzzy_matches must join on the block key as a HASH join — the
    levenshtein predicate stays a post-join filter, never a theta-join
    condition (BroadcastNestedLoop/Cartesian)."""
    plan = _plan(spark, "rel_fuzzy_customers")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan), plan[:1500]
    assert "levenshtein" in plan


def test_bm25_indexed_pushes_term_filter_to_postings_scan(spark):
    """The index lane's whole point: the query's term IN (...) predicate
    must reach the postings parquet scan as a pushed filter (term-sorted
    row groups → pruned read), and the df/stats sides broadcast."""
    plan = _plan(spark, "doc_bm25_indexed")
    assert re.search(r"PushedFilters: \[In\(term", plan), plan[:1500]
    assert "CartesianProduct" not in plan


def test_cusum_single_scan_single_exchange(spark):
    """Both CUSUM sides must emit from ONE subtree: a naive up/down
    union replicates the scan and the whole window pipeline (measured
    2 scans / 8 window nodes); the explode form pins 1 scan, 1
    series-keyed exchange, and the count/cumsum/running-min/lag windows
    sharing that partitioning."""
    plan = _plan(spark, "ts_cusum")
    # formatted plans list each node twice (tree + detail) — count the
    # numbered detail headers
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan[:2000]
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan[:2000]
    assert "CartesianProduct" not in plan


def test_cusum_warm_broadcasts_targets_single_points_exchange(spark):
    """The warm-start lane (ts_cusum_warm) must add exactly ONE
    broadcast hash join — the bytes-per-series target frame from
    cusum_targets — on top of the target-lane window pipeline: the
    live-half points scan feeds one series-keyed Exchange for the
    window stage, the backfill-half aggregate reduces map-side before
    its own exchange, and the join must never sort-merge (a shuffled
    join on the series key would double the exchanges for a frame
    joins exist to broadcast)."""
    plan = _plan(spark, "ts_cusum_warm")
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 1, plan[:2000]
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
