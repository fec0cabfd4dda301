"""Round-13 operator tests: pagerank lane auto-selection (VERDICT r12
task 2), the CUSUM int64 overflow guard and per-series target lane
(task 4), and the cusum_targets warm-start feed."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- pagerank


def test_pagerank_lane_decision_boundary():
    """The broadcast-vs-shuffle pick is pure arithmetic on the node
    count — pinned HERE so a threshold edit is a conscious act. The
    constant sits between the probed decades (SCALE r13a: the lanes
    are within box noise at 1e5-1e6; past the threshold the shuffle
    lane is the wall-free one, so the switch errs toward it)."""
    from epicsarchiver_spark.operators.related import (
        PAGERANK_BROADCAST_MAX_NODES,
        _pagerank_use_broadcast,
    )

    assert 100_000 < PAGERANK_BROADCAST_MAX_NODES < 1_000_000
    assert _pagerank_use_broadcast(1)
    assert _pagerank_use_broadcast(100_000)
    assert _pagerank_use_broadcast(PAGERANK_BROADCAST_MAX_NODES)
    assert not _pagerank_use_broadcast(PAGERANK_BROADCAST_MAX_NODES + 1)
    assert not _pagerank_use_broadcast(1_000_000)


def test_pagerank_auto_lane_matches_forced_lanes(spark):
    """Auto (None) must pick a lane, and the result must be identical
    to BOTH forced lanes — the recurrence is exact integer arithmetic,
    so lane choice may never change a single rank unit."""
    from epicsarchiver_spark.operators.related import pagerank

    edges = spark.createDataFrame(
        pd.DataFrame(
            [
                ("a", "b", 4.0),
                ("b", "c", 2.0),
                ("c", "a", 1.0),
                ("c", "d", 3.0),
                ("d", "a", 5.0),
            ],
            columns=["pv1", "pv2", "score"],
        )
    )
    runs = {
        lane: sorted(
            (r.pvname, r.rank_units)
            for r in pagerank(edges, rounds=4, broadcast_ranks=lane).collect()
        )
        for lane in (None, True, False)
    }
    assert runs[None] == runs[True] == runs[False]
    assert len(runs[None]) == 4


def test_pagerank_checkpoint_cadence_exact_at_any_round_count(spark):
    """r13 optimization: the rank frame is checkpointed every
    ``PAGERANK_CKPT_EVERY`` rounds instead of every round (job-barrier
    cost), with the FINAL round always truncated. Round counts that do
    and do not divide the cadence must both match the literal python
    mirror of the integer recurrence, and the returned frame must be
    the materialized (lineage-truncated) one the docstring promises."""
    from epicsarchiver_spark.operators.related import (
        PAGERANK_CKPT_EVERY,
        pagerank,
    )

    edges = spark.createDataFrame(
        pd.DataFrame(
            [("A", "B", 1.0), ("B", "C", 3.0), ("C", "D", 1.0)],
            columns=["pv1", "pv2", "score"],
        )
    )
    scale, base = 10**9, (15 * 10**9) // 100
    w = {("A", "B"): 1, ("B", "C"): 3, ("C", "D"): 1}
    adj: dict = {}
    for (u, v), ww in w.items():
        adj.setdefault(u, {})[v] = ww
        adj.setdefault(v, {})[u] = ww
    wt = {u: sum(nb.values()) for u, nb in adj.items()}

    def mirror(rounds):
        r = {u: scale for u in adj}
        for _ in range(rounds):
            c = {u: 0 for u in adj}
            for u, nb in adj.items():
                for v, ww in nb.items():
                    c[v] += (r[u] * ww) // wt[u]
            r = {u: base + (85 * c[u]) // 100 for u in adj}
        return r

    # below / off-cadence / on-cadence / past-cadence round counts
    for rounds in (2, PAGERANK_CKPT_EVERY + 1, PAGERANK_CKPT_EVERY, 2 * PAGERANK_CKPT_EVERY - 1):
        df = pagerank(edges, rounds=rounds)
        got = {r.pvname: r.rank_units for r in df.collect()}
        assert got == mirror(rounds), rounds
        # final-round truncation: the plan is a scan of the
        # materialized RDD, not a re-nesting of the last rounds
        assert "ExistingRDD" in df._jdf.queryExecution().executedPlan().toString(), rounds


# ------------------------------------------------- CUSUM overflow guard


def _mk_points(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["pvname", "time", "value"])
    )


def test_cusum_overflow_guard_raises_past_budget(spark):
    """The mean lane's int64 budget (4·n²·(max|q|+k_q) < 2⁶³) is
    ENFORCED, not advised (VERDICT r12 task 4): with max|q| = 2.5e15
    (value 2.5e6 at quantum 1e-9) and k=0 the boundary sits at n=30 —
    31 rows must raise loudly instead of silently wrapping."""
    from epicsarchiver_spark.operators.timeseries import cusum_changepoints

    rows = [("G:hot", float(i), 2.5e6) for i in range(31)]
    with pytest.raises(Exception, match="overflow budget"):
        cusum_changepoints(
            _mk_points(spark, rows), k=0.0, h=1.0, quantum=1e-9
        ).collect()


def test_cusum_overflow_guard_passes_at_budget_edge(spark):
    """29 rows of the same series sit just under the boundary: the
    guard must NOT fire and the statistic must still be computed (flat
    series ⇒ zero crossings, but the plan executes end-to-end)."""
    from epicsarchiver_spark.operators.timeseries import cusum_changepoints

    rows = [("G:edge", float(i), 2.5e6) for i in range(29)]
    got = cusum_changepoints(
        _mk_points(spark, rows), k=0.0, h=1.0, quantum=1e-9
    ).collect()
    assert got == []  # flat series: no crossing, and no raise


@pytest.mark.parametrize("n,fires", [(28, False), (29, False), (31, True), (40, True)])
def test_cusum_overflow_guard_property_at_edge(spark, n, fires):
    """Property at the budget edge: for max|q|=2.5e15, k_q=0 the guard
    condition 4·n²·max|q| > 9.2e18 flips exactly between n=30 and 31."""
    from epicsarchiver_spark.operators.timeseries import cusum_changepoints

    rows = [("G:p", float(i), 2.5e6) for i in range(n)]
    df = cusum_changepoints(_mk_points(spark, rows), k=0.0, h=1.0, quantum=1e-9)
    if fires:
        with pytest.raises(Exception, match="overflow budget"):
            df.collect()
    else:
        df.collect()


def test_cusum_guard_does_not_perturb_normal_results(spark):
    """Regression pin: guarded mean-lane output on ordinary data equals
    the pre-guard semantics (crossings from a step series)."""
    from epicsarchiver_spark.operators.timeseries import cusum_changepoints

    rows = [("N:s", float(i), 10.0 if i < 20 else 14.0) for i in range(40)]
    got = cusum_changepoints(_mk_points(spark, rows), k=0.5, h=5.0).collect()
    assert len(got) >= 1
    assert {r.side for r in got} <= {"up", "down"}


# ------------------------------------------------- cusum_targets / targets=


def test_cusum_targets_exact_halfup_grid_mean(spark):
    """The target is the exact mean rounded HALF-UP onto the quantum
    grid — including the negative-mean case (floor((2Σq+n)/(2n)) is
    half-up toward +inf, matching _half_up_long)."""
    from epicsarchiver_spark.operators.timeseries import cusum_targets

    rows = [
        # mean of (1.00, 1.01) = 1.005 -> q-mean 100.5 -> half-up 101
        ("T:halfup", 0.0, 1.00),
        ("T:halfup", 1.0, 1.01),
        # mean of (-1.00, -1.01) = -1.005 -> q-mean -100.5 -> half-up -100
        ("T:neg", 0.0, -1.00),
        ("T:neg", 1.0, -1.01),
        # exact integer mean stays put
        ("T:flat", 0.0, 2.0),
        ("T:flat", 1.0, 4.0),
        # nulls carry no level information
        ("T:null", 0.0, 3.0),
        ("T:null", 1.0, None),
    ]
    got = {
        r["pvname"]: r["target"]
        for r in cusum_targets(_mk_points(spark, rows)).collect()
    }
    assert got["T:halfup"] == pytest.approx(1.01)
    assert got["T:neg"] == pytest.approx(-1.00)
    assert got["T:flat"] == pytest.approx(3.0)
    assert got["T:null"] == pytest.approx(3.0)


def test_cusum_targets_frame_equals_per_series_scalar_runs(spark):
    """The targets= frame lane is row-identical to running the scalar
    target lane once per series with that series' target — the
    broadcast join only vectorizes what the scalar lane hardcodes."""
    import numpy as np

    from epicsarchiver_spark.operators.timeseries import (
        cusum_changepoints,
        cusum_segments,
        cusum_targets,
    )

    rng = np.random.default_rng(5)
    rows = []
    for pv, level, drift in (("F:a", 5.0, 0.9), ("F:b", -2.0, -0.8)):
        t, v = 0.0, level
        for i in range(80):
            t += 2.0
            v += float(rng.normal(0, 0.3)) + (drift if i > 30 else 0.0)
            rows.append((pv, t, round(v, 2)))
    pts = _mk_points(spark, rows)
    tg = cusum_targets(pts)
    tmap = {r["pvname"]: r["target"] for r in tg.collect()}

    got = sorted(
        map(tuple, cusum_changepoints(pts, k=0.5, h=3.0, targets=tg).collect())
    )
    want = sorted(
        tuple(r)
        for pv, target in tmap.items()
        for r in cusum_changepoints(
            pts.filter(F.col("pvname") == pv), k=0.5, h=3.0, target=target
        ).collect()
    )
    assert got and got == want

    got_seg = sorted(
        map(tuple, cusum_segments(pts, k=0.5, h=3.0, targets=tg).collect())
    )
    want_seg = sorted(
        tuple(r)
        for pv, target in tmap.items()
        for r in cusum_segments(
            pts.filter(F.col("pvname") == pv), k=0.5, h=3.0, target=target
        ).collect()
    )
    assert got_seg and got_seg == want_seg


def test_cusum_targets_lane_drops_series_without_target(spark):
    """A series absent from the targets frame emits nothing (inner
    join) — mirroring the stream's no-target-no-fallback silence."""
    from epicsarchiver_spark.operators.timeseries import cusum_changepoints

    rows = [("K:seen", float(i), 100.0 * i) for i in range(10)]
    rows += [("K:unseen", float(i), 100.0 * i) for i in range(10)]
    tg = _mk_points(spark, [("K:seen", 0.0, 0.0)]).select(
        "pvname", F.col("value").alias("target")
    )
    got = cusum_changepoints(
        _mk_points(spark, rows), k=0.0, h=1.0, targets=tg
    ).collect()
    assert got and {r.pvname for r in got} == {"K:seen"}


# ------------------------------------------- sax_topk_auto index pinning


def test_sax_auto_params_pin_segments_skips_search():
    from epicsarchiver_spark.operators.timeseries import sax_auto_params

    p = sax_auto_params(750, n_grid=15, alphabet=4, fence=128, pin_segments=6)
    assert p["n_segments"] == 6
    assert p["n_words"] == 4 ** 6
    # fence still adapts for the pinned resolution (2*625 clamps at
    # max_fence)
    crowded = sax_auto_params(10_000, n_grid=3, alphabet=4, fence=8,
                              pin_segments=2)
    assert crowded["n_segments"] == 2
    assert crowded["expected_bucket"] == 625
    assert crowded["n_candidates"] == 1024
    mild = sax_auto_params(1_000, n_grid=3, alphabet=4, fence=8,
                           pin_segments=2)
    assert mild["n_candidates"] == 2 * -(-1_000 // 16)


def test_sax_topk_auto_derives_segments_from_index(spark):
    """r12 ADVICE (medium): with index= the segment count comes from
    the INDEX's word length, never the live series count — an index
    built at 6 segments must be queried with 6-letter words even
    though the auto derivation for this corpus says 4, or the
    equi-join silently matches nothing."""
    import numpy as np

    from epicsarchiver_spark.operators.timeseries import (
        sax_topk,
        sax_topk_auto,
        sax_words,
    )

    rng = np.random.default_rng(3)
    rows = []
    t0, t1, step = 0.0, 110.0, 10.0
    for i in range(12):
        base = float(i % 4)
        for j in range(12):
            rows.append(
                (f"X:{i}", j * 10.0, round(base * 10 + np.sin(j + i % 4) * 5
                                           + float(rng.normal(0, 0.3)), 2))
            )
    pts = spark.createDataFrame(
        pd.DataFrame(rows, columns=["pvname", "time", "value"])
    )
    idx = sax_words(pts, t0, t1, step, n_segments=6)
    assert idx.select(F.length("word")).distinct().collect()[0][0] == 6

    got = sorted(
        map(
            tuple,
            sax_topk_auto(
                pts, "X:0", t0, t1, step, k=3, index=idx
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            sax_topk(
                pts, "X:0", t0, t1, step, k=3, n_segments=6, index=idx
            ).collect(),
        )
    )
    assert got == want
    assert got, "index-pinned query must nominate through 6-letter words"


# --------------------------------------- cache np + stats-fed word refresh


def test_upsert_latest_maintains_event_counts(spark, tmp_path):
    """VERDICT r12 task 3: the latest-value cache carries np — a
    mergeable per-series event count beside (value, time) — summed
    across batches so it can feed sax_words_refresh's staleness
    detector without a raw-points scan."""
    from epicsarchiver_spark.streaming.ingest import (
        read_cache,
        read_cache_stats,
        upsert_latest,
    )

    cache = str(tmp_path / "cache_np")
    b1 = _mk_points(
        spark, [("P:1", 1.0, 10.0), ("P:1", 2.0, 11.0), ("P:2", 1.0, 5.0)]
    ).select("pvname", "value", "time")
    b2 = _mk_points(
        spark, [("P:1", 3.0, 12.0), ("P:3", 1.0, 7.0)]
    ).select("pvname", "value", "time")
    upsert_latest(b1, cache)
    upsert_latest(b2, cache)

    got = {r.pvname: (r.time, r.value, r.np) for r in read_cache(spark, cache).collect()}
    assert got == {
        "P:1": (3.0, 12.0, 3),
        "P:2": (1.0, 5.0, 1),
        "P:3": (1.0, 7.0, 1),
    }
    stats = {r.pvname: (r.wm, r.np) for r in read_cache_stats(spark, cache).collect()}
    assert stats == {"P:1": (3.0, 3), "P:2": (1.0, 1), "P:3": (1.0, 1)}


def test_upsert_latest_merges_pre_np_cache(spark, tmp_path):
    """A cache written before np existed merges with counts starting
    at the first post-upgrade batch (0 + batch), not a crash."""
    from epicsarchiver_spark.streaming.ingest import read_cache, upsert_latest

    cache = str(tmp_path / "cache_legacy")
    legacy = _mk_points(spark, [("L:1", 1.0, 5.0)]).select("pvname", "value", "time")
    upsert_latest(legacy, cache)
    # strip np to simulate the pre-r13 layout
    import pyspark.sql.functions as SF

    old = read_cache(spark, cache).drop("np")
    pdfold = old.toPandas()
    import shutil

    shutil.rmtree(cache)
    old2 = spark.createDataFrame(pdfold)
    old2.withColumn(
        "bucket", SF.pmod(SF.xxhash64("pvname"), SF.lit(4)).cast("int")
    ).write.partitionBy("bucket").parquet(cache)
    assert "np" not in spark.read.parquet(cache).columns

    nxt = _mk_points(spark, [("L:1", 2.0, 6.0), ("L:2", 1.0, 3.0)]).select(
        "pvname", "value", "time"
    )
    upsert_latest(nxt, cache)
    got = {r.pvname: (r.time, r.np) for r in read_cache(spark, cache).collect()}
    assert got == {"L:1": (2.0, 1), "L:2": (1.0, 1)}


def test_read_cache_stats_refuses_pre_np_cache(spark, tmp_path):
    from epicsarchiver_spark.streaming.ingest import read_cache_stats

    cache = str(tmp_path / "cache_noNp")
    _mk_points(spark, [("X", 1.0, 1.0)]).select("pvname", "value", "time").withColumn(
        "bucket", F.lit(0)
    ).write.partitionBy("bucket").parquet(cache)
    with pytest.raises(ValueError, match="predates"):
        read_cache_stats(spark, cache)


def _fmt_plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_stats_fed_refresh_drops_the_staleness_scan_and_matches_rebuild(
    spark, tmp_path
):
    """The production stats= lane end-to-end (VERDICT r12 task 3):
    ingest feeds both the points store and the latest-value cache; an
    append makes ONE series stale; a refresh with
    stats=read_cache_stats(...) (a) equals the full rebuild
    row-for-row, and (b) touches the raw points store with ONE fewer
    scan than the no-stats refresh — the per-series max/count
    staleness aggregate is answered from the cache (scan counting on
    the formatted plan, the repo's plan-pin idiom)."""
    from epicsarchiver_spark.operators.timeseries import (
        sax_words_build,
        sax_words_refresh,
    )
    from epicsarchiver_spark.sources.points_store import read_points, write_points
    from epicsarchiver_spark.streaming.ingest import (
        read_cache_stats,
        upsert_latest,
    )

    storep = str(tmp_path / "ptsr13e2e")
    cache = str(tmp_path / "cacher13e2e")
    t0, t1, step = 0.0, 110.0, 10.0
    base = []
    for i in range(6):
        base += [(f"S:{i}", j * 10.0, float((i + j) % 5)) for j in range(12)]
    b1 = _mk_points(spark, base)
    write_points(b1, storep, run="run_001", n_buckets=4)
    upsert_latest(b1.select("pvname", "value", "time"), cache)

    art = sax_words_build(read_points(spark, storep), t0, t1, step)

    # append: S:0 gets two new in-horizon points (stale); others move not
    app = _mk_points(spark, [("S:0", 45.0, 99.0), ("S:0", 105.0, 98.0)])
    write_points(app, storep, run="run_002", n_buckets=4)
    upsert_latest(app.select("pvname", "value", "time"), cache)

    pts = read_points(spark, storep)
    stats = read_cache_stats(spark, cache)
    refreshed = sax_words_refresh(pts, art, t0, t1, step, stats=stats)
    rebuilt = sax_words_build(pts, t0, t1, step)
    assert sorted(map(tuple, refreshed.collect())) == sorted(
        map(tuple, rebuilt.collect())
    )

    cold = sax_words_refresh(pts, art, t0, t1, step)
    frag = "ptsr13e2e"

    def _n_scans(df) -> int:
        # one Location line per parquet scan in the formatted plan
        return sum(
            1
            for line in _fmt_plan(df).splitlines()
            if frag in line and "Location" in line
        )

    # the stale-key subtree fans into BOTH the leftsemi (reword) and the
    # left_anti (keep) sides, so removing the staleness aggregate drops
    # SEVERAL point-store scans from the plan, and the detection reads
    # the cache instead — assert direction + source, not a brittle count
    n_cold, n_stats = _n_scans(cold), _n_scans(refreshed)
    assert n_stats < n_cold, (n_cold, n_stats)
    assert any(
        "cacher13e2e" in line and "Location" in line
        for line in _fmt_plan(refreshed).splitlines()
    )


def test_stats_detector_missing_series_contract_documented(spark, tmp_path):
    """r12 ADVICE (low): stats MUST cover every series in points — a
    series absent from stats (and from the artifact) silently drops.
    This test pins the documented behavior so the contract is explicit
    rather than folklore; the ingest cache satisfies coverage by
    construction."""
    from epicsarchiver_spark.operators.timeseries import (
        sax_words_build,
        sax_words_refresh,
    )

    t0, t1, step = 0.0, 110.0, 10.0
    pts = _mk_points(
        spark,
        [("C:a", j * 10.0, float(j % 3)) for j in range(12)]
        + [("C:b", j * 10.0, float(j % 4)) for j in range(12)],
    )
    art = sax_words_build(pts.filter(F.col("pvname") == "C:a"), t0, t1, step)
    # stats frame knows only C:a -> C:b (in points, not in stats, not in
    # artifact) drops from the refreshed output
    stats = spark.createDataFrame(
        pd.DataFrame([("C:a", 110.0, 12)], columns=["pvname", "wm", "np"])
    )
    got = sax_words_refresh(pts, art, t0, t1, step, stats=stats)
    assert {r.pvname for r in got.collect()} == {"C:a"}
    # complete stats -> both series present
    stats_full = spark.createDataFrame(
        pd.DataFrame(
            [("C:a", 110.0, 12), ("C:b", 110.0, 12)],
            columns=["pvname", "wm", "np"],
        )
    )
    got_full = sax_words_refresh(pts, art, t0, t1, step, stats=stats_full)
    assert {r.pvname for r in got_full.collect()} == {"C:a", "C:b"}


# ------------------------------------------------ confirmed discords


def test_discords_confirmed_planted_anomaly_wins(spark):
    """A planted spike window must come out confirmed_rank 1: its
    nearest non-overlapping neighbor is far (the series is otherwise a
    clean period-8 sawtooth, so every normal window has an exact twin
    at distance 0)."""
    from epicsarchiver_spark.operators.timeseries import sax_discords_confirmed

    rows = []
    for j in range(64):
        v = float(j % 8)
        if j == 29:
            v = 40.0  # the discord
        rows.append(("D:x", float(j), v))
    got = sax_discords_confirmed(
        _mk_points(spark, rows), window=8, k=3, n_segments=4
    ).collect()
    assert got, "candidates must confirm"
    best = [r for r in got if r.confirmed_rank == 1][0]
    # the anomalous value sits inside the rank-1 window
    assert best.time <= 29.0 <= best.time + 7
    assert best.nn_dist2_q > 0
    # normal windows (if nominated) have an exact twin: distance 0
    others = [r for r in got if r.confirmed_rank > 1 and (
        r.time + 7 < 29.0 or r.time > 29.0)]
    assert all(r.nn_dist2_q == 0 for r in others)


def test_discords_confirmed_short_series_drop(spark):
    """A series with fewer than 2*window full windows has no
    non-overlapping neighbor — its candidates drop instead of
    confirming against themselves."""
    from epicsarchiver_spark.operators.timeseries import sax_discords_confirmed

    rows = [("D:short", float(j), float(j % 3)) for j in range(12)]
    got = sax_discords_confirmed(
        _mk_points(spark, rows), window=8, k=3, n_segments=4
    ).collect()
    assert got == []
