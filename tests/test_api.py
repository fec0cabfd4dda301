"""Facade test: the reference-shaped API over a real points store —
the migration surface exercised end-to-end."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from epicsarchiver_spark.api import PVArchEngine
from epicsarchiver_spark.sources.points_store import read_points, write_points


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("api") / "store")
    rows = []
    for pv in ("S1:m1.VAL", "S1:m2.VAL", "S2:det1.VAL"):
        rows += [(pv, float(t), float(t % 11)) for t in range(0, 5000, 50)]
    pdf = pd.DataFrame(rows, columns=["pvname", "time", "value"])
    write_points(spark.createDataFrame(pdf), path, run="run_001", n_buckets=8)
    # exactly the advertised usage: the engine's own store output, which
    # carries NO event_id — operators must fall back to time-only ordering
    pts = read_points(spark, path)
    runs = spark.createDataFrame(
        pd.DataFrame({"db": ["run_001"], "start_time": [0.0], "stop_time": [2147483647.0]})
    )
    pairs = spark.createDataFrame(
        pd.DataFrame(
            {"pv1": ["S1:m1.VAL", "S1:m2.VAL"], "pv2": ["S1:m2.VAL", "S2:det1.VAL"], "score": [30, 10]}
        )
    )
    return PVArchEngine(spark, pts, runs=runs, pairs=pairs)


def test_get_data_with_seed(engine):
    rows = engine.get_data("S1:m1.VAL", 1000.0, 2000.0).collect()
    times = [r.time for r in rows]
    assert times[0] == 950.0  # early-point seed before the window
    assert times[-1] == 2000.0
    assert times == sorted(times)


def test_get_value_at_time(engine):
    t, v = engine.get_value_at_time("S1:m1.VAL", 1234.0)
    assert t == 1200.0 and v == 1200 % 11


def test_get_value_at_time_missing(engine):
    assert engine.get_value_at_time("NOPE.VAL", 100.0) is None


def test_get_pvnames(engine):
    assert engine.get_pvnames() == ["S1:m1.VAL", "S1:m2.VAL", "S2:det1.VAL"]


def test_get_nchanged(engine):
    # since = 5000 - 120 = 4880 → times {4900, 4950} × 3 series
    assert engine.get_nchanged(minutes=2, now=5000.0) == 6


def test_dbs_for_time(engine):
    assert engine.dbs_for_time(10.0, 20.0) == ["run_001"]


def test_related(engine):
    got = [(r.pvname, r.score) for r in engine.get_related_pvs("S1:m2.VAL").collect()]
    assert got == [("S1:m1.VAL", 30), ("S2:det1.VAL", 10)]


def test_wildcard(engine):
    got = [r.pvname for r in engine.search_names("S1:*").collect()]
    assert got == ["S1:m1.VAL", "S1:m2.VAL"]


def test_get_values_recent(engine):
    got = engine.get_values(time_ago=100.0, now=5000.0).collect()
    assert {r.pvname for r in got} == {"S1:m1.VAL", "S1:m2.VAL", "S2:det1.VAL"}
    assert all(r.time == 4950.0 for r in got)


def test_window_mixed_numeric_string_bounds(engine):
    """A numeric bound paired with a string bound must survive: (1000.0,
    'now') keeps t0=1000.0 (regression: the str-branch dispatch replaced
    it with the default last-week window), and (None, 2000.0) keeps the
    numeric upper bound instead of substituting 'now'."""
    import time as _time

    t0, t1 = engine._window(1000.0, "now")
    assert t0 == 1000.0
    assert abs(t1 - _time.time()) < 5

    t0, t1 = engine._window(None, 2000.0)
    assert t1 == 2000.0
    assert t0 == 2000.0 - 7 * 86400.0

    t0, t1 = engine._window("2 hours ago", 10000.0)
    assert (t0, t1) == (10000.0 - 7200.0, 10000.0)


def test_windowed_operators_accept_storeonly_columns(engine):
    """deadband/cull/heartbeat over a store frame with no event_id —
    the ordering contract must degrade to time-only, not raise."""
    from epicsarchiver_spark.operators.cull import cull_pass
    from epicsarchiver_spark.operators.deadband import deadband_lag, heartbeat_fill

    pts = engine.points
    assert "event_id" not in pts.columns
    assert deadband_lag(pts, 100.0, 0.5).count() > 0
    assert cull_pass(pts).count() > 0
    assert heartbeat_fill(pts, max_silence=1000.0).count() > 0


def test_bounded_lookback_exact_on_compliant_store(engine):
    """50 s spacing ≪ the default 24 h heartbeat: the bounded default
    must return exactly what an unbounded scan returns — the W3-floor
    exactness claim, tested."""
    bounded = [(r.time, r.value) for r in engine.get_data("S1:m1.VAL", 1000.0, 2000.0).collect()]
    unbounded = [
        (r.time, r.value)
        for r in engine.get_data("S1:m1.VAL", 1000.0, 2000.0, lookback=None).collect()
    ]
    assert bounded == unbounded and bounded[0][0] == 950.0

    g_b = sorted(
        (r.pvname, r.t, r.value) for r in engine.locf_grid(1000.0, 2000.0, 250.0).collect()
    )
    g_u = sorted(
        (r.pvname, r.t, r.value)
        for r in engine.locf_grid(1000.0, 2000.0, 250.0, lookback=None).collect()
    )
    assert g_b == g_u and len(g_b) == 3 * 5


def test_bounded_lookback_misses_seed_beyond_gap(spark):
    """A series silent for longer than the lookback loses its seed (the
    documented failure mode a compliant heartbeat store cannot hit):
    bounded get_data returns only in-window rows, unbounded still seeds."""
    import pandas as pd

    from epicsarchiver_spark.api import PVArchEngine

    pts = spark.createDataFrame(
        pd.DataFrame(
            [("G1", 100.0, 1.0), ("G1", 5000.0, 2.0), ("G1", 5500.0, 3.0)],
            columns=["pvname", "time", "value"],
        )
    )
    eng = PVArchEngine(spark, pts, heartbeat_s=500.0)  # lookback = 1000 < gap
    bounded = [r.time for r in eng.get_data("G1", 4900.0, 6000.0).collect()]
    assert bounded == [5000.0, 5500.0]  # no seed: last point is 4800 s back
    unbounded = [r.time for r in eng.get_data("G1", 4900.0, 6000.0, lookback=None).collect()]
    assert unbounded == [100.0, 5000.0, 5500.0]
    assert eng.get_value_at_time("G1", 4900.0) is None  # bounded as-of
    assert eng.get_value_at_time("G1", 4900.0, lookback=None) == (100.0, 1.0)


def test_position_and_check_facade(engine):
    """WebInstruments save/restore + pvarch check via the facade."""
    pos = engine.save_position(None, "beamline", "park", ts=2525.0)
    pos = engine.save_position(pos, "beamline", "park", ts=2575.0)  # re-save
    got = {
        (r.pvname, r.time)
        for r in engine.restore_position(
            pos, ["S1:m1.VAL", "S2:det1.VAL"], "beamline", "park"
        ).collect()
    }
    # as of 2575: last point per series is t=2550 (grid step 50)
    assert got == {("S1:m1.VAL", 2550.0), ("S2:det1.VAL", 2550.0)}
    assert engine.check(cadence_s=600.0, now=5000.0) is True
    assert engine.check(cadence_s=600.0, now=1e9) is False


def test_alert_and_request_surface(engine, spark):
    """Cache-class parity (r8): process_alerts trips on the latest value,
    update_alerts merges an edit batch, process_requests drains the
    mailbox with latest-action-wins."""
    import pyspark.sql.functions as F

    pv = engine.get_pvnames()[0]
    rules = spark.createDataFrame(
        [(pv, "gt", "-1e9"), (pv, "lt", "-1e9")],
        "pvname string, compare string, trippoint string",
    )
    tripped = engine.process_alerts(rules).collect()
    assert len(tripped) == 1 and tripped[0]["compare"] == "gt"

    alerts = spark.createDataFrame(
        [(pv, "gt", "hi", None, None, 1.0, 30.0, "yes", "ok")],
        "pvname string, compare string, name string, mailto string, "
        "mailmsg string, trippoint double, timeout double, active string, "
        "status string",
    )
    edits = spark.createDataFrame(
        [(1, 1.0, "edit", pv, "gt", None, None, None, 2.0, None, None)],
        "id long, ts double, action string, pvname string, compare string, "
        "name string, mailto string, mailmsg string, trippoint double, "
        "timeout double, active string",
    )
    merged = {r.compare: r for r in engine.update_alerts(alerts, edits).collect()}
    assert merged["gt"].trippoint == 2.0 and merged["gt"].name == "hi"

    cat = spark.createDataFrame([(pv, "yes")], "pvname string, active string")
    req = spark.createDataFrame(
        [(1, 1.0, pv, "suspend"), (2, 2.0, pv, "add")],
        "id long, ts double, pvname string, action string",
    )
    got = engine.process_requests(cat, req).collect()
    assert [(r.pvname, r.active) for r in got] == [(pv, "yes")]


def test_get_similar_pvs_uses_sax_index(engine, spark, tmp_path):
    """The facade's data-driven related lane: affine twins of the query
    surface with r=1; a persisted word artifact short-circuits
    nomination to the index read."""
    from epicsarchiver_spark.operators.timeseries import sax_words

    rows = []
    for pv, scale, off in [("SIM:q", 1, 0), ("SIM:a", 3, 5), ("SIM:b", 2, -1)]:
        rows += [(pv, float(i * 10), float(scale * i + off)) for i in range(15)]
    pts = spark.createDataFrame(rows, "pvname string, time double, value double")
    from epicsarchiver_spark.api import PVArchEngine

    eng = PVArchEngine(spark, pts)
    out = eng.get_similar_pvs("SIM:q", 0.0, 140.0, 10.0, limit=2).collect()
    assert {r.pvname for r in out} == {"SIM:a", "SIM:b"}
    assert all(r.r == 1.0 for r in out)

    idx = sax_words(pts, 0.0, 140.0, 10.0)
    path = str(tmp_path / "w")
    idx.write.parquet(path)
    out2 = eng.get_similar_pvs(
        "SIM:q", 0.0, 140.0, 10.0, limit=2, words=spark.read.parquet(path)
    ).collect()
    assert sorted(out2) == sorted(out)


@pytest.fixture(scope="module")
def twin_stores(spark, tmp_path_factory):
    """The same 2-run, 2-bucket points in two stores: one with its bucket
    record, one without (a store written before the record existed).
    Each PV samples every 50 s with its own phase; run_002 starts at
    t = 2500."""
    import os

    root = tmp_path_factory.mktemp("twin")
    pvs = [f"T{i}:val" for i in range(6)]
    paths = {}
    for kind in ("recorded", "legacy"):
        path = str(root / kind)
        for run, lo, hi in (("run_001", 0, 2500), ("run_002", 2500, 5000)):
            rows = [
                (pv, float(t + i), float((t + i) % 17))
                for i, pv in enumerate(pvs)
                for t in range(lo, hi, 50)
            ]
            pdf = pd.DataFrame(rows, columns=["pvname", "time", "value"])
            write_points(spark.createDataFrame(pdf), path, run=run, n_buckets=2)
        paths[kind] = path
    for name in ("_buckets", "._buckets.crc"):
        os.remove(os.path.join(paths["legacy"], name))
    engines = {
        k: PVArchEngine(spark, read_points(spark, p)) for k, p in paths.items()
    }
    return pvs, engines


def test_facade_reads_prune_buckets_only_from_the_record(twin_stores, monkeypatch):
    """get_data / get_value_at_time plans carry a bucket PartitionFilter
    on a store that records its bucket count, and none on one that does
    not (the engine never assumes a count)."""
    from epicsarchiver_spark.operators import timeseries
    from epicsarchiver_spark.plans import scan_partition_filters

    pvs, engines = twin_stores
    seen = []
    real = timeseries.value_at_time

    def spy(*a, **kw):  # keeps the as-of frame get_value_at_time collects
        seen.append(real(*a, **kw))
        return seen[-1]

    monkeypatch.setattr(timeseries, "value_at_time", spy)
    for kind, pruned in (("recorded", True), ("legacy", False)):
        eng = engines[kind]
        eng.get_value_at_time(pvs[0], 1234.0)
        for df in (eng.get_data(pvs[0], 1000.0, 3000.0), seen[-1]):
            has = any("bucket" in f for f in scan_partition_filters(df))
            assert has == pruned, (kind, scan_partition_filters(df))


def test_pruned_facade_reads_match_unpruned(twin_stores, spark):
    """Every PV, including PVs that share a bucket, reads the same rows
    from both stores: windows spanning the run boundary, a window whose
    only row is the pre-window seed from the older run, and as-of
    lookups between samples."""
    from epicsarchiver_spark.sources.points_store import bucket_of

    pvs, engines = twin_stores
    buckets = spark.createDataFrame([(p,) for p in pvs], "pvname string").select(
        bucket_of(F.col("pvname"), 2).alias("b")
    )
    assert buckets.distinct().count() < len(pvs)  # some PVs share a bucket
    rec, leg = engines["recorded"], engines["legacy"]
    for pv in pvs:
        for t0, t1 in ((1000.0, 3000.0), (2470.0, 2499.0), (0.0, 5000.0)):
            got = [tuple(r) for r in rec.get_data(pv, t0, t1).collect()]
            want = [tuple(r) for r in leg.get_data(pv, t0, t1).collect()]
            assert got == want and got, (pv, t0, t1)
        # the (2470, 2499) window holds no sample: the seed comes from
        # run_001 (run_002 starts at t = 2500); reads carry no run column
        seed = rec.get_data(pv, 2470.0, 2499.0).collect()
        assert len(seed) == 1 and seed[0].time < 2500.0 and "run" not in seed[0].asDict()
        for t in (2499.0, 4321.0):
            assert rec.get_value_at_time(pv, t) == leg.get_value_at_time(pv, t) is not None


def _series_frames(spark):
    """Two interleaved series; P has a tie at the last pre-window time
    and ties inside the window, with an event_id tiebreak (``eid``) or
    without one (``plain``, whose tied pre-window rows are identical so
    any pick of the seed is the same row)."""
    base = [(float(t), float(t % 7)) for t in range(0, 1001, 100)]
    plain = [("P", t, v) for t, v in base] + [("Q", t + 50.0, -v) for t, v in base]
    plain += [("P", 200.0, 4.0), ("P", 500.0, 9.0), ("P", 500.0, 8.0)]
    eid = [(pv, t, v, i) for i, (pv, t, v) in enumerate(plain)]
    eid += [("P", 200.0, 3.5, 1000), ("P", 200.0, 3.25, 999)]
    return {
        "plain": spark.createDataFrame(plain, "pvname string, time double, value double"),
        "eid": spark.createDataFrame(
            eid, "pvname string, time double, value double, event_id long"
        ),
    }


@pytest.mark.parametrize("kind", ["plain", "eid"])
@pytest.mark.parametrize(
    "t0, t1, lookback",
    [
        (250.0, 650.0, None),  # seed at 200 (tied)
        (250.0, 650.0, 100.0),  # bounded lookback keeps the seed
        (250.0, 650.0, 30.0),  # bounded lookback drops it
        (-100.0, 350.0, None),  # no pre-window point
        (1500.0, 2000.0, None),  # only pre-window points: the seed alone
        (1500.0, 2000.0, 700.0),
        (300.0, 700.0, None),  # points exactly at t0 and at t1
        (500.0, 500.0, 86400.0),  # a one-instant window on tied points
    ],
)
def test_single_series_read_matches_bulk_get_data(spark, kind, t0, t1, lookback):
    """PVArchEngine.get_data's one-scan read returns the rows of the
    two-branch timeseries.get_data, time-ordered, with ties in event_id
    order when the frame carries one."""
    from epicsarchiver_spark.operators import timeseries

    pts = _series_frames(spark)[kind]
    cache = pts.filter(F.col("time") == 1000.0).withColumn("time", F.lit(3000.0))
    eng = PVArchEngine(spark, pts, cache=cache)
    ref = timeseries.get_data(pts.filter(F.col("pvname") == "P"), t0, t1, lookback=lookback)
    for with_current in (False, True):
        want = ref
        if with_current:
            want = timeseries.with_current(ref, cache.filter(F.col("pvname") == "P"))
        want = [tuple(r) for r in want.orderBy("time").collect()]
        got = [
            tuple(r)
            for r in eng.get_data("P", t0, t1, with_current=with_current, lookback=lookback).collect()
        ]
        assert sorted(got) == sorted(want) and got, (with_current, got, want)
        key = (lambda r: (r[1], r[3])) if kind == "eid" else (lambda r: r[1])
        assert got == sorted(got, key=key), got
