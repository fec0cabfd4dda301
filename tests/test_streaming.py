"""Streaming ↔ batch equivalence tests (SURVEY §5.4): the stateful
deadtime/deadband/limbo operator, the alert transition engine, and the
latest-value cache upsert, each checked against its executable batch spec
on a deterministic synthetic event set."""

from __future__ import annotations

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from epicsarchiver_spark.operators.deadband import compress_reference
from epicsarchiver_spark.streaming.alerts import alert_stream, evaluate_transitions
from epicsarchiver_spark.streaming.ingest import (
    EVENT_SCHEMA,
    compressed_stream,
    latest_value_query,
    upsert_latest,
)

DEADTIME, DEADBAND = 10.0, 0.5


def synth_events() -> pd.DataFrame:
    """Bursts inside the deadtime window (limbo), sub-deadband wiggles,
    normal spaced changes, and a far tail event per series."""
    rows = []
    # series A: burst at t=100..104 (inside deadtime) then quiet
    a = [(0.0, 1.0), (100.0, 2.0), (101.0, 3.0), (104.0, 4.0), (200.0, 5.0), (1000.0, 6.0)]
    rows += [("A", t, v) for t, v in a]
    # series B: deadband suppression (wiggles < 0.5), one real move
    b = [(0.0, 10.0), (20.0, 10.2), (40.0, 10.4), (60.0, 9.9), (80.0, 12.0), (1000.0, 12.1)]
    rows += [("B", t, v) for t, v in b]
    # series C: strictly spaced changes — everything kept
    c = [(0.0, 0.0), (50.0, 1.0), (100.0, 2.0), (150.0, 3.0), (1000.0, 4.0)]
    rows += [("C", t, v) for t, v in c]
    return pd.DataFrame(rows, columns=["pvname", "time", "value"])


def batch_spec(events: pd.DataFrame) -> set[tuple]:
    out = set()
    for pv, grp in events.groupby("pvname"):
        kept = compress_reference(
            list(zip(grp.sort_values("time")["time"], grp["value"])), DEADTIME, DEADBAND
        )
        out |= {(pv, t, v) for t, v in kept}
    return out


def test_limbo_semantics_unit():
    """Burst inside deadtime collapses to its final value with the
    ORIGINAL timestamp (ref archiver.py:404-414, doc/setup.rst:82-85)."""
    kept = compress_reference(
        [(0.0, 1.0), (100.0, 2.0), (101.0, 3.0), (104.0, 4.0), (200.0, 5.0)], 10.0, 0.0
    )
    assert (104.0, 4.0) in kept  # limbo flushed with original ts
    assert (101.0, 3.0) not in kept  # replaced while in limbo
    assert kept == [(0.0, 1.0), (100.0, 2.0), (104.0, 4.0), (200.0, 5.0)]


def test_deadband_delays_not_drops():
    """Executed-reference deadband semantics (archiver.py:386-414): a
    sub-deadband change outside the deadtime window goes to limbo and is
    archived once deadtime elapses — deadband DELAYS small moves by up to
    one deadtime, it never suppresses them. Only changes superseded while
    pending inside a window are lost."""
    # slow wiggles (spacing > deadtime): every one eventually archived
    kept = compress_reference(
        [(0.0, 10.0), (20.0, 10.2), (40.0, 10.4), (60.0, 9.9), (80.0, 12.0)], 10.0, 0.5
    )
    assert kept == [(0.0, 10.0), (20.0, 10.2), (40.0, 10.4), (60.0, 9.9), (80.0, 12.0)]
    # fast wiggles (inside one deadtime window): collapse to the last one,
    # flushed with its original timestamp before the next real save
    kept = compress_reference(
        [(0.0, 10.0), (2.0, 10.2), (4.0, 10.4), (6.0, 9.9), (80.0, 12.0)], 10.0, 0.5
    )
    assert kept == [(0.0, 10.0), (6.0, 9.9), (80.0, 12.0)]


@pytest.fixture()
def events_dir(tmp_path):
    df = synth_events()
    path = tmp_path / "events_in"
    path.mkdir()
    df.to_parquet(path / "part-0.parquet", index=False)
    return str(path)


def test_streaming_matches_batch_spec(spark, events_dir, tmp_path):
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(events_dir)
    compressed = compressed_stream(stream, DEADTIME, DEADBAND)
    q = (
        compressed.writeStream.format("memory")
        .queryName("compressed_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    # timer mode (flush_ms set) never terminates under availableNow —
    # Spark keeps scheduling empty micro-batches once a processing-time
    # timeout is registered (module docstring). The old fixed
    # awaitTermination(120) therefore ALWAYS slept the full 120 s after
    # the data was done in seconds; poll the sink for the expected rows
    # under the same 120 s ceiling instead (r14 — identical assertion,
    # identical failure mode at the deadline).
    import time as _time

    # Once the count is reached, keep polling until the row SET is the
    # same on two consecutive polls, so a late extra row still shows.
    expect = batch_spec(synth_events())
    deadline = _time.monotonic() + 120
    got: set = set()
    prev: set | None = None
    while _time.monotonic() < deadline:
        got = {
            (r.pvname, r.time, r.value)
            for r in spark.sql("select * from compressed_out").collect()
        }
        if len(got) >= len(expect) and got == prev:
            break
        prev = got
        _time.sleep(0.5)
    q.stop()
    assert got == expect


def test_streaming_matches_applyinpandas_batch(spark, events_dir):
    """The distributed batch twin (compress_sequential) agrees too."""
    from epicsarchiver_spark.operators.deadband import compress_sequential

    df = spark.read.schema(EVENT_SCHEMA).parquet(events_dir)
    got = {
        (r.pvname, r.time, r.value)
        for r in compress_sequential(df, DEADTIME, DEADBAND).collect()
    }
    assert got == batch_spec(synth_events())


def test_available_now_terminates_without_timers(spark, tmp_path):
    """Bounded-run mode (flush_ms=None): a stream whose series END inside
    a deadtime window (pending limbo, no sentinel) must still terminate
    under availableNow — with timers registered Spark 4.1 loops empty
    micro-batches forever. The pending tail stays unflushed, matching the
    batch spec minus in-flight limbo entries."""
    df = pd.DataFrame(
        {
            "pvname": ["P"] * 3,
            "time": [0.0, 100.0, 101.0],  # 101.0 lands in limbo, never flushed
            "value": [1.0, 2.0, 3.0],
        }
    )
    path = tmp_path / "ev2"
    path.mkdir()
    df.to_parquet(path / "p.parquet", index=False)
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(str(path))
    q = (
        compressed_stream(stream, DEADTIME, DEADBAND, flush_ms=None)
        .writeStream.format("memory")
        .queryName("noflush_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_noflush"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "query did not terminate"
    got = {
        (r.pvname, r.time, r.value) for r in spark.sql("select * from noflush_out").collect()
    }
    assert got == {("P", 0.0, 1.0), ("P", 100.0, 2.0)}  # (101, 3) pending in state


def test_heartbeat_timer_emits_held_value(spark, tmp_path):
    """W3 continuous mode: a silent series re-emits its held value on the
    processing-time heartbeat timer (real timers — this test runs the
    query live for a few seconds)."""
    import time as _time

    df = pd.DataFrame({"pvname": ["H"], "time": [100.0], "value": [7.0]})
    path = tmp_path / "hb"
    path.mkdir()
    df.to_parquet(path / "p.parquet", index=False)
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(str(path))
    q = (
        compressed_stream(stream, DEADTIME, DEADBAND, flush_ms=None, heartbeat_s=2.0)
        .writeStream.format("memory")
        .queryName("hb_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_hb"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = _time.time() + 30
        rows = []
        while _time.time() < deadline:
            rows = spark.sql("select * from hb_out").collect()
            if len(rows) >= 2:
                break
            _time.sleep(1)
    finally:
        q.stop()
    assert len(rows) >= 2, "no heartbeat emitted within 30 s"
    first = [r for r in rows if r.time == 100.0]
    beats = [r for r in rows if r.time != 100.0]
    assert len(first) == 1
    assert all(r.value == 7.0 for r in beats)  # held value repeated
    assert all(r.time > 1e9 for r in beats)  # stamped at processing time


def _same_group_names(spark, prefix: str) -> list[str]:
    """Two series names that hash to one bucket of the default store (one
    key group of the keyed fold)."""
    import collections

    from epicsarchiver_spark.sources.points_store import bucket_of

    names = spark.createDataFrame([(f"{prefix}{i}",) for i in range(600)], "pvname string")
    by = collections.defaultdict(list)
    for r in names.select("pvname", bucket_of(F.col("pvname")).alias("b")).collect():
        by[r.b].append(r.pvname)
    return next(sorted(v)[:2] for v in by.values() if len(v) >= 2)


def test_limbo_flush_timer_fires_live_for_one_series_of_a_group(spark, tmp_path):
    """Continuous mode with ``flush_ms``: of two series in one key group,
    the one whose last event sits in limbo flushes it once, with its
    original timestamp, in a later micro-batch at least ``flush_ms``
    after the first; the other, with nothing pending, emits nothing
    more (real timers — the query runs live for a few seconds)."""
    import time as _time

    held, done = _same_group_names(spark, "LF")
    df = pd.DataFrame(
        {"pvname": [held, held, done], "time": [0.0, 1.0, 0.0], "value": [1.0, 2.0, 5.0]}
    )
    path = tmp_path / "lf"
    path.mkdir()
    df.to_parquet(path / "p.parquet", index=False)
    batches = []

    def sink(batch, batch_id):
        rows = [(r.pvname, r.time, r.value) for r in batch.collect()]
        if rows:
            batches.append((batch_id, _time.time(), rows))

    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(str(path))
    q = (
        compressed_stream(stream, DEADTIME, DEADBAND, flush_ms=1000)
        .writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_lf"))
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        deadline = _time.time() + 30
        while _time.time() < deadline and len(batches) < 2:
            _time.sleep(0.5)
        _time.sleep(3)  # room for any further (wrong) emission
    finally:
        q.stop()
    assert len(batches) == 2, batches
    (b0, t0, first), (b1, t1, flushed) = batches
    assert sorted(first) == sorted([(done, 0.0, 5.0), (held, 0.0, 1.0)])
    assert flushed == [(held, 1.0, 2.0)]  # the limbo entry, original time
    assert b1 > b0 and t1 - t0 >= 1.0


def test_heartbeat_timer_emits_held_value_per_series_of_a_group(spark, tmp_path):
    """W3 with two series in one key group and different jitter: each
    re-emits its own held value on its own heartbeat."""
    import time as _time

    from epicsarchiver_spark.streaming.ingest import _heartbeat_jitter

    a, b = _same_group_names(spark, "HB")
    assert _heartbeat_jitter(a, 2.0) != _heartbeat_jitter(b, 2.0)
    df = pd.DataFrame({"pvname": [a, b], "time": [100.0, 100.0], "value": [7.0, 8.0]})
    path = tmp_path / "hb2"
    path.mkdir()
    df.to_parquet(path / "p.parquet", index=False)
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(str(path))
    q = (
        compressed_stream(stream, DEADTIME, DEADBAND, flush_ms=None, heartbeat_s=2.0)
        .writeStream.format("memory")
        .queryName("hb2_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_hb2"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )

    def beats():
        rows = spark.sql("select * from hb2_out").collect()
        return {pv: [r for r in rows if r.pvname == pv and r.time != 100.0] for pv in (a, b)}

    try:
        deadline = _time.time() + 30
        while _time.time() < deadline and not all(beats().values()):
            _time.sleep(1)
        got = beats()
        rows = spark.sql("select * from hb2_out").collect()
    finally:
        q.stop()
    assert all(got.values()), "a series of the group missed its heartbeat within 30 s"
    assert sorted((r.pvname, r.value) for r in rows if r.time == 100.0) == sorted(
        [(a, 7.0), (b, 8.0)]
    )
    for pv, value in ((a, 7.0), (b, 8.0)):
        assert all(r.value == value and r.time > 1e9 for r in got[pv])


def test_latest_value_upsert(spark, events_dir, tmp_path):
    cache_path = str(tmp_path / "cache")
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(events_dir)
    q = (
        latest_value_query(stream, cache_path, str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.pvname, r.time, r.value) for r in spark.read.parquet(cache_path).collect()}
    assert got == {("A", 1000.0, 6.0), ("B", 1000.0, 12.1), ("C", 1000.0, 4.0)}


def test_upsert_crash_mid_swap_recovers(spark, tmp_path):
    """Kill mid-swap: live dir renamed away, .bak holding the old cache —
    a read must see the old cache, and the next upsert must restore it
    (not lose the whole cache) and discard the stale .tmp."""
    import os
    import shutil

    from epicsarchiver_spark.streaming.ingest import read_cache, upsert_latest

    cache = str(tmp_path / "cache")
    b1 = spark.createDataFrame([("A", 1.0, 10.0)], "pvname string, time double, value double")
    upsert_latest(b1, cache)

    # simulate dying between rename(live→bak) and rename(tmp→live)
    os.rename(cache, cache + ".bak")
    shutil.copytree(cache + ".bak", cache + ".tmp")  # half-finished tmp

    got = {(r.pvname, r.time, r.value) for r in read_cache(spark, cache).collect()}
    assert got == {("A", 1.0, 10.0)}  # old cache restored

    # and the next merge proceeds normally on the recovered cache
    b2 = spark.createDataFrame(
        [("A", 2.0, 20.0), ("B", 1.0, 5.0)], "pvname string, time double, value double"
    )
    upsert_latest(b2, cache)
    assert not os.path.exists(cache + ".tmp")
    got = {(r.pvname, r.time, r.value) for r in read_cache(spark, cache).collect()}
    assert got == {("A", 2.0, 20.0), ("B", 1.0, 5.0)}
    assert not os.path.exists(cache + ".bak")


def _cache_files(cache: str) -> dict[str, tuple[int, int]]:
    """Every data file of a cache (base and deltas), with its size and
    modification time."""
    import os

    out = {}
    for d, _, files in os.walk(cache):
        for f in files:
            if f.endswith(".parquet") and not f.startswith("."):
                st = os.stat(os.path.join(d, f))
                out[os.path.relpath(os.path.join(d, f), cache)] = (st.st_size, st.st_mtime_ns)
    return out


def _cache_np(spark, cache: str) -> dict:
    from epicsarchiver_spark.streaming.ingest import read_cache

    return {r.pvname: (r.time, r.value, r.np) for r in read_cache(spark, cache).collect()}


CACHE_SCHEMA = "pvname string, time double, value double"


def test_upsert_below_the_bound_adds_one_delta_file(spark, tmp_path):
    """The 100 TB property of S14: a micro-batch whose delta stays below
    the fold bound adds exactly one file and leaves every base file
    byte-identical on disk — per-batch cost is O(batch), not O(cache)."""
    cache = str(tmp_path / "cache")
    names = [f"PV{i}" for i in range(400)]
    upsert_latest(spark.createDataFrame([(n, 1.0, 10.0) for n in names], CACHE_SCHEMA), cache)
    before = _cache_files(cache)
    assert before and not any(p.startswith("_delta") for p in before)

    b2 = spark.createDataFrame([(names[0], 2.0, 11.0)], CACHE_SCHEMA)
    upsert_latest(b2, cache)
    after = _cache_files(cache)
    assert {p: after[p] for p in before} == before  # base files untouched
    assert sorted(set(after) - set(before)) == ["_delta/1.parquet"]

    got = _cache_np(spark, cache)
    assert got[names[0]] == (2.0, 11.0, 2) and got[names[1]] == (1.0, 10.0, 1)
    assert len(got) == len(names)


def test_upsert_replay_keeps_np_exact(spark, tmp_path, monkeypatch):
    """A stream replays a batch under its own id: the replay replaces the
    batch's delta file (one file, np unchanged), and a replay of a batch
    the base has folded (id at or below the watermark) writes nothing."""
    from epicsarchiver_spark.sources import points_store

    cache = str(tmp_path / "cache")
    names = [f"PV{i}" for i in range(400)]
    upsert_latest(spark.createDataFrame([(n, 1.0, 1.0) for n in names], CACHE_SCHEMA), cache, 0)
    batch = spark.createDataFrame([(names[0], 2.0, 2.0), (names[0], 3.0, 3.0)], CACHE_SCHEMA)
    upsert_latest(batch, cache, 1)
    once = _cache_np(spark, cache)
    assert once[names[0]] == (3.0, 3.0, 3)
    upsert_latest(batch, cache, 1)
    assert _cache_np(spark, cache) == once
    assert [p for p in _cache_files(cache) if p.startswith("_delta")] == ["_delta/1.parquet"]

    with monkeypatch.context() as m:  # every delta now reaches the bound
        m.setattr(points_store, "split_bytes", lambda spark: 1)
        upsert_latest(batch.withColumn("time", batch.time + 10), cache, 2)
    folded = _cache_files(cache)
    assert not any(p.startswith("_delta") for p in folded)
    assert _cache_np(spark, cache)[names[0]] == (13.0, 3.0, 5)
    upsert_latest(batch.withColumn("time", batch.time + 10), cache, 2)
    upsert_latest(batch, cache, 1)
    assert _cache_files(cache) == folded  # nothing written
    assert _cache_np(spark, cache)[names[0]] == (13.0, 3.0, 5)
    with pytest.raises(ValueError, match="writer"):  # its deltas' names would not parse
        upsert_latest(batch, cache, 3, "query.1")


def _job_descriptions(spark) -> set[str]:
    """The descriptions of every job the application has run."""
    it = spark._jsc.sc().statusStore().jobsList(None).iterator()
    out = set()
    while it.hasNext():
        label = it.next().description()
        if label.isDefined():
            out.add(label.get())
    return out


def test_upsert_labels_its_jobs_and_restores_the_description(spark, tmp_path, monkeypatch):
    """The cache lane labels its jobs ("cache delta batch N", "cache fold
    ≤N") and hands the caller's job description back afterwards."""
    from epicsarchiver_spark.sources import points_store

    sc = spark.sparkContext
    cache = str(tmp_path / "cache")
    batch = spark.createDataFrame([("PV:desc", 1.0, 1.0)], CACHE_SCHEMA)
    monkeypatch.setattr(points_store, "split_bytes", lambda spark: 1)
    sc.setJobDescription("caller's label")
    try:
        for i in range(2):
            upsert_latest(batch.withColumn("time", batch.time + i), cache, 100 + i)
            assert sc.getLocalProperty("spark.job.description") == "caller's label"
    finally:
        sc.setLocalProperty("spark.job.description", None)
    assert {"cache delta batch 101", "cache fold ≤101"} <= _job_descriptions(spark)


def test_upsert_crash_mid_fold_recovers(spark, tmp_path, monkeypatch):
    """Kill a fold between parking the live base and renaming the new
    one in: a read must see the merged rows, and the next upsert's
    recovery must finish the swap (dropping the folded delta) without
    counting the batch twice."""
    import os

    from epicsarchiver_spark.sources import fsio, points_store

    cache = str(tmp_path / "cache")
    b1 = spark.createDataFrame([("A", 1.0, 10.0), ("B", 1.0, 20.0)], CACHE_SCHEMA)
    upsert_latest(b1, cache)
    b2 = spark.createDataFrame([("A", 2.0, 11.0)], CACHE_SCHEMA)
    real = fsio._rename

    def crash(fs, src, dst, replace=False):
        if str(src).endswith("/new/bucket=0"):
            raise RuntimeError("injected crash mid-fold")
        return real(fs, src, dst, replace)

    with monkeypatch.context() as m:
        m.setattr(fsio, "_rename", crash)
        m.setattr(points_store, "split_bytes", lambda spark: 1)
        with pytest.raises(RuntimeError, match="mid-fold"):
            upsert_latest(b2, cache, 1)
    assert not os.path.exists(f"{cache}/bucket=0")  # parked, the new base not yet in
    want = {"A": (2.0, 11.0, 2), "B": (1.0, 20.0, 1)}
    assert _cache_np(spark, cache) == want
    upsert_latest(b2, cache, 1)  # the stream's replay: recovery, then nothing to add
    assert _cache_np(spark, cache) == want
    assert sorted(os.listdir(tmp_path)) == ["cache"]
    assert not os.path.exists(f"{cache}/_delta")


def test_upsert_crash_mid_bucket_swap_recovers(spark, tmp_path):
    """A cache of the earlier bucketed layout, caught by a crash between
    the two renames of its per-bucket swap: one bucket parked in
    ``<cache>.bak``, a stale ``.tmp`` beside it. A read must see the
    parked bucket, and the next upsert's recovery must move it back."""
    import os
    import shutil

    cache = str(tmp_path / "cache")
    rows = [("A", 1.0, 10.0, 1, 3), ("B", 1.0, 20.0, 1, 5)]
    old = spark.createDataFrame(rows, CACHE_SCHEMA + ", np long, bucket int")
    old.write.partitionBy("bucket").parquet(cache)
    os.makedirs(cache + ".bak")
    os.rename(f"{cache}/bucket=5", f"{cache}.bak/bucket=5")
    shutil.copytree(cache + ".bak", cache + ".tmp")

    want = {"A": (1.0, 10.0, 1), "B": (1.0, 20.0, 1)}
    assert _cache_np(spark, cache) == want  # the parked bucket read back
    upsert_latest(spark.createDataFrame([("C", 2.0, 5.0)], CACHE_SCHEMA), cache)
    assert not os.path.exists(cache + ".bak") and not os.path.exists(cache + ".tmp")
    assert _cache_np(spark, cache) == {**want, "C": (2.0, 5.0, 1)}


def test_cache_stream_on_a_fresh_checkpoint_lands_every_batch(spark, tmp_path):
    """A cache seeded by a direct upsert, then fed by streams on two fresh
    checkpoints (batch ids from 0 each time): ids count per stream query,
    so no batch is taken for one the base has folded, and each stream's
    events count once."""
    cache, events = str(tmp_path / "cache"), str(tmp_path / "events")
    upsert_latest(spark.createDataFrame([("A", 1.0, 1.0), ("B", 1.0, 2.0)], CACHE_SCHEMA), cache)
    spark.createDataFrame([("A", 5.0, 50.0), ("C", 5.0, 7.0)], CACHE_SCHEMA).write.parquet(events)
    for n, ckpt in enumerate(("ckpt1", "ckpt2"), 1):
        stream = spark.readStream.schema(CACHE_SCHEMA).parquet(events)
        q = latest_value_query(stream, cache, str(tmp_path / ckpt)).trigger(availableNow=True)
        q = q.start()
        q.awaitTermination(120)
        assert _cache_np(spark, cache) == {
            "A": (5.0, 50.0, 1 + n),
            "B": (1.0, 2.0, 1),
            "C": (5.0, 7.0, n),
        }


# ---------------------------------------------------------------------------
# alerts
# ---------------------------------------------------------------------------

def test_alert_transitions_spec():
    rows = pd.DataFrame(
        {
            "alert_id": 1,
            "pvname": "A",
            "time": [0.0, 10.0, 20.0, 30.0, 40.0, 50.0],
            "value": [1.0, 9.0, 9.5, 1.0, 9.0, 9.0],
            "trippoint": 5.0,
            "compare": "gt",
            "timeout": 15.0,
        }
    )
    out, status, last_notice = evaluate_transitions(rows, "ok", -math.inf)
    # fires at t=10 (ok->alarm); t=20 still alarm (no refire);
    # t=30 back to ok; t=40 ok->alarm again and 40 > 10+15 -> fires
    assert [n["time"] for n in out] == [10.0, 40.0]
    assert status == "alarm"
    assert last_notice == 40.0


def test_alert_timeout_gates_refire():
    rows = pd.DataFrame(
        {
            "alert_id": 1,
            "pvname": "A",
            "time": [0.0, 1.0, 2.0, 3.0],
            "value": [9.0, 1.0, 9.0, 1.0],
            "trippoint": 5.0,
            "compare": "gt",
            "timeout": 100.0,
        }
    )
    out, *_ = evaluate_transitions(rows, "ok", -math.inf)
    # second ok->alarm transition at t=2 suppressed: 2 < 0 + 100
    assert [n["time"] for n in out] == [0.0]


def test_alert_stream(spark, tmp_path):
    events = pd.DataFrame(
        {
            "pvname": ["A"] * 4 + ["B"] * 2,
            "time": [0.0, 10.0, 20.0, 30.0, 0.0, 10.0],
            "value": [1.0, 9.0, 1.0, 9.0, 3.0, 2.0],
        }
    )
    path = tmp_path / "ev"
    path.mkdir()
    events.to_parquet(path / "p.parquet", index=False)
    rules = spark.createDataFrame(
        pd.DataFrame(
            {
                "alert_id": [1, 2],
                "pvname": ["A", "B"],
                "compare": ["gt", "lt"],
                "trippoint": [5.0, 2.5],
                "timeout": [5.0, 5.0],
                "active": ["yes", "yes"],
            }
        )
    )
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(str(path))
    q = (
        alert_stream(stream, rules)
        .writeStream.format("memory")
        .queryName("alerts_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.alert_id, r.pvname, r.time)
        for r in spark.sql("select * from alerts_out").collect()
    }
    assert got == {(1, "A", 10.0), (1, "A", 30.0), (2, "B", 10.0)}


def test_alert_stream_folds_tied_times_in_arrival_order(spark, tmp_path):
    """64 rows of one (alert, pv) key over 8 distinct timestamps: which
    tied row comes last decides whether the next instant's alarm fires,
    so the stream must fold ties in arrival order, as the reference and
    ``evaluate_transitions`` on the arrival-ordered rows do (a quicksort
    reorders ties once a key has more than 16 rows)."""
    import numpy as np

    rng = np.random.default_rng(0)
    n = 64
    events = pd.DataFrame(
        {
            "pvname": "A",
            "time": rng.integers(0, 8, n).astype(float),
            # alarm (9.x) or ok (1.x); the hundredths name the row
            "value": np.where(rng.random(n) < 0.5, 9.0, 1.0) + np.arange(n) / 100,
        }
    )
    path = tmp_path / "ev"
    path.mkdir()
    events.to_parquet(path / "p.parquet", index=False)
    rule = {"alert_id": 1, "trippoint": 5.0, "compare": "gt", "timeout": 0.0}
    rules = spark.createDataFrame(pd.DataFrame([{**rule, "pvname": "A", "active": "yes"}]))

    def spec(rows: pd.DataFrame) -> list[tuple]:
        out, *_ = evaluate_transitions(rows.assign(**rule), "ok", -math.inf)
        return [(n["time"], n["value"]) for n in out]

    want = spec(events.sort_values("time", kind="stable"))
    # the tie order matters: the same rows with each instant's ties
    # reversed notify differently
    assert want != spec(events.iloc[::-1].sort_values("time", kind="stable"))

    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(str(path))
    q = (
        alert_stream(stream, rules)
        .writeStream.format("memory")
        .queryName("alerts_ties")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.time, r.value) for r in spark.sql("select * from alerts_ties").collect()
    )
    assert got == sorted(want)


def test_dedup_stream_drops_redelivered_events(spark, tmp_path):
    """W10 analog: replaying overlapping micro-batches must not duplicate
    points downstream — dropDuplicatesWithinWatermark on (pvname, time)."""
    import pandas as pd

    from epicsarchiver_spark.streaming.ingest import dedup_stream

    src = str(tmp_path / "in")
    (tmp_path / "in").mkdir()
    # batch 1 and an overlapping re-delivery of the same rows + one new
    pd.DataFrame(
        {"pvname": ["A", "A", "B"], "time": [1.7e9, 1.7e9 + 60, 1.7e9], "value": [1.0, 2.0, 3.0]}
    ).to_parquet(src + "/b1.parquet")
    pd.DataFrame(
        {"pvname": ["A", "A"], "time": [1.7e9 + 60, 1.7e9 + 120], "value": [2.0, 4.0]}
    ).to_parquet(src + "/b2.parquet")

    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    out = str(tmp_path / "out")
    q = (
        dedup_stream(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = sorted(
        (r.pvname, r.time, r.value) for r in spark.read.parquet(out).collect()
    )
    assert rows == [
        ("A", 1.7e9, 1.0),
        ("A", 1.7e9 + 60, 2.0),
        ("A", 1.7e9 + 120, 4.0),
        ("B", 1.7e9, 3.0),
    ]


def test_rate_stream_matches_batch_twin(spark, events_dir, tmp_path):
    """Windowed rate metric: the streaming watermark aggregate and the
    batch floor(time/w) aggregate must produce the same (pvname, window,
    count) rows on the same finite event set (epoch-aligned tumbling
    windows on both sides). Append mode emits a window only after the
    watermark passes it, so the replay carries a far-future sentinel
    event that flushes every real window (excluded from the compare)."""
    import pandas as pd

    from epicsarchiver_spark.operators.timeseries import rate_windowed
    from epicsarchiver_spark.streaming.ingest import rate_stream

    sentinel = pd.DataFrame(
        [("ZZ:sentinel", 1e6, 0.0)], columns=["pvname", "time", "value"]
    )
    sdir = str(tmp_path / "rate_events")
    spark.createDataFrame(
        pd.concat([synth_events(), sentinel])
    ).coalesce(1).write.mode("overwrite").parquet(sdir)
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(sdir)
    q = (
        rate_stream(stream, window="1 minute", watermark="2 minutes")
        .writeStream.format("memory")
        .queryName("rate_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "rate_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.pvname, r.win_start, r.n_events)
        for r in spark.sql("select * from rate_out").collect()
        if r.pvname != "ZZ:sentinel"
    }
    batch = spark.createDataFrame(synth_events())
    want = {
        (r.pvname, r.win_start, r.n_events)
        for r in rate_windowed(batch, window_s=60.0).collect()
    }
    assert got == want and len(want) > 3


def test_session_stream_matches_batch_twin(spark, tmp_path):
    """Gap sessionization: Structured Streaming's native session_window
    and the batch gaps-and-islands twin must agree on every closed
    session — including the boundary: session_window's merge treats the
    window end inclusively, so diff == gap MERGES (pinned by series B).
    A far-future sentinel advances the watermark so all real sessions
    finalize in append mode."""
    import pandas as pd

    from epicsarchiver_spark.operators.timeseries import sessionize
    from epicsarchiver_spark.streaming.ingest import session_stream

    rows = [
        # A: two sessions (gap 300): [0..200] and [700..760]
        ("A", 0.0, 1.0), ("A", 150.0, 1.0), ("A", 200.0, 1.0),
        ("A", 700.0, 1.0), ("A", 760.0, 1.0),
        # B: boundary case — diff EXACTLY 300 merges (inclusive end)
        ("B", 1000.0, 1.0), ("B", 1300.0, 1.0),
        # C: single event
        ("C", 42.0, 1.0),
        ("ZZ:sentinel", 1e6, 0.0),
    ]
    sdir = str(tmp_path / "sess_events")
    spark.createDataFrame(
        pd.DataFrame(rows, columns=["pvname", "time", "value"])
    ).coalesce(1).write.mode("overwrite").parquet(sdir)
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(sdir)
    q = (
        session_stream(stream, gap="5 minutes", watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.pvname, r.session_start, r.session_end, r.n_events)
        for r in spark.sql("select * from sess_out").collect()
        if r.pvname != "ZZ:sentinel"
    }
    batch = spark.createDataFrame(
        pd.DataFrame([r for r in rows if r[0] != "ZZ:sentinel"],
                     columns=["pvname", "time", "value"])
    )
    want = {
        (r.pvname, r.session_start, r.session_end, r.n_events)
        for r in sessionize(batch, gap_s=300.0).collect()
    }
    assert got == want
    assert ("B", 1000.0, 1300.0, 2) in want  # diff == gap merges
    assert ("A", 0.0, 200.0, 3) in want and ("A", 700.0, 760.0, 2) in want


def test_instream_seed_rows_warm_start(spark, tmp_path):
    """The fully distributed warm start: seed rows travel IN the stream
    (is_seed=true, written ahead of the events), so no driver dict exists
    at any series count. Output must equal the dict-seeded path — the
    second half of a never-restarted run — and the seed row itself is
    never emitted."""
    from epicsarchiver_spark.streaming.ingest import compressed_stream, seed_frame

    second, want_second = _warm_start_case()
    sdir = str(tmp_path / "iss_events")
    latest = spark.createDataFrame(
        pd.DataFrame([("W:a", 50.0, 3.0)], columns=["pvname", "time", "value"])
    )
    # seed file first, then the events (both with the full schema)
    seed_frame(latest).coalesce(1).write.mode("overwrite").parquet(sdir)
    spark.createDataFrame(
        pd.DataFrame(
            [("W:a", t, v, False) for t, v in second],
            columns=["pvname", "time", "value", "is_seed"],
        )
    ).coalesce(1).write.mode("append").parquet(sdir)
    stream = spark.readStream.schema(
        "pvname string, time double, value double, is_seed boolean"
    ).parquet(sdir)
    q = (
        compressed_stream(stream, 10.0, 0.5, flush_ms=None, seed_col="is_seed")
        .writeStream.format("memory")
        .queryName("iss_warm")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "iss_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.pvname, r.time, r.value) for r in spark.sql("select * from iss_warm").collect()
    }
    assert got == want_second
    assert ("W:a", 50.0, 3.0) not in got  # the seed row is state, not output


def test_broadcast_dict_seed_warm_start(spark, tmp_path):
    """seeds= accepts a Broadcast of the seed map — shipped once per
    executor instead of pickled into every task closure (the ~10⁶-series
    warm-start shape); output identical to the plain-dict path."""
    from epicsarchiver_spark.streaming.ingest import compressed_stream

    second, want_second = _warm_start_case()
    sdir = str(tmp_path / "bc_events")
    spark.createDataFrame(
        pd.DataFrame([("W:a", t, v) for t, v in second],
                     columns=["pvname", "time", "value"])
    ).coalesce(1).write.mode("overwrite").parquet(sdir)
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(sdir)
    bc = spark.sparkContext.broadcast({"W:a": (50.0, 3.0)})
    q = (
        compressed_stream(stream, 10.0, 0.5, flush_ms=None, seeds=bc)
        .writeStream.format("memory")
        .queryName("bc_warm")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "bc_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.pvname, r.time, r.value) for r in spark.sql("select * from bc_warm").collect()
    }
    assert got == want_second


def _warm_start_case():
    """deadtime 10, deadband 0.5; cut at t=60 — the t=50 event is KEPT
    and nothing is pending at the cut (40→50 gap > deadtime, |Δv| > db),
    so a seeded restart must reproduce the full run's second half."""
    full = [(0.0, 1.0), (40.0, 2.0), (50.0, 3.0),
            (62.0, 3.1), (75.0, 5.0), (100.0, 6.0)]
    first = [e for e in full if e[0] < 60]
    second = [e for e in full if e[0] > 60]
    want_full = compress_reference(full, 10.0, 0.5)
    want_first = compress_reference(first, 10.0, 0.5)
    assert want_first[-1] == (50.0, 3.0)  # clean cut: last point kept
    want_second = {("W:a", t, v) for t, v in want_full if (t, v) not in want_first}
    return second, want_second


def test_seeded_warm_start_continues_deadtime_window(spark, tmp_path):
    """Restart parity (ref archiver startup: last values reloaded from
    the cache): a NEW query seeded with each series' last archived point
    must emit exactly what a never-restarted run would emit for the
    second half — the first post-restart event falls back under the
    deadtime/deadband gates instead of being treated as a fresh series.
    A cold restart would wrongly emit the in-window t=62 event
    immediately as a 'first point'."""
    second, want_second = _warm_start_case()
    sdir = str(tmp_path / "warm_events")
    spark.createDataFrame(
        pd.DataFrame([("W:a", t, v) for t, v in second],
                     columns=["pvname", "time", "value"])
    ).coalesce(1).write.mode("overwrite").parquet(sdir)
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(sdir)
    q = (
        compressed_stream(
            stream, 10.0, 0.5, flush_ms=None, seeds={"W:a": (50.0, 3.0)}
        )
        .writeStream.format("memory")
        .queryName("seeded_warm")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "warm_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.pvname, r.time, r.value)
        for r in spark.sql("select * from seeded_warm").collect()
    }
    # 62.0 is inside 50+deadtime → limbo; it flushes when 75 arrives,
    # then 75 saves; 100 saves.
    assert got == want_second
    assert ("W:a", 62.0, 3.1) in got  # limbo flushed with original ts


def test_archive_append_exactly_once_across_restarts(spark, tmp_path):
    """§2.9 exactly-once: re-running the archive query from its
    checkpoint with no new source data appends NOTHING (offsets + file
    sink transaction log make replays idempotent); adding a source file
    and re-running appends exactly the new events once."""
    from epicsarchiver_spark.streaming.ingest import archive_query, compressed_stream

    src = tmp_path / "ao_events"
    src.mkdir()
    pd.DataFrame(
        {"pvname": ["X"] * 3, "time": [0.0, 50.0, 100.0], "value": [1.0, 2.0, 3.0]}
    ).to_parquet(src / "p0.parquet", index=False)
    out, ckpt = str(tmp_path / "ao_points"), str(tmp_path / "ao_ckpt")

    def run_once():
        stream = spark.readStream.schema(EVENT_SCHEMA).parquet(str(src))
        q = (
            archive_query(
                compressed_stream(stream, DEADTIME, DEADBAND, flush_ms=None),
                out, ckpt, buckets=4,
            )
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        return {(r.pvname, r.time, r.value) for r in spark.read.parquet(out).collect()}

    first = run_once()
    assert first == {("X", 0.0, 1.0), ("X", 50.0, 2.0), ("X", 100.0, 3.0)}
    assert run_once() == first  # replay from checkpoint: no duplicates

    pd.DataFrame(
        {"pvname": ["X"], "time": [200.0], "value": [4.0]}
    ).to_parquet(src / "p1.parquet", index=False)
    third = run_once()
    assert third == first | {("X", 200.0, 4.0)}  # only the new event, once


def _two_batch_events(src, n_pvs: int = 200) -> pd.DataFrame:
    """Two source files (one micro-batch each under maxFilesPerTrigger=1)
    over ``n_pvs`` series. Each series has a burst held in limbo at the
    end of the first file and flushed by the second, and ends on a
    direct save, so nothing is pending when the stream drains and the
    archived rows equal ``batch_spec`` of all events."""
    parts = []
    for i, times in enumerate(((0.0, 2.0, 30.0, 31.0), (60.0, 100.0))):
        rows = [
            (f"M:{k:03d}", t, float(k + 3 * j + 10 * i))
            for k in range(n_pvs)
            for j, t in enumerate(times)
        ]
        pdf = pd.DataFrame(rows, columns=["pvname", "time", "value"])
        pdf.to_parquet(src / f"b{i}.parquet", index=False)
        parts.append(pdf)
    return pd.concat(parts, ignore_index=True)


def _archived(spark, out) -> list[tuple]:
    return [
        (r.pvname, r.time, r.value)
        for r in spark.read.parquet(out).select("pvname", "time", "value").collect()
    ]


def _files_per_dir_per_batch(out) -> list[dict[str, int]]:
    """From the file sink's manifest log: per committed batch, the number
    of data files written into each partition directory."""
    import collections
    import json
    import os

    log = os.path.join(out, "_spark_metadata")
    batches = []
    for name in sorted((n for n in os.listdir(log) if n.isdigit()), key=int):
        with open(os.path.join(log, name)) as fh:
            paths = [json.loads(line)["path"] for line in fh.read().splitlines()[1:]]
        batches.append(
            collections.Counter(p.rsplit("/", 2)[-2] for p in paths)
        )
    return batches


def test_archive_stream_writes_one_file_per_bucket_per_batch(spark, tmp_path):
    """The archive sink clusters each micro-batch by bucket: at most one
    data file per bucket directory per batch (not one per state
    partition), and the archived rows still equal the batch spec."""
    import os

    from epicsarchiver_spark.streaming.ingest import archive_query, compressed_stream

    src = tmp_path / "fb_events"
    src.mkdir()
    events = _two_batch_events(src)
    out = str(tmp_path / "fb_points")
    stream = (
        spark.readStream.schema(EVENT_SCHEMA).option("maxFilesPerTrigger", 1).parquet(str(src))
    )
    q = (
        archive_query(
            compressed_stream(stream, DEADTIME, DEADBAND, flush_ms=None),
            out, str(tmp_path / "fb_ckpt"), buckets=16,
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)

    per_batch = _files_per_dir_per_batch(out)
    assert len(per_batch) == 2
    for counts in per_batch:
        assert counts and max(counts.values()) == 1, counts
    for d in os.listdir(out):
        if d.startswith("bucket="):
            data = [f for f in os.listdir(os.path.join(out, d)) if f.endswith(".parquet")]
            assert len(data) <= 2, (d, data)
    got = _archived(spark, out)
    assert len(got) == len(set(got))
    assert set(got) == batch_spec(events)


def test_archive_resumes_checkpoint_of_unclustered_writer(spark, tmp_path):
    """A store and checkpoint written by the writer without the bucket
    clustering (the file sink straight off the stateful stage) resume
    under ``archive_query``: the held limbo entries of batch one flush in
    batch two from the same state, a replay appends nothing, and no
    point is lost or duplicated."""
    from epicsarchiver_spark.sources import points_store
    from epicsarchiver_spark.streaming.ingest import archive_query, compressed_stream

    src = tmp_path / "rs_events"
    src.mkdir()
    events = _two_batch_events(src, n_pvs=40)
    later = src / "b1.parquet"
    held = tmp_path / "b1.parquet"
    later.rename(held)
    out, ckpt = str(tmp_path / "rs_points"), str(tmp_path / "rs_ckpt")

    def unclustered_writer(compressed, buckets=16):
        points_store.stamp_buckets(spark, out, buckets)
        return (
            compressed.withColumn("bucket", points_store.bucket_of(F.col("pvname"), buckets))
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .partitionBy("bucket")
        )

    def run(build):
        stream = spark.readStream.schema(EVENT_SCHEMA).parquet(str(src))
        q = (
            build(compressed_stream(stream, DEADTIME, DEADBAND, flush_ms=None))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)
        assert q.exception() is None
        return _archived(spark, out)

    first = run(unclustered_writer)
    held.rename(later)
    resumed = run(lambda c: archive_query(c, out, ckpt, buckets=16))
    assert len(resumed) == len(set(resumed))
    assert set(resumed) == batch_spec(events)
    assert set(first) < set(resumed)
    assert sorted(run(lambda c: archive_query(c, out, ckpt, buckets=16))) == sorted(resumed)


def _exchanges(query) -> int:
    """Shuffle exchanges in the last micro-batch's executed plan."""
    todo, n = [query._jsq.streamingQuery().lastExecution().executedPlan()], 0
    while todo:
        node = todo.pop()
        n += node.nodeName().startswith("Exchange")
        it = node.children().iterator()
        while it.hasNext():
            todo.append(it.next())
    return n


@pytest.mark.parametrize("buckets, exchanges", [(128, 1), (16, 2)])
def test_archive_plan_exchanges_by_bucket_count(spark, tmp_path, buckets, exchanges):
    """At the default count each bucket is one key group of the fold, so
    the plan's only shuffle is the fold's; a store with another count
    keeps its bucket repartition. Both write at most one file per
    touched bucket per micro-batch."""
    from epicsarchiver_spark.streaming.ingest import archive_query, compressed_stream

    src = tmp_path / "px_events"
    src.mkdir()
    events = _two_batch_events(src, n_pvs=60)
    out = str(tmp_path / "px_points")
    stream = (
        spark.readStream.schema(EVENT_SCHEMA).option("maxFilesPerTrigger", 1).parquet(str(src))
    )
    q = (
        archive_query(
            compressed_stream(stream, DEADTIME, DEADBAND, flush_ms=None),
            out, str(tmp_path / "px_ckpt"), buckets=buckets,
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    assert _exchanges(q) == exchanges
    per_batch = _files_per_dir_per_batch(out)
    assert len(per_batch) == 2
    for counts in per_batch:
        assert counts and max(counts.values()) == 1, counts
    assert set(_archived(spark, out)) == batch_spec(events)


def test_archive_stream_files_sorted_by_pvname_time(spark, tmp_path):
    """One kernel call per bucket: every parquet file the archive stream
    writes at the default count is sorted by (pvname, time)."""
    import glob
    import os

    import pyarrow.parquet as pq

    from epicsarchiver_spark.streaming.ingest import archive_query, compressed_stream

    src = tmp_path / "so_events"
    src.mkdir()
    _two_batch_events(src, n_pvs=500)
    out = str(tmp_path / "so_points")
    stream = (
        spark.readStream.schema(EVENT_SCHEMA).option("maxFilesPerTrigger", 1).parquet(str(src))
    )
    q = (
        archive_query(
            compressed_stream(stream, DEADTIME, DEADBAND, flush_ms=None),
            out, str(tmp_path / "so_ckpt"),
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    files = glob.glob(os.path.join(out, "bucket=*", "*.parquet"))
    assert len(files) > 100
    multi = 0
    for f in files:
        t = pq.read_table(f, columns=["pvname", "time"])
        rows = list(zip(t.column("pvname").to_pylist(), t.column("time").to_pylist()))
        assert rows == sorted(rows), f
        multi += len({pv for pv, _t in rows}) > 1
    assert multi  # the sort is across series, not only within one


def _per_key_archive(spark, src, out, ckpt):
    """The archive writer as it ran with per-key fold state: the state
    store keyed by ``pvname``, the compressor's four fields per key."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from epicsarchiver_spark.sources import points_store
    from epicsarchiver_spark.streaming.ingest import OUT_SCHEMA, STATE_SCHEMA, _compress_step

    def fold(key, pdfs, gs):
        rows = pd.concat(list(pdfs)).sort_values("time", kind="stable")
        state = gs.get if gs.exists else (None, None, None, None)
        out_t, out_v, *state = _compress_step(
            *state, rows["time"].tolist(), rows["value"].tolist(), DEADTIME, DEADBAND
        )
        gs.update(tuple(state))
        if out_t:
            yield pd.DataFrame({"pvname": key[0], "time": out_t, "value": out_v})

    points_store.stamp_buckets(spark, out, 128)
    compressed = spark.readStream.schema(EVENT_SCHEMA).parquet(str(src)).groupBy(
        "pvname"
    ).applyInPandasWithState(
        fold, OUT_SCHEMA, STATE_SCHEMA, "append", GroupStateTimeout.NoTimeout
    )
    q = (
        compressed.withColumn("bucket", points_store.bucket_of(F.col("pvname")))
        .repartition("bucket")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .partitionBy("bucket")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert q.exception() is None


def test_archive_refuses_per_key_checkpoint(spark, tmp_path):
    """A checkpoint holding per-key fold state cannot resume under key
    groups: ``archive_query`` and the ``pvarch archive --follow`` daemon
    refuse it with the restart path, before a query starts."""
    from epicsarchiver_spark.cli import main
    from epicsarchiver_spark.streaming.ingest import archive_query, compressed_stream

    src = tmp_path / "pk_events"
    src.mkdir()
    _two_batch_events(src, n_pvs=20)
    out, ckpt = str(tmp_path / "pk_points"), str(tmp_path / "pk_ckpt")
    _per_key_archive(spark, src, out, ckpt)
    active = len(spark.streams.active)

    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(str(src))
    with pytest.raises(ValueError, match="fresh checkpoint.*seeds=.*seed_col=.*limbo"):
        archive_query(compressed_stream(stream, DEADTIME, DEADBAND, flush_ms=None), out, ckpt)
    with pytest.raises(ValueError, match="per-key stream state"):
        main(["--store", out, "archive", str(src), "--checkpoint", ckpt, "--follow"])
    assert len(spark.streams.active) == active
    # the restart path: a fresh checkpoint starts
    fresh = archive_query(
        compressed_stream(stream, DEADTIME, DEADBAND, flush_ms=None),
        out, str(tmp_path / "pk_fresh"),
    )
    q = fresh.trigger(availableNow=True).start()
    assert q.awaitTermination(120)
    assert q.exception() is None


def test_upsert_jdbc_parity_with_parquet_lane(spark, tmp_path):
    """S14 JDBC lane (ref cache.py:454-462, north-star 'Structured
    Streaming + JDBC sink'): the same micro-batch sequence — including
    a replayed batch (at-least-once foreachBatch) and an out-of-order
    late batch — must leave the Derby table and the parquet delta
    cache with IDENTICAL contents, each batch one transaction."""
    from epicsarchiver_spark.streaming.ingest import (
        read_cache,
        upsert_latest,
        upsert_latest_jdbc,
    )

    url = f"jdbc:derby:{tmp_path}/cachedb;create=true"
    pq = str(tmp_path / "cache_pq")
    schema = "pvname string, time double, value double"
    batches = [
        [("A", 1.0, 10.0), ("B", 1.0, 5.0), ("A", 2.0, 11.0)],
        [("A", 3.0, 12.0), ("C", 1.0, 7.0)],
        [("A", 3.0, 12.0), ("C", 1.0, 7.0)],   # replayed batch → no-op
        [("B", 0.5, 99.0)],                     # late batch → must not regress B
    ]
    for rows in batches:
        b = spark.createDataFrame(rows, schema)
        upsert_latest(b, pq)
        upsert_latest_jdbc(b, url, table="cache")

    got_pq = {
        (r.pvname, r.time, r.value) for r in read_cache(spark, pq).collect()
    }
    got_jdbc = {
        (r.pvname, float(r.time), float(r.value))
        for r in spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "cache")
        .load()
        .toDF("pvname", "value", "time")  # Derby reports uppercase names
        .collect()
    }
    expected = {("A", 3.0, 12.0), ("B", 1.0, 5.0), ("C", 1.0, 7.0)}
    assert got_pq == expected
    assert got_jdbc == expected


def test_upsert_jdbc_null_tolerance(spark, tmp_path):
    """ADVICE r5: a micro-batch row with a NULL value must not crash the
    whole batch (TypeError on float(None) would wedge the stream in an
    at-least-once retry loop) — it lands as SQL NULL, matching the
    parquet lane's max_by. A NULL-time row is unorderable and skipped."""
    from epicsarchiver_spark.streaming.ingest import upsert_latest_jdbc

    url = f"jdbc:derby:{tmp_path}/nulldb;create=true"
    schema = "pvname string, time double, value double"
    b = spark.createDataFrame(
        [("A", 1.0, 10.0), ("B", 2.0, None), ("C", None, 3.0)], schema
    )
    upsert_latest_jdbc(b, url, table="cache")
    got = {
        (r[0], r[1], r[2])
        for r in spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "cache")
        .load()
        .collect()
    }
    assert got == {("A", 10.0, 1.0), ("B", None, 2.0)}  # C skipped


def test_upsert_jdbc_streaming_query(spark, events_dir, tmp_path):
    """End-to-end: the JDBC cache daemon as a streaming foreachBatch
    query, availableNow over the parquet source."""
    from epicsarchiver_spark.streaming.ingest import latest_value_query_jdbc

    url = f"jdbc:derby:{tmp_path}/streamdb;create=true"
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(events_dir)
    q = (
        latest_value_query_jdbc(stream, url, str(tmp_path / "ckpt_jdbc"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.pvname, float(r.time), float(r.value))
        for r in spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "cache")
        .load()
        .toDF("pvname", "value", "time")  # Derby reports uppercase names
        .collect()
    }
    assert got == {("A", 1000.0, 6.0), ("B", 1000.0, 12.1), ("C", 1000.0, 4.0)}


def test_upsert_jdbc_distributed_parity(spark, tmp_path):
    """VERDICT r7 #3: the distributed JDBC lane (executor-side staging
    write + one set-based MERGE, zero data rows through the driver) must
    leave the table IDENTICAL to the driver lane across the full
    adversarial batch sequence — replayed batch, out-of-order late
    batch, NULL value, NULL time — at n_shards=3."""
    from epicsarchiver_spark.streaming.ingest import (
        upsert_latest_jdbc,
        upsert_latest_jdbc_distributed,
    )

    url_drv = f"jdbc:derby:{tmp_path}/distdrvdb;create=true"
    url_dst = f"jdbc:derby:{tmp_path}/distexedb;create=true"
    schema = "pvname string, time double, value double"
    names = [f"PV{i:02d}" for i in range(12)]
    batches = [
        [(n, 1.0, float(i)) for i, n in enumerate(names)],
        [(n, 2.0, float(i) + 100) for i, n in enumerate(names[::2])],
        [(n, 2.0, float(i) + 100) for i, n in enumerate(names[::2])],  # replay
        [(names[0], 0.5, 999.0), (names[5], 3.0, None), (names[7], None, 5.0)],
    ]
    for rows in batches:
        b = spark.createDataFrame(rows, schema)
        upsert_latest_jdbc(b, url_drv, table="cache")
        upsert_latest_jdbc_distributed(b, url_dst, table="cache", n_shards=3)

    def _read(url):
        return {
            (r[0], r[1], r[2])
            for r in spark.read.format("jdbc")
            .option("url", url)
            .option("dbtable", "cache")
            .load()
            .collect()
        }

    got_drv, got_dst = _read(url_drv), _read(url_dst)
    assert got_dst == got_drv
    assert len(got_dst) == 12
    assert ("PV00", 999.0, 0.5) not in got_dst  # late batch never regressed
    assert ("PV05", None, 3.0) in got_dst  # NULL value lands as SQL NULL
    # no staging table left behind
    tables = {
        r[0].upper()
        for r in spark.read.format("jdbc")
        .option("url", url_dst)
        .option("query", "SELECT tablename FROM sys.systables WHERE tabletype='T'")
        .load()
        .collect()
    }
    assert "CACHE_STAGING" not in tables


def test_upsert_jdbc_distributed_stale_staging_recovery(spark, tmp_path):
    """A crash between the staging write and the MERGE leaves a stale
    staging table; the next batch must drop and rewrite it rather than
    merge ghost rows or fail on CREATE."""
    from epicsarchiver_spark.streaming.ingest import upsert_latest_jdbc_distributed

    url = f"jdbc:derby:{tmp_path}/staledb;create=true"
    schema = "pvname string, time double, value double"
    # simulate the crash artifact: a staging table with a ghost row
    ghost = spark.createDataFrame([("GHOST", 1.0, 1.0)], schema)
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.executeUpdate(
        "CREATE TABLE cache_staging (pvname VARCHAR(255), value DOUBLE, time DOUBLE)"
    )
    st.executeUpdate(
        "INSERT INTO cache_staging VALUES ('GHOST', 1.0, 1.0)"
    )
    st.close()
    conn.close()
    del ghost

    b = spark.createDataFrame([("A", 1.0, 10.0)], schema)
    upsert_latest_jdbc_distributed(b, url, table="cache")
    got = {
        (r[0], r[1], r[2])
        for r in spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "cache")
        .load()
        .collect()
    }
    assert got == {("A", 10.0, 1.0)}  # no GHOST row merged


def test_upsert_jdbc_distributed_streaming_query(spark, events_dir, tmp_path):
    """End-to-end: the distributed JDBC cache daemon as a streaming
    foreachBatch query (distributed=True), availableNow over the parquet
    source — same result as the driver-lane streaming test."""
    from epicsarchiver_spark.streaming.ingest import latest_value_query_jdbc

    url = f"jdbc:derby:{tmp_path}/streamdistdb;create=true"
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(events_dir)
    q = (
        latest_value_query_jdbc(
            stream, url, str(tmp_path / "ckpt_jdbc_dist"), distributed=True, n_shards=3
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.pvname, float(r.time), float(r.value))
        for r in spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "cache")
        .load()
        .toDF("pvname", "value", "time")  # Derby reports uppercase names
        .collect()
    }
    assert got == {("A", 1000.0, 6.0), ("B", 1000.0, 12.1), ("C", 1000.0, 4.0)}


def test_outlier_stream_matches_batch_operator(spark, tmp_path):
    """Streaming rolling anomalies == the batch operator on the same
    in-order input, across micro-batch boundaries (the trailing buffer
    carries the window between batches)."""
    import pandas as pd

    from epicsarchiver_spark.operators.timeseries import rolling_robust_outliers
    from epicsarchiver_spark.streaming.alerts import outlier_stream

    rng = __import__("random").Random(13)
    rows = []
    eid = 0
    for pv in ("A", "B"):
        base = 10.0 if pv == "A" else -5.0
        for i in range(120):
            v = base + rng.random() * 0.5
            if i in (40, 90):
                v += 300.0  # glitches
            rows.append((eid, pv, float(i), v))
            eid += 1
    pdf = pd.DataFrame(rows, columns=["event_id", "pvname", "time", "value"])
    src = tmp_path / "src"
    src.mkdir()
    # three files → multiple micro-batches with maxFilesPerTrigger=1
    for j in range(3):
        part = pdf[pdf["time"].between(j * 40, j * 40 + 39)]
        part[["pvname", "time", "value"]].to_parquet(src / f"p{j}.parquet", index=False)

    batch_df = spark.createDataFrame(
        pdf, "event_id long, pvname string, time double, value double"
    )
    expected = {
        (r.pvname, r.time, r.value, r.med, r.mad, r.n_win)
        for r in rolling_robust_outliers(batch_df, window=25, k=5.0).collect()
    }
    glitch_times = {t for (_, t, *_rest) in expected}
    assert {40.0, 90.0} <= glitch_times  # both glitches flagged per series
    # (cold-window early points may also flag — tiny MAD; same rows in
    # both lanes is what the equivalence below asserts)

    stream = (
        spark.readStream.schema("pvname string, time double, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = str(tmp_path / "out")
    q = (
        outlier_stream(stream, window=25, k=5.0)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r.pvname, r.time, r.value, r.med, r.mad, r.n_win)
        for r in spark.read.parquet(out).collect()
    }
    assert got == expected


def test_curated_doc_stream_matches_batch_gates(spark, tmp_path):
    """Streaming curation lane: availableNow replay of the documents
    table through gopher gate + in-stream exact dedup + standing-corpus
    anti-join must land exactly the batch-computed survivor fingerprint
    set, one row per fingerprint, every row gopher-green."""
    from epicsarchiver_spark.functions.text import fingerprint64
    from epicsarchiver_spark.operators.text_ops import gopher_rules
    from epicsarchiver_spark.streaming.curation import (
        curated_doc_stream,
        landing_query,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = str(tmp_path / "docs_in")
    docs.coalesce(2).write.mode("overwrite").parquet(src)

    # standing corpus: every 10th doc is "already archived"
    corpus_fp = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select(fingerprint64(F.col("text")).alias("fp"))
        .distinct()
    )
    corpus_fp.cache()

    stream = spark.readStream.schema(docs.schema).parquet(src)
    out = str(tmp_path / "landed")
    q = (
        landing_query(
            curated_doc_stream(stream, corpus_fingerprints=corpus_fp),
            out,
            str(tmp_path / "ckpt"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    landed = spark.read.parquet(out)
    # batch expectation: gopher-passing docs, minus corpus fps, one per fp
    keep_ids = {
        r.doc_id for r in gopher_rules(docs).filter(F.col("keep")).collect()
    }
    expected_fps = {
        r.fp
        for r in docs.filter(F.col("doc_id").isin(list(keep_ids)))
        .select(fingerprint64(F.col("text")).alias("fp"))
        .join(corpus_fp, "fp", "left_anti")
        .distinct()
        .collect()
    }
    got = landed.select("fp", "doc_id", "source").collect()
    assert {r.fp for r in got} == expected_fps
    assert len(got) == len(expected_fps)  # one survivor per fingerprint
    assert {r.doc_id for r in got} <= keep_ids  # every survivor is gopher-green
    # source-partitioned landing layout
    assert any(p.startswith("source=") for p in __import__("os").listdir(out))
    corpus_fp.unpersist()


def test_curated_doc_stream_redelivery_replay(spark, tmp_path):
    """At-least-once redelivery: a crawler that re-emits already-seen
    documents in a LATER micro-batch (new source file, same texts) must
    not land them twice — the fp-keyed dedup state survives the restart
    via the checkpoint, so across two availableNow runs of the same
    checkpointed query the landing store holds exactly one row per
    distinct surviving text."""
    import pandas as pd

    from epicsarchiver_spark.streaming.curation import curated_doc_stream

    base = "word " * 30 + "sentence with the useful content and more text here"
    other = base + " a genuinely different tail of extra content"
    src = tmp_path / "docs_in"
    src.mkdir()
    cols = ["doc_id", "text", "lang", "source"]

    def _file(name, rows):
        pd.DataFrame(rows, columns=cols).to_parquet(src / name, index=False)

    _file("b0.parquet", [(1, base, "en", "s1"), (2, other, "en", "s1")])

    out = str(tmp_path / "landed")

    def run_once():
        stream = spark.readStream.schema(
            "doc_id long, text string, lang string, source string"
        ).parquet(str(src))
        q = (
            curated_doc_stream(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return sorted(
            (r.doc_id, r.fp) for r in spark.read.parquet(out).collect()
        )

    first = run_once()
    assert len(first) == 2  # both texts land once

    # redelivery: same texts again under NEW ids in a NEW file, plus one
    # genuinely new document
    fresh = base + " and an unmistakably novel continuation of words"
    _file(
        "b1.parquet",
        [(10, base, "en", "s2"), (11, other, "en", "s2"), (12, fresh, "en", "s2")],
    )
    second = run_once()
    assert [t for t in second if t not in first] == [
        t for t in second if t[0] == 12
    ]
    assert len(second) == 3  # replayed texts dropped by checkpointed state


def test_curated_doc_stream_watermark_dedup_keys_on_fp_alone(spark, tmp_path):
    """With a watermark set, a re-crawl of the same text at a LATER
    event time must still dedup (key = fp alone, bounded by the
    watermark — not keyed on (fp, ts), which would wave it through)."""
    from epicsarchiver_spark.streaming.curation import curated_doc_stream

    base = "word " * 30 + "sentence with the useful content and more text here"
    rows = [
        (1, base, "en", "s1", "2024-01-01 10:00:00"),
        (2, base, "en", "s1", "2024-01-01 10:20:00"),  # re-crawl, later ts
        (3, base + " different tail entirely", "en", "s2", "2024-01-01 10:05:00"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, ts_str string"
    ).withColumn("event_ts", F.col("ts_str").cast("timestamp")).drop("ts_str")
    src = str(tmp_path / "docs_in")
    docs.coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    out = str(tmp_path / "landed")
    q = (
        curated_doc_stream(stream, watermark=("event_ts", "1 hour"))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    landed = spark.read.parquet(out)
    fps = [r.fp for r in landed.select("fp").collect()]
    assert len(fps) == len(set(fps)) == 2  # one per distinct text


def test_flatline_stream_transitions_across_batches(spark, tmp_path):
    """The stuck run spans a micro-batch boundary: the stream must fire
    exactly one 'stuck' row when thresholds cross (in batch 2, counting
    points from batch 1's state) and one 'released' row when the value
    changes; the wiggling series never fires. Counts agree with the
    batch operator's n_stuck_runs."""
    import pandas as pd

    from epicsarchiver_spark.operators.timeseries import flatlines
    from epicsarchiver_spark.streaming.alerts import flatline_stream

    rows = []
    # 'stuck': 3 flat points in file 0, 2 more + release in file 1
    rows += [("stuck", 100.0 + i * 50, 7.0, 0) for i in range(3)]
    rows += [("stuck", 250.0 + i * 50, 7.0, 1) for i in range(2)]
    rows += [("stuck", 400.0, 9.0, 1)]
    # 'wiggle': alternates, never flat
    rows += [("wiggle", 100.0 + i * 50, float(i % 2), i // 4) for i in range(8)]
    pdf = pd.DataFrame(rows, columns=["pvname", "time", "value", "file"])
    src = tmp_path / "fl_src"
    src.mkdir()
    for j in (0, 1):
        pdf[pdf["file"] == j][["pvname", "time", "value"]].to_parquet(
            src / f"p{j}.parquet", index=False
        )

    stream = (
        spark.readStream.schema("pvname string, time double, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = str(tmp_path / "fl_out")
    q = (
        flatline_stream(stream, min_points=4, min_duration_s=100.0)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "fl_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = sorted(
        (r.pvname, r.kind, r.time, r.run_points)
        for r in spark.read.parquet(out).collect()
    )
    # crossing happens at the 4th flat point (t=250, batch 2); release at 400
    assert got == [
        ("stuck", "released", 400.0, 5),
        ("stuck", "stuck", 250.0, 4),
    ]
    # agreement with the batch screen on the same thresholds
    batch_df = spark.createDataFrame(
        pdf[["pvname", "time", "value"]], "pvname string, time double, value double"
    )
    b = {r.pvname: r for r in
         flatlines(batch_df, min_points=4, min_duration_s=100.0).collect()}
    assert b["stuck"].n_stuck_runs == 1 and not b["wiggle"].stuck


def test_jdbc_merge_stmt_dialects():
    """The distributed lane's upsert statement per backend family:
    ANSI MERGE by default; MySQL (no MERGE) gets INSERT ... ON
    DUPLICATE KEY UPDATE with the same monotone guard, value assigned
    BEFORE time (assignments evaluate left-to-right, so the guard must
    still see the old time when value is decided)."""
    import pytest

    from epicsarchiver_spark.streaming.ingest import _jdbc_merge_stmt

    merge = _jdbc_merge_stmt("cache", "cache_staging", "merge")
    assert merge.startswith("MERGE INTO cache t USING cache_staging s")
    assert "t.time <= s.time" in merge

    my = _jdbc_merge_stmt("cache", "cache_staging", "mysql")
    assert my.startswith("INSERT INTO cache")
    assert "ON DUPLICATE KEY UPDATE" in my
    assert "cache.time <= new.time" in my
    assert my.index("value = IF(") < my.index("time = IF(")  # ordering guard

    with pytest.raises(ValueError):
        _jdbc_merge_stmt("cache", "s", "sqlite")


def test_latest_value_query_jdbc_plumbs_dialect_and_staging(
    spark, events_dir, tmp_path, monkeypatch
):
    """The streaming entry point plumbs dialect/staging through to the
    distributed lane (the MySQL form is reachable without dropping to the
    sink function), derives a per-checkpoint staging default so two
    queries on one table never share a staging name, and rejects a bad
    dialect at call time — before any stream starts."""
    import epicsarchiver_spark.streaming.ingest as ing

    captured = {}

    def fake(batch, url, table="cache", ensure_table=True, n_shards=4,
             staging=None, dialect="merge"):
        captured.update(staging=staging, dialect=dialect, n_shards=n_shards)

    monkeypatch.setattr(ing, "upsert_latest_jdbc_distributed", fake)

    with pytest.raises(ValueError, match="dialect"):
        ing.latest_value_query_jdbc(
            spark.readStream.schema(EVENT_SCHEMA).parquet(events_dir),
            "jdbc:derby:unused", str(tmp_path / "ck0"),
            distributed=True, dialect="bogus",
        )

    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(events_dir)
    q = (
        ing.latest_value_query_jdbc(
            stream, "jdbc:derby:unused", str(tmp_path / "ck1"),
            distributed=True, dialect="mysql", n_shards=2,
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert captured["dialect"] == "mysql" and captured["n_shards"] == 2
    staging1 = captured["staging"]
    assert staging1 and staging1.startswith("cache_staging_")

    stream2 = spark.readStream.schema(EVENT_SCHEMA).parquet(events_dir)
    q2 = (
        ing.latest_value_query_jdbc(
            stream2, "jdbc:derby:unused", str(tmp_path / "ck2"),
            distributed=True,
        )
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    # distinct checkpoints -> distinct staging names; explicit staging= wins
    assert captured["staging"] != staging1
    ing.latest_value_query_jdbc(
        spark.readStream.schema(EVENT_SCHEMA).parquet(events_dir),
        "jdbc:derby:unused", str(tmp_path / "ck3"),
        distributed=True, staging="mine",
    )


def test_ewma_stream_matches_batch_operator(spark, tmp_path):
    """Streaming EWMA == the batch operator on the same in-order input,
    across micro-batch boundaries (the quantized-value buffer carries
    the span between batches)."""
    import pandas as pd

    from epicsarchiver_spark.operators.timeseries import ewma
    from epicsarchiver_spark.streaming.alerts import ewma_stream

    rng = __import__("random").Random(29)
    rows = []
    eid = 0
    for pv in ("A", "B"):
        base = 10.0 if pv == "A" else -5.0
        for i in range(90):
            v = base + rng.random() * 4.0 + (50.0 if i == 45 else 0.0)
            rows.append((eid, pv, float(i), round(v, 3)))
            eid += 1
    pdf = pd.DataFrame(rows, columns=["event_id", "pvname", "time", "value"])
    src = tmp_path / "src_ewma"
    src.mkdir()
    for j in range(3):
        part = pdf[pdf["time"].between(j * 30, j * 30 + 29)]
        part[["pvname", "time", "value"]].to_parquet(src / f"p{j}.parquet", index=False)

    batch_df = spark.createDataFrame(
        pdf, "event_id long, pvname string, time double, value double"
    )
    expected = {
        (r.pvname, r.time, r.value, r.ewma) for r in ewma(batch_df).collect()
    }

    stream = (
        spark.readStream.schema("pvname string, time double, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = str(tmp_path / "out_ewma")
    q = (
        ewma_stream(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt_ewma"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r.pvname, r.time, r.value, r.ewma)
        for r in spark.read.parquet(out).collect()
    }
    assert got == expected


def test_holt_stream_matches_batch_operator(spark, tmp_path):
    """Streaming Holt == the batch operator on the same in-order input,
    across micro-batch boundaries (the quantized buffer carries the
    window between batches) — level, trend, AND forecast row-exact."""
    import pandas as pd

    from epicsarchiver_spark.operators.timeseries import holt_linear
    from epicsarchiver_spark.streaming.alerts import holt_stream

    rng = __import__("random").Random(31)
    rows = []
    for pv in ("A", "B"):
        base = 3.0 if pv == "A" else -8.0
        for i in range(60):
            v = base + 0.5 * i + rng.random() * 2.0 - (30.0 if i == 40 else 0.0)
            rows.append((pv, float(i), round(v, 3)))
    pdf = pd.DataFrame(rows, columns=["pvname", "time", "value"])
    src = tmp_path / "src_holt"
    src.mkdir()
    for j in range(3):
        part = pdf[pdf["time"].between(j * 20, j * 20 + 19)]
        part.to_parquet(src / f"p{j}.parquet", index=False)

    batch_df = spark.createDataFrame(pdf, "pvname string, time double, value double")
    expected = {
        (r.pvname, r.time, r.value, r.level, r.trend, r.forecast)
        for r in holt_linear(batch_df).collect()
    }

    stream = (
        spark.readStream.schema("pvname string, time double, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = str(tmp_path / "out_holt")
    q = (
        holt_stream(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt_holt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r.pvname, r.time, r.value, r.level, r.trend, r.forecast)
        for r in spark.read.parquet(out).collect()
    }
    assert got == expected


def test_ewma_stream_rejects_span_one():
    import pytest

    from epicsarchiver_spark.streaming.alerts import ewma_stream

    with pytest.raises(ValueError, match="span"):
        ewma_stream(None, span=1)


def test_smoothing_streams_match_batch_with_null_values(spark, tmp_path):
    """NULL-value events match the batch window semantics in BOTH
    smoothing streams (r10 ADVICE): the null row occupies a span slot,
    is re-emitted with the statistic of the remaining non-null window,
    and a fully-null support window yields NULL — including across a
    micro-batch boundary (the ``n`` state marker)."""
    import math

    import pandas as pd

    from epicsarchiver_spark.operators.timeseries import ewma, holt_linear
    from epicsarchiver_spark.streaming.alerts import ewma_stream, holt_stream

    rng = __import__("random").Random(31)
    rows = []
    for pv in ("A", "B"):
        for i in range(24):
            # A: sparse nulls (incl. one straddling the batch boundary
            # at t=8/16); B: leading all-null run → NULL outputs
            if pv == "A":
                v = None if i in (3, 7, 8, 15, 16) else round(rng.random() * 9, 3)
            else:
                v = None if i < 10 else round(1.0 + i * 0.25, 3)
            rows.append((pv, float(i), v))
    pdf = pd.DataFrame(rows, columns=["pvname", "time", "value"])
    src = tmp_path / "src_null"
    src.mkdir()
    for j in range(3):
        part = pdf[pdf["time"].between(j * 8, j * 8 + 7)]
        part.to_parquet(src / f"p{j}.parquet", index=False)

    batch_df = spark.createDataFrame(pdf, "pvname string, time double, value double")

    def canon(r, cols):
        return tuple(
            None if (v := getattr(r, c)) is None or (
                isinstance(v, float) and math.isnan(v)
            ) else v
            for c in cols
        )

    from epicsarchiver_spark.operators.timeseries import holt_winters
    from epicsarchiver_spark.streaming.alerts import hw_stream

    for name, batch_op, stream_op, cols in [
        ("ewma", ewma, ewma_stream, ["pvname", "time", "value", "ewma"]),
        (
            "holt",
            holt_linear,
            holt_stream,
            ["pvname", "time", "value", "level", "trend", "forecast"],
        ),
        (
            "hw",
            holt_winters,
            hw_stream,
            ["pvname", "time", "value", "level", "trend", "season", "forecast"],
        ),
    ]:
        expected = {canon(r, cols) for r in batch_op(batch_df).collect()}
        stream = (
            spark.readStream.schema("pvname string, time double, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        out = str(tmp_path / f"out_{name}")
        q = (
            stream_op(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        got = {canon(r, cols) for r in spark.read.parquet(out).collect()}
        assert got == expected, f"{name}: stream != batch with nulls"


def test_discord_stream_matches_batch_window_words(spark, tmp_path):
    """Streaming HOT-SAX screen == the batch per-window word lane plus
    its running per-series word count, row-exact across micro-batch
    boundaries (the (time,q) buffer and the bounded word-count table
    carry the state)."""
    import pandas as pd
    from pyspark.sql import Window as W

    from epicsarchiver_spark.operators.timeseries import sax_window_words
    from epicsarchiver_spark.streaming.alerts import discord_stream

    rng = __import__("random").Random(37)
    rows = []
    for pv in ("A", "B"):
        pattern = [0, 10, 20, 30, 40, 30, 20, 10]
        for i in range(90):
            v = float(pattern[i % 8]) + (200.0 if (pv == "A" and i == 55) else 0.0)
            v += rng.random() if pv == "B" else 0.0
            rows.append((pv, float(i), round(v, 3)))
    pdf = pd.DataFrame(rows, columns=["pvname", "time", "value"])
    src = tmp_path / "src_disc"
    src.mkdir()
    for j in range(3):
        pdf[pdf["time"].between(j * 30, j * 30 + 29)].to_parquet(
            src / f"p{j}.parquet", index=False
        )

    batch_df = spark.createDataFrame(pdf, "pvname string, time double, value double")
    words = sax_window_words(batch_df, window=16, n_segments=4, alphabet=4)
    running = words.withColumn(
        "n_seen",
        F.count(F.lit(1)).over(
            W.partitionBy("pvname", "word")
            .orderBy("time")
            .rowsBetween(W.unboundedPreceding, 0)
        ),
    )
    expected = {
        (r.pvname, r.time, r.word, r.n_seen) for r in running.collect()
    }

    stream = (
        spark.readStream.schema("pvname string, time double, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = str(tmp_path / "out_disc")
    q = (
        discord_stream(stream, window=16, n_segments=4, alphabet=4)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt_disc"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r.pvname, r.time, r.word, r.n_seen)
        for r in spark.read.parquet(out).collect()
    }
    assert got == expected
    # the planted spike's windows really surface as novel words
    novel_a = [g for g in got if g[0] == "A" and g[3] == 1 and g[1] > 16]
    assert any(55 - 15 <= t <= 55 for _pv, t, _w, _n in novel_a)


def test_curation_detectors_run_unchanged_on_streams(spark, tmp_path):
    """boilerplate_segments and mojibake_stats are stateless narrow
    plans (zero shuffle, r11 plan audit), so the SAME operator call
    works on a readStream — the land-daemon intake shape. Output equals
    the batch run."""
    import pandas as pd

    from epicsarchiver_spark.operators.text_ops import (
        boilerplate_segments,
        mojibake_stats,
    )

    latin1 = "café naïve résumé ".encode("utf-8").decode("latin-1") * 3
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": ["the quick fox and a dog ran over a hill", latin1, ""],
        }
    )
    src = tmp_path / "docs_in"
    src.mkdir()
    pdf.to_parquet(src / "p0.parquet", index=False)
    batch = spark.createDataFrame(pdf)
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))

    for name, op in [
        ("moji", lambda df: mojibake_stats(df)),
        ("boil", lambda df: boilerplate_segments(df, seg_words=4, min_words=2)),
    ]:
        out = str(tmp_path / f"out_{name}")
        q = (
            op(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {tuple(r) for r in spark.read.parquet(out).collect()}
        want = {tuple(r) for r in op(batch).collect()}
        assert got == want, name


def test_curated_doc_stream_mojibake_screen(spark, tmp_path):
    """max_mojibake_ppm drops encoding-damaged docs ahead of the gopher
    gate; clean docs land untouched."""
    import pandas as pd

    from epicsarchiver_spark.streaming.curation import curated_doc_stream

    clean = ("the data and the table and a row and the scan go on " * 4).strip()
    damaged = (clean[:40] + " café résumé naïve ".encode("utf-8").decode("latin-1") * 6
               + clean[40:])
    pdf = pd.DataFrame({"doc_id": [1, 2], "text": [clean, damaged],
                        "source": ["s", "s"]})
    src = tmp_path / "in"
    src.mkdir()
    pdf.to_parquet(src / "p.parquet", index=False)
    stream = spark.readStream.schema("doc_id long, text string, source string").parquet(str(src))
    out = str(tmp_path / "landed")
    q = (
        curated_doc_stream(stream, max_mojibake_ppm=500)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    landed = spark.read.parquet(out).collect()
    assert [r.doc_id for r in landed] == [1]


def test_alert_mail_notifications_table_across_daemon_restart(spark, tmp_path):
    """The reference's cache.py:601-690 alert loop as ONE certified
    path (VERDICT r11 task 8): live stream → ok→alarm transition →
    rendered mail body (%PV(name)% lookup, clean-escape template) →
    notifications table, CONTINUING across a daemon restart. The
    discriminating timeline: after the restart a still-tripped value
    arrives INSIDE the would-re-notify window (t=20 > last_notice +
    timeout = 15), so only the checkpoint-carried alarm status prevents
    a duplicate mail; a fresh ok→alarm then notifies exactly once. The
    daemon pidfile lifecycle (cli --follow's bracket) wraps both runs."""
    from epicsarchiver_spark import daemon
    from epicsarchiver_spark.functions.mail import render_alert_mail

    src = tmp_path / "alert_ev"
    src.mkdir()
    notif_dir = str(tmp_path / "notifications")
    ck = str(tmp_path / "alert_ck")
    template = "ALERT %PV%=%VALUE% (trip %TRIP%, %COMP%) beam=%PV(M:beam)%"
    rules = spark.createDataFrame(
        pd.DataFrame(
            {
                "alert_id": [7],
                "pvname": ["M:t1"],
                "compare": ["gt"],
                "trippoint": [5.0],
                "timeout": [5.0],
                "active": ["yes"],
            }
        )
    )
    latest = {"M:beam": "101.5"}  # the cache table's tiny lookup frame

    def sink(batch_df, _batch_id):
        rows = batch_df.collect()  # notifications are rare and tiny
        if not rows:
            return
        pdf = pd.DataFrame(
            [
                {
                    **r.asDict(),
                    "body": render_alert_mail(
                        template, r.pvname, r.value, "alert-7",
                        r.compare, r.trippoint, lookup=latest,
                    ),
                }
                for r in rows
            ]
        )
        batch_df.sparkSession.createDataFrame(pdf).write.mode("append").parquet(
            notif_dir
        )

    def daemon_run():
        daemon.write_pidfile(ck, "alerts")
        try:
            stream = spark.readStream.schema(EVENT_SCHEMA).parquet(str(src))
            q = (
                alert_stream(stream, rules)
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
        finally:
            daemon.clear(ck, "alerts")

    pd.DataFrame(
        {"pvname": ["M:t1"] * 2, "time": [0.0, 10.0], "value": [1.0, 9.0]}
    ).to_parquet(src / "b1.parquet", index=False)
    daemon_run()
    assert daemon.already_running(ck, "alerts") is None  # pidfile cleared

    got1 = spark.read.parquet(notif_dir).collect()
    assert [(r.alert_id, r.time) for r in got1] == [(7, 10.0)]
    assert got1[0].body == "ALERT M:t1=9.0 (trip 5.0, gt) beam=101.5"

    pd.DataFrame(
        {
            "pvname": ["M:t1"] * 3,
            "time": [20.0, 30.0, 40.0],
            "value": [9.0, 1.0, 9.0],
        }
    ).to_parquet(src / "b2.parquet", index=False)
    daemon_run()
    got2 = sorted(
        (r.alert_id, r.time)
        for r in spark.read.parquet(notif_dir).collect()
    )
    assert got2 == [(7, 10.0), (7, 40.0)]
    bodies = {r.time: r.body for r in spark.read.parquet(notif_dir).collect()}
    assert bodies[40.0] == "ALERT M:t1=9.0 (trip 5.0, gt) beam=101.5"


def test_cusum_stream_matches_batch_operator(spark, tmp_path):
    """Row-exact batch↔stream equivalence for the CUSUM twin: same
    explicit target/k/h, events split across micro-batches — the
    statistic is integer arithmetic threaded through six BIGINTs of
    state, so batching cannot perturb a crossing."""
    import numpy as np

    from epicsarchiver_spark.operators.timeseries import cusum_changepoints
    from epicsarchiver_spark.streaming.alerts import cusum_stream

    rng = np.random.default_rng(7)
    rows = []
    for pv, drift in (("C:a", 0.8), ("C:b", -0.6)):
        t, v = 0.0, 10.0
        for i in range(90):
            t += 5.0
            # wander, then drift away from target=10 past mid-series
            v += float(rng.normal(0, 0.4)) + (drift if i > 40 else 0.0)
            rows.append((pv, t, round(v, 2)))
    pdf = pd.DataFrame(rows, columns=["pvname", "time", "value"])

    batch = spark.createDataFrame(pdf)
    want = sorted(
        map(
            tuple,
            cusum_changepoints(batch, k=0.5, h=3.0, target=10.0).collect(),
        )
    )
    assert want, "test data must produce at least one crossing"
    sides = {w[2] for w in want}
    assert sides == {"up", "down"}, f"want both sides, got {sides}"

    src = tmp_path / "cusum_ev"
    src.mkdir()
    for j in range(3):
        pdf.iloc[j * 60 : (j + 1) * 60].to_parquet(
            src / f"p{j}.parquet", index=False
        )
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        cusum_stream(stream, target=10.0, k=0.5, h=3.0)
        .writeStream.format("memory")
        .queryName("cusum_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cusum_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        map(tuple, spark.sql("select * from cusum_out").collect())
    )
    assert got == want

def test_cusum_stream_warm_start_matches_batch_targets(spark, tmp_path):
    """VERDICT r12 task 4: warm-start the live CUSUM from a batch
    backfill — ``cusum_targets`` of the backfill feeds
    ``cusum_stream(targets=...)`` per-series, and the stream over the
    live half must equal ``cusum_changepoints(targets=frame)`` on the
    same rows ROW-EXACTLY across micro-batch boundaries: both lanes
    quantize the same grid value back to the same integer reference.
    A third series absent from the backfill exercises the
    no-target-no-fallback path (emits nothing, batch drops it too)."""
    import numpy as np

    from epicsarchiver_spark.operators.timeseries import (
        cusum_changepoints,
        cusum_targets,
    )
    from epicsarchiver_spark.streaming.alerts import cusum_stream

    rng = np.random.default_rng(13)
    back_rows, live_rows = [], []
    for pv, level, drift in (("W:a", 4.0, 0.7), ("W:b", -3.0, -0.9)):
        t, v = 0.0, level
        for _ in range(40):  # backfill: wander around the level
            t += 5.0
            v = level + float(rng.normal(0, 0.3))
            back_rows.append((pv, t, round(v, 2)))
        for i in range(60):  # live half: drift away from the level
            t += 5.0
            v += float(rng.normal(0, 0.3)) + (drift if i > 20 else 0.0)
            live_rows.append((pv, t, round(v, 2)))
    # a series the backfill never saw: silent in both lanes
    live_rows += [("W:new", 5.0 * i, 100.0 + i) for i in range(1, 20)]

    backfill = spark.createDataFrame(
        pd.DataFrame(back_rows, columns=["pvname", "time", "value"])
    )
    live_pdf = pd.DataFrame(live_rows, columns=["pvname", "time", "value"])
    live = spark.createDataFrame(live_pdf)

    tg = cusum_targets(backfill)
    want = sorted(
        map(
            tuple,
            cusum_changepoints(live, k=0.5, h=3.0, targets=tg).collect(),
        )
    )
    assert want, "live half must produce at least one crossing"
    assert {w[0] for w in want} == {"W:a", "W:b"}

    tmap = {r["pvname"]: r["target"] for r in tg.collect()}
    src = tmp_path / "cusum_warm_ev"
    src.mkdir()
    for j in range(3):
        live_pdf.iloc[j * 50 : (j + 1) * 50].to_parquet(
            src / f"p{j}.parquet", index=False
        )
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        cusum_stream(stream, k=0.5, h=3.0, targets=tmap)
        .writeStream.format("memory")
        .queryName("cusum_warm_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cusum_warm_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        map(tuple, spark.sql("select * from cusum_warm_out").collect())
    )
    assert got == want


def test_cusum_stream_requires_some_target():
    from epicsarchiver_spark.streaming.alerts import cusum_stream

    with pytest.raises(ValueError, match="target"):
        cusum_stream(None)


def test_ingest_state_partitions_sized_by_volume(monkeypatch):
    """r14: state partitions derive from input volume (floor 4, one per
    ~64 MB), never from core count — the per-partition micro-batch
    fixed costs made the 32-core ingest bench slower than the 8-core
    one. Volume is capped at 3 × the session's parallelism (the count
    is pinned into the checkpoint for good). Env override wins when
    set."""
    from epicsarchiver_spark.streaming.ingest import ingest_state_partitions

    monkeypatch.delenv("SPARK_GRAFT_INGEST_STATE_PARTITIONS", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "64")
    assert ingest_state_partitions(0) == 4
    assert ingest_state_partitions(100 * 1024 * 1024) == 4
    assert ingest_state_partitions(5 * 1024**3) == 80
    monkeypatch.setenv("SPARK_GRAFT_INGEST_STATE_PARTITIONS", "12")
    assert ingest_state_partitions(10 * 1024**3) == 12


def test_ingest_state_partitions_capped_by_parallelism(monkeypatch):
    """The docstring's 100 TB backfill: 1 638 400 partitions by volume,
    capped at 3 × cores (96 at 32 cores); the floor still wins on one
    core."""
    from epicsarchiver_spark.streaming.ingest import ingest_state_partitions

    monkeypatch.delenv("SPARK_GRAFT_INGEST_STATE_PARTITIONS", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    assert ingest_state_partitions(100 * 1024**4) == 96  # 100 TB
    assert ingest_state_partitions(10 * 1024**3) == 96
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "1")
    assert ingest_state_partitions(100 * 1024**4) == 4


def test_ingest_state_partitions_capped_at_key_groups(monkeypatch):
    """The keyed fold keeps its state per key group (128, the store's
    buckets): a partition past the group count would hold no state, so
    neither volume, cores nor the env override size beyond it."""
    from epicsarchiver_spark.streaming.fold import GROUPS
    from epicsarchiver_spark.streaming.ingest import ingest_state_partitions

    assert GROUPS == 128
    monkeypatch.delenv("SPARK_GRAFT_INGEST_STATE_PARTITIONS", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "64")
    assert ingest_state_partitions(10 * 1024**3) == GROUPS  # 160 by volume
    assert ingest_state_partitions(8 * 1024**3) == GROUPS
    assert ingest_state_partitions(8 * 1024**3 - 64 * 1024**2) == 127
    monkeypatch.setenv("SPARK_GRAFT_INGEST_STATE_PARTITIONS", "4096")
    assert ingest_state_partitions(0) == GROUPS


def test_ingest_session_pins_sized_shuffle_partitions(spark, monkeypatch):
    """The sibling session carries the data-derived shuffle-partition
    conf while the caller's session keeps its own value — the stream
    pins state partitions from the sibling at start."""
    from epicsarchiver_spark.streaming.ingest import ingest_session

    monkeypatch.delenv("SPARK_GRAFT_INGEST_STATE_PARTITIONS", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "128")  # ceiling 128 (groups): volume decides
    before = spark.conf.get("spark.sql.shuffle.partitions")
    s2 = ingest_session(spark, 5 * 1024**3)
    assert s2.conf.get("spark.sql.shuffle.partitions") == "80"
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
