"""Streaming ingest pipeline — SURVEY §2.9 / §3.1.

The reference runs two daemons around a MySQL mailbox: a cache process
upserting latest values (epicsarchiver/cache.py:433-462) and an archiver
applying deadtime/deadband/limbo compression before appending points
(epicsarchiver/archiver.py:362-472). Here both collapse into Structured
Streaming queries over one event stream:

- ``compressed_stream``   : the stateful deadtime/deadband/limbo operator
  (W1/W2), keyed by series — Spark has no built-in debounce. It runs on
  ``fold.keyed_fold``, the keyed-fold primitive every stateful stream
  kernel shares; this module keeps the compressor's step
  (``_compress_step``), its cold-state seeds and its timer hooks.
- ``latest_value_query``  : last-per-key cache upsert via ``foreachBatch``:
  one delta file per micro-batch beside a parquet base, folded into it
  once the deltas grow (S14).
- ``archive_query``       : compressed stream appended to the points
  store (S15).

Semantics contract: on the same finite event set, ``compressed_stream``
output == ``operators.deadband.compress_reference`` (the executable spec);
the pending ("limbo") tail flushes on processing-time timeout, or when a
later event arrives past the deadtime window (tested in
tests/test_streaming.py with sentinel tail events).
"""

from __future__ import annotations

import json
from contextlib import contextmanager
from typing import Any, NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from epicsarchiver_spark.sources import fsio, points_store
from epicsarchiver_spark.streaming.fold import GROUPS, keyed_fold, refuse_per_key_state

EVENT_SCHEMA = StructType(
    [
        StructField("pvname", StringType()),
        StructField("time", DoubleType()),
        StructField("value", DoubleType()),
    ]
)

OUT_SCHEMA = EVENT_SCHEMA

# state: last emitted (t, v) + pending limbo entry (t, v) — exactly the
# per-PV fields the reference keeps (epicsarchiver/archiver.py:79-81)
STATE_SCHEMA = StructType(
    [
        StructField("last_t", DoubleType()),
        StructField("last_v", DoubleType()),
        StructField("pend_t", DoubleType()),
        StructField("pend_v", DoubleType()),
    ]
)


def ingest_state_partitions(
    input_bytes: int, bytes_per_partition: int = 64 * 1024 * 1024, floor: int = 4
) -> int:
    """Size the stateful operator's partition count from DATA VOLUME,
    not core count. A streaming query pins its state-store partition
    count to ``spark.sql.shuffle.partitions`` at first start (it is
    written into the checkpoint), and every micro-batch then pays a
    fixed cost PER state partition (store open + delta commit + one
    kernel call per key group) regardless of how many
    rows it carries. With partitions = cores (the batch default), a
    bounded backfill on a 32-core box paid 32 of those fixed costs per
    micro-batch for data that filled four — the r13 driver measured the
    ingest bench FASTER at 8 cores than at 32 (scaling 0.54) purely on
    this. One partition per ~64 MB of input (floor 4) keeps partitions
    in the guide §2.2 size band; a bench-sized backfill gets the floor.
    The ceiling is 3 × ``session.default_parallelism()`` (the top of the
    2-3 × cores band ``session.get_spark`` gives for cluster shuffles):
    past it the per-batch fixed costs
    outrun the parallelism that could absorb them, and the count is
    pinned for the checkpoint's lifetime, so a 100 TB backfill gets 96
    partitions at 32 cores, not 1.6 M. Whatever the sizing, the count
    is at most ``fold.GROUPS``: the keyed fold keeps its state per key
    group, so a partition beyond the group count would hold no state
    and only add its fixed costs. Override with
    $SPARK_GRAFT_INGEST_STATE_PARTITIONS where the deployment knows
    better (e.g. sizing for a future volume on day one)."""
    import os

    from epicsarchiver_spark.session import default_parallelism

    env = os.environ.get("SPARK_GRAFT_INGEST_STATE_PARTITIONS")
    if env:
        return min(GROUPS, max(1, int(env)))
    ceiling = min(GROUPS, max(int(floor), 3 * default_parallelism()))
    return min(ceiling, max(int(floor), int(input_bytes) // int(bytes_per_partition)))


def ingest_session(spark, source: int | str, **kw):
    """A sibling SparkSession (shared SparkContext, own SQL conf) whose
    ``spark.sql.shuffle.partitions`` is sized by
    :func:`ingest_state_partitions` — the supported way to give ONE
    streaming query a data-derived state-partition count without
    mutating the caller's session (the conf is read at stream start and
    pinned into the checkpoint; batch queries on the original session
    keep their own setting). ``source`` is the input's size in bytes, or
    its path, whose bytes are measured now through the Hadoop FS (0 when
    absent) — a fit for a bounded drain, whose input is what is there at
    start. Build the ``readStream`` on the returned session."""
    if isinstance(source, str):
        fs, P = fsio.handle(spark, source)
        source = fs.getContentSummary(P(source)).getLength() if fs.exists(P(source)) else 0
    s2 = spark.newSession()
    s2.conf.set(
        "spark.sql.shuffle.partitions",
        str(ingest_state_partitions(source, **kw)),
    )
    return s2


def _heartbeat_jitter(pvname: str, heartbeat_s: float) -> float:
    """Deterministic per-key jitter (±25%) — the reference randomizes each
    PV's force_time over 13-21 h to spread load (util.py:348-354); a
    replayable stream needs the jitter derived from the key, not an RNG
    (SURVEY §7 'hard parts')."""
    import hashlib

    frac = int(hashlib.md5(pvname.encode()).hexdigest()[:8], 16) / 0xFFFFFFFF
    return heartbeat_s * (0.75 + 0.5 * frac)


def _compress_step(
    last_t, last_v, pend_t, pend_v, times, values, deadtime: float, deadband: float
):
    """One pass of the reference compression over time-sorted events given
    incoming per-series state; returns (out_t, out_v, new state 4-tuple).
    The single copy of the W1 branch logic — the stream's fold step
    wraps it, and tests/test_compress_kernel.py drives it directly for
    batching-invariance proofs."""
    out_t: list = []
    out_v: list = []
    for t, v in zip(times, values):
        if last_t is None:
            out_t.append(t), out_v.append(v)
            last_t, last_v = t, v
            continue
        if pend_t is not None and t > last_t + deadtime:
            out_t.append(pend_t), out_v.append(pend_v)
            last_t, last_v = pend_t, pend_v
            pend_t = pend_v = None
        # executed-reference order (archiver.py:386-414): deadtime gate
        # first, then deadband; any non-saved change newer than 1 ms
        # becomes the limbo entry — sub-deadband moves are DELAYED, not
        # dropped
        if t > last_t + deadtime and abs(v - last_v) > deadband:
            out_t.append(t), out_v.append(v)
            last_t, last_v = t, v
            pend_t = pend_v = None
        elif t > last_t + 0.001:
            pend_t, pend_v = t, v
    return out_t, out_v, last_t, last_v, pend_t, pend_v


def _compress_fold(
    deadtime: float,
    deadband: float,
    flush_ms: int | None,
    heartbeat_s: float | None = None,
    seeds=None,
    seed_col: str | None = None,
):
    """The compressor's hooks for ``fold.keyed_fold``, closed over the
    config: ``dict(init=, step=[, on_timeout=, timer_ms=])``.

    ``seeds`` — optional {pvname: (last_t, last_v)} warm-start map (plain
    dict, or a ``pyspark.Broadcast`` of one — the broadcast ships once
    per executor instead of pickling into every task closure): a series
    with no checkpointed state starts from its last ARCHIVED point
    instead of cold (see compressed_stream).

    ``seed_col`` — name of a boolean column marking IN-STREAM seed rows:
    the fully distributed warm start (no driver dict at any size). Seed
    rows carry each series' last archived (time, value); on a series
    with no checkpointed state the newest seed row becomes (last_t,
    last_v) and is NOT emitted; with existing state seed rows are
    ignored (checkpoint wins). Seed rows never reach the compressor as
    events."""

    def init(key: tuple) -> tuple:
        seed_map = seeds.value if hasattr(seeds, "value") else seeds
        if seed_map is not None and key[0] in seed_map:
            # warm start: continue the deadtime window from the last
            # archived point; the seed itself is NOT re-emitted
            last_t, last_v = seed_map[key[0]]
            return last_t, last_v, None, None
        return None, None, None, None

    def step(key: tuple, state: tuple, rows):
        last_t, last_v, pend_t, pend_v = state
        # numpy + bulk .tolist(): iterating pandas Series pays ~3× per
        # element, and .tolist() yields plain floats so the state tuple
        # never carries numpy scalars into Arrow serialization
        t_arr, v_arr = rows.time, rows.col("value")
        if seed_col is not None and seed_col in rows.frame.columns:
            is_seed = rows.frame[seed_col].fillna(False).astype(bool).to_numpy()[rows.order]
            if is_seed.any():
                if last_t is None:
                    newest = is_seed.nonzero()[0][-1]
                    last_t, last_v = float(t_arr[newest]), float(v_arr[newest])
                t_arr, v_arr = t_arr[~is_seed], v_arr[~is_seed]
        out_t, out_v, *state = _compress_step(
            last_t, last_v, pend_t, pend_v,
            t_arr.tolist(), v_arr.tolist(), deadtime, deadband,
        )
        return tuple(state), ({"time": out_t, "value": out_v} if out_t else None)

    hooks = {"init": init, "step": step}
    if flush_ms is None and heartbeat_s is None:
        return hooks

    def on_timeout(key: tuple, state: tuple, now_ms: int):
        last_t, last_v, pend_t, pend_v = state
        if pend_t is not None:
            # flush the limbo tail (ref archiver.py:404-414: pending
            # entry becomes a real point once the window elapses)
            return (pend_t, pend_v, None, None), {"time": [pend_t], "value": [pend_v]}
        if heartbeat_s is not None and last_t is not None:
            # W3 forced heartbeat: silent series re-emits its held value
            # at the current processing time, guaranteeing the staleness
            # floor (ref archiver.py:419-440)
            now_s = now_ms / 1000.0
            return (now_s, last_v, None, None), {"time": [now_s], "value": [last_v]}
        return state, None

    def timer_ms(key: tuple, state: tuple) -> int | None:
        last_t, _last_v, pend_t, _pend_v = state
        if flush_ms is not None and pend_t is not None:
            return flush_ms
        if heartbeat_s is not None and last_t is not None:
            return int(_heartbeat_jitter(key[0], heartbeat_s) * 1000)
        return None

    return {**hooks, "on_timeout": on_timeout, "timer_ms": timer_ms}


def compressed_stream(
    events: DataFrame,
    deadtime: float = 5.0,
    deadband: float = 0.0,
    flush_ms: int | None = 1000,
    heartbeat_s: float | None = None,
    seeds=None,
    seed_col: str | None = None,
) -> DataFrame:
    """W1/W2 — stateful deadtime/deadband/limbo compression of a streaming
    ``(pvname, time, value)`` frame. Keyed state per series; bursts inside
    the deadtime window collapse to the final value carrying its original
    event timestamp.

    ``flush_ms`` — processing-time timer that flushes a pending limbo
    entry after quiet time. Use it for CONTINUOUS deployments. For bounded
    runs (``trigger(availableNow=True)`` backfills, benchmarks) pass
    ``None``: once any group registers a processing-time timeout, Spark's
    availableNow executor keeps scheduling empty micro-batches and the
    query never terminates (observed on 4.1: endless 0-row batches). With
    ``None`` the pending tail simply stays in state — the same outcome as
    stopping the reference's archiver mid-deadtime-window; a later event
    past the window still flushes it with its original timestamp.

    ``heartbeat_s`` — W3 forced heartbeat (continuous mode only): a
    series silent longer than ~heartbeat_s re-emits its held value at
    the current processing time, with deterministic ±25% per-key jitter
    replacing the reference's random 13-21 h spread (util.py:348-354) so
    replays are reproducible.

    ``seeds`` — {pvname: (last_t, last_v)} warm-start map, e.g. from
    ``latest_per_key(read_points(...))`` collected: the reference
    archiver's RESTART behavior (startup reloads last_ts/last_value from
    the cache so the deadtime window continues across the restart). A
    new query with a fresh checkpoint then does not re-emit each
    series' first event or reset its window. A plain dict rides the
    kernel closure (re-pickled into every task — fine to ~10⁴ series);
    pass ``spark.sparkContext.broadcast(the_dict)`` instead to ship it
    once per executor (~10⁶ series, driver-memory-bound). Checkpointed
    state always wins over a seed; pending limbo entries are not
    recoverable from the store (the reference loses them on restart
    too).

    ``seed_col`` — the FULLY DISTRIBUTED warm start, no driver
    materialization at any scale: name a boolean column on ``events``
    that marks in-stream seed rows (build them with ``seed_frame(
    latest_per_key(read_points(...)))`` and place them in the stream
    source ahead of the first trigger — the first file of a file-stream
    directory, a bootstrap topic, etc.; real event rows carry false/
    null). The newest seed row per cold series becomes its (last_t,
    last_v) without being emitted; series with checkpointed state
    ignore seed rows, so replaying the seed file after a
    checkpoint-backed restart is harmless. Seed rows that arrive only
    AFTER a series' first real event are ignored too (the series has
    state by then) — ordering them first is the caller's contract.
    Composable with ``seeds`` (explicit map wins per key).

    ``seeds``/``seed_col`` are THE supported new-query resume paths. A
    transformWithStateInPandas twin (``compressed_stream_resumable``,
    RocksDB ``initialState`` seeding) shipped r5–r11 but its runtime
    state-server protocol needs protobuf, which cannot be vendored into
    this container — after two rounds as the repo's only untestable
    code it was retired in r12 (VERDICT r11 task 2; git history has it
    at 9cef6bf for an environment where TWS runs). The seed lanes cover
    the same contract — restart continuity without re-emitting first
    events — fully distributed via ``seed_col`` at any series count.
    """
    return keyed_fold(
        events,
        ["pvname"],
        output_schema=OUT_SCHEMA,
        state_schema=STATE_SCHEMA,
        **_compress_fold(deadtime, deadband, flush_ms, heartbeat_s, seeds, seed_col),
    )


def seed_frame(latest: DataFrame, seed_col: str = "is_seed") -> DataFrame:
    """(pvname, time, value) latest-per-series batch frame → in-stream
    seed rows for ``compressed_stream(seed_col=...)``: the events schema
    plus ``seed_col = true``. Write this into the stream source BEFORE
    the first trigger; event rows must carry ``seed_col`` false/null."""
    return latest.select("pvname", "time", "value", F.lit(True).alias(seed_col))


def dedup_stream(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """At-least-once source → effectively-once stream: drop re-delivered
    (pvname, time) events within the watermark horizon. The streaming
    analog of the reference's W10 overlap re-read (restart re-reads a
    window of already-archived points and relies on downstream dedup);
    here the state is bounded by the watermark instead of a fixed 1-day
    overlap, and eviction is automatic. Per-key state = one boolean per
    (pvname, time) seen inside the horizon."""
    ev = events.withColumn("_ts", F.timestamp_seconds(F.col("time"))).withWatermark(
        "_ts", watermark
    )
    return ev.dropDuplicatesWithinWatermark(["pvname", "time"]).drop("_ts")


def rate_stream(
    events: DataFrame, window: str = "1 minute", watermark: str = "2 minutes"
) -> DataFrame:
    """Streaming per-series event-rate metric: tumbling event-time
    windows with a watermark bounding state (late events inside the
    horizon still count; beyond it the window is finalized and emitted).
    Exactly the ops dashboard the reference reads from its cache counts
    (cache.py:208-223) — here it is a first-class windowed aggregate.

    Append-mode semantics: a window row is emitted ONLY once the
    watermark passes its end — the tail windows of a bounded replay stay
    in state (same as any watermark aggregate). Continuous deployments
    flush them as later events advance the watermark; bounded
    backfills/tests either append a watermark-advancing sentinel or read
    the tail from state via outputMode('update'/'complete').
    Batch twin: ``operators.timeseries.rate_windowed`` (same epoch-aligned
    windows; equivalence tested in tests/test_streaming.py)."""
    ev = events.withColumn("_ts", F.timestamp_seconds(F.col("time"))).withWatermark(
        "_ts", watermark
    )
    return (
        ev.groupBy("pvname", F.window("_ts", window).alias("_w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "pvname",
            F.col("_w.start").cast("double").alias("win_start"),
            "n_events",
        )
    )


def session_stream(
    events: DataFrame, gap: str = "5 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming gap-based sessionization via Structured Streaming's
    native ``session_window``: consecutive events per series closer than
    ``gap`` merge into one growing session; a session is finalized and
    emitted once the watermark passes its close. State is bounded by the
    watermark (open sessions only). Returns (pvname, session_start,
    session_end, n_events) — the live twin of
    ``operators.timeseries.sessionize`` (same (key, gap) semantics;
    closed-session equivalence tested in tests/test_streaming.py).

    Note the window-end convention: ``session_window``'s end is
    last_event + gap; to agree with the batch operator (end = last event
    time) the emitted ``session_end`` is ``max(_ts)``, not the window
    end."""
    ev = events.withColumn("_ts", F.timestamp_seconds(F.col("time"))).withWatermark(
        "_ts", watermark
    )
    return (
        ev.groupBy("pvname", F.session_window("_ts", gap).alias("_w"))
        .agg(
            F.min("_ts").cast("double").alias("session_start"),
            F.max("_ts").cast("double").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .drop("_w")
    )


# A cache's folded rows, as one partition swapped whole. Its name is an
# earlier layout's bucket, so the cache directory still reads as one
# parquet table (with a ``bucket`` column) and an earlier cache reads as
# the base.
CACHE_BASE = "bucket=0"
CACHE_DELTAS = "_delta"  # a cache's per-batch files, <batch id>[.<writer>].parquet
CACHE_WATERMARK = "_watermark"  # in the base: {writer: the highest batch id folded}


class _Cache(NamedTuple):
    """What a cache holds, as the next writer's recovery would leave it."""

    base: str | None  # the base's directory; None: an earlier layout's base, or none
    marks: dict[str, int]  # the base's watermark per writer
    pending: dict[tuple[str, int], tuple[str, int]]  # (writer, id) above it: (path, bytes)


@contextmanager
def _described(spark, text: str):
    """Label the jobs run inside with ``text`` (``setJobDescription``),
    then restore the caller's description."""
    sc = spark.sparkContext
    before = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(text)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", before)


def _latest(rows: DataFrame) -> DataFrame:
    """One row per series: the value at its latest time, that time, and
    the summed event count ``np``."""
    return rows.groupBy("pvname").agg(
        F.max_by("value", F.struct(F.col("time"))).alias("value"),
        F.max("time").alias("time"),
        F.sum("np").alias("np"),
    )


def _data_bytes(fs, directory) -> int:
    """Bytes of the data files under ``directory`` (Spark's listing:
    hidden entries skipped, ``name=value`` subdirectories walked)."""
    return sum(
        _data_bytes(fs, st.getPath()) if st.isDirectory() else st.getLen()
        for st in fsio.visible(fs, directory)
    )


def _cache_state(spark, cache_path: str) -> _Cache:
    """The cache's base (read where ``fsio.current`` says it is), its
    watermark, and the deltas above it. A delta of writer ``w`` is
    pending while its id is above the base's mark for ``w``."""
    base = fsio.current(spark, cache_path, CACHE_BASE)
    marks = fsio.read_text(spark, f"{base}/{CACHE_WATERMARK}")
    if marks is None:
        base, marks = None, "{}"
    marks = json.loads(marks)
    fs, P = fsio.handle(spark, cache_path)
    deltas = P(f"{cache_path}/{CACHE_DELTAS}")
    pending = {}
    for st in fsio.visible(fs, deltas) if fs.exists(deltas) else []:
        name = st.getPath().getName()
        stem, _, writer = name.removesuffix(".parquet").partition(".")
        if name.endswith(".parquet") and stem.isdigit() and "." not in writer and st.isFile():
            if int(stem) > marks.get(writer, -1):
                pending[writer, int(stem)] = (str(st.getPath()), st.getLen())
    return _Cache(base, marks, pending)


def _stage_base(rows: DataFrame, cache_path: str, marks: dict[str, int], size: int) -> None:
    """Stage ``rows`` as the cache's base, in files of at most one scan
    split for ``size`` bytes of input (an unestimated size leaves the
    file count to Spark), with the watermark ``marks``."""
    spark = rows.sparkSession
    files = -(-size // points_store.split_bytes(spark))
    if files <= int(spark.conf.get("spark.sql.shuffle.partitions")):
        rows = rows.coalesce(max(files, 1))
    stage = f"{fsio.staging(cache_path)}/{CACHE_BASE}"
    rows.write.parquet(stage)
    fsio.write_text(spark, f"{stage}/{CACHE_WATERMARK}", json.dumps(marks, sort_keys=True))


def _fold(spark, cache_path: str, state: _Cache, schema=None) -> None:
    """Rewrite the base with the ``state``'s pending deltas merged in,
    its watermark raised to their ids, and swap it in with one
    ``fsio.commit`` of its partition that drops exactly those deltas: a
    delta landed since ``state`` was read stays, pending. A base of an
    earlier layout (the cache's top level: ``bucket=k`` directories, no
    ``np``) is read as the base, and its files go with the swap. Raises
    instead of committing if another writer folded meanwhile: the base
    changed since ``state``, or its recovery dropped this fold's staging."""
    marks = dict(state.marks)
    for writer, i in state.pending:
        marks[writer] = max(marks.get(writer, -1), i)
    with _described(spark, f"cache fold ≤{max(i for _, i in state.pending)}"):
        read = spark.read if schema is None else spark.read.schema(schema)
        new = read.parquet(*(path for path, _ in state.pending.values()))
        src = state.base or cache_path
        base = spark.read.schema(new.schema).parquet(src).select(
            "pvname", "value", "time", F.coalesce("np", F.lit(0).cast("long")).alias("np")
        )
        fs, P = fsio.handle(spark, cache_path)
        size = _data_bytes(fs, P(src)) + sum(n for _, n in state.pending.values())
        _stage_base(_latest(base.unionByName(new)), cache_path, marks, size)
    drop = [f"{CACHE_DELTAS}/{path.rpartition('/')[2]}" for path, _ in state.pending.values()]
    if state.base is None:  # an earlier layout's files go, but for the part swapped in
        names = (st.getPath().getName() for st in fsio.visible(fs, P(cache_path)))
        drop += [name for name in names if name != CACHE_BASE]
    staged = P(f"{fsio.staging(cache_path)}/{CACHE_BASE}")
    if not (fs.exists(staged) and fsio.visible(fs, staged)) or (
        _cache_state(spark, cache_path).marks != state.marks
    ):
        raise OSError(f"another writer folded {cache_path} during this fold")
    fsio.commit(spark, cache_path, [CACHE_BASE], drop)


def upsert_latest(
    batch: DataFrame, cache_path: str, batch_id: int | None = None, writer: str = ""
) -> None:
    """S14 — merge a micro-batch into the latest-value cache table
    (ref epicsarchiver/cache.py:454-462's per-batch UPDATE transaction).

    The cache is a base (the partition ``bucket=0``) plus per-batch
    deltas (``_delta``). The batch is aggregated per series (the value
    at the latest time, that time, the event count ``np``) and lands as
    ONE parquet file ``_delta/<batch_id>.<writer>.parquet``
    (``<batch_id>.parquet`` for the default writer; ``fsio.write_file``:
    written aside, renamed in).
    No base file is read or rewritten, and no staging is touched (unless
    a crashed fold left its swap to finish), so the per-batch work is
    O(batch + pending deltas): the deltas are listed, and summed against
    the bound below. ``batch_id`` and ``writer`` are the ``foreachBatch``
    id and the stream's query id (:func:`latest_value_query`); a direct
    call takes the next id of its writer. The first write into an absent
    cache lands as the base instead.

    A fold runs once the pending deltas' bytes reach the base's bytes or
    one scan split (``spark.sql.files.maxPartitionBytes``), whichever is
    smaller: it merges base and deltas into a new base of files of at
    most one split each, staged, and swaps it in with one ``fsio.commit``
    of its partition that drops the deltas it folded. So a read opens at
    most about twice the base and one split, and each cached byte is
    rewritten about twice. The bound counts bytes, not files: many tiny
    deltas against a large base pile up until their bytes reach it. The
    base records, per writer, the highest batch id it has folded (its
    watermark, ``_watermark``), inside the swapped directory.

    ``np`` (VERDICT r12 task 3) is what makes the cache the O(1)
    staleness feed of ``sax_words_refresh(stats=...)``
    (:func:`read_cache_stats`), and it is exact under the stream's
    replays: a replayed id above its writer's watermark replaces its own
    delta file, and one at or below it (its rows are in the base) writes
    nothing. Ids count per writer, so a stream on a fresh checkpoint
    (a new query id, ids from 0 again) lands all its batches. A crash at
    any step leaves every series once, with its latest value, after the
    replay. A cache of an earlier layout (``bucket=k`` directories, or
    no ``np`` column: counts start at 0) is read as the base, and its
    first fold rewrites it in this layout.

    Each write is labelled for Spark's UI and event log ("cache delta
    batch N", "cache fold ≤N"), and the caller's job description is
    restored after."""
    if "." in writer or "/" in writer:
        raise ValueError(f"a cache writer's name holds no '.' or '/': {writer!r}")
    spark = batch.sparkSession
    state = _cache_state(spark, cache_path)
    if state.base is None or fsio.unfinished(spark, cache_path):
        # no base, an earlier layout's, or a crashed fold: finish its swaps
        fsio.recover(spark, cache_path)
        state = _cache_state(spark, cache_path)
    mark = state.marks.get(writer, -1)
    if batch_id is None:
        batch_id = max([mark, *(i for w, i in state.pending if w == writer)]) + 1
    if batch_id <= mark:
        return
    fresh = _latest(batch.select("pvname", "value", "time", F.lit(1).cast("long").alias("np")))
    with _described(spark, f"cache delta batch {batch_id}"):
        if state.base is None and not fsio.exists(spark, cache_path):
            size = int(fresh._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
            _stage_base(fresh, cache_path, {writer: batch_id}, size)
            fsio.commit(spark, cache_path)
            return
        name = f"{batch_id}.{writer}.parquet" if writer else f"{batch_id}.parquet"
        size = fsio.write_file(spark, fresh, f"{cache_path}/{CACHE_DELTAS}/{name}")
    pending = size + sum(n for k, (_, n) in state.pending.items() if k != (writer, batch_id))
    fs, P = fsio.handle(spark, cache_path)
    if pending and pending >= min(
        _data_bytes(fs, P(state.base or cache_path)), points_store.split_bytes(spark)
    ):
        compact_cache(spark, cache_path, fresh.schema)


def compact_cache(spark, cache_path: str, schema=None) -> int:
    """Fold a cache's pending deltas into its base now, whatever their
    size (``pvarch compact`` on a cache); the number of deltas folded.
    Safe beside the cache's daemon: a delta it lands meanwhile stays
    pending, and if it folds at the same moment one of the two folds
    raises instead of committing."""
    fsio.recover(spark, cache_path)
    state = _cache_state(spark, cache_path)
    if state.pending:
        _fold(spark, cache_path, state, schema)
    return len(state.pending)


def is_cache(spark, path: str) -> bool:
    """Whether ``path`` holds a latest-value cache of this layout (a base
    with a watermark, or delta files), not a points store."""
    return _cache_state(spark, path).base is not None or fsio.exists(
        spark, f"{path}/{CACHE_DELTAS}"
    )


def upsert_latest_jdbc(
    batch: DataFrame,
    url: str,
    table: str = "cache",
    ensure_table: bool = True,
) -> None:
    """S14, JDBC lane — merge a micro-batch into a latest-value cache
    TABLE over JDBC, one transaction per batch. BASELINE.md's stated
    deployment shape for the reference's cache daemon is "Structured
    Streaming + JDBC sink" (ref epicsarchiver/cache.py:454-462: a
    per-batch UPDATE loop inside one MySQL transaction); this is that
    sink for deployments with a real SQL cache consumer, alongside the
    file-native ``upsert_latest``.

    Scale shape: the per-key reduction (max_by over the micro-batch)
    runs DISTRIBUTED; only the reduced frame — one row per touched
    series, the same bounded artifact as the reference's cache table
    (~#PVs rows, not #events) — crosses to the driver's JDBC
    connection, exactly like the reference daemon. Rows only advance
    (``UPDATE … WHERE time <= ?``), so replaying a batch after a crash
    (foreachBatch is at-least-once) is a no-op and out-of-order batches
    never regress a newer value — the same idempotence contract the
    parquet lane gets from max_by. The batch's rows commit or roll
    back atomically; a duplicate-key race on INSERT (SQLState 23505)
    means a newer row exists and is skipped. For large series counts,
    ``upsert_latest_jdbc_distributed`` keeps the rows off the driver."""
    spark = batch.sparkSession
    order = F.struct(F.col("time"))
    rows = (
        batch.groupBy("pvname")
        .agg(F.max_by("value", order).alias("value"), F.max("time").alias("time"))
        .collect()
    )
    if not rows:
        return
    jvm = spark._jvm
    if ensure_table:
        conn = jvm.java.sql.DriverManager.getConnection(url)
        try:
            _jdbc_ensure_table(conn, table)
        finally:
            conn.close()
    _jdbc_upsert_rows(jvm, url, table, rows)


def _jdbc_merge_stmt(table: str, staging: str, dialect: str) -> str:
    """The set-based monotone upsert for ``upsert_latest_jdbc_distributed``,
    per backend family. ``merge`` is ANSI MERGE (Derby ≥10.11, PostgreSQL
    ≥15, Oracle, DB2, SQL Server — parity-tested on Derby). ``mysql`` is
    INSERT … ON DUPLICATE KEY UPDATE with the same ``old.time <= new.time``
    guard (MySQL has no MERGE; the reference's own cache store is MySQL,
    ref cache.py:454-462). The mysql form uses the 8.0.19+ row alias and
    assigns ``value`` BEFORE ``time`` — ON DUPLICATE KEY assignments
    evaluate left-to-right, so the time guard must still see the OLD
    ``{table}.time`` when value is decided. Untestable in this container
    (no MySQL); the statement shape is unit-pinned."""
    if dialect == "merge":
        return (
            f"MERGE INTO {table} t USING {staging} s ON t.pvname = s.pvname "
            "WHEN MATCHED AND t.time <= s.time "
            "THEN UPDATE SET value = s.value, time = s.time "
            "WHEN NOT MATCHED THEN "
            "INSERT (pvname, value, time) VALUES (s.pvname, s.value, s.time)"
        )
    if dialect == "mysql":
        return (
            f"INSERT INTO {table} (pvname, value, time) "
            f"SELECT pvname, value, time FROM {staging} AS new "
            "ON DUPLICATE KEY UPDATE "
            f"value = IF({table}.time <= new.time, new.value, {table}.value), "
            f"time = IF({table}.time <= new.time, new.time, {table}.time)"
        )
    raise ValueError(f"unknown dialect {dialect!r} (use 'merge' or 'mysql')")


def upsert_latest_jdbc_distributed(
    batch: DataFrame,
    url: str,
    table: str = "cache",
    ensure_table: bool = True,
    n_shards: int = 4,
    staging: str | None = None,
    dialect: str = "merge",
) -> None:
    """S14, JDBC lane at scale — the DISTRIBUTED merge: executor-side
    parallel staging write + one set-based MERGE, with **zero data rows
    through the driver** (vs ``upsert_latest_jdbc``'s per-row driver
    loop, which funnels every active series through one python process
    — fine for the reference's ~10³ PVs, the bottleneck at 10⁵–10⁶).

    Shape per micro-batch:

    1. the per-key reduction (``max_by`` over the batch) runs
       distributed, exactly as in the driver lane;
    2. the reduced frame is written ``repartition(n_shards, pvname)``
       → ``DataFrameWriter.jdbc(mode="append")`` into a staging table —
       this IS the executor-side ``foreachPartition`` write: Spark's
       JDBC sink opens one connection per partition ON THE EXECUTORS
       and batch-inserts its partition's rows, so ``n_shards``
       connections load concurrently and the driver never materializes
       a row (the staging table is pre-created driver-side with
       VARCHAR keys — Spark's Derby dialect would otherwise map
       StringType to CLOB, which Derby cannot compare in a MERGE ON
       clause);
    3. one driver-side ``MERGE INTO cache USING staging`` statement —
       constant-size SQL text, no rows — applies the monotone upsert
       set-wise: ``WHEN MATCHED AND t.time <= s.time THEN UPDATE,
       WHEN NOT MATCHED THEN INSERT``. The staging table is dropped in
       the same transaction's wake; a crash between write and MERGE
       leaves only a stale staging table that the next batch drops and
       rewrites (the checkpointed stream replays the batch).

    Idempotence/monotonicity contract is identical to the driver lane:
    keys within the staging table are unique (groupBy), the MERGE guard
    ``t.time <= s.time`` makes replays no-ops and late batches unable
    to regress a newer value, and the MERGE is one transaction so a
    shard-load failure aborts before any cache mutation (the driver
    lane's savepoint fencing exists because its inserts race row-wise;
    the set-based MERGE has no such race to fence). Parity with both
    other lanes is asserted in tests/test_streaming.py.

    ``dialect`` selects the upsert statement: ``'merge'`` (ANSI MERGE —
    Derby/PostgreSQL≥15/Oracle/DB2/SQL Server; the parity-tested
    default) or ``'mysql'`` (INSERT … ON DUPLICATE KEY UPDATE with the
    same monotone guard — the reference's own cache store is MySQL,
    which has no MERGE; see ``_jdbc_merge_stmt``). The row-wise driver
    lane (``upsert_latest_jdbc``) remains the fully portable fallback."""
    spark = batch.sparkSession
    staging = staging or f"{table}_staging"
    merge_stmt = _jdbc_merge_stmt(table, staging, dialect)  # validate BEFORE the staging load
    order = F.struct(F.col("time"))
    fresh = (
        batch.groupBy("pvname")
        .agg(F.max_by("value", order).alias("value"), F.max("time").alias("time"))
        .filter(F.col("time").isNotNull())  # unorderable; all lanes drop it
    )

    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        if ensure_table:
            _jdbc_ensure_table(conn, table)
        _jdbc_drop_table(conn, staging)  # stale leftover from a crashed batch
        st = conn.createStatement()
        try:
            st.executeUpdate(
                f"CREATE TABLE {staging} "
                "(pvname VARCHAR(255), value DOUBLE, time DOUBLE)"
            )
        finally:
            st.close()
    finally:
        conn.close()

    (
        fresh.repartition(max(int(n_shards), 1), "pvname")
        .write.mode("append")
        .jdbc(url, staging)
    )

    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        conn.setAutoCommit(False)
        st = conn.createStatement()
        try:
            st.executeUpdate(merge_stmt)
            conn.commit()
        except Exception:
            conn.rollback()
            raise
        finally:
            st.close()
        conn.setAutoCommit(True)  # the staging DROP must itself commit
        _jdbc_drop_table(conn, staging)
    finally:
        conn.close()


def _jdbc_drop_table(conn, table: str) -> None:
    st = conn.createStatement()
    try:
        st.executeUpdate(f"DROP TABLE {table}")
    except Exception as ex:  # noqa: BLE001 — 42Y55/42S02/42P01: doesn't exist
        if _jdbc_sqlstate(ex) not in ("42Y55", "42S02", "42P01"):
            raise
    finally:
        st.close()


def _jdbc_sqlstate(ex) -> str:
    je = getattr(ex, "java_exception", None)
    try:
        return je.getSQLState() if je is not None else ""
    except Exception:
        return ""


def _jdbc_ensure_table(conn, table: str) -> None:
    st = conn.createStatement()
    try:
        st.executeUpdate(
            f"CREATE TABLE {table} "
            "(pvname VARCHAR(255) PRIMARY KEY, value DOUBLE, time DOUBLE)"
        )
    except Exception as ex:  # noqa: BLE001 — X0Y32/42S01: already exists
        if _jdbc_sqlstate(ex) not in ("X0Y32", "42S01", "42P07"):
            raise
    finally:
        st.close()


def _jdbc_upsert_rows(jvm, url: str, table: str, rows) -> None:
    """One connection, one transaction: monotone upsert of ``rows``
    (update-where-older, savepoint-fenced insert on miss)."""
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        conn.setAutoCommit(False)
        upd = conn.prepareStatement(
            f"UPDATE {table} SET value = ?, time = ? WHERE pvname = ? AND time <= ?"
        )
        ins = conn.prepareStatement(
            f"INSERT INTO {table} (pvname, value, time) VALUES (?, ?, ?)"
        )
        double_t = jvm.java.sql.Types.DOUBLE
        try:
            for r in rows:
                if r["time"] is None:
                    continue  # unorderable; parquet lane's max(time) drops it too
                t = float(r["time"])
                v = r["value"]
                if v is None:
                    upd.setNull(1, double_t)  # parity: max_by can carry a null value
                else:
                    upd.setDouble(1, float(v))
                upd.setDouble(2, t)
                upd.setString(3, r["pvname"])
                upd.setDouble(4, t)
                if upd.executeUpdate() == 0:
                    # On PostgreSQL any statement error aborts the whole
                    # transaction (every later statement fails 25P02), so a
                    # benign 23505 here must be fenced with a savepoint —
                    # rollback TO the savepoint, not the transaction.
                    sp = conn.setSavepoint()
                    try:
                        ins.setString(1, r["pvname"])
                        if v is None:
                            ins.setNull(2, double_t)
                        else:
                            ins.setDouble(2, float(v))
                        ins.setDouble(3, t)
                        ins.executeUpdate()
                        conn.releaseSavepoint(sp)
                    except Exception as ex:  # noqa: BLE001
                        if _jdbc_sqlstate(ex) != "23505":
                            raise  # only a newer-row duplicate key is benign
                        conn.rollback(sp)
            conn.commit()
        except Exception:
            conn.rollback()
            raise
        finally:
            upd.close()
            ins.close()
    finally:
        conn.close()


def latest_value_query_jdbc(
    events: DataFrame,
    url: str,
    checkpoint: str,
    table: str = "cache",
    distributed: bool = False,
    n_shards: int = 4,
    dialect: str = "merge",
    staging: str | None = None,
) -> Any:
    """The cache daemon against a SQL store: ``latest_value_query`` with
    the JDBC merge lane (north-star shape "Structured Streaming + JDBC
    sink"). ``distributed=True`` selects the executor-side staging +
    MERGE lane (``upsert_latest_jdbc_distributed``) — the production
    shape at ≥10⁵ active series; the default driver lane remains the
    small-deployment path (reference parity: one connection, row-wise
    savepoint-fenced upsert).

    ``dialect``/``staging`` are the distributed lane's knobs, plumbed
    through so the MySQL form (the reference's actual cache backend)
    and a per-query staging name are reachable from the streaming entry
    point. The staging default is ``{table}_staging_{hash(checkpoint)}``
    — two streaming queries targeting one database/table each get a
    deterministic, distinct staging table (checkpoints are per-query by
    construction), so neither drops the other's staging mid-batch;
    crash recovery still works because a replay of the SAME query
    re-derives the SAME name and drops only its own stale staging."""
    if distributed:
        dialect_stmt_check = _jdbc_merge_stmt(table, "s", dialect)  # fail fast
        del dialect_stmt_check
        if staging is None:
            import hashlib as _hl

            suffix = _hl.md5(checkpoint.encode()).hexdigest()[:8]
            staging = f"{table}_staging_{suffix}"
        fn = lambda b, _id: upsert_latest_jdbc_distributed(  # noqa: E731
            b, url, table=table, n_shards=n_shards, dialect=dialect, staging=staging
        )
    else:
        fn = lambda b, _id: upsert_latest_jdbc(b, url, table=table)  # noqa: E731
    return (
        events.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(fn)
    )


def read_cache(spark, cache_path: str) -> DataFrame:
    """Read the latest-value cache (``pvname``, ``value``, ``time``,
    ``np``) as the next merge would find it after its recovery: the base
    where ``fsio.current`` says it is (a cache of an earlier layout as
    ``fsio.read_parquet`` reads it), merged with the deltas above its
    watermark (the value at the latest time, ``np`` summed). The read
    changes nothing."""
    state = _cache_state(spark, cache_path)
    if state.base is not None:
        base = spark.read.parquet(state.base)
    elif (base := fsio.read_parquet(spark, cache_path)) is None:
        raise FileNotFoundError(f"no latest-value cache at {cache_path}")
    base = base.drop("bucket")
    if not state.pending:
        return base
    new = spark.read.parquet(*(path for path, _ in state.pending.values()))
    if "np" not in base.columns:
        base = base.withColumn("np", F.lit(0).cast("long"))
    return _latest(base.select("pvname", "value", "time", "np").unionByName(new))


def read_cache_stats(spark, cache_path: str) -> DataFrame:
    """The cache as the O(stale) staleness feed for
    ``timeseries.sax_words_refresh(stats=...)`` — ``(pvname, wm, np)``,
    each series' latest event time and event count, bytes per series,
    read WITHOUT touching raw points (VERDICT r12 task 3; wired as
    ``pvarch index_words --refresh --stats-from-cache``). ``np`` is the
    exact count of the events merged through the cache, replays
    included (:func:`upsert_latest`).

    Contract (the refresh docstring's fine print): the stats lane can
    only see writes that flowed THROUGH this cache — a direct store
    import (``pvarch import_ascii`` / ``import_zarr`` writing parquet
    behind the daemon's back) moves neither ``wm`` nor ``np`` and would
    under-report; run a no-stats refresh (full staleness scan) after
    such imports. Counts are all-time, so use a refresh horizon at or
    past the newest data (the archiver cadence) — a series whose only
    new points sit PAST the horizon is harmlessly re-worded. Raises on
    a pre-``np`` cache (no counts to detect staleness with)."""
    c = read_cache(spark, cache_path)
    if "np" not in c.columns:
        raise ValueError(
            "cache at %r predates per-series event counts (np); "
            "re-ingest or refresh without --stats-from-cache" % cache_path
        )
    return c.select("pvname", F.col("time").alias("wm"), F.col("np"))


def latest_value_query(events: DataFrame, cache_path: str, checkpoint: str) -> Any:
    """The cache daemon as one streaming query: last-per-key upsert, one
    delta per micro-batch keyed by its batch id and the query's id
    (:func:`upsert_latest`). The query id is kept in the checkpoint: a
    restart keeps it, so a replay replaces its own delta, and a fresh
    checkpoint gets a new one, so its ids from 0 are not taken for
    batches the cache has already folded."""

    def merge(batch: DataFrame, batch_id: int) -> None:
        query = batch.sparkSession.sparkContext.getLocalProperty("sql.streaming.queryId")
        upsert_latest(batch, cache_path, batch_id, query)

    return (
        events.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(merge)
    )


def archive_query(
    compressed: DataFrame, points_path: str, checkpoint: str, buckets: int = 128
) -> Any:
    """S15 — append the compressed stream to the points store, hashed into
    series buckets (the reference's 128 pvdat tables as a partition
    column, epicsarchiver/schema.py:21-23). An empty or absent store
    records ``buckets`` and the data columns' schema here, before the
    stream starts; a store that records another count or other data
    columns raises ``ValueError``, and so does a checkpoint that holds
    per-key fold state (:func:`fold.refuse_per_key_state`).

    At the default count (``buckets`` = ``fold.GROUPS``) a bucket is one
    key group of the fold, so each bucket's rows come out of one state
    partition in one kernel call: a micro-batch writes at most one
    parquet file per touched bucket with no exchange beyond the fold's,
    and every file is sorted by (``pvname``, ``time``). Another count
    clusters the rows by ``bucket`` ahead of the file sink (one more
    exchange, as many sink tasks as the query's shuffle-partition count,
    which the checkpoint pins) for the same one file per touched bucket;
    there a file holds each series' points contiguous and time-ordered,
    not sorted by ``pvname``. The bucket exchange is stateless, so a
    checkpoint written with or without it resumes unchanged. Nothing
    compacts a streamed store yet (``points_store.compact_store`` refuses
    a file-sink store; see ROADMAP)."""
    spark = compressed.sparkSession
    refuse_per_key_state(spark, checkpoint)
    schema = points_store.data_schema(compressed.schema)
    if points_store.claim_buckets(spark, points_path, buckets, schema):
        points_store.stamp_buckets(spark, points_path, buckets, schema)
    bucketed = compressed.withColumn(
        "bucket", points_store.bucket_of(F.col("pvname"), buckets)
    )
    if buckets != GROUPS:
        bucketed = bucketed.repartition("bucket")
    return (
        bucketed.writeStream.outputMode("append")
        .format("parquet")
        .option("path", points_path)
        .option("checkpointLocation", checkpoint)
        .partitionBy("bucket")
    )
