"""``pvarch`` CLI equivalent — the reference's operational entry point
(ref epicsarchiver/pvarch.py:85-355) over the Spark engine.

Command mapping (the daemon lifecycle commands are the ``archive`` /
``cache_daemon`` subcommands below — Structured Streaming queries,
bounded availableNow drains by default, ``--follow`` for the
continuous daemon shape; SURVEY §3.1):

    archive SRC       → gate→compress→bucketed append      (pvarch start)
    cache_daemon SRC  → latest-value cache maintenance     (pvarch cache start)
    stop PROC         → signal a --follow daemon to stop   (pvarch arch/cache stop)
    restart PROC SRC  → stop + start with checkpoint resume (pvarch arch/cache restart)
    alerts RULES.csv  → rule sweep + rendered mail         (cache.py alert daemon,
                        minus the SMTP send — pipe stdout)
    bm25_watch DOCS SUBS.csv → standing-query sweep: new top-k hits per
                        subscription since the last pass   (engine-only:
                        bm25_multi + delta state, the alerts cadence)
    alert_rules       → alert-rule CRUD (add/edit/drop)    (webapp.py /editalert +
                        submit_alertedits → add_alert/update_alert)
    request PV        → queue add/drop/suspend request     (cache.py add_pv/drop_pv)
    drop_pv PV        → queue a drop request               (pvarch drop_pv)
    suspend_pv PV     → queue a suspend request            (cache requests action)
    process_requests  → drain the mailbox into the catalog (cache.py process_requests)

    status            → status_activity over the store     (pvarch status)
    activity [n]      → most recently updated PVs          (pvarch cache activity)
    list              → runs / run-partitions of the store (pvarch list)
    search PATTERN    → wildcard name search               (WebAdmin search)
    save FOLDER       → portable SQL dump of the store     (pvarch save)
    save_zarr OUT.zip → reference-format zarr zip export   (pvarch save_zarr)
    import_zarr ZIP   → legacy archive → points store      (engine-only: migration)
    add_pvfile FILE   → parse a PV-list file, print counts (pvarch add_pvfile)
    next              → rotate the runs dimension          (pvarch next / set_runinfo)
    prune             → drop old run partitions (retention) (engine-only: O(1) dir deletes)
    check             → ≥1-point liveness watchdog         (pvarch check, doc/setup.rst:40-42)
    health            → per-PV uptime/drift/outlier report (engine-only roll-up of status+check)
    save_position     → save named instrument position     (WebInstruments save)
    restore_position  → member values as of a position     (WebInstruments restore)
    land DOCS         → streaming curated document intake  (engine-only:
                        gopher gate → fp dedup → standing-corpus anti-join
                        → source-partitioned parquet landing)
    corpus ACTION DOCS → release-loop views/writes         (engine-only:
                        funnel/report/mixture/leakage/survivors/shards/
                        verdicts/splits/packing/soft_dedup through corpus.CorpusPipeline)
    build_dedup_artifacts → per-release dedup bases        (engine-only: the
                        components/winnow/minhash/bigram-LM parquet the
                        *_indexed query lanes read back)
    bucketize         → store → bucketBy(pvname) catalog   (engine-only: the
                        one-time rewrite that deletes per-series shuffles)

    show_config       → resolved deployment settings       (pvarch show_config)
    set_runinfo       → recompute run boundaries from data (pvarch set_runinfo)
    init              → cold-start store + dimensions      (pvarch sql_init analog)

Run as ``python -m epicsarchiver_spark.cli <command> ...``.
Deployment settings come from a TOML file (``--config PATH`` or
``$EPICSARCH_CONFIG`` — ref util.py:68-77 get_config, config.toml):
flag > file > built-in default, resolved per key in
``epicsarchiver_spark.config``. The engine has no MySQL credential
block — storage is paths; the only connection string is the optional
JDBC cache URL.
"""

from __future__ import annotations

import argparse
import re
import sys
import time

from epicsarchiver_spark.sources import fsio


def _spark(app: str):
    from epicsarchiver_spark.session import get_spark

    s = get_spark(f"pvarch-{app}")
    s.sparkContext.setLogLevel("ERROR")
    return s


# per-subcommand (None = global) config-backed flags: each entry is
# (config key, argparse dest, the dest's built-in default). The flags
# themselves default to None so "was it given?" is decidable; a key
# absent from the config file falls back to the built-in here, keeping
# no-config behavior byte-identical (e.g. bare `pvarch alerts` stays a
# usage error unless a config file supplies alerts_table).
_CONFIG_DESTS: dict[str | None, list[tuple[str, str, object]]] = {
    None: [("store", "store", "./points")],
    "next": [("runs_file", "runs_file", "./runs.parquet")],
    "set_runinfo": [("runs_file", "runs_file", "./runs.parquet")],
    "init": [
        ("runs_file", "runs_file", "./runs.parquet"),
        ("catalog", "catalog", "./pv_catalog"),
        ("alerts_table", "table", "./alerts"),
    ],
    "archive": [
        ("deadtime", "deadtime", 5.0),
        ("deadband", "deadband", 0.0),
        ("runs_file", "runs_file", "./runs.parquet"),
    ],
    "cache_daemon": [
        ("cache", "cache", "./cache"),
        ("jdbc_url", "jdbc_url", None),
        ("dialect", "dialect", "merge"),
    ],
    # restart re-dispatches to archive/cache_daemon, so it needs the
    # union of both lanes' config-backed dests resolved
    "restart": [
        ("deadtime", "deadtime", 5.0),
        ("deadband", "deadband", 0.0),
        ("runs_file", "runs_file", "./runs.parquet"),
        ("cache", "cache", "./cache"),
        ("jdbc_url", "jdbc_url", None),
        ("dialect", "dialect", "merge"),
    ],
    "alerts": [("alerts_table", "table", None), ("alert_period", "period_s", 15.0)],
    "alert_rules": [("alerts_table", "table", "./alerts")],
    "request": [("queue", "queue", "./requests")],
    "drop_pv": [("queue", "queue", "./requests")],
    "suspend_pv": [("queue", "queue", "./requests")],
    "process_requests": [
        ("queue", "queue", "./requests"),
        ("catalog", "catalog", "./pv_catalog"),
    ],
}


def _apply_config(args) -> None:
    """Resolve flag > config file > built-in default for every
    config-backed dest of the parsed subcommand. Stashes the loaded
    values/source on the namespace for ``show_config``."""
    from epicsarchiver_spark.config import load_config

    cfg, src = load_config(getattr(args, "config", None))
    args._config_values, args._config_source = cfg, src
    for entry in _CONFIG_DESTS.get(None, []) + _CONFIG_DESTS.get(args.cmd, []):
        key, dest, builtin = entry
        if getattr(args, dest, None) is None:
            setattr(args, dest, cfg.get(key, builtin))


def _points(spark, args):
    from epicsarchiver_spark.sources.points_store import read_points

    return read_points(spark, args.store)


def _drain_or_stop(q, timeout: int) -> bool:
    """availableNow drain with a hard timeout: True when the query
    finished; on overrun, stop it, explain, and let the caller exit
    nonzero (the checkpoint resumes where it left off)."""
    if q.awaitTermination(timeout):
        return True
    q.stop()
    print(
        f"drain still running after {timeout}s — stopped; "
        "rerun with a larger --timeout (checkpoint resumes where it left off)",
        file=sys.stderr,
    )
    return False


def cmd_status(args) -> int:
    from epicsarchiver_spark.operators.control import status_activity

    spark = _spark("status")
    since = time.time() - args.time
    df = status_activity(_points(spark, args), since, by="pvname")
    rows = df.orderBy(df.t_last.desc()).limit(args.limit).collect()
    print(f"{'pvname':<32} {'n_total':>8} {'n_recent':>8}  last")
    for r in rows:
        print(f"{r[0]:<32} {r.n_total:>8} {r.n_recent:>8}  {time.ctime(r.t_last)}")
    return 0


def cmd_activity(args) -> int:
    from epicsarchiver_spark.api import PVArchEngine

    spark = _spark("activity")
    rows = (
        PVArchEngine(spark, _points(spark, args))
        .latest()
        .orderBy("time", ascending=False)
        .limit(args.limit)
        .collect()
    )
    for r in rows:
        print(f"{r.pvname:<32} {r.value!s:>14}  {time.ctime(r.time)}")
    return 0


def cmd_list(args) -> int:
    spark = _spark("list")
    pts = _points(spark, args)
    if "run" in pts.columns:
        from pyspark.sql import functions as F

        rows = (
            pts.groupBy("run")
            .agg(F.min("time").alias("t0"), F.max("time").alias("t1"), F.count(F.lit(1)).alias("n"))
            .orderBy("run")
            .collect()
        )
        for r in rows:
            print(f"{r.run:<20} {r.n:>10} points   {time.ctime(r.t0)} .. {time.ctime(r.t1)}")
    else:
        print("(store has no run partitions)")
    return 0


def cmd_search(args) -> int:
    from epicsarchiver_spark.api import PVArchEngine

    spark = _spark("search")
    for r in PVArchEngine(spark, _points(spark, args)).search_names(args.pattern).collect():
        print(r.pvname)
    return 0


def cmd_save(args) -> int:
    from epicsarchiver_spark.sources.sinks import write_sql_dump

    spark = _spark("save")
    pts = _points(spark, args).select("pvname", "time", "value")
    out = f"{args.folder}/points_dump.sql"
    write_sql_dump(pts, "pvdat", out)
    print(f"wrote SQL dump to {out}")
    return 0


def cmd_save_zarr(args) -> int:
    from epicsarchiver_spark.sources.zarr_import import write_zarr_zip

    spark = _spark("save_zarr")
    pdf = _points(spark, args).select("pvname", "time", "value").toPandas()
    write_zarr_zip(pdf, args.out)
    print(f"wrote {len(pdf)} points / {pdf.pvname.nunique()} PVs to {args.out}")
    return 0


def cmd_import_zarr(args) -> int:
    from epicsarchiver_spark.sources.zarr_import import import_zarr_zip

    spark = _spark("import_zarr")
    import_zarr_zip(spark, args.zip, args.store, run=args.run, n_buckets=args.buckets)
    print(f"imported {args.zip} into {args.store} (run={args.run})")
    return 0


def cmd_compact(args) -> int:
    from epicsarchiver_spark.sources.points_store import DELTA_BUCKET, compact_store, summary_files
    from epicsarchiver_spark.streaming.ingest import compact_cache, is_cache

    spark = _spark("compact")
    if is_cache(spark, args.store):
        print(f"folded {compact_cache(spark, args.store)} cache delta file(s) into the base")
        return 0
    summary = len(summary_files(spark, args.store))
    try:
        done = compact_store(
            spark,
            args.store,
            runs=args.runs or None,
            target_file_bytes=args.target_mb * 1024 * 1024,
        )
    except ValueError as ex:
        print(str(ex), file=sys.stderr)
        return 1
    delta = f"/bucket={DELTA_BUCKET}"
    for part, n in sorted(done.items()):
        print(f"{part}: folded" if part.endswith(delta) else f"{part}: -> {n} file(s)")
    folded = sum(part.endswith(delta) for part in done)
    print(f"folded {folded} delta partition(s); compacted {len(done) - folded} partition(s)")
    print(f"summary: {summary} partial file(s) -> {len(summary_files(spark, args.store))}")
    return 0


def _open_dim(spark, path: str):
    """A writer's read of a dimension: recover it (``fsio.recover``),
    then read it; None only when there is no dimension at ``path``."""
    fsio.recover(spark, path)
    return fsio.read_parquet(spark, path)


def _overwrite_dim(spark, df, path: str) -> None:
    """Replace a tiny dimension, opened with ``_open_dim``, by ``df``,
    which may read it: ``df`` is staged whole before the ``fsio`` swap,
    since overwriting a path mid-read self-corrupts."""
    df.coalesce(1).write.parquet(fsio.staging(path))
    fsio.commit(spark, path)


def _current_run(runs) -> str | None:
    """The runs dimension's current run: its OPEN row (stop_time pinned
    at MAX_EPOCH), not a lexicographic max — "run_99999" > "run_100000"
    as strings, so string max would re-mint run_100000 forever once the
    counter outgrows its padding (ADVICE r3). A numeric tiebreak covers
    dims that were hand-edited to have no open row. None without a
    dimension, or with an empty one."""
    from epicsarchiver_spark.operators.control import MAX_EPOCH

    if runs is None:
        return None

    def _runkey(db: str):
        m = re.search(r"(\d+)$", db)
        return (int(m.group(1)) if m else -1, db)

    rows = runs.collect()
    open_rows = [r.db for r in rows if r.stop_time >= MAX_EPOCH]
    return max(open_rows or [r.db for r in rows], key=_runkey, default=None)


def cmd_next(args) -> int:
    """``pvarch next`` (ref epicsarchiver/pvarch.py:204-216 + set_runinfo
    297-306): close the current run at now, open the next one. The
    engine's rotation is pure metadata over the runs dimension — the
    partitioned store needs no data move. A running archive daemon keeps
    appending to the run it started in until ``pvarch restart archive``
    (the reference's ``next`` also starts a fresh archiver loop)."""
    from epicsarchiver_spark.operators.control import MAX_EPOCH, rotate_runs
    from epicsarchiver_spark.sources.points_store import FIRST_RUN

    spark = _spark("next")
    now = time.time()
    runs = _open_dim(spark, args.runs_file)
    current = _current_run(runs)
    if current is None:
        next_name = args.name or FIRST_RUN
        rotated = spark.createDataFrame(
            [(next_name, float(now), MAX_EPOCH)],
            "db string, start_time double, stop_time double",
        )
    else:
        m = re.search(r"(\d+)$", current)
        next_name = args.name or (
            f"{current[: m.start()]}{int(m.group(1)) + 1:0{len(m.group(1))}d}"
            if m
            else current + "_1"
        )
        rotated = rotate_runs(runs, now=now, next_db=next_name)
    _overwrite_dim(spark, rotated, args.runs_file)
    print(f"current run is now {next_name}")
    return 0


def cmd_check(args) -> int:
    """``pvarch check`` liveness watchdog (ref doc/setup.rst:40-42): ok
    iff ≥1 point archived in the last cadence window; exit 1 otherwise
    (cron restarts the ingest on failure, as the reference documents)."""
    from epicsarchiver_spark.operators.control import check_liveness

    spark = _spark("check")
    row = check_liveness(_points(spark, args), now=time.time(), cadence_s=args.cadence).head()
    n = row.n_recent if row is not None else 0
    alive = bool(row.alive) if row is not None else False
    print(f"{'ok' if alive else 'DEAD'}: {n} point(s) in the last {args.cadence:.0f}s")
    return 0 if alive else 1


def cmd_health(args) -> int:
    """``pvarch health`` — per-series health report over the trailing
    window: uptime fraction (liveness under the heartbeat floor), drift
    (value/day trend) and MAD-outlier count, worst uptime first. The
    batch roll-up of what the reference's status pages + `pvarch check`
    answer one PV at a time."""
    from pyspark.sql import functions as F

    from epicsarchiver_spark.operators.timeseries import (
        availability,
        drift,
        robust_outliers,
    )

    spark = _spark("health")
    pts = _points(spark, args)
    now = args.now if args.now is not None else time.time()
    t0 = now - args.window
    av = availability(pts, t0, now, args.heartbeat)
    dr = drift(pts, t0, now).select("pvname", "slope_per_day")
    ol = (
        robust_outliers(
            pts.filter((F.col("time") >= t0) & (F.col("time") <= now)), k=args.k
        )
        .groupBy("pvname")
        .agg(F.count(F.lit(1)).alias("n_outliers"))
    )
    rep = (
        av.join(dr, "pvname", "left")
        .join(ol, "pvname", "left")
        .fillna({"n_outliers": 0})
        .orderBy("uptime", "pvname")
    )
    rows = rep.limit(args.top).collect()
    print(f"{'pvname':<28}{'uptime':>8}{'drift/day':>12}{'outliers':>10}")
    for r in rows:
        slope = f"{r.slope_per_day:+.4f}" if r.slope_per_day is not None else "-"
        print(f"{r.pvname:<28}{r.uptime:>8.3f}{slope:>12}{r.n_outliers:>10}")
    return 0


def cmd_save_position(args) -> int:
    """Create/overwrite a named instrument position (ref
    WebInstruments.py:79-84) — stores (instrument, name, ts) only."""
    from epicsarchiver_spark.operators.control import save_position

    spark = _spark("save_position")
    ts = args.ts if args.ts is not None else time.time()
    existing = _open_dim(spark, args.positions_file)
    updated = save_position(existing, spark, args.instrument, args.position, ts)
    _overwrite_dim(spark, updated, args.positions_file)
    print(f"saved position {args.instrument}/{args.position} @ {ts:.3f}")
    return 0


def cmd_restore_position(args) -> int:
    """Print each member PV's value as of a named saved position."""
    from epicsarchiver_spark.operators.control import restore_position

    spark = _spark("restore_position")
    positions = fsio.read_parquet(spark, args.positions_file)
    if positions is None:
        raise FileNotFoundError(f"positions dimension not found: {args.positions_file}")
    out = restore_position(
        _points(spark, args), positions, args.pvs, args.instrument, args.position
    )
    for r in out.orderBy("pvname").collect():
        print(f"{r.pvname:<32} {r.value!s:>14}  @ {r.time:.3f}")
    return 0


def cmd_add_pvfile(args) -> int:
    from epicsarchiver_spark.sources.pvlist import pvlist_pairs, read_pvlist

    spark = _spark("add_pvfile")
    names = read_pvlist(spark, args.file)
    pairs = pvlist_pairs(spark, args.file)
    print(f"{names.count()} PVs, {pairs.count()} related pairs from {args.file}")
    return 0


def cmd_archive(args) -> int:
    """``pvarch start`` analog: run the archiver pipeline — gate →
    deadtime/deadband compression → append to the store — as a
    Structured Streaming query over a parquet events directory. Default
    is a BOUNDED availableNow drain (processes everything present, then
    exits — cron-able backfill); ``--follow`` keeps the query running on
    a processing-time trigger, which is the reference daemon's shape —
    managed via the pidfile/stop-sentinel control plane (``pvarch stop
    archive`` / ``pvarch restart archive``, ref pvarch.py:196-202; the
    checkpoint resumes exactly-once). Points land in the runs
    dimension's current run (``runs_file``; ``run_00001`` without one),
    read when the query starts: a ``pvarch next`` takes effect at the
    next start, e.g. ``pvarch restart archive``."""
    from epicsarchiver_spark import daemon
    from epicsarchiver_spark.sources.points_store import FIRST_RUN
    from epicsarchiver_spark.streaming.ingest import (
        archive_query,
        compressed_stream,
        ingest_session,
    )

    if args.follow and (pid := daemon.already_running(args.checkpoint, "archive")):
        print(
            f"archive daemon appears to be running (pid {pid})... try 'restart'?",
            file=sys.stderr,
        )
        return 1
    spark = _spark("archive")
    run = _current_run(fsio.read_parquet(spark, args.runs_file)) or FIRST_RUN
    # a bounded drain's input is what is there now, so size the state
    # partitions (pinned into the checkpoint) from it; a daemon's start
    # bytes say nothing of its future input, so it keeps the session's
    s_in = spark if args.follow else ingest_session(spark, args.events)
    stream = s_in.readStream.schema(
        "pvname string, time double, value double"
    ).parquet(args.events)
    q = archive_query(
        compressed_stream(
            stream,
            deadtime=args.deadtime,
            deadband=args.deadband,
            flush_ms=None if not args.follow else args.flush_ms,
        ),
        args.store,
        args.checkpoint,
        buckets=args.buckets,
        run=run,
    )
    q = (
        q.trigger(processingTime=f"{args.trigger_s} seconds")
        if args.follow
        else q.trigger(availableNow=True)
    ).start()
    if args.follow:
        print(f"archiving {args.events} -> {args.store} run {run} (pvarch stop archive to stop)")
        daemon.watch(q, args.checkpoint, "archive")
    else:
        if not _drain_or_stop(q, args.timeout):
            return 1
        n = _points(spark, args).count()
        print(f"drained {args.events}: store now holds {n} points")
    return 0


def cmd_cache_daemon(args) -> int:
    """``pvarch cache start`` analog: maintain the latest-value cache
    (parquet base plus one delta per micro-batch, or the JDBC table lane
    with --jdbc-url)
    from a parquet events directory. Bounded availableNow drain by
    default; ``--follow`` for the continuous daemon shape, managed via
    the pidfile/stop-sentinel control plane (``pvarch stop cache`` /
    ``pvarch restart cache``, ref pvarch.py:240-248)."""
    from epicsarchiver_spark import daemon
    from epicsarchiver_spark.streaming.ingest import (
        latest_value_query,
        latest_value_query_jdbc,
        read_cache,
    )

    if args.follow and (pid := daemon.already_running(args.checkpoint, "cache")):
        print(
            f"cache daemon appears to be running (pid {pid})... try 'restart'?",
            file=sys.stderr,
        )
        return 1
    spark = _spark("cache_daemon")
    stream = spark.readStream.schema(
        "pvname string, time double, value double"
    ).parquet(args.events)
    if args.jdbc_url:
        q = latest_value_query_jdbc(
            stream,
            args.jdbc_url,
            args.checkpoint,
            distributed=args.distributed,
            dialect=args.dialect,
        )
    else:
        q = latest_value_query(stream, args.cache, args.checkpoint)
    q = (
        q.trigger(processingTime=f"{args.trigger_s} seconds")
        if args.follow
        else q.trigger(availableNow=True)
    ).start()
    if args.follow:
        print("cache daemon running (pvarch stop cache to stop)")
        daemon.watch(q, args.checkpoint, "cache")
    else:
        if not _drain_or_stop(q, args.timeout):
            return 1
        if not args.jdbc_url:
            n = read_cache(spark, args.cache).count()
            print(f"cache holds {n} series")
        else:
            print("JDBC cache updated")
    return 0


def _load_alert_rules(spark, args):
    """Rules for the sweep: the CSV positional, or with ``--table`` the
    persisted CRUD dimension (``pvarch alert_rules``) — active rules
    only, trippoint rendered to the comparator's string form. Re-read
    on every call, which is what makes ``--follow`` a live daemon."""
    import csv

    if args.table:
        dim = fsio.read_parquet(spark, args.table)
        if dim is None:
            # loud, like the CSV lane's FileNotFoundError — a typo'd
            # --table in a cron sweep must not exit 0 as "no rules"
            raise FileNotFoundError(f"alert rules table not found: {args.table}")
        from pyspark.sql import functions as F

        dim = dim.filter(
            (F.col("active") == "yes") & F.col("trippoint").isNotNull()
        )
        rows = [
            (r.pvname, r.compare, repr(float(r.trippoint)))
            for r in dim.collect()
        ]
    else:
        with open(args.rules) as fh:
            rows = [
                (r["pvname"], r["compare"], r["trippoint"])
                for r in csv.DictReader(fh)
            ]
    if not rows:
        return None, 0
    return (
        spark.createDataFrame(
            rows, "pvname string, compare string, trippoint string"
        ),
        len(rows),
    )


def cmd_alerts(args) -> int:
    """Alert sweep over the store (ref cache.py:601-630 + the mail
    path): evaluate threshold rules against the latest value per series
    and print one rendered notification per firing rule — the engine
    side of the reference's alert daemon, minus the SMTP send
    (declared non-goal; pipe stdout wherever).

    Rules: the CSV positional (``pvname,compare,trippoint`` with
    compare ∈ {eq,ne,le,lt,ge,gt}), or ``--table`` for the persisted
    CRUD dimension. One-shot by default, exit 2 when anything fires
    (cron-able, same convention as ``check``). ``--follow`` is the
    reference daemon's actual shape — a polling loop every
    ``--period-s`` that RE-READS the rules each pass (ref cache.py:393
    re-reads the alert table every cache_alert_period), so rule edits
    land without a restart."""
    from pyspark.sql import functions as F

    from epicsarchiver_spark.api import PVArchEngine
    from epicsarchiver_spark.functions.mail import render_alert_mail
    from epicsarchiver_spark.operators.control import alert_eval
    from epicsarchiver_spark.operators.timeseries import latest_per_key

    if not args.rules and not args.table:
        print("pass a rules CSV or --table", file=sys.stderr)
        return 1
    spark = _spark("alerts")
    template = (
        open(args.template).read()
        if args.template
        else "ALERT %PV%: value %VALUE% %COMP% trippoint %TRIP%"
    )

    def sweep() -> int:
        rules, n_rules = _load_alert_rules(spark, args)
        if rules is None:
            print("no rules")
            return 0
        pts = _points(spark, args)
        if args.smooth_span:
            # anti-flapping: evaluate rules against the span-bounded
            # EWMA trend instead of the raw tick (same comparator; the
            # smoothed value rides the `value` seat)
            from epicsarchiver_spark.operators.timeseries import ewma

            smoothed = ewma(pts.select("pvname", "time", "value"), span=args.smooth_span)
            cache = latest_per_key(
                smoothed.select("pvname", "time", F.col("ewma").alias("value"))
            )
        else:
            cache = PVArchEngine(spark, pts).latest().select("pvname", "value", "time")
        fired = alert_eval(cache, rules, rule_key="pvname").collect()
        lookup = {r.pvname: str(r.value) for r in cache.collect()} if fired else {}
        for r in fired:
            print(
                render_alert_mail(
                    template, r.pvname, r.value, args.label, r.compare,
                    r.trippoint, lookup,
                )
            )
        print(f"{len(fired)} alert(s) fired over {n_rules} rule(s)")
        return 2 if fired else 0

    if not args.follow:
        return sweep()
    loops = 0
    rc = 0
    while args.max_loops is None or loops < args.max_loops:
        try:
            rc = sweep()
        except Exception as ex:  # noqa: BLE001 — daemon survives one bad pass
            # e.g. the sweep's read racing a concurrent alert_rules
            # table swap: log and retry next period rather than dying
            # (the whole point of --follow is surviving rule edits)
            print(f"sweep failed ({type(ex).__name__}: {ex}); retrying",
                  file=sys.stderr)
        loops += 1
        if args.max_loops is not None and loops >= args.max_loops:
            break
        time.sleep(args.period_s)
    return rc


def cmd_keyphrases(args) -> int:
    """Corpus keyphrase mining from the command line — the operational
    face of ``doc_rake_keyphrases`` (taxonomy seeding / corpus triage:
    run it on a fresh crawl before writing keyword_labels rules)."""
    from epicsarchiver_spark.operators.text_ops import rake_keyphrases

    spark = _spark("keyphrases")
    docs = spark.read.parquet(args.docs)
    rows = rake_keyphrases(
        docs, k=args.k, max_phrase_len=args.max_len, min_count=args.min_count
    ).collect()
    for r in rows:
        print(f"{r.score:10.4f}  {r.n:>6}x  {r.phrase}")
    print(f"{len(rows)} keyphrase(s) from {args.docs}")
    return 0


def cmd_discords(args) -> int:
    """Anomaly triage from the command line — the operational face of
    ``timeseries.sax_discords`` (HOT-SAX rarest-word windows): list
    each series' top-k most anomalous subsequences from the points
    store, optionally only those whose word occurred once (the
    never-seen-shape screen a dashboard would page on). ``--confirm``
    runs the exact-distance stage (``sax_discords_confirmed``) and
    orders by the TRUE discord score — nearest non-overlapping
    neighbor distance, farthest first — instead of word rarity."""
    from pyspark.sql import functions as F

    from epicsarchiver_spark.operators.timeseries import (
        sax_discords,
        sax_discords_confirmed,
    )

    spark = _spark("discords")
    pts = _points(spark, args)
    if args.pv:
        pts = pts.filter(F.col("pvname").isin(args.pv))
    if args.confirm:
        rows = sax_discords_confirmed(
            pts,
            window=args.window,
            n_segments=args.segments,
            alphabet=args.alphabet,
            k=args.k,
        )
        if args.novel_only:
            rows = rows.filter(F.col("word_count") == 1)
        collected = rows.orderBy("pvname", "confirmed_rank").collect()
        for r in collected:
            print(
                f"{r.pvname}  t={r.time:.3f}  word={r.word}  "
                f"seen={r.word_count}x  nn_d2={r.nn_dist2_q}  "
                f"confirmed={r.confirmed_rank}"
            )
        print(f"{len(collected)} confirmed discord window(s)")
        return 0
    rows = sax_discords(
        pts,
        window=args.window,
        n_segments=args.segments,
        alphabet=args.alphabet,
        k=args.k,
    )
    if args.novel_only:
        rows = rows.filter(F.col("word_count") == 1)
    collected = rows.orderBy("pvname", "rank").collect()
    for r in collected:
        print(
            f"{r.pvname}  t={r.time:.3f}  word={r.word}  "
            f"seen={r.word_count}x  rank={r.rank}"
        )
    print(f"{len(collected)} discord window(s)")
    return 0


def cmd_rollup(args) -> int:
    """Materialize or refresh the daily-rollup artifact from the points
    store — the long-horizon plot lane (``sources.points_store``):
    year-scale dashboards read bytes per series-day from the artifact
    instead of scanning raw points (SCALE r12d measured the artifact
    flat where the cold scan grows; VERDICT r12 task 5 gives it this
    operational face).

    The artifact is PER-RUN partials (``run=<name>`` partition dirs of
    (key, day, n, sum_q, min_q, max_q) rows; ``read_rollup``'s
    merge-on-read folds the split back out), which makes maintenance
    structural: a full build swaps in the whole dir (``fsio``);
    ``--refresh`` folds ONLY runs the artifact has not seen — plus
    re-folds the newest already-folded run, the only one an
    append-to-latest archiver can have grown since — and swaps in just
    those run dirs, so refresh cost is O(new runs), never O(store). A
    ``_params.json`` sidecar pins the quantum; a mismatched --quantum
    on refresh is refused (mixed quantizations in one artifact would
    silently corrupt the sums)."""
    from epicsarchiver_spark.sources.points_store import (
        list_runs,
        read_rollup,
        rollup_partials,
    )

    spark = _spark("rollup")
    pts = _points(spark, args)
    from pyspark.sql import functions as F

    out = args.out.rstrip("/")
    fs, P = fsio.handle(spark, out)
    fsio.recover(spark, out)
    quantum = args.quantum
    store_runs = list_runs(spark, args.store)
    refresh = args.refresh and fs.exists(P(out))
    if refresh:
        side = _read_sidecar(spark, f"{out}/_params.json")
        if side is not None and side.get("quantum") != quantum:
            print(
                f"--quantum {quantum} contradicts the artifact's"
                f" {side.get('quantum')}; rebuild (omit --refresh) to"
                " change quantization",
                file=sys.stderr,
            )
            return 1
        folded = sorted(
            st.getPath().getName()[len("run="):]
            for st in fs.listStatus(P(out))
            if st.isDirectory() and st.getPath().getName().startswith("run=")
        )
        if not folded and any(
            st.getPath().getName().endswith(".parquet")
            for st in fs.listStatus(P(out))
        ):
            # a pre-r13 flat write_rollup artifact: folding run dirs
            # BESIDE the flat files would double-count on merge-on-read
            print(
                f"{out} is a flat (pre-per-run) rollup artifact; rebuild"
                " (omit --refresh) to adopt the refreshable layout",
                file=sys.stderr,
            )
            return 1
        new_runs = [r for r in store_runs if r not in folded]
        # the newest folded run is the only one append-to-latest can
        # have grown since it was folded — re-fold it
        refold = ([folded[-1]] if folded and folded[-1] in store_runs else [])
        todo = sorted(set(new_runs) | set(refold))
        if not todo:
            print(f"rollup artifact at {out}: up to date ({len(folded)} runs)")
            return 0
        parts = rollup_partials(
            pts.filter(F.col("run").isin(todo)), quantum=quantum,
            run_col="run",
        )
        parts.repartition("run").write.partitionBy("run").parquet(fsio.staging(out))
        # an empty run folds to nothing and keeps its dir as-is
        fsio.commit(spark, out, [f"run={r}" for r in todo])
        lane = f"refreshed {len(todo)} run(s)"
    else:
        parts = rollup_partials(pts, quantum=quantum, run_col="run")
        staged = fsio.staging(out)
        parts.repartition("run").write.partitionBy("run").parquet(staged)
        _write_sidecar(spark, f"{staged}/_params.json", {"quantum": quantum})
        fsio.commit(spark, out)
        lane = f"full build ({len(store_runs)} runs)"
    n = read_rollup(spark, out, quantum=quantum).count()
    print(f"rollup artifact at {out}: {n} (series, day) rows ({lane})")
    return 0


def cmd_similar(args) -> int:
    """Series-similarity lookup — the operational face of
    ``timeseries.sax_topk`` (the data-driven related-PV page): series
    that MOVED like the query on a window, nominated by the iSAX word
    index (optionally a persisted ``sax_words`` parquet artifact) and
    re-ranked by exact correlation."""
    from epicsarchiver_spark.operators.timeseries import sax_topk

    spark = _spark("similar")
    pts = _points(spark, args)
    idx = None
    if args.index:
        idx = spark.read.parquet(args.index)
        # the index's _params.json sidecar (written by index_words
        # builds) pins the window the words were built on; querying a
        # different window still RUNS (the query word comes from the
        # index, the re-rank from the query window) but compares
        # apples to oranges — warn loudly instead of silently
        side = _read_sidecar(spark, f"{args.index.rstrip('/')}/_params.json")
        if side is not None:
            drift = {
                k: (getattr(args, k), side[k])
                for k in ("t0", "t1", "step")
                if side.get(k) != getattr(args, k)
            }
            if drift:
                desc = ", ".join(
                    f"{k} {got} != index {want}"
                    for k, (got, want) in sorted(drift.items())
                )
                print(
                    f"warning: query window differs from the index's"
                    f" build window ({desc}) — nominations use the"
                    " index's words, the correlation re-rank uses YOUR"
                    " window",
                    file=sys.stderr,
                )
    rows = sax_topk(
        pts, args.pvname, args.t0, args.t1, args.step, k=args.k, index=idx
    ).collect()
    for r in rows:
        print(f"{r.pvname}  word={r.word}  n={r.n}  r={r.r}")
    print(f"{len(rows)} similar series for {args.pvname}")
    return 0


def _write_sidecar(spark, path: str, params: dict) -> None:
    """Write a small JSON sidecar. Spark's parquet reader ignores
    underscore-prefixed names, so the file can live INSIDE a staged
    artifact dir and be swapped in with the data."""
    import json

    fsio.write_text(spark, path, json.dumps(params, sort_keys=True))


def _read_sidecar(spark, path: str) -> dict | None:
    import json

    text = fsio.read_text(spark, path)
    return None if text is None else json.loads(text)


def cmd_index_words(args) -> int:
    """Build or incrementally refresh the iSAX word artifact — the
    operational face of ``sax_words_build`` / ``sax_words_refresh``
    (the update_dedup_artifacts cadence applied to the similarity
    index). A run without --refresh writes the watermarked word table
    from scratch; --refresh re-words ONLY series whose points moved
    inside the window horizon and reads everything else back (SCALE
    r12e). --auto sizes n_segments from the series count
    (``sax_auto_params``) and applies to BUILDS only: a refresh PINS
    the existing artifact's word length — mixed-length words would
    silently break sax_topk's equi-join and neighbor expansion — so
    --refresh derives the segment count from the artifact and refuses
    an explicit --segments that contradicts it (exit 1: rebuild
    instead). The words dir is replaced by an ``fsio`` swap.

    Every build writes a ``_params.json`` sidecar INSIDE the words dir
    (t0, t1, step, segments, alphabet, quantum — riding the same
    atomic swap), and --refresh validates the full parameter set
    against it (r12 ADVICE): the watermark check's "unchanged
    watermark ⇒ unchanged word" only holds for the build's exact
    window and letters, so a refresh with a shifted window or a
    different alphabet is REFUSED (exit 1: rebuild to move the
    window) instead of silently mixing windows in one artifact.
    Pre-sidecar artifacts fall back to word-length pinning with a
    warning that window params are unchecked.

    --stats-from-cache PATH makes the refresh O(stale) at any corpus
    size (VERDICT r12 task 3): staleness is detected from the ingest
    cache's per-series (latest time, event count) — bytes per series —
    instead of a per-series aggregate over raw points; only the stale
    series' points are then read for re-wording. Precondition: every
    write flowed through the cache (see ``read_cache_stats``) — after
    a direct store import, refresh once without it."""
    from epicsarchiver_spark.operators.timeseries import (
        sax_auto_params,
        sax_words_build,
        sax_words_refresh,
    )

    spark = _spark("index_words")
    pts = _points(spark, args)
    cur = f"{args.out.rstrip('/')}/words"
    fsio.recover(spark, cur)
    refresh = args.refresh and fsio.exists(spark, cur)
    quantum = 0.01  # sax_words' quantum default — recorded so a future
    # knob cannot silently mix quantizations in one artifact
    if refresh:
        side = _read_sidecar(spark, f"{cur}/_params.json")
        if side is not None:
            # the sidecar pins EVERYTHING the word depends on — refuse
            # any drift the same way a contradicting --segments is
            # refused (a shifted window would re-word only stale series
            # and keep old-window words for the rest)
            segments = int(side["segments"])
            pinned = {
                "t0": args.t0, "t1": args.t1, "step": args.step,
                "alphabet": args.alphabet, "quantum": quantum,
            }
            drift = {
                k: (v, side[k]) for k, v in pinned.items()
                if side.get(k) != v
            }
            if drift:
                desc = ", ".join(
                    f"{k} {got} != built {want}"
                    for k, (got, want) in sorted(drift.items())
                )
                print(
                    f"--refresh window/params contradict the artifact's"
                    f" build ({desc}); rebuild (omit --refresh) to move"
                    " the window or change resolution",
                    file=sys.stderr,
                )
                return 1
        else:
            # pre-sidecar artifact: the word length still pins the
            # segment count, but window params are unverifiable
            from pyspark.sql import functions as F

            art_len = (
                spark.read.parquet(cur)
                .select(F.length("word").alias("n")).head()
            )
            segments = int(art_len["n"]) if art_len else args.segments or 4
            print(
                "artifact has no _params.json sidecar (pre-r13 build):"
                " window/alphabet are UNCHECKED — rebuild to record them",
                file=sys.stderr,
            )
        if args.segments is not None and args.segments != segments:
            print(
                f"--segments {args.segments} contradicts the artifact's"
                f" {segments}-letter words; rebuild (omit --refresh) to"
                " change resolution",
                file=sys.stderr,
            )
            return 1
        if args.auto:
            print(
                "--auto applies to builds; refresh pins the artifact's"
                f" {segments} segments",
                file=sys.stderr,
            )
    else:
        segments = args.segments if args.segments is not None else 4
        if args.auto:
            n_series = pts.select("pvname").distinct().count()
            n_grid = int(round((args.t1 - args.t0) / args.step)) + 1
            rec = sax_auto_params(
                n_series, n_grid=n_grid, alphabet=args.alphabet
            )
            segments = rec["n_segments"]
            print(
                f"auto sizing: {n_series} series -> n_segments={segments}"
                f" (pinned for refreshes; fence {rec['n_candidates']})"
            )
    if refresh:
        stats = None
        if getattr(args, "stats_from_cache", None):
            from epicsarchiver_spark.streaming.ingest import read_cache_stats

            stats = read_cache_stats(spark, args.stats_from_cache)
        words = sax_words_refresh(
            pts, spark.read.parquet(cur), args.t0, args.t1, args.step,
            n_segments=segments, alphabet=args.alphabet, stats=stats,
        )
    else:
        words = sax_words_build(
            pts, args.t0, args.t1, args.step,
            n_segments=segments, alphabet=args.alphabet,
        )
    staged = fsio.staging(cur)
    words.write.parquet(staged)
    _write_sidecar(
        spark, f"{staged}/_params.json",
        {"t0": args.t0, "t1": args.t1, "step": args.step,
         "segments": segments, "alphabet": args.alphabet,
         "quantum": quantum},
    )
    fsio.commit(spark, cur)
    # the refresh lane PERSISTS the artifact's plan inside
    # sax_words_refresh (diamond dedup); after the in-place swap those
    # cache entries describe the replaced files, and Spark's cache
    # matches plans by PATH — any later read of `cur` in this session
    # would silently get the pre-swap rows. refreshByPath is the
    # standard "files under this path changed" invalidation: it
    # re-lists and re-caches every entry that references the path, so
    # the count below (and the caller's session) sees the new artifact.
    spark.catalog.refreshByPath(cur)
    n = spark.read.parquet(cur).count()
    print(
        f"word index: {n} series -> {cur}"
        f" ({'incremental refresh' if refresh else 'full build'})"
    )
    return 0


def cmd_cusum(args) -> int:
    """Change-detection triage — the operational face of
    ``timeseries.cusum_changepoints``: list each series' mean-shift
    crossings from the points store (two-sided CUSUM vs the series'
    exact mean), newest first, so an operator sees WHICH PVs changed
    regime and when before the dashboards do."""
    from pyspark.sql import functions as F

    from epicsarchiver_spark.operators.timeseries import (
        cusum_changepoints,
        cusum_targets,
    )

    spark = _spark("cusum")
    pts = _points(spark, args)
    if args.pv:
        pts = pts.filter(F.col("pvname").isin(args.pv))
    if args.split is not None:
        # the warm-start composition (ts_cusum_warm): per-series
        # reference levels from the backfill half, crossings detected
        # on the live half — what a restarted monitor should report
        # instead of re-averaging the anomaly into its own target
        tg = cusum_targets(pts.filter(F.col("time") <= args.split))
        chart = cusum_changepoints(
            pts.filter(F.col("time") > args.split),
            k=args.k, h=args.threshold, targets=tg,
        )
    else:
        chart = cusum_changepoints(pts, k=args.k, h=args.threshold)
    rows = (
        chart.orderBy(F.desc("time"), "pvname", "side")
        .limit(args.n)
        .collect()
    )
    for r in rows:
        print(f"{r.pvname}  t={r.time:.3f}  {r.side}  s={r.s_scaled}/{r.n}")
    print(f"{len(rows)} changepoint(s)")
    return 0


def cmd_sax_health(args) -> int:
    """Index-health triage — the operational face of
    ``timeseries.sax_index_health`` (SCALE r12b): read (or build) the
    word index, print the bucket-occupancy line against the nomination
    fence, and recommend ``sax_auto_params`` sizing for the measured
    series count. Exit 0 when no bucket breaks the fence, 2 when
    fence-breaking buckets exist (the alert-sweep convention): overflow
    means nominations can silently evict true mates — grow segments or
    the fence, or accept quality-equivalence on a shape-degenerate
    corpus (the r12b finding)."""
    from epicsarchiver_spark.operators.timeseries import (
        sax_auto_params,
        sax_index_health,
        sax_words,
    )

    spark = _spark("sax_health")
    if args.index:
        words = spark.read.parquet(args.index).select("pvname", "word")
    else:
        words = sax_words(
            _points(spark, args), args.t0, args.t1, args.step,
            n_segments=args.segments, alphabet=args.alphabet,
        )
    h = sax_index_health(words, n_candidates=args.fence).head()
    if h is None:
        print("no indexed series")
        return 1
    n_grid = int(round((args.t1 - args.t0) / args.step)) + 1
    rec = sax_auto_params(h.n_series, n_grid=n_grid,
                          alphabet=args.alphabet, fence=args.fence)
    print(
        f"{h.n_series} series in {h.n_words} words | bucket max={h.max_bucket}"
        f" p99={h.p99_bucket} | fence={args.fence}: {h.overflow_words}"
        f" overflowing word(s), {h.overflow_series_pct100 / 100:.2f}% of"
        f" series in them"
    )
    print(
        f"auto-sizing for {h.n_series} series on this grid:"
        f" n_segments={rec['n_segments']} n_candidates={rec['n_candidates']}"
        f" (expected bucket {rec['expected_bucket']})"
    )
    return 2 if h.overflow_words else 0


def cmd_forecast(args) -> int:
    """Forecast-trust triage — the operational face of
    ``timeseries.forecast_eval``: backtest the one-step Holt or
    Holt–Winters forecast per series over the store's history and list
    the series ranked by mean absolute error (worst first), so an
    operator knows where the dashboard's forecast band means something
    before paging on it."""
    from pyspark.sql import functions as F

    from epicsarchiver_spark.operators.timeseries import forecast_eval

    spark = _spark("forecast")
    pts = _points(spark, args)
    if args.pv:
        pts = pts.filter(F.col("pvname").isin(args.pv))
    rows = (
        forecast_eval(pts, method=args.method)
        .orderBy(F.desc("mae"), "pvname")
        .limit(args.n)
        .collect()
    )
    for r in rows:
        print(f"{r.pvname}  n={r.n}  mae={r.mae}")
    print(f"{len(rows)} series backtested (method={args.method}, worst first)")
    return 0


def cmd_bm25_watch(args) -> int:
    """Standing-query sweep — ``bm25_multi`` as a subscription daemon
    (the alerts-loop cadence over a growing documents directory): each
    pass answers ALL subscriptions with ONE corpus pass (flat in Q —
    SCALE r9i measured 4→100 queries at 1.4× wall, r10c the 10× step),
    takes per-query top-k, and reports the DELTA against the previous
    pass's persisted result: (query, doc) pairs newly in the top-k are
    the "new hits" a subscriber gets mailed about. Subscriptions are a
    CSV (``query,terms`` — terms whitespace-separated) re-read every
    pass, so edits land without a restart (the alert-rules discipline).
    State is a dimension (``_overwrite_dim``), so a killed sweep leaves
    the previous state intact. Exit 2 when hits fired
    (cron convention, same as ``alerts``)."""
    import csv

    from epicsarchiver_spark.operators.text_ops import bm25_multi

    spark = _spark("bm25_watch")

    def sweep() -> int:
        with open(args.subscriptions) as fh:
            subs = {
                r["query"]: r["terms"].split()
                for r in csv.DictReader(fh)
                if r.get("terms")
            }
        if not subs:
            print("0 new hit(s) across 0 subscription(s)")
            return 0
        docs = spark.read.parquet(args.docs)
        cur = bm25_multi(docs, subs, k=args.k).select(
            "query", "doc_id", "rank", "score"
        )
        # Σq·k rows: materialize off the corpus scan before the state
        # swap (the state dir may be an input of the delta join below)
        cur = cur.localCheckpoint(eager=True)
        prev = _open_dim(spark, args.state)
        if prev is None:
            new = cur
        else:
            new = cur.join(prev.select("query", "doc_id"), ["query", "doc_id"], "left_anti")
        hits = new.orderBy("query", "rank").collect()
        for r in hits:
            print(
                f"{r.query}: NEW hit doc {r.doc_id} "
                f"(rank {r.rank}, score {r.score})"
            )
        _overwrite_dim(spark, cur, args.state)
        print(f"{len(hits)} new hit(s) across {len(subs)} subscription(s)")
        return 2 if hits else 0

    if not args.follow:
        return sweep()
    loops, rc = 0, 0
    while args.max_loops is None or loops < args.max_loops:
        try:
            rc = sweep()
        except Exception as ex:  # noqa: BLE001 — daemon survives one bad pass
            # rc = 1 so a failed FINAL pass reports as a failure instead
            # of echoing the previous pass's 0/2 to cron/monitoring
            rc = 1
            print(f"sweep failed ({type(ex).__name__}: {ex}); retrying",
                  file=sys.stderr)
        loops += 1
        if args.max_loops is not None and loops >= args.max_loops:
            break
        time.sleep(args.period_s)
    return rc


_ALERT_DIM_SCHEMA = (
    "pvname string, compare string, name string, mailto string, "
    "mailmsg string, trippoint double, timeout double, active string, "
    "status string"
)
_ALERT_EDIT_SCHEMA = (
    "id long, ts double, action string, pvname string, compare string, "
    "name string, mailto string, mailmsg string, trippoint double, "
    "timeout double, active string"
)


def cmd_alert_rules(args) -> int:
    """Alert-rule CRUD against the persisted rules dimension (ref
    webapp.py:163-227 ``/editalert`` + ``submit_alertedits`` →
    cache.add_alert/update_alert). One edit per invocation, applied
    through ``control.upsert_alerts`` (MERGE, last-write-wins on
    (pvname, compare)); the dimension is rule-sized, so the
    read-merge-rewrite is a driver-trivial parquet swap."""
    from epicsarchiver_spark.operators.control import upsert_alerts

    action = (
        "add" if args.add else "edit" if args.edit else "drop" if args.drop else None
    )
    pvname = args.add or args.edit or args.drop
    if action == "add" and args.trippoint is None:
        # the reference webapp requires a trippoint on add — a NULL
        # trippoint rule can never fire (alert_fires drops NULL), so
        # silently creating one is a dead rule, not a default
        print("--add requires --trippoint (a NULL-trippoint rule never fires)",
              file=sys.stderr)
        return 1
    spark = _spark("alert_rules")
    current = _open_dim(spark, args.table)
    if current is None:
        current = spark.createDataFrame([], _ALERT_DIM_SCHEMA)
    if action is None:
        rows = current.orderBy("pvname", "compare").collect()
        for r in rows:
            print(
                f"{r.pvname} {r.compare} {r.trippoint} name={r.name} "
                f"active={r.active} status={r.status}"
            )
        print(f"{len(rows)} rule(s) in {args.table}")
        return 0
    edit = spark.createDataFrame(
        [
            (
                int(time.time() * 1e6),
                float(time.time()),
                action,
                pvname,
                args.compare,
                args.name,
                args.mailto,
                args.mailmsg,
                args.trippoint,
                args.timeout,
                args.active,
            )
        ],
        _ALERT_EDIT_SCHEMA,
    )
    if action == "edit":
        from pyspark.sql import functions as F

        if current.filter(
            (F.col("pvname") == pvname) & (F.col("compare") == args.compare)
        ).count() == 0:
            # upsert_alerts treats an edit of a missing key as a no-op;
            # surface it here instead of silently losing the intent
            print(
                f"no rule ({pvname}, {args.compare}) to edit — use --add",
                file=sys.stderr,
            )
            return 1
    merged = upsert_alerts(current, edit)
    # the dimension is tiny (rule-count rows): materialize before the swap
    # so Spark never reads the path it is rewriting
    rows = merged.collect()
    _overwrite_dim(
        spark, spark.createDataFrame(rows, merged.schema), args.table
    )
    print(f"{action} {pvname} ({args.compare}): {len(rows)} rule(s) now in {args.table}")
    return 0


def _append_request(args, action: str, pvname: str) -> int:
    """Append one row to the requests mailbox (ref cache.py:591
    ``drop_pv``: INSERT into requests; the daemon drains later)."""
    spark = _spark("request")
    row = [(int(time.time() * 1e6), float(time.time()), pvname, action)]
    spark.createDataFrame(
        row, "id long, ts double, pvname string, action string"
    ).write.mode("append").parquet(args.queue)
    print(f"queued {action} for {pvname} in {args.queue}")
    return 0


def cmd_request(args) -> int:
    return _append_request(args, args.action, args.pvname)


def cmd_drop_pv(args) -> int:
    return _append_request(args, "drop", args.pvname)


def cmd_suspend_pv(args) -> int:
    return _append_request(args, "suspend", args.pvname)


def cmd_process_requests(args) -> int:
    """Drain the requests mailbox against the pv catalog (ref
    cache.py:705-752 ``process_requests``): latest action per pvname
    wins, drop removes the row, suspend deactivates, add ensures an
    active row. Only the SNAPSHOTTED request files are deleted after
    the drain — a request appended concurrently (between snapshot and
    cleanup) survives for the next pass, mirroring the reference's
    per-row deletes."""
    import glob as _glob
    import os

    from epicsarchiver_spark.operators.control import apply_requests

    spark = _spark("process_requests")
    snapshot = sorted(_glob.glob(os.path.join(args.queue, "*.parquet")))
    if not snapshot:
        print("no requests")
        return 0
    requests = spark.read.parquet(*snapshot)
    n_req = requests.count()
    if n_req == 0:
        print("no requests")
        return 0
    pv = _open_dim(spark, args.catalog)
    if pv is None:
        pv = spark.createDataFrame([], "pvname string, active string")
    updated = apply_requests(pv, requests)
    # a crash leaves the catalog old or new, and the queue files are only
    # deleted after the swap lands, so a replay re-drains against the
    # intact old catalog
    _overwrite_dim(spark, updated, args.catalog)
    n_pv = spark.read.parquet(args.catalog).count()
    for f in snapshot:
        os.remove(f)
    print(f"processed {n_req} request(s): {n_pv} PV(s) in {args.catalog}")
    return 0


def cmd_stop(args) -> int:
    """``pvarch arch stop`` / ``pvarch cache stop`` analog (ref
    pvarch.py:196-197, 240-242): write the stop sentinel into the
    daemon's checkpoint dir and wait for it to clear its pidfile. The
    sentinel rides the checkpoint's (shared) storage, so this works
    from any node — the reference's DB-flag control plane, not a
    host-local kill; SIGTERM is only the local-pid fallback."""
    from epicsarchiver_spark import daemon

    if daemon.stop_daemon(args.checkpoint, args.proc, args.timeout):
        print(f"{args.proc} daemon stopped")
        return 0
    print(f"{args.proc} daemon did not stop within {args.timeout}s", file=sys.stderr)
    return 1


def cmd_restart(args) -> int:
    """``pvarch arch restart`` / ``pvarch cache restart`` analog (ref
    pvarch.py:199-202, 244-248): stop any running daemon, then start
    the same daemon in-place with ``--follow`` — the streaming
    checkpoint resumes exactly-once, so no event is lost or doubled
    across the bounce (the continuity property the replay tests pin)."""
    from epicsarchiver_spark import daemon

    if not daemon.stop_daemon(args.checkpoint, args.proc, args.timeout):
        print(
            f"{args.proc} daemon did not stop within {args.timeout}s — not restarting",
            file=sys.stderr,
        )
        return 1
    args.follow = True
    return {"archive": cmd_archive, "cache": cmd_cache_daemon}[args.proc](args)


def cmd_land(args) -> int:
    """Streaming document intake (``streaming/curation.py``) as an
    operational command: gopher gate → in-stream fingerprint dedup →
    standing-corpus anti-join → source-partitioned parquet landing.
    Bounded availableNow drain by default (cron a crawl dump through
    it); ``--follow`` tails the source directory continuously and
    REQUIRES ``--watermark-col`` (without a watermark the fingerprint
    dedup state grows forever — the library documents plain
    dropDuplicates as availableNow-only). The standing-corpus file
    listing is snapshotted when the command starts (Spark stream-static
    joins cache the static side's file index), so after a nightly
    compaction/append of the archive restart the daemon — the cron'd
    availableNow shape gets this for free."""
    from pyspark.sql import functions as F

    from epicsarchiver_spark.functions.text import fingerprint64
    from epicsarchiver_spark.streaming.curation import curated_doc_stream, landing_query
    from epicsarchiver_spark.streaming.ingest import ingest_session

    if args.follow and not args.watermark_col:
        print(
            "land --follow requires --watermark-col: without a watermark the "
            "fingerprint-dedup state is unbounded (use the default availableNow "
            "drain for one-shot replays)",
            file=sys.stderr,
        )
        return 1
    if args.follow:
        from epicsarchiver_spark import daemon

        if pid := daemon.already_running(args.checkpoint, "land"):
            print(
                f"land daemon appears to be running (pid {pid})... try 'restart'?",
                file=sys.stderr,
            )
            return 1
    spark = _spark("land")
    # the dedup state is pinned into the checkpoint like archive's: sized
    # from the input only for a bounded drain (see cmd_archive)
    s_in = spark if args.follow else ingest_session(spark, args.docs)
    schema = s_in.read.parquet(args.docs).schema
    stream = s_in.readStream.schema(schema).parquet(args.docs)
    corpus_fp = None
    if args.corpus:
        corpus_fp = (
            s_in.read.parquet(args.corpus)
            .select(fingerprint64(F.col("text")).alias("fp"))
            .distinct()
        )
    survivors = curated_doc_stream(
        stream,
        corpus_fingerprints=corpus_fp,
        watermark=(args.watermark_col, args.watermark) if args.watermark_col else None,
        max_mojibake_ppm=args.max_mojibake_ppm,
    )
    q = landing_query(survivors, args.out, args.checkpoint)
    q = (
        q.trigger(processingTime=f"{args.trigger_s} seconds")
        if args.follow
        else q.trigger(availableNow=True)
    ).start()
    if args.follow:
        from epicsarchiver_spark import daemon

        print(f"landing {args.docs} -> {args.out} (pvarch stop land to stop)")
        daemon.watch(q, args.checkpoint, "land")
    else:
        if not _drain_or_stop(q, args.timeout):
            return 1
        try:
            n = spark.read.parquet(args.out).count()
        except Exception:
            n = 0  # every doc gated out: the sink holds only its manifest
        print(f"landed {n} curated docs -> {args.out}")
    return 0


def cmd_corpus(args) -> int:
    """Corpus release-loop views through ``corpus.CorpusPipeline``:
    funnel / report / mixture dashboards to stdout, survivors / shards /
    verdicts / splits / packing written to parquet (``--out``),
    leakage to the exit code. With
    ``--artifacts`` the component-consuming actions read the persisted
    bases from ``build_dedup_artifacts`` instead of rebuilding."""
    from epicsarchiver_spark.corpus import CorpusPipeline

    spark = _spark("corpus")
    cp = CorpusPipeline(
        spark, spark.read.parquet(args.documents), artifacts=args.artifacts
    )
    action = args.action
    if action in ("funnel", "report", "mixture", "graph"):
        df = getattr(cp, action)()
        for r in df.collect():
            print("  ".join(f"{k}={r[k]}" for k in df.columns))
        return 0
    if action == "leakage":
        rows = cp.leakage().collect()
        for r in rows:
            print(f"{r.split_a}<->{r.split_b}: {r.n_pairs} near-dup pairs")
        print(f"{len(rows)} leaking split pair(s)")
        return 2 if rows else 0
    if action in ("survivors", "shards", "verdicts", "splits", "packing", "soft_dedup"):
        if not args.out:
            print("--out required for survivors/shards/verdicts/splits/packing/soft_dedup", file=sys.stderr)
            return 1
        if action == "shards":
            df = cp.shards(args.n_shards)
        elif action == "packing":
            df = cp.packing(seq_tokens=args.budget)
        elif action == "soft_dedup":
            df = cp.soft_dedup(max_per_group=args.max_per_group)
        else:
            df = getattr(cp, action)()
        df.write.mode("overwrite").parquet(args.out)
        print(f"{action}: {spark.read.parquet(args.out).count()} rows -> {args.out}")
        return 0
    print(f"unknown corpus action {action!r}", file=sys.stderr)
    return 1


def cmd_prune(args) -> int:
    """Retention sweep: drop old run partitions (O(1) directory deletes
    — never a rewrite). Refuses to run without a retention bound."""
    from epicsarchiver_spark.sources.points_store import list_runs, prune_runs

    if args.keep_last is None and args.before is None:
        print("pass --keep-last N or --before RUN", file=sys.stderr)
        return 1
    spark = _spark("prune")
    try:
        dropped = prune_runs(
            spark, args.store, keep_last=args.keep_last, before=args.before
        )
    except ValueError as ex:
        print(str(ex), file=sys.stderr)
        return 1
    for r in dropped:
        print(f"dropped run={r}")
    print(f"pruned {len(dropped)} run(s); {len(list_runs(spark, args.store))} remain")
    return 0


def cmd_import_ascii(args) -> int:
    """Land an exported ASCII data file (the reference's /data/<pv>/
    format, or this engine's own S9 sink output) back into the
    partitioned store — the text-archive migration path beside
    import_zarr."""
    from epicsarchiver_spark.sources.points_store import write_points
    from epicsarchiver_spark.sources.sinks import read_ascii

    spark = _spark("import_ascii")
    rows = read_ascii(spark, args.path, args.pv).select("pvname", "time", "value")
    write_points(rows, args.store, run=args.run, n_buckets=args.buckets)
    # count from the landed store — the text archive parses exactly once
    from pyspark.sql import functions as F

    from epicsarchiver_spark.sources.points_store import read_points, series_of

    n = (
        series_of(read_points(spark, args.store), args.pv)
        .filter(F.col("run") == args.run)
        .count()
    )
    print(f"imported {n} points for {args.pv} from {args.path} (run={args.run})")
    return 0


def cmd_bpe(args) -> int:
    """Learn a BPE merge table from a documents parquet and print one
    'a b' merge per line in training order (pipe to a file for
    apply_bpe); --json writes the table as JSON instead."""
    import json as _json

    from epicsarchiver_spark.operators.bpe import learn_bpe

    spark = _spark("bpe")
    docs = spark.read.parquet(args.documents)
    merges = learn_bpe(docs, n_merges=args.merges, min_count=args.min_count)
    if args.json:
        with open(args.json, "w", encoding="utf-8") as fh:
            _json.dump(merges, fh)
        print(f"{len(merges)} merges -> {args.json}")
    else:
        for a, b in merges:
            print(f"{a} {b}")
    return 0


def cmd_bm25(args) -> int:
    """Keyword search: BM25 ranking via ``text_ops.bm25_topk`` (the
    search lane next to the reference's name-pattern ``search``).
    ``--build-index`` writes the persisted postings basis first;
    ``--index`` queries an existing one (pruned read — the standing
    deployment shape), no documents scan at all."""
    from epicsarchiver_spark.operators.text_ops import (
        bm25_topk,
        bm25_topk_indexed,
        build_bm25_index,
    )

    spark = _spark("bm25")
    index = args.index
    if index and args.documents and not args.build_index:
        # `bm25 --index ix spark merge` parses 'spark' into the optional
        # documents positional (greedy nargs) — with --index and no
        # --build-index nothing reads documents, so it IS a query term
        args.terms.insert(0, args.documents)
        args.documents = None
    if args.build_index:
        if not args.documents:
            print("--build-index needs the documents parquet", file=sys.stderr)
            return 1
        build_bm25_index(spark.read.parquet(args.documents), args.build_index)
        print(f"index written to {args.build_index}")
        index = args.build_index
    lane_k = args.lane_k if args.fuse_embeddings else args.k
    if index:
        lex = bm25_topk_indexed(spark, index, args.terms, k=lane_k)
    elif args.documents:
        docs = spark.read.parquet(args.documents)
        lex = bm25_topk(docs, args.terms, k=lane_k)
    else:
        print("pass a documents parquet or --index", file=sys.stderr)
        return 1
    if args.fuse_embeddings:
        # hybrid mode: RRF-fuse the lexical lane with the exact-cosine
        # semantic lane anchored at --query-vec-id (doc_id ≡ vec_id)
        from pyspark.sql import functions as F

        from epicsarchiver_spark.operators.similarity import brute_force_topk
        from epicsarchiver_spark.operators.text_ops import ranked_lane, rrf_fuse

        emb = spark.read.parquet(args.fuse_embeddings)
        row = emb.filter(F.col("vec_id") == args.query_vec_id).head()
        if row is None:
            print(f"vec_id {args.query_vec_id} not in {args.fuse_embeddings}",
                  file=sys.stderr)
            return 1
        qvec = [float(x) for x in row["embedding"]]
        sem = ranked_lane(
            brute_force_topk(emb, qvec, k=lane_k), "cosine_sim", id_col="vec_id"
        ).withColumnRenamed("vec_id", "doc_id")
        fused = rrf_fuse(
            {"lex": lex.select("doc_id", "rank"), "sem": sem.select("doc_id", "rank")},
            k=args.k,
        ).collect()
        for r in fused:
            print(f"{r['rank']:>3}  doc {r['doc_id']}  rrf {r['rrf_scaled']}  "
                  f"({r['n_lanes']} lane(s))")
        print(f"{len(fused)} fused hit(s) for {' '.join(args.terms)}")
        return 0 if fused else 1
    hits = lex.collect()
    snippets = {}
    if args.snippet_width and args.documents and hits:
        # best-window highlight per hit (bounded: the top-k ids prune
        # the doc scan via an isin pushdown before snippet extraction)
        from pyspark.sql import functions as F

        from epicsarchiver_spark.operators.text_ops import snippet_window

        ids = [r[0] for r in hits]
        snippets = {
            r[0]: r["snippet"]
            for r in snippet_window(
                spark.read.parquet(args.documents).filter(F.col("doc_id").isin(ids)),
                args.terms,
                width=args.snippet_width,
            ).collect()
        }
    for r in hits:
        line = (f"{r['rank']:>3}  doc {r[0]}  score {r['score']:.4f}  "
                f"({r['n_terms_matched']} term(s))")
        snip = snippets.get(r[0])
        if snip:
            line += f'  "{snip}"'
        print(line)
    print(f"{len(hits)} hit(s) for {' '.join(args.terms)}")
    return 0 if hits else 1


def cmd_ann(args) -> int:
    """Semantic search over an embeddings parquet, anchored at a stored
    vector: two-stage IVF-PQ → exact re-rank by default (the production
    shape), ``--sq8`` for the scalar-quantized two-stage lane,
    ``--exact`` for brute-force cosine, ``--mmr`` for the
    diversity-aware pick sequence. The operational face of the
    emb_ivfpq_rerank / emb_sq8_rerank / emb_mmr_topk gate lanes."""
    from pyspark.sql import functions as F

    from epicsarchiver_spark.operators.similarity import (
        brute_force_topk,
        ivfpq_topk_rerank,
        mmr_topk,
        sq8_topk_rerank,
    )

    spark = _spark("ann")
    emb = spark.read.parquet(args.embeddings)
    row = emb.filter(F.col("vec_id") == args.vec_id).head()
    if row is None:
        print(f"vec_id {args.vec_id} not in {args.embeddings}", file=sys.stderr)
        return 1
    qvec = [float(x) for x in row["embedding"]]
    if args.mmr:
        hits = mmr_topk(emb, qvec, k=args.k, n_candidates=args.candidates).collect()
        for r in hits:
            print(f"{r['step']:>3}  vec {r['vec_id']}  mmr {r['mmr_score']:.6f}")
    else:
        if args.exact:
            hits = brute_force_topk(emb, qvec, k=args.k).collect()
        elif args.sq8:
            hits = sq8_topk_rerank(
                emb, qvec, k=args.k, n_candidates=args.candidates
            ).collect()
        else:
            hits = ivfpq_topk_rerank(
                emb, qvec, k=args.k, n_candidates=args.candidates
            ).collect()
        for i, r in enumerate(hits, 1):
            print(f"{i:>3}  vec {r['vec_id']}  cosine {r['cosine_sim']:.6f}")
    print(f"{len(hits)} hit(s) for vec {args.vec_id}")
    return 0 if hits else 1


def cmd_resolve(args) -> int:
    """Entity resolution over a records parquet: blocked fuzzy pairs →
    connected components → canonical ids (``dedup.resolve_entities``).
    ``--components`` consumes a persisted CC artifact instead of
    rebuilding (the steady-state lane); ``--write-components`` persists
    the labels for next time. Prints cluster stats; ``--out`` writes
    the full canonical map."""
    from pyspark.sql import functions as F

    from epicsarchiver_spark.operators.dedup import (
        connected_components_star,
        fuzzy_matches,
        resolve_entities,
    )

    spark = _spark("resolve")
    records = spark.read.parquet(args.records)
    block = F.expr(args.block)
    comp = None
    if args.components:
        comp = spark.read.parquet(args.components)
    elif args.write_components:
        pairs = fuzzy_matches(
            records,
            id_col=args.id_col,
            name_col=args.name_col,
            block=block,
            max_distance=args.max_distance,
            max_block=args.max_block,
        )
        connected_components_star(pairs.select("id_a", "id_b")).write.mode(
            "overwrite"
        ).parquet(args.write_components)
        comp = spark.read.parquet(args.write_components)
        print(f"components written to {args.write_components}")
    out = resolve_entities(
        records,
        id_col=args.id_col,
        name_col=args.name_col,
        block=block,
        max_distance=args.max_distance,
        max_block=args.max_block,
        components=comp,
    )
    if args.out:
        out.write.mode("overwrite").parquet(args.out)
    stats = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("canonical_id").alias("n_entities"),
        F.sum(F.when(F.col("cluster_size") > 1, 1).otherwise(0)).alias("n_in_clusters"),
    ).head()
    print(
        f"{stats.n} record(s) -> {stats.n_entities} entit(ies); "
        f"{stats.n_in_clusters} record(s) in multi-record clusters"
    )
    return 0


def cmd_build_dedup_artifacts(args) -> int:
    """Once-per-corpus-release build of the persisted dedup bases: the
    connected-components labels (shard/survivor/leakage consumers), the
    winnowing fingerprint table, and the MinHash signature table — the
    artifacts the ``*_indexed`` query lanes read back so no steady-state
    query ever rebuilds a basis."""
    from epicsarchiver_spark.operators import curation, dedup

    spark = _spark("build_dedup_artifacts")
    docs = spark.read.parquet(args.documents)
    out = args.out.rstrip("/")
    if args.lane == "minhash":
        pairs = dedup.minhash_near_duplicates(
            docs, threshold=args.threshold, shingle_k=args.shingle_k
        )
    else:
        pairs = dedup.jaccard_pairs_blocked(
            docs, shingle_k=args.shingle_k, threshold=args.threshold
        )
    curation.write_components(
        dedup.connected_components_star(pairs), f"{out}/components"
    )
    dedup.winnow_fingerprints(docs).write.mode("overwrite").parquet(
        f"{out}/winnow_fp"
    )
    dedup.minhash_signatures(docs, shingle_k=args.shingle_k).write.mode(
        "overwrite"
    ).parquet(f"{out}/minhash_sig")
    from epicsarchiver_spark.operators.text_ops import write_bigram_lm

    write_bigram_lm(docs, f"{out}/bigram_lm")
    for name in ("components", "winnow_fp", "minhash_sig", "bigram_lm/unigrams"):
        n = spark.read.parquet(f"{out}/{name}").count()
        print(f"{name}: {n} rows -> {out}/{name}")
    return 0


def cmd_update_dedup_artifacts(args) -> int:
    """Nightly INCREMENTAL maintenance of the components artifact: fold
    the new batch's candidate pairs into the persisted labels with
    ``dedup.merge_components`` — provably identical to a from-scratch
    rebuild (gate ``doc_components_incremental``) at a fraction of the
    cost (SCALE r10d: 4.5× at ×10, widening with corpus size).
    ``documents`` is the FULL corpus including the batch; ``--new-ids``
    names the batch (a parquet with a doc_id column). The batch pair
    lane prunes to new×corpus before the shuffle
    (``jaccard_pairs_blocked(new_ids=)``); an ``fsio`` swap replaces
    the labels (old labels either fully survive or are fully
    replaced)."""
    from epicsarchiver_spark.operators import dedup

    spark = _spark("update_dedup_artifacts")
    cur = f"{args.out.rstrip('/')}/components"
    fsio.recover(spark, cur)
    if not fsio.exists(spark, cur):
        print(
            f"no components artifact at {cur} — run build_dedup_artifacts first",
            file=sys.stderr,
        )
        return 1
    docs = spark.read.parquet(args.documents)
    new_ids = spark.read.parquet(args.new_ids).select("doc_id")
    comp = spark.read.parquet(cur)
    pairs = dedup.jaccard_pairs_blocked(
        docs,
        shingle_k=args.shingle_k,
        threshold=args.threshold,
        new_ids=new_ids,
    )
    merged = dedup.merge_components(comp, pairs)
    merged.select("id", "component").repartition("id").write.parquet(fsio.staging(cur))
    fsio.commit(spark, cur)
    n = spark.read.parquet(cur).count()
    print(f"components: {n} rows -> {cur} (incremental merge)")
    return 0


def cmd_bucketize(args) -> int:
    """Migrate the directory-partitioned points store into the bucketed
    catalog table (``write_points_bucketed``) — the one-time full-shuffle
    rewrite that makes every later per-series window/aggregate
    shuffle-free."""
    from epicsarchiver_spark.sources.points_store import (
        read_points,
        write_points_bucketed,
    )

    spark = _spark("bucketize")
    pts = read_points(spark, args.store).select("pvname", "time", "value")
    write_points_bucketed(pts, args.table, path=args.path, n_buckets=args.buckets)
    n = spark.table(args.table).count()
    print(f"{args.table}: {n} rows bucketed by pvname into {args.buckets} buckets")
    return 0


def cmd_show_config(args) -> int:
    """``pvarch show_config`` (ref pvarch.py:154-170): every deployment
    key with its resolved value and where it came from — the sanity
    check before starting a daemon under a new config file."""
    import os as _os

    from epicsarchiver_spark.config import CONFIG_KEYS, ENVVAR

    print("# pvarch configuration (flag > config file > default)")
    env = _os.environ.get(ENVVAR)
    print(f"# {ENVVAR}={env!r}" if env else f"# no {ENVVAR} in environment")
    src = args._config_source
    print(f"# config file: {src}" if src else "# no config file loaded")
    for key, (builtin, desc) in sorted(CONFIG_KEYS.items()):
        if key in args._config_values:
            val, origin = args._config_values[key], "file"
        else:
            val, origin = builtin, "default"
        print(f"{key} = {val!r}  # {origin}: {desc}")
    return 0


def cmd_set_runinfo(args) -> int:
    """``pvarch set_runinfo`` (ref pvarch.py:308-315 + cache.py:254-288):
    recompute existing runs' start/stop boundaries from the point data
    and persist the runs dimension — the repair verb after an
    out-of-band import (``import_ascii``/``import_zarr`` into a back
    run) leaves the dimension stale. Targets: explicit run names, else
    the most recent ``--nruns`` (reference default 2). The open run
    (stop_time pinned at MAX_EPOCH) keeps its stop open, matching the
    reference's <currently running> sentinel.

    One partition-pruned scan over just the target runs (min/max per
    run — distributed, never a per-run driver loop over data), then the
    dimension swap (``_overwrite_dim``)."""
    from pyspark.sql import functions as F

    from epicsarchiver_spark.operators.control import MAX_EPOCH

    spark = _spark("set_runinfo")
    runs = _open_dim(spark, args.runs_file)
    if runs is None:
        print(f"no runs dimension at {args.runs_file}", file=sys.stderr)
        return 1
    rows = runs.collect()  # run-count dimension
    if args.runs:
        targets = list(args.runs)
        known = {r.db for r in rows}
        missing = sorted(set(targets) - known)
        if missing:
            print(f"run(s) not in {args.runs_file}: {missing}", file=sys.stderr)
            return 1
    else:
        targets = [r.db for r in sorted(rows, key=lambda r: r.start_time)][
            -max(int(args.nruns), 1):
        ]
    pts = _points(spark, args).filter(F.col("run").isin(targets))
    bounds = {
        r.run: (float(r.tmin), float(r.tmax))
        for r in pts.groupBy(F.col("run").cast("string").alias("run"))
        .agg(F.min("time").alias("tmin"), F.max("time").alias("tmax"))
        .collect()
    }
    out = []
    for r in rows:
        if r.db in bounds and r.db in targets:
            tmin, tmax = bounds[r.db]
            is_open = r.stop_time >= MAX_EPOCH
            out.append((r.db, tmin, MAX_EPOCH if is_open else tmax))
            stop_txt = "<currently running>" if is_open else time.ctime(tmax)
            print(f"{r.db}: {time.ctime(tmin)} to {stop_txt}")
        else:
            if r.db in targets:
                print(f"{r.db}: no points in store — unchanged")
            out.append((r.db, float(r.start_time), float(r.stop_time)))
    _overwrite_dim(
        spark,
        spark.createDataFrame(out, "db string, start_time double, stop_time double"),
        args.runs_file,
    )
    return 0


def cmd_init(args) -> int:
    """``pvarch init`` — explicit cold-start bootstrap (ref
    pvarch.py:109-122 ``sql_init`` emits the empty schema + first
    tables). Creates the empty partitioned store directory, the runs
    dimension with the first OPEN run row, an empty pv catalog, and an
    empty alerts dimension — so status/check/list/alert_rules work on a
    fresh deployment instead of erroring until first write. Refuses to
    touch anything that already exists (bootstrap must never clobber a
    live store)."""
    from epicsarchiver_spark.operators.control import MAX_EPOCH
    from epicsarchiver_spark.sources.points_store import FIRST_RUN

    spark = _spark("init")
    fs, P = fsio.handle(spark, args.store)
    paths = {
        "store": args.store,
        "runs_file": args.runs_file,
        "catalog": args.catalog,
        "alerts_table": args.table,
    }
    clash = {k: v for k, v in paths.items() if fs.exists(P(v))}
    if clash:
        for k, v in sorted(clash.items()):
            print(f"refusing to init: {k} already exists at {v}", file=sys.stderr)
        return 1
    fs.mkdirs(P(args.store))
    first = args.name or FIRST_RUN
    spark.createDataFrame(
        [(first, float(time.time()), MAX_EPOCH)],
        "db string, start_time double, stop_time double",
    ).coalesce(1).write.parquet(args.runs_file)
    spark.createDataFrame([], "pvname string, active string").coalesce(1).write.parquet(
        args.catalog
    )
    spark.createDataFrame([], _ALERT_DIM_SCHEMA).coalesce(1).write.parquet(args.table)
    for k, v in sorted(paths.items()):
        print(f"created {k}: {v}")
    print(f"current run is {first}")
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="pvarch", description="EpicsArchiver (Spark engine) operations"
    )
    p.add_argument("--store", default=None, help="points store path (default ./points)")
    p.add_argument(
        "--config",
        default=None,
        help="deployment TOML (default: $EPICSARCH_CONFIG); flag > file > default",
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("status", help="per-PV totals / recent counts")
    s.add_argument("-t", "--time", type=float, default=60.0, help="recent window seconds")
    s.add_argument("-n", "--limit", type=int, default=20)
    s.set_defaults(fn=cmd_status)

    s = sub.add_parser("activity", help="most recently updated PVs")
    s.add_argument("-n", "--limit", type=int, default=20)
    s.set_defaults(fn=cmd_activity)

    s = sub.add_parser("list", help="list runs in the store")
    s.set_defaults(fn=cmd_list)

    s = sub.add_parser("search", help="wildcard PV-name search")
    s.add_argument("pattern")
    s.set_defaults(fn=cmd_search)

    s = sub.add_parser("save", help="portable SQL dump")
    s.add_argument("folder", nargs="?", default=".")
    s.set_defaults(fn=cmd_save)

    s = sub.add_parser("save_zarr", help="export reference-format zarr zip")
    s.add_argument("out", nargs="?", default="pvarch_zarr.zip")
    s.set_defaults(fn=cmd_save_zarr)

    s = sub.add_parser("import_zarr", help="import a reference zarr zip archive")
    s.add_argument("zip")
    s.add_argument("--run", default="imported")
    s.add_argument("--buckets", type=int, default=128)
    s.set_defaults(fn=cmd_import_zarr)

    s = sub.add_parser("prune", help="drop old run partitions (retention)")
    s.add_argument("--keep-last", type=int, default=None, help="keep newest N runs")
    s.add_argument("--before", default=None, help="drop runs lexically below this name")
    s.set_defaults(fn=cmd_prune)

    s = sub.add_parser("import_ascii", help="import an ASCII data file for one PV")
    s.add_argument("path")
    s.add_argument("--pv", required=True, help="PV name the file belongs to")
    s.add_argument("--run", default="imported_ascii")
    s.add_argument("--buckets", type=int, default=128)
    s.set_defaults(fn=cmd_import_ascii)

    s = sub.add_parser("bm25", help="BM25 keyword search over a documents parquet")
    s.add_argument("documents", nargs="?", default=None)
    s.add_argument("terms", nargs="+", help="query terms")
    s.add_argument("-k", type=int, default=10)
    g = s.add_mutually_exclusive_group()
    g.add_argument("--index", default=None, help="query a persisted postings index")
    g.add_argument("--build-index", default=None, help="write the postings index here first")
    s.add_argument("--fuse-embeddings", default=None,
                   help="embeddings parquet: RRF-fuse BM25 with the cosine lane")
    s.add_argument("--query-vec-id", type=int, default=0,
                   help="vec_id anchoring the semantic lane (with --fuse-embeddings)")
    s.add_argument("--lane-k", type=int, default=50,
                   help="per-lane depth before fusion (with --fuse-embeddings)")
    s.add_argument("--snippet-width", type=int, default=None,
                   help="print the best N-token window per hit")
    s.set_defaults(fn=cmd_bm25)

    s = sub.add_parser(
        "keyphrases", help="RAKE keyphrase mining over a documents parquet"
    )
    s.add_argument("docs", help="documents parquet directory")
    s.add_argument("-k", type=int, default=20)
    s.add_argument("--max-len", type=int, default=4)
    s.add_argument("--min-count", type=int, default=1)
    s.set_defaults(fn=cmd_keyphrases)

    s = sub.add_parser(
        "discords",
        help="HOT-SAX discord triage: rarest-shape windows per series",
    )
    s.add_argument("--pv", action="append", default=None,
                   help="restrict to these series (repeatable)")
    s.add_argument("--window", type=int, default=16)
    s.add_argument("--segments", type=int, default=4)
    s.add_argument("--alphabet", type=int, default=4)
    s.add_argument("-k", type=int, default=3)
    s.add_argument("--novel-only", action="store_true",
                   help="only windows whose word occurred exactly once")
    s.add_argument("--confirm", action="store_true",
                   help="run the exact-distance confirm stage and order "
                        "by true discord score (farthest nearest "
                        "neighbor first)")
    s.set_defaults(fn=cmd_discords)

    s = sub.add_parser(
        "rollup", help="materialize the daily-rollup artifact (plot lane)"
    )
    s.add_argument("--out", required=True, help="rollup artifact path")
    s.add_argument("--refresh", action="store_true",
                   help="fold only runs the artifact has not seen "
                        "(plus the newest folded run) — O(new runs)")
    s.add_argument("--quantum", type=float, default=0.01,
                   help="value quantization (pinned by the artifact; "
                        "a refresh refuses a mismatch)")
    s.set_defaults(fn=cmd_rollup)

    s = sub.add_parser(
        "index_words",
        help="build/refresh the iSAX word artifact (similarity index)",
    )
    s.add_argument("t0", type=float)
    s.add_argument("t1", type=float)
    s.add_argument("step", type=float)
    s.add_argument("--out", required=True, help="artifact directory")
    s.add_argument("--segments", type=int, default=None,
                   help="word length for builds (default 4); a refresh"
                        " pins the artifact's existing length")
    s.add_argument("--alphabet", type=int, default=4)
    s.add_argument("--auto", action="store_true",
                   help="derive n_segments from the series count (builds)")
    s.add_argument("--stats-from-cache", default=None, metavar="CACHE",
                   help="latest-value cache path: detect staleness from "
                        "its per-series (time, np) instead of scanning "
                        "raw points (O(stale) refresh)")
    s.add_argument("--refresh", action="store_true",
                   help="incremental: re-word only stale series")
    s.set_defaults(fn=cmd_index_words)

    s = sub.add_parser(
        "cusum",
        help="CUSUM mean-shift triage: regime changes per series",
    )
    s.add_argument("--pv", action="append", default=None,
                   help="restrict to these series (repeatable)")
    s.add_argument("-k", type=float, default=0.5, help="slack, value units")
    s.add_argument("--threshold", type=float, default=5.0,
                   help="decision threshold h, value units")
    s.add_argument("-n", type=int, default=20, help="newest N crossings")
    s.add_argument("--split", type=float, default=None, metavar="T",
                   help="warm start: per-series targets from points at "
                        "or before T, crossings detected after T")
    s.set_defaults(fn=cmd_cusum)

    s = sub.add_parser(
        "sax_health",
        help="word-index bucket occupancy vs the nomination fence",
    )
    s.add_argument("t0", type=float)
    s.add_argument("t1", type=float)
    s.add_argument("step", type=float)
    s.add_argument("--segments", type=int, default=4)
    s.add_argument("--alphabet", type=int, default=4)
    s.add_argument("--fence", type=int, default=128)
    s.add_argument("--index", default=None,
                   help="persisted sax_words parquet (skip the word build)")
    s.set_defaults(fn=cmd_sax_health)

    s = sub.add_parser(
        "similar",
        help="iSAX series similarity: series that moved like the query",
    )
    s.add_argument("pvname")
    s.add_argument("t0", type=float)
    s.add_argument("t1", type=float)
    s.add_argument("step", type=float)
    s.add_argument("-k", type=int, default=5)
    s.add_argument("--index", default=None,
                   help="persisted sax_words parquet (skip the word build)")
    s.set_defaults(fn=cmd_similar)

    s = sub.add_parser(
        "forecast",
        help="forecast backtest: per-series one-step MAE, worst first",
    )
    s.add_argument("--pv", action="append", default=None,
                   help="restrict to these series (repeatable)")
    s.add_argument("--method", choices=("hw", "holt"), default="hw")
    s.add_argument("-n", type=int, default=20, help="series to list")
    s.set_defaults(fn=cmd_forecast)

    s = sub.add_parser(
        "bm25_watch",
        help="standing-query sweep: per-pass new top-k hits per subscription",
    )
    s.add_argument("docs", help="documents parquet directory")
    s.add_argument("subscriptions", help="CSV with query,terms columns")
    s.add_argument("--state", required=True,
                   help="parquet dir holding the previous pass's top-k")
    s.add_argument("-k", type=int, default=10)
    s.add_argument("--follow", action="store_true", help="loop every --period-s")
    s.add_argument("--period-s", type=float, default=60.0)
    s.add_argument("--max-loops", type=int, default=None)
    s.set_defaults(fn=cmd_bm25_watch)

    s = sub.add_parser("resolve", help="entity resolution over a records parquet")
    s.add_argument("records")
    s.add_argument("--id-col", default="id")
    s.add_argument("--name-col", default="name")
    s.add_argument("--block", default="split(name, ' ')[0]",
                   help="blocking SQL expression (default: first name token)")
    s.add_argument("--max-distance", type=int, default=1)
    s.add_argument("--max-block", type=int, default=10_000)
    s.add_argument("--out", default=None, help="write the canonical map here")
    g = s.add_mutually_exclusive_group()
    g.add_argument("--components", default=None,
                   help="read persisted CC labels (skip pair gen + CC)")
    g.add_argument("--write-components", default=None,
                   help="persist the CC labels for later --components runs")
    s.set_defaults(fn=cmd_resolve)

    s = sub.add_parser("ann", help="semantic search over an embeddings parquet")
    s.add_argument("embeddings")
    s.add_argument("--vec-id", type=int, default=0, help="anchor vector id")
    s.add_argument("-k", type=int, default=10)
    s.add_argument("--candidates", type=int, default=50,
                   help="stage-1 candidate depth (rerank / mmr)")
    g = s.add_mutually_exclusive_group()
    g.add_argument("--exact", action="store_true", help="brute-force cosine")
    g.add_argument("--mmr", action="store_true", help="MMR-diversified picks")
    g.add_argument("--sq8", action="store_true",
                   help="scalar-quantized nomination + exact re-rank")
    s.set_defaults(fn=cmd_ann)

    s = sub.add_parser("bpe", help="learn a BPE merge table from documents parquet")
    s.add_argument("documents")
    s.add_argument("--merges", type=int, default=10)
    s.add_argument("--min-count", type=int, default=2)
    s.add_argument("--json", help="write merges as JSON to this path")
    s.set_defaults(fn=cmd_bpe)

    s = sub.add_parser(
        "compact",
        help="fold each run's delta partition (bucket=-1) into its buckets and "
        "merge small files per (run, bucket); on a latest-value cache path, "
        "fold its pending deltas into its base (safe beside a running cache "
        "daemon: a delta it lands meanwhile stays pending; should the daemon "
        "fold at the same moment, one of the two folds fails without "
        "committing)",
    )
    s.add_argument("--runs", nargs="*", help="only these (rotated) runs; default all")
    s.add_argument("--target-mb", type=int, default=256, help="target file size")
    s.set_defaults(fn=cmd_compact)

    s = sub.add_parser("add_pvfile", help="parse a PV-list file")
    s.add_argument("file")
    s.set_defaults(fn=cmd_add_pvfile)

    s = sub.add_parser(
        "next",
        help="rotate to the next run (metadata only; a running archive "
        "daemon moves to it at `pvarch restart archive`)",
    )
    s.add_argument("--runs-file", default=None, help="runs dimension path (default ./runs.parquet)")
    s.add_argument("--name", help="explicit next run name (default: increment)")
    s.set_defaults(fn=cmd_next)

    s = sub.add_parser("check", help="liveness watchdog: >=1 point per cadence")
    s.add_argument("-c", "--cadence", type=float, default=600.0, help="window seconds")
    s.set_defaults(fn=cmd_check)

    s = sub.add_parser("health", help="per-PV uptime / drift / outlier report")
    s.add_argument("-w", "--window", type=float, default=7 * 86400.0, help="window seconds")
    s.add_argument("-b", "--heartbeat", type=float, default=86400.0, help="liveness floor")
    s.add_argument("-k", type=float, default=5.0, help="MAD outlier threshold")
    s.add_argument("-n", "--top", type=int, default=25, help="rows to print")
    s.add_argument("--now", type=float, default=None, help="report instant (default: wall clock)")
    s.set_defaults(fn=cmd_health)

    s = sub.add_parser("save_position", help="save a named instrument position")
    s.add_argument("instrument")
    s.add_argument("position")
    s.add_argument("--ts", type=float, help="timestamp (default: now)")
    s.add_argument("--positions-file", default="./positions.parquet")
    s.set_defaults(fn=cmd_save_position)

    s = sub.add_parser("restore_position", help="member values as of a saved position")
    s.add_argument("instrument")
    s.add_argument("position")
    s.add_argument("pvs", nargs="+", help="instrument member PV names")
    s.add_argument("--positions-file", default="./positions.parquet")
    s.set_defaults(fn=cmd_restore_position)

    s = sub.add_parser("alerts", help="evaluate alert rules, print rendered mail")
    s.add_argument("rules", nargs="?", default=None,
                   help="CSV with pvname,compare,trippoint columns")
    s.add_argument("--table", default=None,
                   help="persisted rules dimension (pvarch alert_rules) instead of CSV")
    s.add_argument("--template", default=None, help="mail template file")
    s.add_argument("--label", default="alarm")
    s.add_argument("--follow", action="store_true",
                   help="daemon loop: re-read rules and sweep every --period-s")
    s.add_argument("--period-s", type=float, default=None, help="default 15.0 s")
    s.add_argument("--max-loops", type=int, default=None, help=argparse.SUPPRESS)
    s.add_argument("--smooth-span", type=int, default=None,
                   help="evaluate rules on the span-N EWMA trend, not the raw tick")
    s.set_defaults(fn=cmd_alerts)

    s = sub.add_parser(
        "alert_rules", help="alert-rule CRUD on the persisted rules dimension"
    )
    s.add_argument("--table", default=None, help="rules parquet path (default ./alerts)")
    g = s.add_mutually_exclusive_group()
    g.add_argument("--add", metavar="PVNAME")
    g.add_argument("--edit", metavar="PVNAME")
    g.add_argument("--drop", metavar="PVNAME")
    s.add_argument("--compare", default="gt", choices=["eq", "ne", "le", "lt", "ge", "gt"])
    s.add_argument("--trippoint", type=float, default=None)
    s.add_argument("--name", default=None)
    s.add_argument("--mailto", default=None)
    s.add_argument("--mailmsg", default=None)
    s.add_argument("--timeout", type=float, default=None)
    s.add_argument("--active", default=None, choices=[None, "yes", "no"])
    s.set_defaults(fn=cmd_alert_rules)

    s = sub.add_parser("request", help="queue a cache request (add/drop/suspend)")
    s.add_argument("pvname")
    s.add_argument("--action", default="add", choices=["add", "drop", "suspend", "ignore"])
    s.add_argument("--queue", default=None, help="requests mailbox parquet path (default ./requests)")
    s.set_defaults(fn=cmd_request)

    s = sub.add_parser("drop_pv", help="queue a drop request (pvarch drop_pv)")
    s.add_argument("pvname")
    s.add_argument("--queue", default=None)
    s.set_defaults(fn=cmd_drop_pv)

    s = sub.add_parser("suspend_pv", help="queue a suspend request")
    s.add_argument("pvname")
    s.add_argument("--queue", default=None)
    s.set_defaults(fn=cmd_suspend_pv)

    s = sub.add_parser(
        "process_requests", help="drain the requests mailbox into the pv catalog"
    )
    s.add_argument("--queue", default=None)
    s.add_argument("--catalog", default=None, help="pv dimension parquet path (default ./pv_catalog)")
    s.set_defaults(fn=cmd_process_requests)

    s = sub.add_parser(
        "archive",
        help="run the archiver pipeline into the current run (pvarch start; "
        "a rotation takes effect at `pvarch restart archive`)",
    )
    s.add_argument("events", help="parquet events source directory")
    s.add_argument("--checkpoint", required=True)
    s.add_argument("--deadtime", type=float, default=None, help="default 5.0 s")
    s.add_argument("--deadband", type=float, default=None, help="default 0.0")
    s.add_argument("--buckets", type=int, default=128)
    s.add_argument("--follow", action="store_true", help="continuous daemon mode")
    s.add_argument("--trigger-s", type=int, default=30)
    s.add_argument("--flush-ms", type=int, default=1000)
    s.add_argument("--timeout", type=int, default=600)
    s.set_defaults(fn=cmd_archive)

    s = sub.add_parser(
        "cache_daemon", help="maintain the latest-value cache (pvarch cache start)"
    )
    s.add_argument("events", help="parquet events source directory")
    s.add_argument("--checkpoint", required=True)
    s.add_argument("--cache", default=None, help="default ./cache")
    s.add_argument("--jdbc-url", default=None)
    s.add_argument("--distributed", action="store_true",
                   help="JDBC lane: executor-side staging + set-based MERGE")
    s.add_argument("--dialect", default=None, choices=["merge", "mysql"],
                   help="distributed MERGE dialect (default merge)")
    s.add_argument("--follow", action="store_true", help="continuous daemon mode")
    s.add_argument("--trigger-s", type=int, default=10)
    s.add_argument("--timeout", type=int, default=600)
    s.set_defaults(fn=cmd_cache_daemon)

    s = sub.add_parser(
        "stop", help="signal a running --follow daemon to stop (pvarch arch stop)"
    )
    s.add_argument("proc", choices=["archive", "cache", "land"])
    s.add_argument("--checkpoint", required=True, help="the daemon's checkpoint dir")
    s.add_argument("--timeout", type=int, default=60)
    s.set_defaults(fn=cmd_stop)

    s = sub.add_parser(
        "restart",
        help="stop a --follow daemon and start it again in place "
        "(pvarch arch restart; checkpoint resumes exactly-once)",
    )
    s.add_argument("proc", choices=["archive", "cache"])
    s.add_argument("events", help="parquet events source directory")
    s.add_argument("--checkpoint", required=True)
    s.add_argument("--timeout", type=int, default=60)
    s.add_argument("--trigger-s", type=int, default=30)
    # archive lane
    s.add_argument("--deadtime", type=float, default=None, help="default 5.0 s")
    s.add_argument("--deadband", type=float, default=None, help="default 0.0")
    s.add_argument("--buckets", type=int, default=128,
                   help="archive lane only: the store's bucket count")
    s.add_argument("--flush-ms", type=int, default=1000)
    # cache lane
    s.add_argument("--cache", default=None, help="default ./cache")
    s.add_argument("--jdbc-url", default=None)
    s.add_argument("--distributed", action="store_true")
    s.add_argument("--dialect", default=None, choices=["merge", "mysql"])
    s.set_defaults(fn=cmd_restart)

    s = sub.add_parser("land", help="streaming curated document intake")
    s.add_argument("docs", help="parquet documents source directory")
    s.add_argument("--out", required=True, help="landing store path")
    s.add_argument("--checkpoint", required=True)
    s.add_argument("--corpus", default=None, help="standing corpus parquet (anti-join)")
    s.add_argument("--watermark-col", default=None)
    s.add_argument("--watermark", default="1 hour")
    s.add_argument("--max-mojibake-ppm", type=int, default=None,
                   help="drop docs above this encoding-damage ppm")
    s.add_argument("--follow", action="store_true", help="continuous daemon mode")
    s.add_argument("--trigger-s", type=int, default=30)
    s.add_argument("--timeout", type=int, default=600)
    s.set_defaults(fn=cmd_land)

    s = sub.add_parser("corpus", help="corpus release-loop views (CorpusPipeline)")
    s.add_argument(
        "action",
        choices=(
            "funnel", "report", "mixture", "graph", "leakage", "survivors",
            "shards", "verdicts", "splits", "packing", "soft_dedup",
        ),
    )
    s.add_argument("documents", help="documents parquet path")
    s.add_argument("--artifacts", default=None, help="build_dedup_artifacts dir")
    s.add_argument("--out", default=None, help="output parquet for write actions")
    s.add_argument("--n-shards", type=int, default=8)
    s.add_argument("--budget", type=int, default=2048, help="packing sequence width (tokens)")
    s.add_argument("--max-per-group", type=int, default=2, help="soft_dedup cluster cap")
    s.set_defaults(fn=cmd_corpus)

    s = sub.add_parser(
        "build_dedup_artifacts",
        help="write the per-release dedup bases (components/winnow/minhash)",
    )
    s.add_argument("documents", help="documents parquet path")
    s.add_argument("out", help="artifact output dir")
    s.add_argument("--lane", choices=("jaccard", "minhash"), default="jaccard")
    s.add_argument("--threshold", type=float, default=0.05)
    s.add_argument("--shingle-k", type=int, default=2)
    s.set_defaults(fn=cmd_build_dedup_artifacts)

    s = sub.add_parser(
        "update_dedup_artifacts",
        help="fold a new batch into the persisted components (no rebuild)",
    )
    s.add_argument("documents", help="FULL corpus parquet (including the batch)")
    s.add_argument("out", help="artifact dir holding components/")
    s.add_argument("--new-ids", required=True,
                   help="parquet naming the batch (doc_id column)")
    s.add_argument("--threshold", type=float, default=0.05)
    s.add_argument("--shingle-k", type=int, default=2)
    s.set_defaults(fn=cmd_update_dedup_artifacts)

    s = sub.add_parser(
        "bucketize", help="rewrite the store as a bucketBy(pvname) catalog table"
    )
    s.add_argument("table", help="catalog table name to create")
    s.add_argument("--path", default=None, help="external table location")
    s.add_argument("--buckets", type=int, default=128)
    s.set_defaults(fn=cmd_bucketize)

    s = sub.add_parser("show_config", help="print resolved deployment settings")
    s.set_defaults(fn=cmd_show_config)

    s = sub.add_parser(
        "set_runinfo", help="recompute run boundaries from the point data"
    )
    s.add_argument("runs", nargs="*", help="run names (default: last --nruns)")
    s.add_argument("--nruns", type=int, default=2)
    s.add_argument("--runs-file", default=None)
    s.set_defaults(fn=cmd_set_runinfo)

    s = sub.add_parser("init", help="cold-start bootstrap: store + dimensions")
    s.add_argument("--name", default=None, help="first run name (default run_00001)")
    s.add_argument("--runs-file", default=None)
    s.add_argument("--catalog", default=None)
    s.add_argument("--table", default=None, help="alerts dimension path")
    s.set_defaults(fn=cmd_init)

    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    try:
        _apply_config(args)
    except (ValueError, OSError) as ex:
        print(f"config error: {ex}", file=sys.stderr)
        return 1
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
