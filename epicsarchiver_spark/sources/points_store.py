"""The points store — the engine's 100 TB storage layout.

Reference layout: one archive *database per run*, 128 hash-bucket tables
per database (epicsarchiver/schema.py:21-23, cache.py:82-144), plus a
zarr columnar bolt-on (archiver.py:542-608). Engine layout: ONE parquet
dataset,

    points/run=<run>/bucket=<xxhash64(pvname) % N>/*.parquet
    points/run=<run>/bucket=-1/*.parquet (the run's delta partition)
    points/_buckets                      (the store's record: N, data schema)

- ``run`` partition column  → the reference's run rotation becomes a
  metadata no-op; time-range queries prune runs via the runs dimension
  (J2 interval join done driver-side against a tiny table).
- ``bucket`` partition column → the reference's 128-table fan-out
  ("eliminating more than 99% of the data", doc/setup.rst:238-241):
  a single-series query scans 1/N of each run, plus the run's delta
  partition. Every file ``write_points`` writes (and ``compact_store``
  rewrites) is sorted by (pvname, time), so parquet row-group min/max
  stats prune further and range reads are sequential. The streamed
  store (``streaming.ingest.archive_query``) gets one file per touched
  bucket per micro-batch, sorted by (pvname, time) at the default
  count. Nothing compacts a streamed store yet: its files are listed in
  the file sink's ``_spark_metadata`` manifest, so ``compact_store``
  refuses it.
- ``bucket=-1`` → a run's delta partition. A small append into a
  recorded store that holds data lands as ONE file there, not one file
  per touched bucket: ``write_points`` takes this path when the write's
  plan-estimated size is at most one scan split
  (``spark.sql.files.maxPartitionBytes``), so a pruned read pays at most
  one task's worth of bytes per pending delta. Reads prune with
  ``bucket IN (k, -1)`` and see delta rows with ``bucket = -1``.
  ``compact_store`` folds a run's delta files into the bucket
  directories their rows hash to, behind one commit point (a journal),
  so a crash at any step leaves every row visible exactly once after the
  next pass.
- ``_buckets`` → the store's record, written once by the first write
  into an empty or absent store (``write_points`` /
  ``streaming.ingest.archive_query``): line 1 is N, line 2 the data
  columns' schema as JSON (nullable, without ``run``/``bucket``). Later
  writes with another N, or other data column names or types, are
  refused: the first would spread one series over two buckets, the
  second would not read back under the recorded schema. The ``_``
  prefix keeps it out of Spark's file listing.
- ``read_points`` attaches the recorded N to the ``bucket`` column's
  metadata, and ``api.PVArchEngine`` prunes single-series reads with
  ``series_filter`` only from that recorded N: a store written before
  the record existed (or a frame without ``bucket``) is read by
  ``pvname`` alone, never with an assumed ``DEFAULT_BUCKETS``.
- An open launches no Spark job: ``read_points`` hands the recorded
  schema to the reader, so no parquet footer is read to infer it, and
  listing is driver-side in local mode (``session.get_spark`` raises
  Spark's parallel partition-discovery threshold there), so an open
  costs directory listings and one small record read. A store without
  a schema line (recorded before the record held one) is read by
  inference, one footer-reading job per open, until its next write
  (``claim_buckets``) adds the line, provided the inferred schema is
  the write's.
- At cluster scale the same layout bucket-aligns the shuffle for
  per-series windows; local tests keep N small.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from epicsarchiver_spark.sources import fsio

DEFAULT_BUCKETS = 128
DELTA_BUCKET = -1  # a run's delta partition: small appends, folded in by compact_store
BUCKETS_FILE = "_buckets"  # the store's record (bucket count, data schema), at its root
BUCKETS_META = "n_buckets"  # read_points' metadata key on the bucket column
PARTITION_COLS = ("run", "bucket")


def bucket_of(name_col, n_buckets: int = DEFAULT_BUCKETS):
    return F.pmod(F.xxhash64(name_col), F.lit(n_buckets)).cast("int")


def _holds_data(spark: SparkSession, path: str) -> bool | None:
    """Whether the store directory holds an entry Spark's reader lists;
    None if there is no such directory."""
    fs, P = fsio.handle(spark, path)
    if not fs.exists(P(path)):
        return None
    return bool(fsio.visible(fs, P(path)))


def read_record(spark: SparkSession, path: str) -> tuple[int | None, StructType | None]:
    """The store's record: (bucket count, data-column schema). Both are
    None without a record (an absent store, or one written before the
    record existed); the schema alone is None for a one-line record
    (written before the record held the schema)."""
    text = fsio.read_text(spark, f"{path}/{BUCKETS_FILE}")
    if text is None:
        return None, None
    lines = text.splitlines()
    schema = lines[1] if len(lines) > 1 else None
    return int(lines[0]), StructType.fromJson(json.loads(schema)) if schema else None


def data_schema(schema: StructType) -> StructType:
    """The data columns a store write lands: every column but the
    partition columns, nullable (as a parquet read types them)."""
    return StructType(
        [
            StructField(f.name, f.dataType, True, f.metadata)
            for f in schema
            if f.name not in PARTITION_COLS
        ]
    )


def _column_types(schema: StructType) -> dict[str, str]:
    return {f.name: f.dataType.simpleString() for f in schema}


def claim_buckets(
    spark: SparkSession, path: str, n_buckets: int, schema: StructType | None = None
) -> bool:
    """Check a write of ``n_buckets`` buckets and ``schema`` data columns
    (``data_schema``) against the store's record. Raises ``ValueError``
    on a bucket-count mismatch, or when the column names and types
    differ from a recorded schema; returns True iff the store holds
    neither data nor a record, i.e. the write about to land should stamp
    the record. A store with data but no record stays unrecorded: its
    count is unknown.

    A one-line record (written before the record held the schema) gains
    ``schema`` here when the schema inferred from the store's data
    equals it, so later opens read no footer; otherwise it stays as it
    is, and its reads keep inferring."""
    rec, rec_schema = read_record(spark, path)
    if rec is not None:
        if rec != n_buckets:
            raise ValueError(
                f"store {path} records {rec} buckets; refusing to write with "
                f"{n_buckets} (one series would span two buckets)"
            )
        if schema is not None and rec_schema is None:
            if _inferred(spark, path) == schema:
                stamp_buckets(spark, path, n_buckets, schema, replace=True)
        elif schema is not None:
            have, want = _column_types(rec_schema), _column_types(schema)
            if have != want:
                raise ValueError(
                    f"store {path} records data columns {have}; refusing to "
                    f"write {want} (its reads use the recorded schema)"
                )
        return False
    return not _holds_data(spark, path)


def _inferred(spark: SparkSession, path: str) -> StructType | None:
    """The data schema Spark infers from the store's files (one
    footer-reading job); None if it cannot (e.g. no data file)."""
    try:
        return data_schema(spark.read.parquet(path).schema)
    except Exception:  # noqa: BLE001 - unreadable data: no schema to record
        return None


def stamp_buckets(
    spark: SparkSession,
    path: str,
    n_buckets: int,
    schema: StructType | None = None,
    replace: bool = False,
) -> None:
    """Write the store's record (creating the store directory): the
    bucket count, then the data-column schema as JSON when given.
    Written whole by ``fsio.write_text``, so a crash never leaves a torn
    record. An existing record is replaced only with ``replace``;
    otherwise the write raises ``OSError``."""
    lines = [str(int(n_buckets))] + ([schema.json()] if schema is not None else [])
    text = "".join(f"{line}\n" for line in lines)
    fsio.write_text(spark, f"{path}/{BUCKETS_FILE}", text, replace=replace)


def write_points(
    points: DataFrame,
    path: str,
    run: str | None = None,
    n_buckets: int = DEFAULT_BUCKETS,
    mode: str = "append",
) -> None:
    """S10/S15 — append a (pvname, time, value, ...) frame to the store.
    Adds run/bucket partition columns; every file is sorted by
    (pvname, time) for row-group stat pruning + sequential range reads.
    The first write into an empty or absent store records ``n_buckets``
    and the data columns' schema; a later write with another count or
    other data columns raises ``ValueError``. A static overwrite
    replaces the whole store, record included.

    A small append lands as one file per run in the run's delta
    partition (``bucket=-1``), with no shuffle, when the store records
    its bucket count, already holds data, and the write's plan-estimated
    size is at most one scan split (``spark.sql.files.maxPartitionBytes``):
    a pruned single-series read then pays at most one split for each
    pending delta. Any other write (the first into an empty store, every
    overwrite, a larger write, or one whose size the plan cannot
    estimate) lands bucketed, one file per touched (run, bucket).
    ``compact_store`` folds deltas into their buckets."""
    spark = points.sparkSession
    schema = data_schema(points.schema)
    replaces = mode == "overwrite" and (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode").lower() == "static"
    )
    stamp = replaces or claim_buckets(spark, path, n_buckets, schema)
    delta = mode == "append" and _fits_a_delta(points, path)
    bucket = F.lit(DELTA_BUCKET) if delta else bucket_of(F.col("pvname"), n_buckets)
    out = points.withColumn("bucket", bucket)
    if run is not None:
        out = out.withColumn("run", F.lit(run))
    out = out.coalesce(1) if delta else out.repartition(*PARTITION_COLS)
    # the sort leads with the partition columns: the planned write needs
    # that order, and would replace a sort without it by its own
    (
        out.sortWithinPartitions(*PARTITION_COLS, "pvname", "time")
        .write.mode(mode)
        .partitionBy(*PARTITION_COLS)
        .parquet(path)
    )
    if stamp:
        stamp_buckets(spark, path, n_buckets, schema)


def _fits_a_delta(points: DataFrame, path: str) -> bool:
    """Whether an append of ``points`` lands in the delta partition: the
    store records its bucket count (the fold needs it), holds data, and
    the plan estimates the write at most one scan split (an unestimable
    plan reports a huge size)."""
    spark = points.sparkSession
    split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    return (
        read_record(spark, path)[0] is not None
        and bool(_holds_data(spark, path))
        and int(points._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()) <= split
    )


# Data columns then partition columns in partition-spec order — the
# exact shape a live store read produces (write_points partitionBy
# ('run','bucket')). Caveat: parquet partition-value inference types a
# date-SHAPED run name (run=2026-07-31) as DATE on a live read; the
# canonical bootstrapped-empty frame declares string (rotation-style
# run_NNNNN names), so schema-sensitive callers should cast run to
# string as cmd_set_runinfo does.
POINTS_READ_SCHEMA = "pvname string, time double, value double, run string, bucket int"


def read_points(spark: SparkSession, path: str) -> DataFrame:
    """Read the store. With a recorded schema the read is given it, so
    opening the store reads no parquet footer and launches no Spark job;
    the partition columns are still inferred from the paths. A store
    without one (unrecorded, or a one-line record) is read by inference.
    A freshly-bootstrapped store (``pvarch init``, or ``archive_query``
    before its first batch) is an existing directory with no parquet yet
    — zero rows can't carry an inferred schema, and a given schema lists
    no partition column — so return an empty frame with the canonical
    layout instead; a nonexistent path still fails loudly (a typo'd
    --store must never read as an empty archive). The empty case rides
    the read itself (no extra listing on the every-query hot path); only
    hidden entries (the record, ``_SUCCESS``, checksums) may sit in an
    empty store. The recorded bucket count, if any, rides on the
    ``bucket`` column's metadata (``BUCKETS_META``) for
    ``api.PVArchEngine``'s pruned reads. Rows of a pending delta (a small
    append ``compact_store`` has not folded yet) read with ``bucket = -1``
    (``DELTA_BUCKET``), not the bucket their pvname hashes to."""
    n_buckets, schema = read_record(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    try:
        pts = reader.parquet(path)
        # a given schema reads an empty store without error, but no
        # partition directory was listed
        empty = "bucket" not in pts.columns and _holds_data(spark, path) is False
    except Exception:
        if _holds_data(spark, path) is not False:
            raise
        empty = True
    if empty:
        pts = spark.createDataFrame([], POINTS_READ_SCHEMA)
    if n_buckets is None:
        return pts
    return pts.select(
        *(
            F.col(c).alias(c, metadata={BUCKETS_META: n_buckets}) if c == "bucket" else c
            for c in pts.columns
        )
    )


def buckets_of_frame(points: DataFrame) -> int | None:
    """The bucket count ``read_points`` recorded on ``points``' bucket
    column, or None (no record, or no bucket column)."""
    if "bucket" not in points.columns:
        return None
    return points.schema["bucket"].metadata.get(BUCKETS_META)


def list_runs(spark: SparkSession, path: str) -> list[str]:
    """The store's run partitions, name-sorted (run names are zero-padded
    or date-stamped, so lexical order IS chronological order — the same
    invariant ``rotate_runs`` maintains)."""
    fs, P = fsio.handle(spark, path)
    if not fs.exists(P(path)):
        return []
    return sorted(
        st.getPath().getName()[len("run="):]
        for st in fs.listStatus(P(path))
        if st.isDirectory() and st.getPath().getName().startswith("run=")
    )


def prune_runs(
    spark: SparkSession,
    path: str,
    keep_last: int | None = None,
    before: str | None = None,
) -> list[str]:
    """Retention: DROP old run partitions — the data-lifecycle op every
    archiver eventually needs (the reference rotates MySQL databases and
    ops teams drop old ones by hand; here a run is a partition
    directory, so retirement is an O(1)-metadata directory delete, no
    rewrite, no scan — the run-partitioned layout's whole point at
    100 TB). ``keep_last=N`` keeps the newest N runs by name;
    ``before='run_x'`` drops every run lexically below it. The newest
    run is never dropped (the open run must survive any retention
    setting). Returns the dropped run names.

    Safety rails: ``keep_last`` and ``before`` are mutually exclusive
    (silently ignoring one invites a false sense of what was retired);
    ``keep_last`` must be ≥ 1; and because "newest" is NAME order,
    ``keep_last`` refuses a store whose run names are heterogeneous
    (e.g. rotation's ``run_00001`` mixed with an ``import_ascii --run
    migrated`` run — lexical order is not chronological there, and a
    wrong guess deletes the newest data). For mixed-name stores use
    ``before``, which is an explicit caller-owned name bound."""
    if (keep_last is None) == (before is None):
        raise ValueError("pass exactly one of keep_last / before")
    if keep_last is not None and int(keep_last) < 1:
        raise ValueError("keep_last must be >= 1")
    runs = list_runs(spark, path)
    if not runs:
        return []
    victims: list[str] = []
    if keep_last is not None:
        import re as _re

        # Normalize ALL digit groups — keeping each group's WIDTH in the
        # stem. Zero-padded date stamps spanning a month/day boundary
        # (2026-07-31 vs 2026-08-01 → '#4-#2-#2' both) stay lexically
        # chronological and must pass; but equal-shape names with
        # UNPADDED digits ('2026-9-30' vs '2026-10-01') or a rotation
        # counter that outgrew its padding ('run_99999' vs 'run_100000')
        # are lexically misordered — width-sensitive stems differ there,
        # so the guard refuses instead of deleting the newest run.
        stems = {
            _re.sub(r"\d+", lambda m: f"#{len(m.group())}", r) for r in runs
        }
        if len(stems) > 1:
            raise ValueError(
                f"heterogeneous run names {sorted(stems)}: lexical order is "
                "not chronological — use before= with an explicit bound"
            )
        victims = runs[: -int(keep_last)]
    elif before is not None:
        victims = [r for r in runs[:-1] if r < before]
    if not victims:
        return []
    fs, P = fsio.handle(spark, path)
    for r in victims:
        fs.delete(P(f"{path}/run={r}"), True)
    return victims


def series_filter(
    points: DataFrame, pvname: str, n_buckets: int = DEFAULT_BUCKETS
) -> DataFrame:
    """Filter to one series with bucket pruning: the bucket predicate is
    on a partition column (pruned at planning time) and keeps the
    series' bucket and the runs' delta partitions; the pvname equality
    is pushed into the scan."""
    return points.filter(
        F.col("bucket").isin(bucket_of(F.lit(pvname), n_buckets), F.lit(DELTA_BUCKET))
        & (F.col("pvname") == pvname)
    )


def series_of(points: DataFrame, pvname: str) -> DataFrame:
    """One series of a ``read_points`` frame: bucket-pruned with the
    store's recorded count (``buckets_of_frame``), or by ``pvname``
    alone when the store records none — never with an assumed count,
    which would silently drop every series whose bucket differs."""
    n_buckets = buckets_of_frame(points)
    if n_buckets is None:
        return points.filter(F.col("pvname") == pvname)
    return series_filter(points, pvname, n_buckets)


def runs_for_window(runs: DataFrame, t0: float, t1: float) -> DataFrame:
    """J2 — interval join: runs whose [start_time, stop_time] overlaps
    [t0, t1] (ref epicsarchiver/archiver.py:104-110 dbs_for_time).
    The runs dimension is tiny — collect + literal IN-list turns run
    pruning into static partition pruning."""
    return runs.filter((F.col("stop_time") > t0) & (F.col("start_time") < t1))


def compact_store(
    spark: SparkSession,
    path: str,
    runs: list[str] | None = None,
    target_file_bytes: int = 256 * 1024 * 1024,
) -> dict[str, int]:
    """Delta fold and small-file compaction for a ``run=/bucket=`` points
    store. Every append adds files: a large one a file per touched
    (run, bucket), a small one a file in its run's delta partition
    (``bucket=-1``). After months of appends the scan cost is dominated
    by file-open overhead, the classic small-file problem. Per run, one
    pass folds the delta files into the bucket directories their rows
    hash to, and rewrites every bucket that holds more files than
    ~size/target_file_bytes, re-sorted by (pvname, time) so row-group
    min/max stats prune again. A rewritten bucket spreads its series
    over its files by pvname hash, so each series stays in one file.
    A store written by the streaming ``archive_query`` (``bucket=`` at
    its root, listed in the sink's ``_spark_metadata`` manifest) raises
    ``ValueError``: its readers see only the files the manifest lists,
    so rewriting its files without the manifest would hide them.

    Each run's pass is one ``fsio`` swap of the buckets it rewrites,
    whose journal also lists the folded delta files, so after a crash at
    any step the next pass leaves every row visible exactly once; the
    run's other buckets are never copied or disturbed. Staging sits
    under a hidden name Spark's listing skips, but a reader that lists
    the run during the roll-forward itself (renames and deletes only)
    can see folded rows twice or a bucket missing. The pass reads and
    writes on a sibling session with adaptive partition coalescing off:
    coalescing would merge a bucket's file slots below its 64 MB
    advisory size, writing fewer files than sized for.

    The hot (currently-appended) run should be skipped via ``runs``:
    compact only rotated runs, which are immutable.

    Returns {partition: files_after} for the bucket partitions
    rewritten, and ``run=<r>/bucket=-1: 0`` for each delta partition
    folded."""
    fs, P = fsio.handle(spark, path)
    if fs.exists(P(f"{path}/_spark_metadata")):
        raise ValueError(
            f"store {path} is a streaming file-sink store (it holds "
            "_spark_metadata): it cannot be compacted until compaction also "
            "rewrites the sink manifest (ROADMAP: compaction of the streamed store)"
        )
    n_buckets, schema = read_record(spark, path)
    session = spark.newSession()
    session.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    result: dict[str, int] = {}
    for run in list_runs(spark, path):
        if runs is None or run in runs:
            result.update(
                _compact_run(session, f"{path}/run={run}", n_buckets, schema, target_file_bytes)
            )
    return result


def _compact_run(
    spark: SparkSession,
    run_dir: str,
    n_buckets: int | None,
    schema: StructType | None,
    target_file_bytes: int,
) -> dict[str, int]:
    """One run's pass of ``compact_store``: recover, stage, commit."""
    fs, P = fsio.handle(spark, run_dir)
    fsio.recover(spark, run_dir)
    files = {
        int(st.getPath().getName()[len("bucket="):]): [
            f for f in fsio.visible(fs, st.getPath()) if f.isFile()
        ]
        for st in fs.listStatus(P(run_dir))
        if st.isDirectory() and st.getPath().getName().startswith("bucket=")
    }
    delta = f"bucket={DELTA_BUCKET}"
    deltas = [f"{delta}/{st.getPath().getName()}" for st in files.pop(DELTA_BUCKET, [])]
    ways = {
        k: max(1, -(-sum(st.getLen() for st in fl) // target_file_bytes))
        for k, fl in files.items()
    }
    rewrite = {k for k, fl in files.items() if len(fl) > ways[k]}
    reader = spark.read if schema is None else spark.read.schema(schema)
    delta_paths = [f"{run_dir}/{name}" for name in deltas]
    if deltas:
        if n_buckets is None:
            raise ValueError(f"{run_dir} holds deltas but its store records no bucket count")
        home = bucket_of(F.col("pvname"), n_buckets)
        rewrite |= {r[0] for r in reader.parquet(*delta_paths).select(home).distinct().collect()}
    if not rewrite:
        return {}
    rows = reader.option("basePath", run_dir).parquet(
        *[f"{run_dir}/bucket={k}" for k in sorted(rewrite) if k in files], *delta_paths
    )
    if deltas:
        rows = rows.withColumn("bucket", home)
    wide = [x for k in sorted(rewrite) if ways.get(k, 1) > 1 for x in (k, ways[k])]
    slot = F.lit(0)
    if wide:  # buckets sized for several files: spread their series by name
        n_files = F.create_map(*map(F.lit, wide))[F.col("bucket")]
        slot = F.pmod(F.xxhash64("pvname"), F.coalesce(n_files, F.lit(1)))
    (
        rows.repartition(F.col("bucket"), slot)
        .sortWithinPartitions("bucket", "pvname", "time")
        .write.partitionBy("bucket")
        .parquet(fsio.staging(run_dir))
    )
    parts = [f"bucket={k}" for k in sorted(rewrite)]
    fsio.commit(spark, run_dir, parts, drop=deltas)
    run = run_dir.rsplit("/", 1)[1]
    out = {
        f"{run}/{part}": sum(st.isFile() for st in fsio.visible(fs, P(f"{run_dir}/{part}")))
        for part in parts
    }
    if deltas:
        out[f"{run}/{delta}"] = 0
    return out


def range_read_store(
    spark: SparkSession,
    path: str,
    pvname: str,
    t0: float,
    t1: float,
    runs: DataFrame | None = None,
) -> DataFrame:
    """get_data against the store: bucket-pruned, run-pruned, stat-pruned
    single-series range scan (the §3.2 read path, minus the early-point
    seed which operators.timeseries.get_data adds). Buckets are pruned
    with the store's recorded count only (``series_of``)."""
    pts = series_of(read_points(spark, path), pvname)
    if runs is not None:
        run_names = [r.db for r in runs_for_window(runs, t0, t1).collect()]
        pts = pts.filter(F.col("run").isin(run_names))
    return pts.filter(F.col("time").between(t0, t1))


def write_points_bucketed(
    points: DataFrame,
    table: str,
    path: str | None = None,
    n_buckets: int = DEFAULT_BUCKETS,
    mode: str = "overwrite",
) -> None:
    """Hive-bucketed variant of the store — the SHUFFLE-FREE lane for
    per-series operators. ``bucketBy(n, pvname).sortBy(pvname, time)``
    records the hash distribution in the catalog, so every downstream
    ``groupBy("pvname")`` / ``Window.partitionBy("pvname")`` is
    satisfied by the SCAN's layout and Catalyst plans NO Exchange — at
    100 TB that deletes the single biggest shuffle in the per-series
    operator family (deadband, compression report, latest, as-of). The
    directory-partitioned ``write_points`` store keeps the same key
    bucketing but only as a pruning layout; this lane additionally
    registers it as table metadata the planner can consume (the
    SCALE.md "a future bucketBy layout makes them shuffle-free" note,
    implemented). An Iceberg/Delta deployment gets the same effect from
    a sorted bucket transform.

    ``path`` makes it an external table (tests point it at a tmp dir);
    the catalog entry is what carries the bucket spec either way."""
    w = (
        points.repartition(F.col("pvname"))
        .sortWithinPartitions("pvname", "time")
        .write.mode(mode)
        .bucketBy(n_buckets, "pvname")
        .sortBy("pvname", "time")
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def read_points_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read the bucketed store THROUGH the catalog — reading the parquet
    path directly would lose the bucket spec and reintroduce the
    shuffle."""
    return spark.table(table)


def _day_col():
    return F.date_format(F.timestamp_seconds(F.col("time")), "yyyy-MM-dd").alias(
        "day"
    )


def rollup_partials(
    points: DataFrame,
    key: str = "pvname",
    quantum: float = 0.01,
    run_col: str | None = None,
) -> DataFrame:
    """Per-(key, day) MERGEABLE daily-rollup partials — ``(key, day, n,
    sum_q, min_q, max_q)`` with the value moments as exact integer
    ``quantum`` units. Mergeable means a union of partials from any
    run split re-aggregates (sum n, sum sum_q, min min_q, max max_q)
    to exactly the one-shot answer — the property that makes the
    artifact MAINTAINABLE: each new run appends its own partials and
    :func:`merge_rollup` folds them in without touching old points.

    ``run_col`` keeps the partials SPLIT by that column (appended
    after the moments, partition-spec position) — the per-run artifact
    layout ``pvarch rollup`` maintains, where refreshing a run is a
    directory swap and :func:`read_rollup`'s merge-on-read folds the
    run split back out."""
    q = F.round(F.col("value") / quantum).cast("long")
    keys = [F.col(key), _day_col()] + (
        [F.col(run_col)] if run_col is not None else []
    )
    agg = points.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).alias("sum_q"),
        F.min(q).alias("min_q"),
        F.max(q).alias("max_q"),
    )
    if run_col is not None:
        # data cols first, partition col last — the on-disk shape
        return agg.select(
            key, "day", "n", "sum_q", "min_q", "max_q", run_col
        )
    return agg


def merge_rollup(partials: DataFrame) -> DataFrame:
    """Fold unioned rollup partials (existing artifact + a new run's
    :func:`rollup_partials`) back to one row per (key, day)."""
    key = partials.columns[0]
    return partials.groupBy(key, "day").agg(
        F.sum("n").alias("n"),
        F.sum("sum_q").alias("sum_q"),
        F.min("min_q").alias("min_q"),
        F.max("max_q").alias("max_q"),
    )


def write_rollup(
    points: DataFrame,
    path: str,
    key: str = "pvname",
    quantum: float = 0.01,
    mode: str = "overwrite",
) -> None:
    """Materialize the daily-rollup artifact — the long-horizon plot
    lane: a year-scale dashboard reads (key × days) rows from here
    instead of scanning raw points (the reduced-data store every
    production archiver grows; the reference serves year plots from
    raw, epicsarchiver/web_utils.py, which is exactly what stops
    scaling first). Bytes per series-day; rebuilt per release or
    maintained incrementally (``mode="append"`` a new run's
    :func:`rollup_partials`, then compact with :func:`merge_rollup` —
    appends never reread old points)."""
    rollup_partials(points, key=key, quantum=quantum).write.mode(mode).parquet(
        path
    )


def read_rollup(
    spark: SparkSession, path: str, quantum: float = 0.01
) -> DataFrame:
    """Finalized rollup from the artifact: merge any appended partials,
    then ``(key, day, n, sum_value, min_value, max_value)`` — the
    :func:`merge_rollup` pass makes reads correct even before a
    compaction has folded freshly-appended run partials."""
    m = merge_rollup(spark.read.parquet(path))
    key = m.columns[0]
    return m.select(
        key,
        "day",
        "n",
        F.round(F.col("sum_q").cast("double") * F.lit(quantum), 2).alias(
            "sum_value"
        ),
        F.round(F.col("min_q").cast("double") * F.lit(quantum), 2).alias(
            "min_value"
        ),
        F.round(F.col("max_q").cast("double") * F.lit(quantum), 2).alias(
            "max_value"
        ),
    )
