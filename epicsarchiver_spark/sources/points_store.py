"""The points store — the engine's 100 TB storage layout.

Reference layout: one archive *database per run*, 128 hash-bucket tables
per database (epicsarchiver/schema.py:21-23, cache.py:82-144), plus a
zarr columnar bolt-on (archiver.py:542-608). Engine layout: ONE parquet
dataset,

    points/run=<run>/bucket=<xxhash64(pvname) % N>/*.parquet
    points/run=<run>/bucket=-1/*.parquet (the run's delta partition)
    points/_buckets                      (the store's record: N, data schema)
    points/_summary/*.parquet            (per-file series partials)

Every writer lands this one layout: ``write_points`` (batch appends,
imports, and the streaming archiver's micro-batches) and
``compact_store``.

- ``run`` partition column  → the reference's run rotation becomes a
  metadata no-op; time-range queries prune runs via the runs dimension
  (J2 interval join done driver-side against a tiny table).
- ``bucket`` partition column → the reference's 128-table fan-out
  ("eliminating more than 99% of the data", doc/setup.rst:238-241):
  a single-series query scans 1/N of each run, plus the run's delta
  partition. Every file ``write_points`` writes (and ``compact_store``
  rewrites) is sorted by (pvname, time), so parquet row-group min/max
  stats prune further and range reads are sequential.
- ``bucket=-1`` → a run's delta partition. A small append into a
  recorded store that holds data lands as ONE file there, not one file
  per touched bucket: ``write_points`` takes this path when the write's
  plan-estimated size is at most one scan split
  (``spark.sql.files.maxPartitionBytes``), so a pruned read pays at most
  one task's worth of bytes per pending delta. The streaming archiver
  (``streaming.ingest.archive_query``) lands every micro-batch there
  too, whatever its size (a batch above one split as one file per state
  partition, written by the stateful stage's own tasks), named by its
  batch id and query id, so a replayed batch replaces its own files.
  Reads prune with
  ``bucket IN (k, -1)`` and see delta rows with ``bucket = -1``.
  ``compact_store`` folds a run's delta files into the bucket
  directories their rows hash to, behind one commit point (a journal),
  so a crash at any step leaves every row visible exactly once after the
  next pass. It leaves each stream query's highest batch unfolded, so
  the one batch a restarted stream replays still finds its own file.
  Each delta is written under a hidden aside name and renamed in
  (``fsio.write_files``), so a reader never lists a partly landed delta;
  ``compact_store`` deletes the asides crashed writes left.
- ``_buckets`` → the store's record, written once by the first write
  into an empty or absent store (``write_points``, or
  ``streaming.ingest.archive_query`` before its stream starts): line 1
  is N, line 2 the data columns' schema as JSON (nullable, without
  ``run``/``bucket``). Later writes with another N, or other data
  column names or types, are refused: the first would spread one
  series over two buckets, the second would not read back under the
  recorded schema. The ``_`` prefix keeps it out of Spark's file
  listing.
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
- ``_summary`` → per-file series partials, so whole-store lookups
  (latest values, series names, name search, liveness, alerts) read
  partials that grow with live files × series per file, not points. A
  partial is a fact about one immutable data file, computed from its own
  rows: one row per (file, pvname) with ``n``, ``tmin`` and the data
  columns of the series' last row in the file, keyed by the file's path
  relative to the store root. ``write_points`` lands the partials of
  the files each write adds as one file (a delta's computed on the
  driver, a bucketed write's by one Spark job); ``compact_store`` lands
  those of the files it writes, backfills every uncovered file of the
  runs it visits, and folds the partial files it listed into one.
  ``series_summary`` binds partials to files, never to writes: a lookup
  on the frame ``read_points`` returned uses only the partials of the
  files that frame lists and scans the listed files none covers, so it
  answers as the scan does after any crash, compaction or
  ``prune_runs`` (a partial of a file no longer listed is ignored). A
  frame derived from it (a filter, a select), or a store without
  partials, scans.
- A store written by the streaming file sink of earlier releases
  (``bucket=`` at its root, its files listed in the sink's manifest) is
  refused by every writer (``refuse_file_sink``), not migrated.
- At cluster scale the same layout bucket-aligns the shuffle for
  per-series windows; local tests keep N small.
"""

from __future__ import annotations

import io
import json
import re
import uuid
from typing import NamedTuple
from urllib.parse import unquote, urlsplit

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import LongType, StringType, StructField, StructType

from epicsarchiver_spark.operators.ordering import TIEBREAK_COL, order_struct
from epicsarchiver_spark.operators.timeseries import latest_per_key
from epicsarchiver_spark.sources import fsio

DEFAULT_BUCKETS = 128
DELTA_BUCKET = -1  # a run's delta partition: small appends, folded in by compact_store
BUCKETS_FILE = "_buckets"  # the store's record (bucket count, data schema), at its root
BUCKETS_META = "n_buckets"  # read_points' metadata key on the bucket column
SUMMARY_DIR = "_summary"  # the store's per-file series partials, at its root
FIRST_RUN = "run_00001"  # the run a fresh runs dimension opens
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


def refuse_file_sink(spark: SparkSession, path: str) -> None:
    """Raise ``ValueError`` for a store the streaming file sink of earlier
    releases wrote (a ``_spark_metadata`` manifest at its root): its
    readers see only the files that manifest lists, so no writer may add
    or rewrite files there. Such a store is not migrated."""
    if fsio.exists(spark, f"{path}/_spark_metadata"):
        raise ValueError(
            f"store {path} was written by the streaming file sink of an earlier "
            "release (it holds _spark_metadata, and its readers see only the "
            "files listed there): refusing to write or compact it; archive "
            "into a new store"
        )


def write_points(
    points: DataFrame,
    path: str,
    run: str | None = None,
    n_buckets: int = DEFAULT_BUCKETS,
    mode: str = "append",
    batch: tuple[str, int] | None = None,
) -> None:
    """S10/S15 — append a (pvname, time, value, ...) frame to the store.
    Adds run/bucket partition columns; every file is sorted by
    (pvname, time) for row-group stat pruning + sequential range reads.
    The first write into an empty or absent store records ``n_buckets``
    and the data columns' schema; a later write with another count or
    other data columns raises ``ValueError``, and so does a write into a
    file-sink store (``refuse_file_sink``). A static overwrite replaces
    the whole store, record included.

    An append into ``run`` lands as ONE file in the run's delta
    partition (``bucket=-1``), with no bucket shuffle, when it is a
    keyed batch (``batch``), or when the store records its bucket count,
    already holds data, and the write's plan-estimated size is at most
    one scan split (``spark.sql.files.maxPartitionBytes``): a pruned
    single-series read then pays at most one split for each pending
    delta. The file is written aside and renamed in (``fsio.write_files``)
    after one exchange to a single partition, so whatever computes the
    rows (a stream's stateful stage) keeps its parallelism. A keyed
    batch the plan sizes above one split instead lands one file per
    partition of its frame, at most ``spark.sql.shuffle.partitions``,
    with no exchange (``_batch_parts``); a crash between their renames
    shows part of the batch until its replay. Any other
    write (the first plain write into an empty store, every overwrite, a
    larger write, one whose size the plan cannot estimate, or one with
    no ``run``) lands bucketed, one file per touched (run, bucket).
    ``compact_store`` folds deltas into their buckets.

    ``batch`` = (writer, batch id) — a stream's query id and micro-batch
    id (``streaming.ingest.archive_query``) — makes the write exactly
    once: the delta is named ``<batch id>.<writer>.parquet`` (later
    files of a large batch ``<batch id>.<writer>.<i>.parquet``), so a
    replayed batch first deletes any file an earlier attempt left past
    its count, then replaces its own files (``compact_store`` never folds a
    writer's highest batch, the only one a stream replays). A plain
    delta gets a fresh uuid name.

    Every write into a store that records its data schema then lands the
    partials of the files it added as one file under ``_summary``: a
    delta's on the driver from its one file, a bucketed write's in one
    Spark job over the files it added (found by listing the directories
    it wrote before and after)."""
    spark = points.sparkSession
    refuse_file_sink(spark, path)
    if batch is not None and (run is None or mode != "append"):
        raise ValueError("a keyed batch is appended into one run: pass run and mode='append'")
    schema = data_schema(points.schema)
    replaces = mode == "overwrite" and (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode").lower() == "static"
    )
    stamp = replaces or claim_buckets(spark, path, n_buckets, schema)
    if batch is not None or (run is not None and mode == "append" and _fits_a_delta(points, path)):
        if stamp:
            stamp_buckets(spark, path, n_buckets, schema)
        _land_delta(points, path, run, batch)
        return
    before = set() if stamp else _store_files(spark, path, run)
    out = points.withColumn("bucket", bucket_of(F.col("pvname"), n_buckets))
    if run is not None:
        out = out.withColumn("run", F.lit(run))
    # the sort leads with the partition columns: the planned write needs
    # that order, and would replace a sort without it by its own
    (
        out.repartition(*PARTITION_COLS)
        .sortWithinPartitions(*PARTITION_COLS, "pvname", "time")
        .write.mode(mode)
        .partitionBy(*PARTITION_COLS)
        .parquet(path)
    )
    if stamp:
        stamp_buckets(spark, path, n_buckets, schema)
    _summarize(spark, path, _store_files(spark, path, run) - before, on_driver=False)


def _fits_a_delta(points: DataFrame, path: str) -> bool:
    """Whether a plain append of ``points`` lands in the delta partition:
    the store records its bucket count (the fold needs it), holds data,
    and the plan estimates the write at most one scan split (an
    unestimable plan reports a huge size)."""
    spark = points.sparkSession
    return (
        read_record(spark, path)[0] is not None
        and bool(_holds_data(spark, path))
        and int(points._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        <= split_bytes(spark)
    )


def _run_part(spark: SparkSession, run: str) -> str:
    """A run's directory name, escaped as Spark's partitioned write escapes it."""
    escape = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    return f"run={escape(run)}"


def _land_delta(points: DataFrame, path: str, run: str, batch: tuple[str, int] | None) -> None:
    """Land ``points`` in ``run``'s delta partition, and its partials: a
    plain append as one sorted file under a fresh uuid name, a keyed
    ``batch`` as files named by its key (``_batch_parts``)."""
    spark = points.sparkSession
    rows = points.drop(*PARTITION_COLS)
    if batch is None:
        names = [f"{uuid.uuid4().hex}.parquet"]
    else:
        names = [batch_file(*batch, part=i) for i in range(_batch_parts(points))]
    # one file: the exchange keeps whatever computes the rows (a stream's
    # stateful stage) parallel, where a coalesce would run it in one task;
    # several: each task of that stage writes its own file, with no exchange
    rows = rows.coalesce(len(names)) if len(names) > 1 else rows.repartition(1)
    keys = [f"{_run_part(spark, run)}/bucket={DELTA_BUCKET}/{name}" for name in names]
    if batch is not None:  # an earlier attempt's files past this one's count
        fs, P = fsio.handle(spark, path)
        pattern = _glob_escape(f"{path}/{keys[0]}".removesuffix(".parquet")) + ".*.parquet"
        for st in fs.globStatus(P(pattern)) or []:
            if st.getPath().getName() not in names:
                fsio.delete(spark, str(st.getPath()))
    sizes = fsio.write_files(
        spark, rows.sortWithinPartitions("pvname", "time"), [f"{path}/{key}" for key in keys]
    )
    landed = {key for key, size in zip(keys, sizes) if size}
    _summarize(spark, path, landed, on_driver=sum(sizes) <= split_bytes(spark))


def _batch_parts(points: DataFrame) -> int:
    """How many files a keyed batch may land as: one when its
    plan-estimated size is at most one scan split, or unknown; else
    ``spark.sql.shuffle.partitions`` (a stream's state partitions), one
    per partition of the frame, so a large batch is written in parallel
    with no exchange (a stream's key groups keep each series in one
    partition, so in one file)."""
    conf = points.sparkSession._jsparkSession.sessionState().conf()
    size = int(points._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    if size <= conf.filesMaxPartitionBytes() or size >= conf.defaultSizeInBytes():
        return 1
    return conf.numShufflePartitions()


def batch_file(writer: str, batch_id: int, part: int = 0) -> str:
    """The file name of ``writer``'s batch ``batch_id`` (a store's keyed
    delta, a cache's delta): ``<batch id>.<writer>.parquet``, or
    ``<batch id>.parquet`` for the empty writer, and
    ``<batch id>.<writer>.<part>.parquet`` for a batch's later files. A
    writer name with '.' or '/' raises ``ValueError``: ``batch_of``
    could not read it back."""
    if "." in writer or "/" in writer:
        raise ValueError(f"a batch writer's name holds no '.' or '/': {writer!r}")
    stem = f"{batch_id}.{writer}" if writer else f"{batch_id}"
    return f"{stem}.{part}.parquet" if part else f"{stem}.parquet"


def batch_of(name: str) -> tuple[str, int] | None:
    """(writer, batch id) of a ``batch_file`` name, else None."""
    stem, _, rest = name.removesuffix(".parquet").partition(".")
    writer, _, part = rest.partition(".")
    if name.endswith(".parquet") and stem.isdigit() and (part == "" or part.isdigit()):
        return writer, int(stem)
    return None


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
    (``DELTA_BUCKET``), not the bucket their pvname hashes to. The
    returned frame object itself (not a view of it) answers whole-store
    lookups from the store's partials (``series_summary``)."""
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
    if n_buckets is not None:
        pts = pts.select(
            *(
                F.col(c).alias(c, metadata={BUCKETS_META: n_buckets}) if c == "bucket" else c
                for c in pts.columns
            )
        )
    if not empty and _summarizable(schema):
        setattr(pts, _STORE_ATTR, (path, schema))
    return pts


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


# ---------------------------------------------------------------- summary
#
# A partial is a fact about one immutable data file, computed from its own
# rows: one row per (file, pvname) holding ``file`` (the path relative to
# the store root), ``n``, ``tmin`` and the data columns of the series'
# last row in the file (its ``time`` is the file's tmax for the series),
# in ``latest_per_key``'s column order. Writers land them as parquet files
# under ``_summary/``; readers merge the partials of the files their frame
# lists and scan only the listed files no partial covers.

_PARTIAL_COLS = ("file", "n", "tmin")
_STORE_ATTR = "_points_store"  # on a read_points frame object: (store path, data schema)


class SeriesSummary(NamedTuple):
    """Whole-store lookups of a ``read_points`` frame, from its store's
    partials: ``latest`` is the newest row of every series (data columns,
    ``latest_per_key``'s order); ``names`` the series names, sorted, when
    the partials were merged on the driver, in which case ``latest`` is a
    local frame in name order."""

    latest: DataFrame
    names: list[str] | None


class _Root(NamedTuple):
    """A store root in the two spellings its files come in: the decoded
    path of a URI (``inputFiles``, ``_metadata.file_path``), and the
    Hadoop ``Path`` string (listings, and what readers are given)."""

    local: str
    hadoop: str

    def key_of_uri(self, uri: str) -> str:
        return unquote(urlsplit(uri).path)[len(self.local) + 1 :]

    def key_of(self, status) -> str:
        return status.getPath().toString()[len(self.hadoop) + 1 :]

    def path(self, key: str) -> str:
        return f"{self.hadoop}/{key}"


def _root(spark: SparkSession, path: str) -> _Root:
    fs, P = fsio.handle(spark, path)
    q = fs.makeQualified(P(path))
    return _Root(q.toUri().getPath(), q.toString())


def _glob_escape(text: str) -> str:
    return re.sub(r"([\\{}\[\]*?])", r"\\\1", text)


def split_bytes(spark: SparkSession) -> int:
    """One scan split: ``spark.sql.files.maxPartitionBytes``."""
    return int(spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes())


def _latest_columns(schema: StructType) -> list[str]:
    """``latest_per_key``'s output columns over a store's data columns."""
    return ["pvname", *[f.name for f in schema if f.name not in ("pvname", "time")], "time"]


def _summarizable(schema: StructType | None) -> bool:
    """Whether a store with this recorded data schema keeps partials."""
    names = set() if schema is None else {f.name for f in schema}
    return {"pvname", "time"} <= names and not names & set(_PARTIAL_COLS)


def _partial_schema(schema: StructType) -> StructType:
    return StructType(
        [
            StructField("file", StringType()),
            StructField("n", LongType()),
            StructField("tmin", schema["time"].dataType),
            *(schema[c] for c in _latest_columns(schema)),
        ]
    )


def _store_files(spark: SparkSession, path: str, run: str | None) -> set[str]:
    """Store-relative paths of the data files of ``run`` (every run, for
    None): one glob."""
    fs, P = fsio.handle(spark, path)
    root = _root(spark, path)
    part = "run=*" if run is None else _glob_escape(_run_part(spark, run))
    pattern = f"{_glob_escape(root.hadoop)}/{part}/bucket=*/[^._]*"
    return {root.key_of(st) for st in fs.globStatus(P(pattern)) or []}


def _last_rows(t: pa.Table) -> tuple[pa.Table, np.ndarray]:
    """``t`` sorted by (pvname, time[, event_id]), nulls first as Spark
    orders them, and the index of each series' last row: the row
    ``max_by(..., order_struct)`` picks (either row of a tie)."""
    order = ["time"] + ([TIEBREAK_COL] if TIEBREAK_COL in t.column_names else [])
    keys = [("pvname", "ascending")] + [(c, "ascending") for c in order]
    t = t.take(pc.sort_indices(t, sort_keys=keys, null_placement="at_start"))
    names = t["pvname"].to_numpy(zero_copy_only=False)
    if not len(names):
        return t, np.zeros(0, np.int64)
    return t, np.flatnonzero(np.append(names[1:] != names[:-1], True))


def _file_partial(rows: pa.Table, key: str, schema: StructType) -> pa.Table:
    """The partial of one data file from its rows, on the driver."""
    rows, last = _last_rows(rows)
    counts = rows.group_by("pvname", use_threads=False).aggregate([([], "count_all"), ("time", "min")])
    cols = _latest_columns(schema)
    out = pa.table(
        {
            "file": pa.array([key] * len(last), pa.string()),
            "n": counts["count_all"],
            "tmin": counts["time_min"],
            **{c: rows[c].take(pa.array(last)) for c in cols},
        }
    )
    return out.cast(to_arrow_schema(_partial_schema(schema)))


def _spark_partials(spark: SparkSession, root: _Root, schema: StructType, files: dict[str, str]) -> pa.Table:
    """The partials of ``files`` ({store-relative path read: path recorded})
    in one Spark job over them (``_metadata.file_path``)."""
    rows = spark.read.schema(schema).parquet(*(root.path(k) for k in files))
    order = order_struct(rows)
    cols = _latest_columns(schema)
    parts = rows.groupBy(F.col("_metadata.file_path").alias("file"), "pvname").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("time").alias("tmin"),
        *[F.max_by(c, order).alias(c) for c in cols[1:-1]],
        F.max("time").alias("time"),
    )
    t = parts.select(*_PARTIAL_COLS, *cols).toArrow()
    keys = pa.array([files[root.key_of_uri(u)] for u in t["file"].to_pylist()], pa.string())
    return t.set_column(0, "file", keys).cast(to_arrow_schema(_partial_schema(schema)))


def _write_partials(spark: SparkSession, path: str, table: pa.Table) -> None:
    """Land ``table`` as one new parquet file under the store's ``_summary``."""
    buf = io.BytesIO()
    pq.write_table(table, buf)
    fsio.write_bytes(spark, f"{path}/{SUMMARY_DIR}/{uuid.uuid4().hex}.parquet", buf.getvalue())


def _summarize(spark: SparkSession, path: str, keys: set[str], on_driver: bool) -> None:
    """Write the partials of the store's data files ``keys``: read on the
    driver (each file at most one split), or by one Spark job."""
    schema = read_record(spark, path)[1]
    if not keys or not _summarizable(schema):
        return
    root = _root(spark, path)
    if on_driver:
        table = pa.concat_tables(
            _file_partial(pq.read_table(io.BytesIO(fsio.read_bytes(spark, root.path(k)))), k, schema)
            for k in sorted(keys)
        )
    else:
        table = _spark_partials(spark, root, schema, {k: k for k in keys})
    _write_partials(spark, path, table)


def summary_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """The store's partial files: (Hadoop path, bytes) each."""
    fs, P = fsio.handle(spark, path)
    pattern = f"{_glob_escape(_root(spark, path).hadoop)}/{SUMMARY_DIR}/[^._]*.parquet"
    return [(st.getPath().toString(), st.getLen()) for st in fs.globStatus(P(pattern)) or []]


def _read_partials(spark: SparkSession, files: list[tuple[str, int]], schema: StructType) -> pa.Table:
    """The partial files read on the driver, the partials of one data
    file taken from one of them (a compaction that crashed between its
    fold and its deletes leaves two copies). A file deleted since it was
    listed (a compaction folded it) is skipped: its data files scan."""
    target = to_arrow_schema(_partial_schema(schema))
    tables, covered = [target.empty_table()], set()
    for data in (fsio.read_bytes(spark, p) for p, _ in files):
        if data is None:
            continue
        t = pq.read_table(io.BytesIO(data)).select(target.names).cast(target)
        seen = pa.array(sorted(covered), pa.string())
        tables.append(t.filter(pc.invert(pc.is_in(t["file"], value_set=seen))))
        covered.update(pc.unique(t["file"]).to_pylist())
    return pa.concat_tables(tables)


def series_summary(points: DataFrame) -> SeriesSummary | None:
    """``points``' whole-store lookups from its store's partials, or None:
    ``points`` is not a frame ``read_points`` returned (unmodified, of a
    store that records its schema), or no partial covers a file it lists.
    The caller then answers by scanning ``points``, as it would without
    partials.

    Only the partials of files in ``points``' own listing count; the
    listed files no partial covers are scanned with ``latest_per_key``
    and merged in, so the answer is the scan's in every case (a partial
    written or lost around a crash, a file compaction replaced or
    ``prune_runs`` dropped). Up to one scan split of partial files is
    read and merged on the driver into a local frame; a larger summary
    is read and merged by Spark."""
    bound = vars(points).get(_STORE_ATTR)
    if bound is None:
        return None
    path, schema = bound
    spark = points.sparkSession
    files = summary_files(spark, path)
    if not files:
        return None
    root = _root(spark, path)
    listed = {root.key_of_uri(u) for u in points.inputFiles()}
    cols = _latest_columns(schema)

    def scan(keys):
        return latest_per_key(spark.read.schema(schema).parquet(*(root.path(k) for k in sorted(keys))))

    if sum(size for _, size in files) > split_bytes(spark):
        parts = spark.read.schema(_partial_schema(schema)).parquet(*(p for p, _ in files))
        live = spark.createDataFrame(pa.table({"file": pa.array(sorted(listed), pa.string())}))
        parts = parts.join(F.broadcast(live), "file", "left_semi")
        covered = {r.file for r in parts.select("file").distinct().collect()}
        if not covered:
            return None
        rows = parts.select(*cols)
        if listed - covered:
            rows = rows.unionByName(scan(listed - covered))
        return SeriesSummary(latest_per_key(rows).select(*cols), None)
    parts = _read_partials(spark, files, schema)
    parts = parts.filter(pc.is_in(parts["file"], value_set=pa.array(sorted(listed), pa.string())))
    covered = set(pc.unique(parts["file"]).to_pylist())
    if not covered:
        return None
    rows = parts.select(cols)
    if listed - covered:
        rows = pa.concat_tables([rows, scan(listed - covered).toArrow().select(cols).cast(rows.schema)])
    rows, last = _last_rows(rows)
    rows = rows.take(pa.array(last))
    latest = spark.createDataFrame(rows, StructType([schema[c] for c in cols]))
    return SeriesSummary(latest, rows["pvname"].to_pylist())


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
    A file-sink store (``refuse_file_sink``) raises ``ValueError``.

    Each run's pass is one ``fsio`` swap of the buckets it rewrites,
    whose journal also lists the folded delta files, so after a crash at
    any step the next pass leaves every row visible exactly once; the
    run's other buckets are never copied or disturbed. Of the keyed
    deltas (``write_points(batch=...)``) it leaves each writer's highest
    batch unfolded: that is the only batch a stream replays, so a replay
    replaces its own file and never lands rows already folded. Before it
    lists a run, the pass deletes the asides crashed delta writes left
    there (``fsio.drop_asides``). Staging sits
    under a hidden name Spark's listing skips, but a reader that lists
    the run during the roll-forward itself (renames and deletes only)
    can see folded rows twice or a bucket missing. The pass reads and
    writes on a sibling session with adaptive partition coalescing off:
    coalescing would merge a bucket's file slots below its 64 MB
    advisory size, writing fewer files than sized for.

    The hot (currently-appended) run should be skipped via ``runs``:
    compact only rotated runs, which are immutable. A write that lands
    in a run while it is compacted can fail (its aside is deleted); it
    raises, and its retry or replay lands it once.

    The pass keeps the summary (``_summary``) proportional to the live
    files: before a run's commit it lands the partials of the files it
    staged (by their paths after the swap) and of the run's files no
    partial covers, and the first such landing also folds every partial
    file the pass listed into it (``_Fold``).

    Returns {partition: files_after} for the bucket partitions
    rewritten, and ``run=<r>/bucket=-1: n`` for each delta partition
    folded, ``n`` the keyed deltas left in it."""
    refuse_file_sink(spark, path)
    n_buckets, schema = read_record(spark, path)
    session = spark.newSession()
    session.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    visited = [run for run in list_runs(spark, path) if runs is None or run in runs]
    listings = {}
    for run in visited:
        fsio.recover(spark, f"{path}/run={run}")
        fsio.drop_asides(spark, f"{path}/run={run}/bucket={DELTA_BUCKET}")
        listings[run] = _run_files(spark, f"{path}/run={run}")
    fold = _Fold(session, path, schema, listings) if _summarizable(schema) else None
    result: dict[str, int] = {}
    for run in visited:
        result.update(
            _compact_run(
                session, f"{path}/run={run}", listings[run], n_buckets, schema, target_file_bytes, fold
            )
        )
    if fold is not None:
        fold.finish()
    return result


def _run_files(spark: SparkSession, run_dir: str) -> dict[int, list]:
    """A run's data files by bucket, as ``FileStatus``."""
    fs, P = fsio.handle(spark, run_dir)
    return {
        int(st.getPath().getName()[len("bucket="):]): [
            f for f in fsio.visible(fs, st.getPath()) if f.isFile()
        ]
        for st in fs.listStatus(P(run_dir))
        if st.isDirectory() and st.getPath().getName().startswith("bucket=")
    }


class _Fold:
    """A compaction pass's upkeep of the summary. It lists the partial
    files once and keeps the rows of files still live (in a visited run,
    listed there; elsewhere, in a run that still exists), one copy per
    file. The first run pass with partials to land writes them together
    with those rows, minus the rows of the files the pass replaces, as
    one file, and deletes the files it listed: never a partial file a
    concurrent write landed after the listing. Later passes land theirs
    as files of their own, and files they replace keep their (ignored)
    rows until the next compaction."""

    def __init__(self, spark: SparkSession, path: str, schema: StructType, listings: dict) -> None:
        self.spark, self.path, self.schema = spark, path, schema
        self.root = _root(spark, path)
        self.files = summary_files(spark, path)
        rows = _read_partials(spark, self.files, schema)
        visited = {f"run={run}" for run in listings}
        live = {
            f"run={run}/bucket={k}/{st.getPath().getName()}"
            for run, files in listings.items()
            for k, fl in files.items()
            for st in fl
        }
        runs = {f"run={run}" for run in list_runs(spark, path)}
        keep = [
            key in live if key.split("/", 1)[0] in visited else key.split("/", 1)[0] in runs
            for key in rows["file"].to_pylist()
        ]
        self.rows = rows.filter(pa.array(keep, pa.bool_()))
        self.stale = len(self.rows) < len(rows)
        self.covered = set(self.rows["file"].to_pylist())

    def land(self, replaced: set[str], files: dict[str, str]) -> None:
        """Land the partials of ``files`` (store-relative path read: path
        recorded) for a run pass that replaces the files ``replaced``."""
        new = _spark_partials(self.spark, self.root, self.schema, files) if files else None
        if self.files is None:  # folded already
            if new is not None:
                _write_partials(self.spark, self.path, new)
            return
        gone = pa.array(sorted(replaced), pa.string())
        kept = self.rows.filter(pc.invert(pc.is_in(self.rows["file"], value_set=gone)))
        self._replace(kept if new is None else pa.concat_tables([kept, new]))

    def finish(self) -> None:
        """Fold the listed files if no run pass did and they need it."""
        if self.files is not None and (len(self.files) > 1 or self.stale):
            self._replace(self.rows)

    def _replace(self, table: pa.Table) -> None:
        if len(table):
            _write_partials(self.spark, self.path, table)
        for file, _ in self.files:
            fsio.delete(self.spark, file)
        self.files = None


def _compact_run(
    spark: SparkSession,
    run_dir: str,
    files: dict[int, list],
    n_buckets: int | None,
    schema: StructType | None,
    target_file_bytes: int,
    fold: _Fold | None,
) -> dict[str, int]:
    """One run's pass of ``compact_store`` over its (recovered) listing:
    stage, land the partials, commit."""
    fs, P = fsio.handle(spark, run_dir)
    run = run_dir.rsplit("/", 1)[1]
    files = dict(files)
    delta = f"bucket={DELTA_BUCKET}"
    pending = [st.getPath().getName() for st in files.pop(DELTA_BUCKET, [])]
    kept = _last_batches(pending)
    deltas = [f"{delta}/{name}" for name in pending if name not in kept]
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
    if rewrite:
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
    if fold is not None:
        # partials of the staged files, by their paths after the swap, and
        # of the run's other files no partial covers yet
        stage = fsio.staging(run)  # relative to the store root, as the run is
        staged = {
            key: f"{run}/{key[len(stage) + 1 :]}"
            for key in (
                fold.root.key_of(st)
                for st in fs.globStatus(P(f"{_glob_escape(fold.root.path(stage))}/bucket=*/[^._]*")) or []
            )
        }
        keys = {k: {f"{run}/bucket={k}/{st.getPath().getName()}" for st in fl} for k, fl in files.items()}
        replaced = {f"{run}/{name}" for name in deltas}.union(*(keys[k] for k in rewrite if k in keys))
        uncovered = set().union(*(v for k, v in keys.items() if k not in rewrite)) - fold.covered
        if replaced or staged or uncovered:
            fold.land(replaced, {**{key: key for key in uncovered}, **staged})
    if not rewrite:
        return {}
    parts = [f"bucket={k}" for k in sorted(rewrite)]
    fsio.commit(spark, run_dir, parts, drop=deltas)
    out = {
        f"{run}/{part}": sum(st.isFile() for st in fsio.visible(fs, P(f"{run_dir}/{part}")))
        for part in parts
    }
    if deltas:
        out[f"{run}/{delta}"] = len(kept)
    return out


def _last_batches(names: list[str]) -> set[str]:
    """Of a run's delta file names, the files of each writer's highest
    keyed batch (``batch_of``): ``compact_store`` leaves them unfolded,
    so a stream that replays its last batch after a crash (the only
    batch Structured Streaming replays) finds the batch's own files and
    replaces them."""
    keys = {name: batch_of(name) for name in names}
    last: dict[str, int] = {}
    for key in filter(None, keys.values()):
        last[key[0]] = max(last.get(key[0], -1), key[1])
    return {name for name, key in keys.items() if key is not None and last[key[0]] == key[1]}


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
