"""Points-store layout tests: write → read round-trip, bucket/run
partition pruning visible in the physical plan, and time-predicate
pushdown — the 100 TB design assertions."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from epicsarchiver_spark.plans import (
    pushed_filters,
    read_schema_columns,
    scan_partition_filters,
)
from epicsarchiver_spark.sources.points_store import (
    BUCKETS_META,
    POINTS_READ_SCHEMA,
    bucket_of,
    compact_store,
    data_schema,
    read_record,
    range_read_store,
    read_points,
    runs_for_window,
    series_filter,
    stamp_buckets,
    write_points,
)

N_BUCKETS = 8


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("points") / "store")
    rows = []
    for run_i, trange in ((1, range(0, 1000, 10)), (2, range(1000, 2000, 10))):
        for pv in ("PV:A", "PV:B", "PV:C", "PV:D"):
            rows += [(pv, float(t), float(t % 13)) for t in trange]
        pdf = pd.DataFrame(rows, columns=["pvname", "time", "value"])
        write_points(spark.createDataFrame(pdf), path, run=f"run_{run_i:03d}", n_buckets=N_BUCKETS)
        rows = []
    return path


def test_round_trip(spark, store):
    pts = read_points(spark, store)
    assert pts.count() == 800
    assert {r.run for r in pts.select("run").distinct().collect()} == {"run_001", "run_002"}


def test_series_filter_prunes_bucket_partitions(spark, store):
    pts = read_points(spark, store)
    q = series_filter(pts, "PV:A", N_BUCKETS)
    pf = scan_partition_filters(q)
    assert any("bucket" in f for f in pf), f"no bucket partition filter in {pf}"
    got = q.select("pvname").distinct().collect()
    assert [r.pvname for r in got] == ["PV:A"]


def test_time_filter_pushed_to_scan(spark, store):
    pts = read_points(spark, store)
    q = pts.filter(F.col("time").between(100.0, 200.0)).select("pvname", "time")
    filters = pushed_filters(q)
    assert any("time" in f for f in filters), f"time not pushed: {filters}"


def test_column_pruning(spark, store):
    pts = read_points(spark, store)
    q = pts.select("pvname").distinct()
    cols = read_schema_columns(q)
    assert "value" not in cols and "time" not in cols, f"over-read: {cols}"


def test_range_read_with_run_pruning(spark, store):
    runs = spark.createDataFrame(
        pd.DataFrame(
            {
                "db": ["run_001", "run_002"],
                "start_time": [0.0, 1000.0],
                "stop_time": [1000.0, 2147483647.0],
            }
        )
    )
    q = range_read_store(spark, store, "PV:B", 100.0, 500.0, runs=runs)
    rows = q.collect()
    assert len(rows) == 41  # t = 100,110,...,500
    assert {r.run for r in rows} == {"run_001"}
    pf = scan_partition_filters(q)
    assert any("run" in f for f in pf) and any("bucket" in f for f in pf), pf


def test_runs_interval_join():
    import pandas as pd

    from epicsarchiver_spark.session import get_spark

    spark = get_spark("t")
    runs = spark.createDataFrame(
        pd.DataFrame(
            {
                "db": ["r1", "r2", "r3"],
                "start_time": [0.0, 100.0, 200.0],
                "stop_time": [100.0, 200.0, 300.0],
            }
        )
    )
    got = {r.db for r in runs_for_window(runs, 150.0, 250.0).collect()}
    assert got == {"r2", "r3"}


def test_bucket_of_is_deterministic(spark):
    df = spark.range(1).select(
        bucket_of(F.lit("PV:A"), 8).alias("b1"), bucket_of(F.lit("PV:A"), 8).alias("b2")
    )
    r = df.head()
    assert r.b1 == r.b2 and 0 <= r.b1 < 8


def test_compact_store_merges_small_files(spark, tmp_path):
    """N micro-batch appends → N files per (run,bucket); compaction folds
    them to ~1 without changing a row, skips the hot run when excluded,
    and recovers a partition parked at .bak by a crashed previous pass."""
    import glob
    import os

    from epicsarchiver_spark.sources.points_store import (
        compact_store,
        read_points,
        write_points,
    )

    path = str(tmp_path / "store")
    for i in range(6):  # six tiny appends = six files per partition
        df = spark.createDataFrame(
            [("PV:a", float(i * 10 + j), float(j)) for j in range(4)],
            "pvname string, time double, value double",
        )
        write_points(df, path, run="run_001", n_buckets=4)
    before = read_points(spark, path)
    rows_before = sorted((r.pvname, r.time, r.value) for r in before.collect())
    part = glob.glob(f"{path}/run=run_001/bucket=*")[0]
    assert len(glob.glob(f"{part}/part-*.parquet")) == 6

    done = compact_store(spark, path)
    assert done and all(n == 1 for n in done.values())
    assert len(glob.glob(f"{part}/part-*.parquet")) == 1
    rows_after = sorted(
        (r.pvname, r.time, r.value) for r in read_points(spark, path).collect()
    )
    assert rows_after == rows_before

    # excluded run untouched
    write_points(
        spark.createDataFrame([("PV:a", 1.0, 1.0)], "pvname string, time double, value double"),
        path, run="run_002", n_buckets=4,
    )
    assert compact_store(spark, path, runs=["run_999"]) == {}

    # crash recovery: partition parked at .bak, live dir missing
    os.rename(part, part + ".bak")
    compact_store(spark, path, runs=["run_001"])
    assert os.path.isdir(part) and not os.path.exists(part + ".bak")
    rows_rec = sorted(
        (r.pvname, r.time, r.value)
        for r in read_points(spark, path).filter(F.col("run") == "run_001").collect()
    )
    assert rows_rec == rows_before


def test_bucketed_store_removes_per_series_exchange(spark, tmp_path):
    """The bucketBy lane's whole point: a per-series window AND a
    per-series aggregate over the catalog-read table must plan with ZERO
    Exchange — the scan's bucket layout satisfies the distribution
    (SCALE.md's 'a future bucketBy layout makes them shuffle-free',
    implemented). Reading the same files as plain parquet loses the
    bucket spec and reintroduces the shuffle, so both paths are pinned."""
    from pyspark.sql import Window

    from epicsarchiver_spark.plans import explain_str
    from epicsarchiver_spark.sources.points_store import (
        read_points_bucketed,
        write_points_bucketed,
    )

    pts = spark.createDataFrame(
        [(f"PV:{i % 7}", float(t), float(i)) for i, t in enumerate(range(200))],
        "pvname string, time double, value double",
    )
    table = "pvarch_test_bucketed"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    write_points_bucketed(pts, table, path=str(tmp_path / "bucketed"), n_buckets=8)
    try:
        t = read_points_bucketed(spark, table)

        w = Window.partitionBy("pvname").orderBy("time")
        windowed = t.select("pvname", "time", F.lag("value").over(w).alias("prev"))
        plan_w = explain_str(windowed)
        assert "Exchange" not in plan_w, plan_w[:2000]

        agged = t.groupBy("pvname").agg(F.max_by("value", F.col("time")).alias("v"))
        plan_a = explain_str(agged)
        assert "Exchange" not in plan_a, plan_a[:2000]

        # same rows, read as bare parquet: the bucket spec is catalog
        # metadata, so the shuffle comes back — the pin that explains WHY
        # read_points_bucketed goes through spark.table()
        bare = spark.read.parquet(str(tmp_path / "bucketed"))
        plan_bare = explain_str(
            bare.groupBy("pvname").agg(F.max_by("value", F.col("time")).alias("v"))
        )
        assert "Exchange" in plan_bare

        # and the data survives the round trip
        assert t.count() == 200
        got = {r.pvname: r.v for r in agged.collect()}
        assert got["PV:0"] == 196.0  # last multiple of 7 below 200 is 196
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_bucketed_read_family_plan_shapes(spark, tmp_path):
    """VERDICT r7 #7 — the rest of the high-traffic per-series read
    family over the bucketed catalog table: get_data (range + as-of
    seed) and sessionize plan with ZERO Exchange; locf_grid plans with
    exactly ONE (the points∪grid-probe merge — the union of a bucketed
    scan with a generated frame has no recognizable distribution), with
    the keys-distinct satisfied by the scan."""
    from epicsarchiver_spark.operators import timeseries
    from epicsarchiver_spark.plans import explain_str
    from epicsarchiver_spark.sources.points_store import (
        read_points_bucketed,
        write_points_bucketed,
    )

    pts = spark.createDataFrame(
        [
            (i, f"PV:{i % 5}", float(t), float(i))
            for i, t in enumerate(range(0, 4000, 20))
        ],
        "event_id long, pvname string, time double, value double",
    )
    table = "pvarch_test_bucketed_family"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    write_points_bucketed(pts, table, path=str(tmp_path / "bucketed_fam"), n_buckets=4)
    try:
        t = read_points_bucketed(spark, table)

        gd = timeseries.get_data(t, 1000.0, 2000.0)
        assert "Exchange" not in explain_str(gd), "get_data must be shuffle-free"

        ses = timeseries.sessionize(t, gap_s=100.0)
        assert "Exchange" not in explain_str(ses), "sessionize must be shuffle-free"

        ew = timeseries.ewma(t)
        assert "Exchange" not in explain_str(ew), "ewma must be shuffle-free"

        locf = timeseries.locf_grid(t, 1000.0, 2000.0, 250.0)
        plan = explain_str(locf)
        # one Exchange NODE — "Exchange (n)" is the tree entry; the same
        # node repeats in the formatted detail section as "(n) Exchange"
        assert plan.count("Exchange (") == 1, plan[:2000]

        # the plans still compute the right thing
        assert gd.count() > 0
        assert ses.count() == 5  # one session per series at this spacing
        assert locf.filter(F.col("value").isNull()).count() == 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_rollup_artifact_is_mergeable_and_incremental(spark, tmp_path):
    """The daily-rollup artifact: partials from any run split union +
    merge to exactly the one-shot rollup — appends never reread old
    points (the merge_components cadence for the plot lane)."""
    import pandas as pd

    from epicsarchiver_spark.sources.points_store import (
        read_rollup,
        rollup_partials,
        write_rollup,
    )

    rows = []
    for pv in ("R:a", "R:b"):
        for i in range(200):
            rows.append((pv, 86_400.0 * (i % 7) + i, round((i % 13) * 1.5, 2)))
    pdf = pd.DataFrame(rows, columns=["pvname", "time", "value"])
    df = spark.createDataFrame(pdf)

    one_shot = str(tmp_path / "one")
    write_rollup(df, one_shot)
    want = sorted(map(tuple, read_rollup(spark, one_shot).collect()))

    # incremental: first half overwrite, second half APPEND partials
    inc = str(tmp_path / "inc")
    half = df.filter("time < 300")
    rest = df.filter("time >= 300")
    write_rollup(half, inc)
    rollup_partials(rest).write.mode("append").parquet(inc)
    got = sorted(map(tuple, read_rollup(spark, inc).collect()))
    assert got == want
    # n totals match the raw row count
    assert sum(r[2] for r in got) == 400


def _pts(spark, pvs=("PV:A", "PV:B"), t0=0):
    pdf = pd.DataFrame(
        [(pv, float(t), 1.0) for pv in pvs for t in range(t0, t0 + 100, 10)],
        columns=["pvname", "time", "value"],
    )
    return spark.createDataFrame(pdf)


def test_bucket_record_rides_on_the_read(spark, store):
    """The first write stamps the store's bucket count; read_points hands
    it on as metadata of the bucket column, and the frame still prunes."""
    assert read_record(spark, store)[0] == N_BUCKETS
    pts = read_points(spark, store)
    assert pts.schema["bucket"].metadata == {BUCKETS_META: N_BUCKETS}
    assert pts.columns == ["pvname", "time", "value", "run", "bucket"]
    pf = scan_partition_filters(series_filter(pts, "PV:A", N_BUCKETS))
    assert any("bucket" in f for f in pf), pf


def test_write_refuses_mismatched_bucket_count(spark, tmp_path):
    """Appending with another bucket count would spread one PV over two
    buckets, and pruned reads would then drop its rows: refused."""
    path = str(tmp_path / "store")
    write_points(_pts(spark), path, run="r1", n_buckets=4)
    with pytest.raises(ValueError, match="records 4 buckets"):
        write_points(_pts(spark, t0=100), path, run="r1", n_buckets=8)
    write_points(_pts(spark, t0=100), path, run="r2", n_buckets=4)
    assert read_points(spark, path).count() == 40
    # a static overwrite replaces the whole store, so it re-records
    write_points(_pts(spark), path, run="r1", n_buckets=8, mode="overwrite")
    assert read_record(spark, path)[0] == 8
    assert read_points(spark, path).count() == 20


def test_store_without_record_is_never_stamped(spark, tmp_path):
    """A store that holds data but no record has an unknown count: later
    writes leave it unrecorded and its reads carry no bucket metadata."""
    import os

    path = str(tmp_path / "store")
    write_points(_pts(spark), path, run="r1", n_buckets=4)
    for name in ("_buckets", "._buckets.crc"):
        os.remove(os.path.join(path, name))
    write_points(_pts(spark, t0=100), path, run="r1", n_buckets=4)
    assert read_record(spark, path)[0] is None
    assert read_points(spark, path).schema["bucket"].metadata == {}


def test_range_read_store_prunes_with_the_recorded_count(spark, tmp_path):
    """Every series of a 32-bucket store reads back: pruning uses the
    store's record, never an assumed 128 (pmod(h, 128) != pmod(h, 32)
    for most names); an unrecorded store is read by pvname alone."""
    import os

    names = [f"RR:{i:02d}" for i in range(12)]
    path = str(tmp_path / "store32")
    df = spark.createDataFrame(
        [(n, float(t), float(t)) for n in names for t in range(0, 50, 10)],
        "pvname string, time double, value double",
    )
    write_points(df, path, run="run_001", n_buckets=32)

    def count(name):
        return range_read_store(spark, path, name, 0.0, 100.0).count()

    assert [count(n) for n in names] == [5] * len(names)
    pf = scan_partition_filters(range_read_store(spark, path, names[0], 0.0, 100.0))
    assert any("bucket" in f for f in pf), pf
    for name in ("_buckets", "._buckets.crc"):
        os.remove(os.path.join(path, name))
    assert [count(n) for n in names] == [5] * len(names)


def test_archive_query_records_and_checks_bucket_count(spark, tmp_path):
    """The streaming sink stamps an empty store before it starts and
    refuses a store that records another count."""
    from epicsarchiver_spark.streaming.ingest import EVENT_SCHEMA, archive_query

    (tmp_path / "events").mkdir()
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(str(tmp_path / "events"))
    path = str(tmp_path / "store")
    archive_query(stream, path, str(tmp_path / "ckpt"), buckets=16)
    assert read_record(spark, path)[0] == 16
    with pytest.raises(ValueError, match="records 16 buckets"):
        archive_query(stream, path, str(tmp_path / "ckpt2"), buckets=128)


def test_empty_store_probe_ignores_hidden_entries(spark, tmp_path):
    """A bootstrapped store holding only hidden entries (the bucket
    record, _SUCCESS, checksums) reads as the canonical empty frame; a
    visible non-parquet entry or a missing path still raises."""
    path = tmp_path / "store"
    stamp_buckets(spark, str(path), 32)
    (path / "_SUCCESS").write_text("")
    (path / ".part.crc").write_text("")
    pts = read_points(spark, str(path))
    assert pts.count() == 0
    assert pts.columns == ["pvname", "time", "value", "run", "bucket"]
    assert pts.schema["bucket"].metadata == {BUCKETS_META: 32}
    (path / "notes.txt").write_text("not parquet")
    with pytest.raises(Exception):
        read_points(spark, str(path))
    with pytest.raises(Exception):
        read_points(spark, str(tmp_path / "missing"))


def test_store_open_lists_on_the_driver(spark, tmp_path):
    """A 2-run x 128-bucket store sits above Spark's parallel listing
    threshold (32 dirs); in local mode read_points lists it on the
    driver and reads with the recorded schema, so an open launches no
    job: no listing job per run, no footer read to infer the schema."""
    path = str(tmp_path / "store")
    names = [f"PV:{i:03d}" for i in range(600)]
    for run in ("r1", "r2"):
        write_points(_pts(spark, names), path, run=run)
    sc = spark.sparkContext
    sc.setJobGroup("store-open-probe", "read_points listing probe")
    try:
        read_points(spark, path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("store-open-probe")) == 0


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _restamp(spark, path, n_buckets, schema=None):
    """Replace the store's record (stamp_buckets never overwrites one)."""
    import os

    for name in ("_buckets", "._buckets.crc"):
        os.remove(os.path.join(path, name))
    stamp_buckets(spark, path, n_buckets, schema)


def test_record_holds_the_data_schema(spark, store):
    """The first write records the data columns' schema (nullable, no
    partition columns) on the record's second line; the read given it
    has the schema inference gives, bucket metadata included, and the
    same rows. A one-line record (written before the record held the
    schema) reads by inference."""
    n, schema = read_record(spark, store)
    assert n == N_BUCKETS
    assert schema.simpleString() == "struct<pvname:string,time:double,value:double>"
    assert all(f.nullable for f in schema)
    recorded = read_points(spark, store)
    rows = _rows(recorded)
    _restamp(spark, store, N_BUCKETS)  # the one-line record
    try:
        assert read_record(spark, store) == (N_BUCKETS, None)
        inferred = read_points(spark, store)
        assert inferred.schema == recorded.schema
        assert inferred.schema["bucket"].metadata == {BUCKETS_META: N_BUCKETS}
        assert _rows(inferred) == rows and len(rows) == 800
    finally:
        _restamp(spark, store, N_BUCKETS, schema)


def test_write_refuses_mismatched_data_columns(spark, tmp_path):
    """An append whose data columns differ in name or type from the
    record is refused, as a bucket-count mismatch is; the same columns
    in another order append."""
    path = str(tmp_path / "store")
    write_points(_pts(spark), path, run="r1", n_buckets=4)
    with pytest.raises(ValueError, match="records data columns"):
        write_points(
            _pts(spark, t0=100).withColumn("value", F.col("value").cast("string")),
            path, run="r1", n_buckets=4,
        )
    with pytest.raises(ValueError, match="records data columns"):
        write_points(_pts(spark, t0=100).withColumn("event_id", F.lit(1)), path, run="r1", n_buckets=4)
    write_points(_pts(spark, t0=100).select("value", "time", "pvname"), path, run="r2", n_buckets=4)
    assert _rows(read_points(spark, path).select("pvname", "time", "value")) == sorted(
        _rows(_pts(spark)) + _rows(_pts(spark, t0=100))
    )


def test_stamped_store_without_data_reads_empty(spark, tmp_path):
    """A store stamped with a schema but holding no data file — an
    archive_query store before its first batch, and after a run with no
    batch — reads as the canonical empty frame, in no job."""
    from epicsarchiver_spark.streaming.ingest import EVENT_SCHEMA, archive_query

    (tmp_path / "events").mkdir()
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(str(tmp_path / "events"))
    path = str(tmp_path / "store")
    writer = archive_query(stream, path, str(tmp_path / "ckpt"), buckets=16)
    assert read_record(spark, path)[1] == data_schema(EVENT_SCHEMA)

    def check():
        pts = read_points(spark, path)
        assert pts.columns == [f.split()[0] for f in POINTS_READ_SCHEMA.split(", ")]
        assert pts.schema["bucket"].metadata == {BUCKETS_META: 16}
        assert pts.count() == 0

    check()
    q = writer.trigger(availableNow=True).start()
    assert q.awaitTermination(120)
    assert (tmp_path / "store" / "_spark_metadata").is_dir()
    check()


@pytest.fixture(scope="module")
def streamed_store(spark, tmp_path_factory):
    """A 4-bucket store written by the archive stream (one batch)."""
    from epicsarchiver_spark.streaming.ingest import (
        EVENT_SCHEMA,
        archive_query,
        compressed_stream,
    )

    root = tmp_path_factory.mktemp("streamed")
    (root / "events").mkdir()
    pd.DataFrame(
        {"pvname": ["X", "Y", "X"], "time": [0.0, 50.0, 100.0], "value": [1.0, 2.0, 3.0]}
    ).to_parquet(root / "events" / "p0.parquet", index=False)
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(str(root / "events"))
    path = str(root / "store")
    q = (
        archive_query(compressed_stream(stream, 5.0, 0.0, flush_ms=None), path, str(root / "ckpt"), buckets=4)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    return path


def test_streamed_store_reads_with_the_recorded_schema(spark, streamed_store):
    """A file-sink store reads the same schema and rows with its recorded
    schema as by inference from its manifest's files."""
    _, schema = read_record(spark, streamed_store)
    recorded = read_points(spark, streamed_store)
    rows = _rows(recorded)
    _restamp(spark, streamed_store, 4)
    try:
        inferred = read_points(spark, streamed_store)
        assert inferred.schema == recorded.schema
        assert recorded.columns == ["pvname", "time", "value", "bucket"]
        assert _rows(inferred) == rows
        assert [r[:3] for r in rows] == [("X", 0.0, 1.0), ("X", 100.0, 3.0), ("Y", 50.0, 2.0)]
    finally:
        _restamp(spark, streamed_store, 4, schema)


def test_compact_refuses_a_streamed_store(spark, streamed_store):
    """compact_store fails loudly on a file-sink store (its readers see
    only the files its manifest lists) instead of compacting nothing."""
    with pytest.raises(ValueError, match="_spark_metadata"):
        compact_store(spark, streamed_store)


def _open_jobs(spark, path):
    """Spark jobs one ``read_points`` open of ``path`` launches."""
    import uuid

    sc, group = spark.sparkContext, f"store-open-{uuid.uuid4()}"
    sc.setJobGroup(group, "read_points open")
    try:
        read_points(spark, path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_one_line_record_gains_the_schema_on_the_next_write(spark, tmp_path):
    """A store recorded before the record held the schema infers it on
    every open; the next append, whose columns equal the inferred ones,
    replaces the record with the two-line one, after which an open
    launches no job and reads the same rows."""
    import os

    path = str(tmp_path / "store")
    write_points(_pts(spark), path, run="r1", n_buckets=4)
    schema = read_record(spark, path)[1]
    _restamp(spark, path, 4)  # the one-line record
    assert _open_jobs(spark, path) == 1
    write_points(_pts(spark, t0=100), path, run="r1", n_buckets=4)
    assert read_record(spark, path) == (4, schema)
    names = os.listdir(path)
    assert "._buckets.crc" in names and not [n for n in names if ".tmp" in n]
    assert _open_jobs(spark, path) == 0
    assert _rows(read_points(spark, path).select("pvname", "time", "value")) == sorted(
        _rows(_pts(spark)) + _rows(_pts(spark, t0=100))
    )


def test_one_line_record_stays_when_inference_disagrees(spark, tmp_path):
    """An append whose data columns differ from what inference reads off
    the store (here: the same columns in another order) leaves a
    one-line record as it is."""
    path = str(tmp_path / "store")
    write_points(_pts(spark), path, run="r1", n_buckets=4)
    _restamp(spark, path, 4)
    write_points(_pts(spark, t0=100).select("value", "time", "pvname"), path, run="r2", n_buckets=4)
    assert read_record(spark, path) == (4, None)


def _files(path, run, bucket):
    import glob

    return glob.glob(f"{path}/run={run}/bucket={bucket}/*.parquet")


def _sorted_by_pvname_time(files):
    import pyarrow.parquet as pq

    for f in files:
        t = pq.read_table(f, columns=["pvname", "time"]).to_pandas()
        if not t.equals(t.sort_values(["pvname", "time"], kind="stable").reset_index(drop=True)):
            return False
    return True


def _delta_store(spark, path, names=("PV:A", "PV:B", "PV:C", "PV:D", "PV:E")):
    """A 4-bucket store: one bucketed write, then two small appends into
    the same run, which land as delta files."""
    write_points(_pts(spark, list(names)), path, run="r1", n_buckets=4)
    write_points(_pts(spark, list(names), t0=100), path, run="r1", n_buckets=4)
    write_points(_pts(spark, list(names[:2]) + ["PV:F"], t0=200), path, run="r1", n_buckets=4)


def test_small_append_lands_as_one_delta_file(spark, tmp_path):
    """The first write into an empty store is bucketed; a small append
    into a store holding data lands as exactly one file in its run's
    delta partition, sorted by (pvname, time), and reads back with
    bucket = -1. Every file of either kind is sorted by (pvname, time)."""
    import glob

    path = str(tmp_path / "store")
    names = [f"PV:{i:02d}" for i in range(12)]
    write_points(_pts(spark, names), path, run="r1", n_buckets=4)
    assert not _files(path, "r1", -1)
    bucketed = glob.glob(f"{path}/run=r1/bucket=[0-9]*/*.parquet")
    assert len(bucketed) == 4 and _sorted_by_pvname_time(bucketed)
    write_points(_pts(spark, names, t0=100), path, run="r2", n_buckets=4)
    (delta,) = _files(path, "r2", -1)
    assert not glob.glob(f"{path}/run=r2/bucket=[0-9]*")
    assert _sorted_by_pvname_time([delta])
    pts = read_points(spark, path)
    assert pts.schema["bucket"].dataType.simpleString() == "int"
    assert {r.bucket for r in pts.filter(F.col("run") == "r2").select("bucket").distinct().collect()} == {-1}
    assert pts.count() == 2 * 10 * len(names)


def test_overwrite_and_large_appends_stay_bucketed(spark, tmp_path):
    """An overwrite, and an append the plan sizes above one scan split,
    land bucketed; so does an append whose size the plan cannot estimate
    (a frame built from Python rows)."""
    path = str(tmp_path / "store")
    write_points(_pts(spark), path, run="r1", n_buckets=4)
    write_points(_pts(spark, t0=100), path, run="r1", n_buckets=4, mode="overwrite")
    assert not _files(path, "r1", -1)
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "64")
    try:
        write_points(_pts(spark, t0=200), path, run="r1", n_buckets=4)
    finally:
        spark.conf.set(key, old)
    assert not _files(path, "r1", -1)
    rows = spark.createDataFrame(
        [("PV:A", 300.0, 1.0)], "pvname string, time double, value double"
    )
    write_points(rows, path, run="r1", n_buckets=4)
    assert not _files(path, "r1", -1)
    assert read_points(spark, path).count() == 41


def test_write_refuses_another_bucket_count_with_deltas_pending(spark, tmp_path):
    """A store holding delta files still refuses a write with another
    bucket count, and the deltas stay as they were."""
    path = str(tmp_path / "store")
    _delta_store(spark, path)
    assert len(_files(path, "r1", -1)) == 2
    with pytest.raises(ValueError, match="records 4 buckets"):
        write_points(_pts(spark, t0=300), path, run="r1", n_buckets=8)
    assert len(_files(path, "r1", -1)) == 2


def _answers(spark, path, names):
    """What the facade answers for every PV of the store."""
    from epicsarchiver_spark.api import PVArchEngine

    eng = PVArchEngine(spark, read_points(spark, path))
    out = {}
    for n in names:
        out[n, "get_data"] = [tuple(r) for r in eng.get_data(n, 105.0, 250.0).collect()]
        out[n, "value_at"] = eng.get_value_at_time(n, 155.0)
    out["get_values"] = sorted(tuple(r) for r in eng.get_values(60.0, now=260.0).collect())
    out["search"] = [r.pvname for r in eng.search_names("PV:*").collect()]
    return out


def test_reads_answer_the_same_with_deltas_pending(spark, tmp_path):
    """get_data, get_value_at_time, get_values and search_names answer
    every PV the same with deltas pending, after compaction folds them,
    and as a store that never held a delta."""
    names = ["PV:A", "PV:B", "PV:C", "PV:D", "PV:E", "PV:F"]
    path = str(tmp_path / "store")
    _delta_store(spark, path)
    pending = _answers(spark, path, names)
    assert len(pending["PV:F", "get_data"]) == 6 and pending["PV:A", "value_at"] == (150.0, 1.0)
    ref = str(tmp_path / "ref")
    write_points(read_points(spark, path).drop("bucket"), ref, n_buckets=4, mode="overwrite")
    assert not _files(ref, "r1", -1)
    assert _answers(spark, ref, names) == pending
    done = compact_store(spark, path)
    assert done["run=r1/bucket=-1"] == 0 and not _files(path, "r1", -1)
    assert _answers(spark, path, names) == pending
    assert compact_store(spark, path) == {}  # a compacted run stays as it is


def _crash_at(monkeypatch, step):
    """Make the ``step``-th rename or delete of a compaction raise (a
    crash right before it); returns the step counter."""
    from epicsarchiver_spark.sources import fsio

    calls = [0]

    def wrap(op):
        def run(*args):
            calls[0] += 1
            if calls[0] - 1 == step:
                raise RuntimeError(f"injected crash at step {step}")
            return op(*args)

        return run

    monkeypatch.setattr(fsio, "_rename", wrap(fsio._rename))
    monkeypatch.setattr(fsio, "_delete", wrap(fsio._delete))
    return calls


def _fold_steps(spark, path, monkeypatch):
    """How many renames and deletes a clean compact_store pass makes."""
    with monkeypatch.context() as m:
        calls = _crash_at(m, -1)
        compact_store(spark, path)
    return calls[0]


def _store_rows(spark, path):
    return _rows(read_points(spark, path).select("pvname", "time", "value", "run"))


def test_fold_survives_a_crash_at_every_step(spark, tmp_path, monkeypatch):
    """A crash before any rename or delete of a fold, then one more
    compact_store pass: the store holds the same rows, each once, no
    delta and no staging."""
    import os
    import shutil

    base = str(tmp_path / "base")
    _delta_store(spark, base)
    want = _store_rows(spark, base)
    n_steps = _fold_steps(spark, shutil.copytree(base, str(tmp_path / "clean")), monkeypatch)
    assert n_steps >= 8  # commit, two renames per bucket, deletes
    for step in range(n_steps):
        path = shutil.copytree(base, str(tmp_path / f"crash{step}"))
        with monkeypatch.context() as m:
            _crash_at(m, step)
            with pytest.raises(RuntimeError, match="injected crash"):
                compact_store(spark, path)
        compact_store(spark, path)
        assert _store_rows(spark, path) == want, step
        assert not _files(path, "r1", -1)
        left = os.listdir(f"{path}/run=r1")
        assert all(n.startswith("bucket=") and n != "bucket=-1" for n in left), left


def test_compaction_staging_is_hidden_from_readers(spark, tmp_path, monkeypatch):
    """A pass stopped after staging its rewrite (before the commit), and
    one stopped after the swap with the old buckets still parked (before
    the staging is dropped): a reader sees every row once, bucket stays
    an int column, and a pruned single-PV read works."""
    import os
    import shutil

    from epicsarchiver_spark.sources.points_store import series_of

    base = str(tmp_path / "base")
    _delta_store(spark, base)
    want = _store_rows(spark, base)
    n_steps = _fold_steps(spark, shutil.copytree(base, str(tmp_path / "clean")), monkeypatch)
    for state, step in (("staged", 1), ("parked", n_steps - 1)):
        path = shutil.copytree(base, str(tmp_path / state))
        with monkeypatch.context() as m:
            _crash_at(m, step)
            with pytest.raises(RuntimeError, match="injected crash"):
                compact_store(spark, path)
        fold = f"{path}/.run=r1.swap"
        assert os.listdir(f"{fold}/new" if state == "staged" else f"{fold}/old"), state
        pts = read_points(spark, path)
        assert _store_rows(spark, path) == want, state
        assert pts.schema["bucket"].dataType.simpleString() == "int"
        assert series_of(pts, "PV:A").count() == 30


def test_compaction_spreads_a_large_bucket_by_series(spark, tmp_path):
    """A bucket sized for several files is rewritten as at most that many
    files, each series in exactly one of them, sorted by (pvname, time),
    with the rows unchanged."""
    import glob

    import pyarrow.parquet as pq

    path = str(tmp_path / "store")
    names = [f"PV:{i:02d}" for i in range(16)]
    for t0 in (0, 100, 200):
        write_points(_pts(spark, names, t0=t0), path, run="r1", n_buckets=2)
    want = _store_rows(spark, path)
    done = compact_store(spark, path, target_file_bytes=256)
    assert _store_rows(spark, path) == want
    for k in (0, 1):
        files = glob.glob(f"{path}/run=r1/bucket={k}/*.parquet")
        assert 1 < len(files) == done[f"run=r1/bucket={k}"]
        assert _sorted_by_pvname_time(files)
        owners = [set(pq.read_table(f, columns=["pvname"]).column(0).to_pylist()) for f in files]
        assert sum(len(o) for o in owners) == len(set().union(*owners))


def test_a_fold_journal_of_the_previous_release_rolls_forward(spark, tmp_path):
    """A fold the previous release committed under the run's ``.fold``
    and crashed in (one bucket parked, none swapped in yet) is rolled
    forward by the next pass: the same rows, each once, no delta and
    no ``.fold`` left."""
    import json
    import os
    import shutil

    base = str(tmp_path / "base")
    _delta_store(spark, base)
    want = _store_rows(spark, base)
    clean = shutil.copytree(base, str(tmp_path / "clean"))
    staged = sorted(
        int(p.split("=")[-1]) for p in compact_store(spark, clean) if not p.endswith("=-1")
    )
    path = shutil.copytree(base, str(tmp_path / "legacy"))
    run, fold = f"{path}/run=r1", f"{path}/run=r1/.fold"
    for k in staged:
        shutil.copytree(f"{clean}/run=r1/bucket={k}", f"{fold}/new/bucket={k}")
    os.makedirs(f"{fold}/old")
    deltas = [os.path.basename(f) for f in _files(path, "r1", -1)]
    with open(f"{fold}/journal", "w") as fh:
        fh.write(json.dumps({"buckets": staged, "deltas": deltas}))
    os.rename(f"{run}/bucket={staged[0]}", f"{fold}/old/bucket={staged[0]}")
    compact_store(spark, path)
    assert _store_rows(spark, path) == want
    assert sorted(os.listdir(run)) == sorted(os.listdir(f"{clean}/run=r1"))


# --------------------------------------------------------------- summary

SUMMARY_PVS = [f"SV:{c}{i}" for c in "AB" for i in range(4)]


def _series(spark, names, t0, n=10):
    """``n`` points per PV from ``t0``: distinct times per series (each PV
    has its own phase) and values that differ from row to row."""
    pdf = pd.DataFrame(
        [
            (pv, t0 + 10.0 * j + 0.5 * i, float((7 * j + 3 * i) % 11))
            for i, pv in enumerate(names)
            for j in range(n)
        ],
        columns=["pvname", "time", "value"],
    )
    return spark.createDataFrame(pdf)


@pytest.fixture(scope="module")
def summary_store(spark, tmp_path_factory):
    """A bucketed 2-run build of 8 PVs in 4 buckets, then two small
    appends into the open run (delta files): tests copy it to mutate."""
    path = str(tmp_path_factory.mktemp("summary") / "store")
    build = _series(spark, SUMMARY_PVS, 0.0).withColumn(
        "run", F.when(F.col("time") < 50.0, "r1").otherwise("r2")
    )
    write_points(build, path, n_buckets=4)
    write_points(_series(spark, SUMMARY_PVS[:5], 200.0), path, run="r2", n_buckets=4)
    write_points(_series(spark, SUMMARY_PVS[3:] + ["SV:C0"], 300.0, n=3), path, run="r2", n_buckets=4)
    return path


def _copy(src, tmp_path, name="store"):
    import shutil

    return shutil.copytree(src, str(tmp_path / name))


def _lookups(spark, pts):
    """Every whole-store lookup the facade answers over ``pts``."""
    from epicsarchiver_spark.api import PVArchEngine

    eng = PVArchEngine(spark, pts)
    rules = spark.createDataFrame(
        [(pv, op, "5") for pv in SUMMARY_PVS + ["SV:C0", "PV:A"] for op in ("gt", "le")],
        "pvname string, compare string, trippoint string",
    )
    return {
        "get_values": [
            sorted(tuple(r) for r in eng.get_values(ago, now=330.0).collect())
            for ago in (1e9, 100.0, 25.0)
        ],
        "get_pvnames": eng.get_pvnames(),
        "search_names": [
            [r.pvname for r in eng.search_names(p).collect()] for p in ("SV:*", "*1", "SV:_0", "nope*")
        ],
        "check": [eng.check(cadence, now=330.0) for cadence in (1e9, 200.0, 5.0)],
        "process_alerts": sorted(tuple(r) for r in eng.process_alerts(rules).collect()),
    }


def _summary_is_scan(spark, path, summarized=True):
    """The facade's lookups on the ``read_points`` frame equal those on a
    view of it, which scans; ``summarized``: whether partials answer."""
    from epicsarchiver_spark.sources.points_store import series_summary

    pts = read_points(spark, path)
    assert (series_summary(pts) is not None) == summarized
    got = _lookups(spark, pts)
    assert got == _lookups(spark, pts.select("*"))
    return got


def _uncovered(spark, path):
    """Listed data files of the store that no partial covers."""
    import glob

    import pyarrow.parquet as pq

    from epicsarchiver_spark.sources.points_store import _root

    root = _root(spark, path)
    listed = {root.key_of_uri(u) for u in read_points(spark, path).inputFiles()}
    covered = set()
    for f in glob.glob(f"{path}/_summary/*.parquet"):
        covered |= set(pq.read_table(f, columns=["file"]).column(0).to_pylist())
    return listed - covered


def _summary_files(path):
    import glob

    return glob.glob(f"{path}/_summary/*.parquet")


def test_lookups_from_partials_equal_the_scan(spark, summary_store, tmp_path):
    """get_values / get_pvnames / search_names / check / process_alerts
    from the partials equal the scan's on a fresh build, with deltas
    pending, after compact_store (one partial file, every file covered)
    and after prune_runs; on the _delta_store shape too."""
    from epicsarchiver_spark.sources.points_store import prune_runs

    import shutil

    import pyarrow.parquet as pq

    path = _copy(summary_store, tmp_path)
    assert len(_files(path, "r2", -1)) == 2 and len(_summary_files(path)) == 3
    assert not _uncovered(spark, path)
    pending = _summary_is_scan(spark, path)
    first = _summary_files(path)[0]
    shutil.copy(first, f"{path}/_summary/copy.parquet")  # two partial files for the same data files
    assert _summary_is_scan(spark, path) == pending
    assert pending["get_pvnames"] == sorted(SUMMARY_PVS + ["SV:C0"])
    assert pending["search_names"][2] == ["SV:A0", "SV:B0", "SV:C0"]
    assert pending["check"] == [True, True, False]
    compact_store(spark, path)
    assert not _files(path, "r2", -1) and len(_summary_files(path)) == 1
    assert not _uncovered(spark, path)
    (folded,) = _summary_files(path)
    keys = pq.read_table(folded, columns=["file", "pvname"]).to_pylist()
    assert len(keys) == len({(k["file"], k["pvname"]) for k in keys})  # one copy per data file
    assert _summary_is_scan(spark, path) == pending
    assert prune_runs(spark, path, keep_last=1) == ["r1"]
    _summary_is_scan(spark, path)
    compact_store(spark, path)  # drops the pruned run's partials
    assert not _uncovered(spark, path) and len(_summary_files(path)) == 1
    _summary_is_scan(spark, path)

    delta = str(tmp_path / "delta")
    _delta_store(spark, delta)
    assert len(_files(delta, "r1", -1)) == 2 and not _uncovered(spark, delta)
    _summary_is_scan(spark, delta)
    compact_store(spark, delta)
    _summary_is_scan(spark, delta)


def test_fresh_build_answers_from_partials(spark, tmp_path):
    """A store's first (bucketed) write lands the partials of every file
    it wrote, as one file."""
    path = str(tmp_path / "store")
    write_points(_series(spark, SUMMARY_PVS, 0.0), path, run="r1", n_buckets=4)
    assert len(_summary_files(path)) == 1 and not _uncovered(spark, path)
    _summary_is_scan(spark, path)


def test_a_crash_before_the_partial_leaves_its_file_scanned(spark, summary_store, tmp_path, monkeypatch):
    """An append that lands its data file and crashes before its partial
    is renamed in: the file is scanned, and the lookups still equal the
    scan; the next compaction covers it."""
    path = _copy(summary_store, tmp_path)
    with monkeypatch.context() as m:
        _crash_at(m, 0)  # the partial's rename: a delta append's only one
        with pytest.raises(RuntimeError, match="injected crash"):
            write_points(_series(spark, ["SV:A1", "SV:D9"], 400.0, n=2), path, run="r2", n_buckets=4)
    assert len(_files(path, "r2", -1)) == 3
    (left,) = _uncovered(spark, path)
    assert left.startswith("run=r2/bucket=-1/")
    got = _summary_is_scan(spark, path)
    assert "SV:D9" in got["get_pvnames"]
    compact_store(spark, path)
    assert not _uncovered(spark, path)
    assert _summary_is_scan(spark, path) == got


def test_a_partial_of_a_deleted_file_is_ignored(spark, summary_store, tmp_path):
    """A partial whose data file is gone (here: deleted by hand) is not
    used: the deleted file's newest rows and names leave the answers."""
    import os

    import pyarrow.parquet as pq

    path = _copy(summary_store, tmp_path)
    (second,) = [
        f for f in _files(path, "r2", -1) if "SV:C0" in pq.read_table(f).column("pvname").to_pylist()
    ]
    os.remove(second)
    got = _summary_is_scan(spark, path)
    assert "SV:C0" not in got["get_pvnames"]


def test_a_view_of_the_frame_scans(spark, summary_store):
    """A filtered view of a read_points frame gets no whole-store answer:
    it scans, and answers for its own rows only."""
    from epicsarchiver_spark.api import PVArchEngine
    from epicsarchiver_spark.plans import explain_str
    from epicsarchiver_spark.sources.points_store import series_summary

    pts = read_points(spark, summary_store)
    view = pts.filter(F.col("pvname") != "SV:C0")
    assert series_summary(view) is None
    eng = PVArchEngine(spark, view)
    assert "SV:C0" not in eng.get_pvnames()
    assert "Scan parquet" in explain_str(eng.get_values(1e9, now=330.0))
    assert "Scan parquet" not in explain_str(PVArchEngine(spark, pts).get_values(1e9, now=330.0))


def test_a_streamed_store_has_no_partials(spark, streamed_store):
    """The file-sink store (``_spark_metadata``) lands no partials, and
    its lookups take the scan."""
    import os

    assert not os.path.exists(f"{streamed_store}/_summary")
    got = _summary_is_scan(spark, streamed_store, summarized=False)
    assert got["get_pvnames"] == ["X", "Y"]


def test_a_summary_above_one_split_is_merged_by_spark(spark, summary_store):
    """Partial files totalling more than one scan split are read and
    merged by Spark, with the same answers."""
    from epicsarchiver_spark.sources.points_store import series_summary

    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1024")
    try:
        assert series_summary(read_points(spark, summary_store)).names is None
        _summary_is_scan(spark, summary_store)
    finally:
        spark.conf.set(key, old)


def _jobs(spark, action):
    """Spark jobs ``action`` launches."""
    import uuid

    sc, group = spark.sparkContext, f"lookup-{uuid.uuid4()}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_lookups_on_a_covered_store_launch_at_most_one_job(spark, summary_store, tmp_path):
    """On a store whose partials cover every file, get_pvnames launches no
    Spark job and get_values / search_names at most one each. Without
    ``_summary`` each launches what the scan expressions do."""
    import shutil

    from epicsarchiver_spark.api import PVArchEngine
    from epicsarchiver_spark.operators import search, timeseries

    def counts(path):
        eng = PVArchEngine(spark, read_points(spark, path))
        return (
            _jobs(spark, eng.get_pvnames),
            _jobs(spark, lambda: eng.get_values(100.0, now=330.0).collect()),
            _jobs(spark, lambda: eng.search_names("SV:*").collect()),
        )

    gv, gn, sn = counts(summary_store)
    assert gv == 0 and gn <= 1 and sn <= 1, (gv, gn, sn)
    path = _copy(summary_store, tmp_path)
    shutil.rmtree(f"{path}/_summary")
    pts = read_points(spark, path)
    scans = (
        _jobs(spark, lambda: search.distinct_names(pts).collect()),
        _jobs(spark, lambda: timeseries.latest_per_key(pts).filter(F.col("time") > 230.0).collect()),
        _jobs(spark, lambda: search.wildcard_search(pts.select("pvname").distinct(), "SV:*").collect()),
    )
    assert counts(path) == scans


def test_compaction_backfills_and_spares_a_concurrent_partial(spark, summary_store, tmp_path, monkeypatch):
    """A store without partials gets them for every file from one
    compaction pass; a partial an append lands after the pass listed
    ``_summary`` is neither folded nor deleted, and covers its file."""
    import os
    import shutil

    from epicsarchiver_spark.sources import points_store

    path = _copy(summary_store, tmp_path)
    shutil.rmtree(f"{path}/_summary")
    compact_store(spark, path, runs=["r1"])
    assert {k.split("/")[0] for k in _uncovered(spark, path)} == {"run=r2"}
    _summary_is_scan(spark, path)
    listed = points_store.summary_files

    def listing_then_append(*args):
        out = listed(*args)
        write_points(_series(spark, ["SV:A2"], 500.0, n=2), path, run="r2", n_buckets=4)
        return out

    before = set(_summary_files(path))
    monkeypatch.setattr(points_store, "summary_files", listing_then_append)
    compact_store(spark, path)
    monkeypatch.undo()
    after = set(_summary_files(path))
    assert not before & after and len(after) == 2
    assert len(_files(path, "r2", -1)) == 1 and not _uncovered(spark, path)
    assert ("SV:A2", 7.0, 510.0) in _summary_is_scan(spark, path)["get_values"][0]
    compact_store(spark, path)
    assert len(_summary_files(path)) == 1 and not _uncovered(spark, path)
    assert not [n for n in os.listdir(f"{path}/_summary") if n.endswith(".tmp")]
