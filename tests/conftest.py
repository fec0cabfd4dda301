from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from epicsarchiver_spark.session import get_spark

    s = get_spark("epicsarchiver-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_ORACLE}/{t}.parquet')"
        )
    yield con
    con.close()


def normalize_rows(cols, rows):
    """Canonicalize a result set the way the driver's value-hash does:
    columns reordered sorted-by-name, then a pandas ``sort_values`` over
    ALL columns. This MUST stay faithful to the driver — in particular
    an array/list-typed cell must RAISE here (sort_values cannot sort
    it), not be str()-coerced away: the r9 ``emb_standardize`` gate
    passed this mirror locally and then crashed the driver with
    ``TypeError: unhashable type: 'numpy.ndarray'`` precisely because
    the old coercion masked the unsortable column."""
    import pandas as pd

    order = sorted(cols)
    pdf = pd.DataFrame(list(rows), columns=list(cols))[order]
    pdf = pdf.sort_values(by=order, kind="mergesort", na_position="last")

    def coerce(v):
        if v is None or (isinstance(v, float) and v != v):
            return None
        if isinstance(v, bool):
            return bool(v)
        if isinstance(v, int):
            return int(v)
        if isinstance(v, float):
            return float(v)
        return str(v)

    return [
        tuple(coerce(v) for v in r)
        for r in pdf.astype(object).itertuples(index=False, name=None)
    ]


def file_sink_store(spark, root) -> str:
    """A points store as the streaming file sink of earlier releases left
    it: ``bucket=`` directories at its root, its three rows listed in the
    sink's ``_spark_metadata`` manifest, and a bucket record. Returns its
    path."""
    import pandas as pd
    from pyspark.sql import functions as F

    from epicsarchiver_spark.sources import points_store

    src = root / "file_sink_events"
    src.mkdir()
    pd.DataFrame(
        {"pvname": ["X", "Y", "X"], "time": [0.0, 50.0, 100.0], "value": [1.0, 2.0, 3.0]}
    ).to_parquet(src / "p0.parquet", index=False)
    stream = spark.readStream.schema("pvname string, time double, value double").parquet(str(src))
    path = str(root / "file_sink_store")
    points_store.stamp_buckets(spark, path, 4, points_store.data_schema(stream.schema))
    q = (
        stream.withColumn("bucket", points_store.bucket_of(F.col("pvname"), 4))
        .writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", str(root / "file_sink_ckpt"))
        .partitionBy("bucket")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120) and q.exception() is None
    return path
