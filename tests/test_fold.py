"""The keyed-fold primitive (``streaming/fold.py``): the package drives
Structured Streaming's keyed state store from one call site, every
stream's state layout is the pinned key-group layout, and the group
driver folds each key as the per-key fold did."""

from __future__ import annotations

import ast
import json
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql.types import StructType

import epicsarchiver_spark
from epicsarchiver_spark.streaming import alerts, ingest

PACKAGE = Path(epicsarchiver_spark.__file__).parent


def test_state_store_is_driven_from_one_call_site():
    sites = [
        f"{path.relative_to(PACKAGE)}:{node.lineno}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "applyInPandasWithState"
    ]
    assert [site.split(":")[0] for site in sites] == ["streaming/fold.py"], sites


# each stream's state struct as its checkpoints record it: one row per
# key group, holding the key columns and every per-key state field as
# arrays (plus the per-key timer deadlines when the stream has timers);
# a change here strands the state of every running query
def _layout(*fields: tuple[str, str]) -> str:
    return (
        '{"fields":['
        + ",".join(
            '{"metadata":{},"name":"%s","nullable":true,"type":'
            '{"containsNull":true,"elementType":"%s","type":"array"}}' % f
            for f in fields
        )
        + '],"type":"struct"}'
    )


PV = ("pvname", "string")
QBUF = _layout(PV, ("qs_csv", "string"))
COMPRESS = (
    PV, ("last_t", "double"), ("last_v", "double"), ("pend_t", "double"), ("pend_v", "double"),
)
STATE_LAYOUTS = {
    "alert": _layout(PV, ("alert_id", "long"), ("status", "string"), ("last_notice", "double")),
    "outlier": _layout(PV, ("times", "string"), ("values", "string")),
    "flatline": _layout(
        PV, ("q", "long"), ("start_t", "double"), ("n", "long"), ("last_t", "double"),
        ("alerted", "long"),
    ),
    "ewma": QBUF,
    "holt": QBUF,
    "hw": QBUF,
    "discord": _layout(PV, ("buf_csv", "string"), ("counts_csv", "string")),
    "cusum": _layout(
        PV, ("cu", "long"), ("minu", "long"), ("psu", "long"), ("cd", "long"),
        ("mind", "long"), ("psd", "long"),
    ),
    "compress": _layout(*COMPRESS),
    "compress_timers": _layout(*COMPRESS, ("_due_ms", "long")),
}


def _streams(events, spark):
    rules = spark.createDataFrame(
        pd.DataFrame(
            [{"alert_id": 1, "pvname": "A", "compare": "gt", "trippoint": 1.0,
              "timeout": 0.0, "active": "yes"}]
        )
    )
    return {
        "alert": (alerts.alert_stream(events, rules), "NoTimeout"),
        "outlier": (alerts.outlier_stream(events), "NoTimeout"),
        "flatline": (alerts.flatline_stream(events), "NoTimeout"),
        "ewma": (alerts.ewma_stream(events), "NoTimeout"),
        "holt": (alerts.holt_stream(events), "NoTimeout"),
        "hw": (alerts.hw_stream(events), "NoTimeout"),
        "discord": (alerts.discord_stream(events), "NoTimeout"),
        "cusum": (alerts.cusum_stream(events, target=0.0), "NoTimeout"),
        "compress": (
            ingest.compressed_stream(events, flush_ms=None),
            "NoTimeout",
        ),
        "compress_timers": (
            ingest.compressed_stream(events, flush_ms=1000),
            "ProcessingTimeTimeout",
        ),
    }


@pytest.mark.parametrize("name", list(STATE_LAYOUTS))
def test_stream_state_schema_is_the_checkpointed_layout(spark, tmp_path, name):
    """Read off each stream's analyzed plan: the state struct and the
    timeout conf its stateful operator records in a checkpoint."""
    events = spark.readStream.schema(ingest.EVENT_SCHEMA).parquet(str(tmp_path))
    frame, timeout = _streams(events, spark)[name]
    nodes, todo = [], [frame._jdf.queryExecution().analyzed()]
    while todo:
        node = todo.pop()
        nodes.append(node)
        it = node.children().iterator()
        while it.hasNext():
            todo.append(it.next())
    (op,) = [n for n in nodes if n.nodeName() == "FlatMapGroupsInPandasWithState"]
    got = StructType.fromJson(json.loads(op.stateType().json())).json()
    assert got == STATE_LAYOUTS[name]
    assert op.timeout().toString() == timeout


class _GroupState:
    """A stand-in for Spark's GroupState around one group's state row."""

    def __init__(self, row=None, now_ms=0, timed_out=False):
        self.row, self.now, self.hasTimedOut = row, now_ms, timed_out
        self.timeout_ms = None

    @property
    def exists(self):
        return self.row is not None

    @property
    def get(self):
        return self.row

    def getCurrentProcessingTimeMs(self):
        return self.now

    def update(self, row):
        self.row = row

    def setTimeoutDuration(self, ms):
        assert ms > 0
        self.timeout_ms = ms


def _compress_kernel(**kw):
    from epicsarchiver_spark.streaming.fold import group_kernel

    return group_kernel(
        ["pvname"],
        columns=ingest.OUT_SCHEMA.fieldNames(),
        n_fields=len(ingest.STATE_SCHEMA.fields),
        **ingest._compress_fold(5.0, 0.5, **kw),
    )


def _call(fn, gs, *frames) -> pd.DataFrame:
    out = list(fn((0,), iter(frames), gs))
    return pd.concat(out, ignore_index=True) if out else pd.DataFrame()


def test_group_kernel_folds_each_key_as_alone():
    """One group of 60 series over three micro-batches (ties, gaps, new
    series in every batch): each series' rows equal the compressor step
    run on that series alone, a batch's rows come out in (pvname, time)
    order, and the state row keeps its series sorted."""
    import numpy as np

    rng = np.random.default_rng(11)
    fn, gs = _compress_kernel(flush_ms=None), _GroupState()
    alone = {}
    for b in range(3):
        n = 400
        frame = pd.DataFrame(
            {
                "pvname": [f"S{k:02d}" for k in rng.integers(0, 20 * (b + 1), n)],
                "time": np.round(rng.uniform(100 * b, 100 * b + 90, n), 0),
                "value": rng.integers(0, 4, n).astype(float),
            }
        )
        got = _call(fn, gs, frame.iloc[:150], frame.iloc[150:])
        want = []
        for pv, rows in frame.sort_values("time", kind="stable").groupby("pvname"):
            state = alone.get(pv, (None, None, None, None))
            out_t, out_v, *state = ingest._compress_step(
                *state, rows["time"].tolist(), rows["value"].tolist(), 5.0, 0.5
            )
            alone[pv] = tuple(state)
            want += [(pv, t, v) for t, v in zip(out_t, out_v)]
        assert list(got.itertuples(index=False, name=None)) == want
    keys, *fields = gs.row
    assert keys == sorted(alone)
    assert list(zip(*fields)) == [alone[k] for k in keys]


def test_group_kernel_fires_only_due_keys():
    """Per-key deadlines in one group: the group timer is armed at the
    earliest; on timeout only the due series flushes its limbo entry
    with its original timestamp, and a due series without rows also
    fires when another series' rows call the group."""
    fn, gs = _compress_kernel(flush_ms=1000), _GroupState()
    gs.now = 10_000
    first = pd.DataFrame(
        {"pvname": ["A", "A", "B"], "time": [0.0, 1.0, 0.0], "value": [1.0, 2.0, 5.0]}
    )
    got = _call(fn, gs, first)
    assert list(got.itertuples(index=False, name=None)) == [("A", 0.0, 1.0), ("B", 0.0, 5.0)]
    assert gs.row[-1] == [11_000, 0] and gs.timeout_ms == 1000  # only A has a deadline

    gs.now, gs.hasTimedOut = 11_001, True
    got = _call(fn, gs)
    assert list(got.itertuples(index=False, name=None)) == [("A", 1.0, 2.0)]
    assert gs.row[-1] == [0, 0]

    # A goes to limbo again; its deadline passes while only C has rows
    gs.hasTimedOut, gs.now = False, 20_000
    _call(fn, gs, pd.DataFrame({"pvname": ["A"], "time": [2.0], "value": [9.0]}))
    gs.now = 30_000
    got = _call(fn, gs, pd.DataFrame({"pvname": ["C"], "time": [0.0], "value": [3.0]}))
    assert list(got.itertuples(index=False, name=None)) == [("A", 2.0, 9.0), ("C", 0.0, 3.0)]
    assert gs.row[0] == ["A", "B", "C"] and gs.row[-1] == [0, 0, 0]


def test_group_kernel_drops_null_rows_only_when_present():
    """Rows null in a key or ``required`` column never reach the step;
    a batch holding such rows emits what the same batch without them
    emits, and a null-free batch emits its rows unchanged."""
    import numpy as np

    from epicsarchiver_spark.streaming.fold import group_kernel

    def kernel():
        return group_kernel(
            ["pvname"],
            columns=ingest.OUT_SCHEMA.fieldNames(),
            n_fields=len(ingest.STATE_SCHEMA.fields),
            required=("time", "value"),
            **ingest._compress_fold(5.0, 0.5, None),
        )

    clean = pd.DataFrame(
        {"pvname": ["A", "A", "B"], "time": [0.0, 10.0, 0.0], "value": [1.0, 2.0, 3.0]}
    )
    nulls = pd.DataFrame(
        {"pvname": ["A", None, "B"], "time": [5.0, 1.0, np.nan], "value": [np.nan, 9.0, 9.0]}
    )
    want = [("A", 0.0, 1.0), ("A", 10.0, 2.0), ("B", 0.0, 3.0)]
    got = _call(kernel(), _GroupState(), clean)
    assert list(got.itertuples(index=False, name=None)) == want
    got = _call(kernel(), _GroupState(), pd.concat([clean, nulls], ignore_index=True))
    assert list(got.itertuples(index=False, name=None)) == want
