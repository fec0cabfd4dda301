"""The keyed-fold primitive (``streaming/fold.py``): the package drives
Structured Streaming's keyed state store from one call site, and every
stream's state layout stays the one its existing checkpoints hold."""

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


# each stream's state struct as its checkpoints record it (the JSON of
# the parent commit's schemas); a change here strands the state of every
# running query
QBUF = '{"fields":[{"metadata":{},"name":"qs_csv","nullable":true,"type":"string"}],"type":"struct"}'
STATE_LAYOUTS = {
    "alert": '{"fields":[{"metadata":{},"name":"status","nullable":true,"type":"string"},{"metadata":{},"name":"last_notice","nullable":true,"type":"double"}],"type":"struct"}',
    "outlier": '{"fields":[{"metadata":{},"name":"times","nullable":true,"type":"string"},{"metadata":{},"name":"values","nullable":true,"type":"string"}],"type":"struct"}',
    "flatline": '{"fields":[{"metadata":{},"name":"q","nullable":true,"type":"long"},{"metadata":{},"name":"start_t","nullable":true,"type":"double"},{"metadata":{},"name":"n","nullable":true,"type":"long"},{"metadata":{},"name":"last_t","nullable":true,"type":"double"},{"metadata":{},"name":"alerted","nullable":true,"type":"long"}],"type":"struct"}',
    "ewma": QBUF,
    "holt": QBUF,
    "hw": QBUF,
    "discord": '{"fields":[{"metadata":{},"name":"buf_csv","nullable":true,"type":"string"},{"metadata":{},"name":"counts_csv","nullable":true,"type":"string"}],"type":"struct"}',
    "cusum": '{"fields":[{"metadata":{},"name":"cu","nullable":true,"type":"long"},{"metadata":{},"name":"minu","nullable":true,"type":"long"},{"metadata":{},"name":"psu","nullable":true,"type":"long"},{"metadata":{},"name":"cd","nullable":true,"type":"long"},{"metadata":{},"name":"mind","nullable":true,"type":"long"},{"metadata":{},"name":"psd","nullable":true,"type":"long"}],"type":"struct"}',
    "compress": '{"fields":[{"metadata":{},"name":"last_t","nullable":true,"type":"double"},{"metadata":{},"name":"last_v","nullable":true,"type":"double"},{"metadata":{},"name":"pend_t","nullable":true,"type":"double"},{"metadata":{},"name":"pend_v","nullable":true,"type":"double"}],"type":"struct"}',
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


@pytest.mark.parametrize("name", [*STATE_LAYOUTS, "compress_timers"])
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
    assert got == STATE_LAYOUTS[name.split("_")[0]]
    assert op.timeout().toString() == timeout
