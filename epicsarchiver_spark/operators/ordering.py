"""Shared per-series ordering contract.

Operators tie-break equal timestamps on ``event_id`` when the frame has
one (the driver testdata does), but the engine's one write path —
``points_store.write_points``, which the streaming ``archive_query``
calls per micro-batch — emits ``(pvname, time, value, run, bucket)``
with no event_id. Hard-coding the
column would make every windowed operator fail with an unresolved-column
AnalysisException on a store the engine itself wrote, so the tiebreak is
derived from the frame's columns: (time, event_id) when present, else
time alone. (pvname, time) is unique in practice — the reference's data
tables have no ordering column beyond time either, schema.py:21-27.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TIEBREAK_COL = "event_id"


def order_cols(df: DataFrame, time_col: str = "time", descending: bool = False) -> list[Column]:
    """Ordering expressions for per-series windows: time plus the
    event_id tiebreak iff the frame carries one."""
    cols = [F.col(time_col)]
    if TIEBREAK_COL in df.columns:
        cols.append(F.col(TIEBREAK_COL))
    return [c.desc() for c in cols] if descending else cols


def order_struct(df: DataFrame, time_col: str = "time") -> Column:
    """max_by/min_by ordering key: struct(time[, event_id])."""
    return F.struct(*order_cols(df, time_col))
