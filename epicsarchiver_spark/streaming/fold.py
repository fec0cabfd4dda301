"""The keyed fold — the one driver of every stateful stream kernel.

The reference keeps small per-PV state in two daemons: the archiver's
last/limbo point (epicsarchiver/archiver.py:79-81) and the cache's alert
status (cache.py:754-770). Here each such kernel is a fold of one key's
time-ordered events over a state tuple held in Structured Streaming's
keyed state store. :func:`keyed_fold` owns the mechanism once — the
``groupBy(keys).applyInPandasWithState`` call and its timeout conf,
cold-state init, the micro-batch's rows as one frame, the null guard,
the time sort, state write-back and the output frame — so a stream
(``ingest.compressed_stream`` and the eight in ``alerts``) keeps only
its config, its state codec, its output schema and a step function.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType


class Rows:
    """One key's rows of one micro-batch in time order; rows with equal
    times keep their arrival order (a stable sort)."""

    __slots__ = ("frame", "order", "time")

    def __init__(self, frame: pd.DataFrame, order, time):
        self.frame = frame  # as it arrived
        self.order = order  # positions of ``frame`` in time order
        self.time = time  # the ``time`` column in time order (numpy)

    def col(self, name: str):
        """Column ``name`` as a numpy array in time order."""
        return self.frame[name].to_numpy()[self.order]

    def sorted_frame(self) -> pd.DataFrame:
        return self.frame.take(self.order)


def keyed_fold(
    events: DataFrame,
    keys: Sequence[str],
    step: Callable,
    *,
    output_schema: StructType,
    state_schema: StructType,
    init: Callable[[tuple], tuple | None],
    required: Sequence[str] = (),
    on_timeout: Callable | None = None,
    timer_ms: Callable | None = None,
) -> DataFrame:
    """Fold each key's events over its state, one micro-batch at a time.

    - ``step(key, state, rows) -> (state, out)``: ``rows`` is a
      :class:`Rows`; ``out`` maps the output columns after the keys to
      equal-length columns, or is None when the batch emits nothing.
    - ``init(key)``: the state of a key without checkpointed state, or
      None to leave the key alone (it emits nothing and keeps no state).
    - ``required``: rows null in any of these columns are dropped; a key
      left with no rows is not touched.
    - ``on_timeout(key, state, now_ms) -> (state, out)``: the
      processing-time timer's fold (given, the query runs with
      ``ProcessingTimeTimeout``); ``timer_ms(key, state)`` then arms the
      key's next timer after every fold (None: no timer).

    ``output_schema`` starts with the key columns; the key's values are
    prepended to ``out``. States are tuples in ``state_schema``'s field
    order, which the checkpoint pins."""
    names = list(keys)
    need = list(required)

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], gs: GroupState
    ) -> Iterator[pd.DataFrame]:
        if gs.hasTimedOut:
            state, out = on_timeout(key, gs.get, gs.getCurrentProcessingTimeMs())
        else:
            chunks = list(pdfs)
            if not chunks:
                return
            rows = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
            if need:
                # a null row must not wedge the batch in an at-least-once
                # retry loop (same guard as the JDBC lane)
                rows = rows.dropna(subset=need)
                if not len(rows):
                    return
            state = gs.get if gs.exists else init(key)
            if state is None:
                return
            # numpy argsort: the per-key python cost is the scale cost of
            # these kernels (one call per key per batch)
            t = rows["time"].to_numpy()
            order = t.argsort(kind="stable")
            state, out = step(key, state, Rows(rows, order, t[order]))
        gs.update(state)
        if timer_ms is not None:
            ms = timer_ms(key, state)
            if ms is not None:
                gs.setTimeoutDuration(ms)
        if out is not None:
            yield pd.DataFrame({**dict(zip(names, key)), **out})

    return events.groupBy(*names).applyInPandasWithState(
        fn,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if on_timeout is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )
