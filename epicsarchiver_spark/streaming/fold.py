"""The keyed fold — the one driver of every stateful stream kernel.

The reference keeps small per-PV state in two daemons: the archiver's
last/limbo point (epicsarchiver/archiver.py:79-81) and the cache's alert
status (cache.py:754-770). Here each such kernel is a fold of one key's
time-ordered events over a state tuple held in Structured Streaming's
keyed state store. :func:`keyed_fold` owns the mechanism once — the
``applyInPandasWithState`` call and its timeout conf, cold-state init,
the micro-batch's rows, the null guard, the time sort, state write-back
and the output frame — so a stream (``ingest.compressed_stream`` and the
eight in ``alerts``) keeps only its config, its state codec, its output
schema and a step function.

Key groups (Flink's state layout, VLDB 2017): the state store is keyed
by GROUP, not by key. A key's group is ``points_store.bucket_of(<first
key column>, GROUPS)`` with ``GROUPS`` = the store's ``DEFAULT_BUCKETS``
(128), so the compressor's groups are exactly the archive's buckets. The
kernel runs once per (group, micro-batch): the group's rows are sorted
stably by (key, time), split at key boundaries, and each key's step folds
its own rows over its own state tuple. A group's state row holds the
sorted key columns and one array per state field; the untouched keys of
a group pass through as numpy arrays (looked up by ``searchsorted``,
never visited in Python). A group with timers keeps each key's deadline
in its state and arms one processing-time timer at the earliest; when it
fires, only the due keys run ``on_timeout``.
"""

from __future__ import annotations

from itertools import chain
from typing import Callable, Iterable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import ArrayType, DataType, LongType, StructField, StructType

from epicsarchiver_spark.sources import fsio
from epicsarchiver_spark.sources.points_store import DEFAULT_BUCKETS, bucket_of

GROUPS = DEFAULT_BUCKETS
GROUP = "_group"
DUE = "_due_ms"  # a group's per-key timer deadlines (epoch ms; 0 = none)


class Rows:
    """One key's rows of one micro-batch in time order; rows with equal
    times keep their arrival order (a stable sort). ``frame`` holds the
    rows already in that order, so ``order`` is the identity."""

    __slots__ = ("_batch", "_lo", "_hi", "time")

    def __init__(self, batch: "_Batch", lo: int, hi: int):
        self._batch, self._lo, self._hi = batch, lo, hi
        self.time = batch.col("time")[lo:hi]  # the ``time`` column (numpy)

    @property
    def frame(self) -> pd.DataFrame:
        return self._batch.frame().iloc[self._lo : self._hi]

    @property
    def order(self):
        return np.arange(self._hi - self._lo)

    def col(self, name: str):
        """Column ``name`` as a numpy array in time order."""
        return self._batch.col(name)[self._lo : self._hi]

    def sorted_frame(self) -> pd.DataFrame:
        return self.frame


class _Batch:
    """A group's rows of one micro-batch, sorted stably by (key, time):
    ``keys`` are the sorted distinct key tuples, ``bounds`` their row
    ranges."""

    def __init__(self, rows: pd.DataFrame, names: list[str]):
        codes = np.zeros(len(rows), np.int64)
        uniques = []
        for name in names:
            c, u = pd.factorize(rows[name], sort=True)
            codes = codes * len(u) + c
            uniques.append(np.asarray(u, dtype=object))
        self.perm = np.lexsort((rows["time"].to_numpy(), codes))
        codes = codes[self.perm]
        starts = np.flatnonzero(np.r_[True, codes[1:] != codes[:-1]])
        self.bounds = np.r_[starts, len(codes)].tolist()
        parts, c = [], codes[starts]
        for u in reversed(uniques):
            parts.append(u[c % len(u)])
            c = c // len(u)
        self.keys = list(zip(*reversed(parts)))
        self._rows, self._frame, self._cols = rows, None, {}

    def frame(self) -> pd.DataFrame:
        if self._frame is None:
            self._frame = self._rows.take(self.perm)
        return self._frame

    def col(self, name: str):
        if name not in self._cols:
            self._cols[name] = self._rows[name].to_numpy()[self.perm]
        return self._cols[name]

    def rows(self, i: int) -> Rows:
        return Rows(self, self.bounds[i], self.bounds[i + 1])


def _objects(values) -> np.ndarray:
    out = np.empty(len(values), dtype=object)
    out[:] = values
    return out


def _tuples(rows, n: int) -> np.ndarray:
    return np.fromiter(rows, dtype=object, count=n)


def _plain(state: tuple) -> tuple:
    # the state row is pickled for the JVM, which cannot read numpy scalars
    return tuple(v.item() if isinstance(v, np.generic) else v for v in state)


class _Group:
    """A group's state: its keys' columns sorted by key, one object array
    per state field, and (with timers) each key's deadline."""

    def __init__(self, row: tuple | None, n_keys: int, n_fields: int, timers: bool):
        row = row or ((),) * (n_keys + n_fields + timers)
        self.keys = [_objects(c) for c in row[:n_keys]]
        self.fields = [_objects(c) for c in row[n_keys : n_keys + n_fields]]
        self.timers = timers
        self.due = np.asarray(row[-1] if timers else (), dtype=np.int64)
        self._set: dict[int, tuple] = {}
        self._new: list[tuple] = []  # (insert position, key, state, due)

    def __len__(self) -> int:
        return len(self.keys[0])

    def find(self, keys: list[tuple]) -> tuple[list[int], list[bool]]:
        """Each key's position in the group (its insert position if new),
        by binary search of the sorted keys (tuples for compound keys)."""
        if len(self.keys) == 1:
            index, probe = self.keys[0], _objects([k[0] for k in keys])
        else:
            index, probe = _tuples(zip(*self.keys), len(self)), _tuples(keys, len(keys))
        pos = np.searchsorted(index, probe)
        if not len(index):
            return pos.tolist(), [False] * len(keys)
        found = (pos < len(index)) & (index[np.minimum(pos, len(index) - 1)] == probe)
        return pos.tolist(), found.tolist()

    def key(self, p: int) -> tuple:
        return tuple(c[p] for c in self.keys)

    def state(self, p: int) -> tuple:
        return tuple(f[p] for f in self.fields)

    def put(self, p: int, state: tuple, due: int = 0) -> None:
        self._set[p] = (_plain(state), due)

    def insert(self, p: int, key: tuple, state: tuple, due: int = 0) -> None:
        self._new.append((p, key, _plain(state), due))

    def commit(self) -> tuple | None:
        """Apply the batch's writes; the state row, or None when empty."""
        if self._set:
            at = list(self._set)
            states, dues = zip(*self._set.values())
            for j, f in enumerate(self.fields):
                f[at] = _objects([s[j] for s in states])
            if self.timers:
                self.due[at] = dues
        if self._new:
            at, keys, states, dues = zip(*self._new)
            self.keys = [
                np.insert(c, at, _objects([k[j] for k in keys])) for j, c in enumerate(self.keys)
            ]
            self.fields = [
                np.insert(f, at, _objects([s[j] for s in states]))
                for j, f in enumerate(self.fields)
            ]
            if self.timers:
                self.due = np.insert(self.due, at, dues)
        if not len(self):
            return None
        due = (self.due,) if self.timers else ()
        return tuple(c.tolist() for c in (*self.keys, *self.fields, *due))


def group_state_schema(
    key_types: Sequence[tuple[str, DataType]], state_schema: StructType, timers: bool
) -> StructType:
    """A group's state row: each key column and each of ``state_schema``'s
    fields as an array, plus the per-key deadlines when the fold has
    timers."""
    fields = [StructField(n, ArrayType(t)) for n, t in key_types]
    fields += [StructField(f.name, ArrayType(f.dataType)) for f in state_schema.fields]
    if timers:
        fields.append(StructField(DUE, ArrayType(LongType())))
    return StructType(fields)


def _schemas(data: bytes) -> list[dict]:
    """The JSON schemas (key, value) in a state operator's v2
    ``_metadata/schema`` file: a ``writeUTF`` version, then per schema
    an int count of ``writeUTF`` chunks."""
    import json
    import struct

    def utf(off: int) -> tuple[str, int]:
        (n,) = struct.unpack_from(">H", data, off)
        return data[off + 2 : off + 2 + n].decode("utf-8"), off + 2 + n

    _version, off = utf(0)
    out = []
    while off < len(data):
        (count,) = struct.unpack_from(">i", data, off)
        off, chunks = off + 4, []
        for _ in range(count):
            chunk, off = utf(off)
            chunks.append(chunk)
        out.append(json.loads("".join(chunks)))
    return out


def refuse_per_key_state(spark, checkpoint: str) -> None:
    """Raise ``ValueError`` when ``checkpoint`` holds a fold's state in
    the per-key layout that preceded key groups: the group layout keys
    the store by group, so Spark would refuse the checkpoint's key
    schema at the first batch. An absent or fresh checkpoint passes."""
    fs, P = fsio.handle(spark, checkpoint)
    for status in fs.globStatus(P(P(checkpoint), "state/*/0/_metadata/schema")) or []:
        data = fsio.read_bytes(spark, status.getPath().toString())
        # a FlatMapGroupsWithState value is (groupState[, timeoutTimestamp]);
        # the group layout makes every groupState field an array
        states = [f["type"] for f in _schemas(data)[-1]["fields"] if f["name"] == "groupState"]
        for state in states:
            if not all(isinstance(f["type"], dict) and f["type"]["type"] == "array"
                       for f in state["fields"]):
                raise ValueError(
                    f"checkpoint {checkpoint} holds per-key stream state, which "
                    "this version's key-group state cannot resume. Restart on a "
                    "fresh checkpoint and warm-start each series from the store "
                    "with compressed_stream(seeds=...) or seed_col= (seed rows "
                    "from ingest.seed_frame); pending limbo entries of the old "
                    "state are lost, as on a reference archiver restart."
                )


def _column(pieces: list):
    """Concatenate the keys' pieces of one output column."""
    if all(type(p) is list for p in pieces):
        return list(chain.from_iterable(pieces))
    dtype = next(p.dtype for p in pieces if hasattr(p, "dtype"))
    return pd.array(np.concatenate([np.asarray(p, dtype=object) for p in pieces]), dtype=dtype)


def _frame(names: list[str], columns: list[str], emitted: list) -> pd.DataFrame:
    counts = [len(next(iter(out.values()))) for _k, out in emitted]
    data = {
        n: np.repeat(pd.Series([k[j] for k, _o in emitted]).to_numpy(), counts)
        for j, n in enumerate(names)
    }
    for c in columns[len(names) :]:
        data[c] = _column([out[c] for _k, out in emitted])
    return pd.DataFrame({c: data[c] for c in columns})


def group_kernel(
    keys: Sequence[str],
    step: Callable,
    *,
    columns: Sequence[str],
    n_fields: int,
    init: Callable[[tuple], tuple | None],
    required: Sequence[str] = (),
    on_timeout: Callable | None = None,
    timer_ms: Callable | None = None,
) -> Callable:
    """The function ``applyInPandasWithState`` calls once per (key group,
    micro-batch): ``fn(group_key, frames, group_state)`` for the hooks
    of :func:`keyed_fold`, emitting ``columns``."""
    names, columns = list(keys), list(columns)
    drop = [*names, *required]
    timers = on_timeout is not None

    def arm(key: tuple, state: tuple, now: int) -> int:
        ms = timer_ms(key, state) if timer_ms is not None else None
        return 0 if ms is None else now + int(ms)

    def fn(
        _group_key: tuple, pdfs: Iterable[pd.DataFrame], gs: GroupState
    ) -> Iterator[pd.DataFrame]:
        group = _Group(gs.get if gs.exists else None, len(names), n_fields, timers)
        now = gs.getCurrentProcessingTimeMs()
        emitted, busy = [], set()
        chunks = [] if gs.hasTimedOut else list(pdfs)
        if chunks:
            rows = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
            # a null row must not wedge the batch in an at-least-once
            # retry loop (same guard as the JDBC lane); the frame is
            # copied only when a null is there to drop
            if any(pd.isna(rows[c].to_numpy()).any() for c in drop):
                rows = rows.dropna(subset=drop)
            batch = _Batch(rows, names) if len(rows) else None
        else:
            batch = None
        if batch is not None:
            pos, found = group.find(batch.keys)
            for i, key in enumerate(batch.keys):
                state = group.state(pos[i]) if found[i] else init(key)
                if state is None:
                    continue
                state, out = step(key, state, batch.rows(i))
                due = arm(key, state, now) if timers else 0
                if found[i]:
                    group.put(pos[i], state, due)
                    busy.add(pos[i])
                else:
                    group.insert(pos[i], key, state, due)
                if out is not None:
                    emitted.append((key, out))
        if timers:
            # keys whose deadline is past and that had no rows; Spark fires
            # a timer once its deadline is strictly before the batch time
            n_data = len(emitted)
            for p in np.flatnonzero((group.due > 0) & (group.due < now)).tolist():
                if p in busy:
                    continue
                key = group.key(p)
                state, out = on_timeout(key, group.state(p), now)
                group.put(p, state, arm(key, state, now))
                if out is not None:
                    emitted.append((key, out))
            if n_data and len(emitted) > n_data:
                emitted.sort(key=lambda e: e[0])
        row = group.commit()
        if row is None:
            return
        gs.update(row)
        if timers:
            pending = group.due[group.due > 0]
            if len(pending):
                gs.setTimeoutDuration(max(1, int(pending.min()) - now))
        if emitted:
            yield _frame(names, columns, emitted)

    return fn


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
      left with no rows is not touched. Rows null in a key column name
      no key and are dropped too.
    - ``on_timeout(key, state, now_ms) -> (state, out)``: the
      processing-time timer's fold (given, the query runs with
      ``ProcessingTimeTimeout``); ``timer_ms(key, state)`` then sets the
      key's next deadline, ``now_ms`` plus that, after every fold (None:
      no timer).

    Spark runs the kernel once per key group, not per key (the module
    docstring): the group of a key is ``bucket_of(keys[0], GROUPS)``,
    ``GROUPS`` being the points store's 128 buckets, and a group's one
    processing-time timer is armed to its keys' earliest deadline.
    Whenever a group is called, by new rows or by its timer, each key
    whose deadline has passed and that has no rows in the batch runs
    ``on_timeout``.

    ``output_schema`` holds the key columns and the step's columns; the
    key's values are added to ``out``, and a group emits its keys' rows
    in (key, time) order. States are tuples in ``state_schema``'s field
    order; the checkpoint pins the group layout built from it
    (:func:`group_state_schema`)."""
    names = list(keys)
    timers = on_timeout is not None
    fn = group_kernel(
        names,
        step,
        columns=output_schema.fieldNames(),
        n_fields=len(state_schema.fields),
        init=init,
        required=required,
        on_timeout=on_timeout,
        timer_ms=timer_ms,
    )
    layout = group_state_schema(
        [(n, events.schema[n].dataType) for n in names], state_schema, timers
    )
    # the group column rides into the kernel's frame: Spark 4.1 cannot
    # resolve an aliased expression as this call's grouping key
    grouped = events.withColumn(GROUP, bucket_of(F.col(names[0]), GROUPS))
    return grouped.groupBy(GROUP).applyInPandasWithState(
        fn,
        outputStructType=output_schema,
        stateStructType=layout,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if timers
            else GroupStateTimeout.NoTimeout
        ),
    )
