"""Every Hadoop-FS side effect of the engine, and its one crash-safe swap.

The engine keeps each table it updates in place (the runs, positions,
alert-rule, pv-catalog and bm25-state dimensions, the rollup, word-index
and components artifacts, a compacted run of the points store, the
latest-value cache) as a parquet directory, and replaces it, or some of
its ``name=value`` subdirectories (``bucket=k``, ``run=r``), by one
protocol:

1. The writer calls :func:`recover`, reads what it needs, and writes the
   new data under the target's hidden staging directory
   ``<parent>/.<name>.swap``, at :func:`staging` (``.swap/new``).
2. :func:`commit` writes a journal naming the parts being replaced (the
   whole target, or some of its subdirectories) and any files to delete.
   The journal is written aside and renamed into the staging directory:
   that rename is the commit point.
3. The roll-forward parks each live part at ``.swap/old``, renames the
   staged part in, deletes the listed files (and a directory they leave
   empty), then drops the staging directory. Every step can run again.

A crash before the commit leaves the old data; a crash after it leaves a
journal the next writer's :func:`recover` rolls forward. Either way every
row is visible once, old or new. Only writers run :func:`recover`, before
they stage: it rolls a journal forward, drops staging without one, and
clears once what earlier releases' swaps left (``<target>.bak`` and
``.tmp``, parts parked in ``<target>.bak``, ``<part>.bak`` and ``.tmp``
inside the target, a compaction's ``.fold`` journal).

Readers rename and delete nothing. :func:`read_parquet` reads a target as
the next writer's recovery would leave it, so a read that lands between
two steps of a swap, or after a crash, returns the old rows or the new
ones. It does not drop the files a journal deletes, which only
compactions and the cache's fold list: the points store is read by
``points_store.read_points``, which lists the store root directly, and
the cache by ``ingest.read_cache``, which reads its base at
:func:`current`.

A table that grows by whole files instead (the latest-value cache's
per-batch deltas) lands each one with :func:`write_file`: written aside,
then renamed onto its name, so a rewrite under the same name replaces
the file and a crash leaves the old file or the new one.

Every rename is checked (:func:`_rename`): it raises when the source is
missing or the destination exists. ``FileSystem.rename`` onto an existing
directory instead moves the source inside it and reports success."""

from __future__ import annotations

import json
from collections.abc import Sequence

from py4j.protocol import Py4JJavaError
from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SWAP = ".swap"  # suffix of a target's staging directory, hidden by its "." prefix


def handle(spark: SparkSession, path: str):
    """The Hadoop filesystem holding ``path``, and the ``Path`` class."""
    P = spark._jvm.org.apache.hadoop.fs.Path
    return P(path).getFileSystem(spark._jsc.hadoopConfiguration()), P


def exists(spark: SparkSession, path: str) -> bool:
    fs, P = handle(spark, path)
    return bool(fs.exists(P(path)))


def visible(fs, directory) -> list:
    """The entries of ``directory`` Spark's reader lists (``_``/``.``
    entries are bookkeeping: records, ``_SUCCESS``, checksums, staging)."""
    return [
        st for st in fs.listStatus(directory) if not st.getPath().getName().startswith(("_", "."))
    ]


def _read(fs, path) -> bytes | None:
    if fs.getScheme() == "file":
        # read a local file directly: a py4j reply longer than a few KB
        # stalls ~40 ms (local mode, 4 cores: 44 ms for 20 KB, 0.2 ms for 3 KB)
        try:
            with open(fs.makeQualified(path).toUri().getPath(), "rb") as fh:
                return fh.read()
        except (FileNotFoundError, IsADirectoryError):
            return None
    if not fs.exists(path):
        return None
    stream = fs.open(path)
    try:
        return bytes(SparkContext._jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()


def read_bytes(spark: SparkSession, path: str) -> bytes | None:
    """A small file's bytes, or None if there is no such file."""
    fs, P = handle(spark, path)
    return _read(fs, P(path))


def read_text(spark: SparkSession, path: str) -> str | None:
    data = read_bytes(spark, path)
    return None if data is None else data.decode()


def _write_aside(fs, P, path: str, data: bytes):
    tmp = P(f"{path}.tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()
    return tmp


def write_bytes(spark: SparkSession, path: str, data: bytes, replace: bool = False) -> None:
    """Write a small file whole: aside, then one checked rename onto
    ``path``, so a crash leaves the old file or the new one. An existing
    file is replaced only with ``replace``; otherwise the rename raises.
    The aside copy is ``<path>.tmp``: give ``path`` a hidden name (``_``
    or ``.`` prefix, or under such a directory) when a reader lists its
    directory."""
    fs, P = handle(spark, path)
    _rename(fs, _write_aside(fs, P, path, data), P(path), replace)


def write_text(spark: SparkSession, path: str, text: str, replace: bool = False) -> None:
    """:func:`write_bytes` of ``text``."""
    write_bytes(spark, path, text.encode(), replace)


def write_file(spark: SparkSession, frame: DataFrame, path: str) -> int:
    """Write ``frame`` as ONE parquet file at ``path``: as one partition
    into the aside directory ``<path>.tmp``, then one checked rename of
    its data file onto ``path``, replacing a file there. A crash leaves
    the old file or the new one, plus at most the aside directory, which
    the next write of ``path`` replaces; give ``path`` a hidden
    directory when a reader lists its parent. 0 when the frame wrote
    no data file (``path`` is then left as it was); otherwise the
    file's size in bytes."""
    fs, P = handle(spark, path)
    aside = P(f"{path}.tmp")
    frame.coalesce(1).write.mode("overwrite").parquet(str(aside))
    data = [st for st in visible(fs, aside) if st.isFile()]
    if data:
        _rename(fs, data[0].getPath(), P(path), bool(fs.exists(P(path))))
    _delete(fs, aside)
    return data[0].getLen() if data else 0


def _rename(fs, src, dst, replace: bool = False) -> None:
    """Rename ``src`` to ``dst``; raise ``OSError`` if ``src`` is missing
    or ``dst`` exists. With ``replace`` a file overwrites ``dst`` in one
    ``FileContext`` rename. Otherwise the destination is checked before
    ``FileSystem.rename`` (``FileContext`` checks it too, but on the
    local filesystem forks a ``stat`` process per call, ~10 ms): each
    target has one writer, so nothing creates ``dst`` in between."""
    try:
        if replace:
            hfs = SparkContext._jvm.org.apache.hadoop.fs
            options = SparkContext._gateway.new_array(hfs.Options.Rename, 1)
            options[0] = hfs.Options.Rename.OVERWRITE
            hfs.FileContext.getFileContext(fs.getUri(), fs.getConf()).rename(src, dst, options)
            return
        renamed = not fs.exists(dst) and fs.rename(src, dst)
    except Py4JJavaError as ex:
        raise OSError(f"could not rename {src} to {dst}: {ex.java_exception}") from ex
    if not renamed:
        raise OSError(f"could not rename {src} to {dst}: it exists, or {src} does not")


def _delete(fs, path) -> None:
    fs.delete(path, True)


def delete(spark: SparkSession, path: str) -> None:
    """Delete a file, or a directory with everything in it; nothing if
    there is nothing at ``path``."""
    fs, P = handle(spark, path)
    _delete(fs, P(path))


def _stage(target: str) -> str:
    head, sep, name = target.rstrip("/").rpartition("/")
    return f"{head}{sep}.{name}{SWAP}"


def staging(target: str) -> str:
    """Where a writer stages the new data of ``target`` (after :func:`recover`)."""
    return f"{_stage(target)}/new"


def _journal(fs, P, stage: str) -> dict | None:
    data = _read(fs, P(f"{stage}/journal"))
    return None if data is None else json.loads(data)


def _roll_forward(
    fs, P, target: str, stage: str, parts: Sequence[str] | None, drop: Sequence[str]
) -> None:
    for part in [""] if parts is None else parts:
        live, new, old = (
            P(f"{d}/{part}" if part else d) for d in (target, f"{stage}/new", f"{stage}/old")
        )
        if fs.exists(new):  # not swapped in yet
            if fs.exists(live):
                _rename(fs, live, old)
            _rename(fs, new, live)
    for name in drop:
        _delete(fs, P(f"{target}/{name}"))
    for parent in sorted({name.rpartition("/")[0] for name in drop} - {""}):
        d = P(f"{target}/{parent}")
        if fs.exists(d) and not visible(fs, d):
            _delete(fs, d)
    _delete(fs, P(stage))


def commit(
    spark: SparkSession,
    target: str,
    parts: Sequence[str] | None = None,
    drop: Sequence[str] = (),
) -> None:
    """Swap what is staged at :func:`staging` into ``target``: the whole
    directory, or only its ``parts`` (``name=value`` subdirectories; one
    the writer did not stage stays as it is). ``drop`` names files under
    ``target`` to delete with the swap."""
    fs, P = handle(spark, target)
    stage = _stage(target)
    if parts is not None:
        parts = list(parts)
        fs.mkdirs(P(f"{stage}/old"))
    journal = json.dumps({"parts": parts, "drop": list(drop)})
    _rename(fs, _write_aside(fs, P, f"{stage}/journal", journal.encode()), P(f"{stage}/journal"))
    _roll_forward(fs, P, target, stage, parts, drop)


def recover(spark: SparkSession, target: str) -> None:
    """A writer's first step: finish or drop a swap a crash interrupted,
    and clear what earlier releases' swaps left (module docstring)."""
    fs, P = handle(spark, target)
    target = target.rstrip("/")
    live, bak, tmp = P(target), P(f"{target}.bak"), P(f"{target}.tmp")
    if fs.exists(bak):
        if not fs.exists(live):
            _rename(fs, bak, live)
        else:
            for st in fs.listStatus(bak):
                name = st.getPath().getName()
                if "=" in name and not fs.exists(P(f"{target}/{name}")):
                    _rename(fs, st.getPath(), P(f"{target}/{name}"))
            _delete(fs, bak)
    if fs.exists(tmp):
        _delete(fs, tmp)
    for st in fs.globStatus(P(f"{target}/{{*.bak,*.tmp,.fold}}")) or []:
        name = st.getPath().getName()
        if name == ".fold":  # a compaction journal: {"buckets": [k], "deltas": [file]}
            old = _journal(fs, P, f"{target}/.fold") or {"buckets": [], "deltas": []}
            parts = [f"bucket={k}" for k in old["buckets"]]
            drop = [f"bucket=-1/{n}" for n in old["deltas"]]
            _roll_forward(fs, P, target, f"{target}/.fold", parts, drop)
        elif name.endswith(".bak") and not fs.exists(P(f"{target}/{name[:-4]}")):
            _rename(fs, st.getPath(), P(f"{target}/{name[:-4]}"))
        elif name.endswith((".bak", ".tmp")):
            _delete(fs, st.getPath())
    stage = _stage(target)
    journal = _journal(fs, P, stage)
    if journal is not None:
        _roll_forward(fs, P, target, stage, journal["parts"], journal["drop"])
    _delete(fs, P(stage))


def unfinished(spark: SparkSession, target: str) -> bool:
    """Whether a committed swap of ``target`` waits for the roll-forward
    the next writer's :func:`recover` gives it."""
    fs, P = handle(spark, target)
    return _journal(fs, P, _stage(target.rstrip("/"))) is not None


def current(spark: SparkSession, target: str, part: str = "") -> str:
    """The directory that holds ``target``'s data, or its subdirectory
    ``part``, as the next writer's :func:`recover` would leave it, for a
    reader of the files a swap carries (hidden ones too): the staged copy
    while a committed swap of the whole target, or of ``part``, has not
    been renamed in yet, else the live one."""
    fs, P = handle(spark, target)
    target = target.rstrip("/")
    return _current(fs, P, target, _journal(fs, P, _stage(target)), part)


def _current(fs, P, target: str, journal: dict | None, part: str = "") -> str:
    staged, live = (f"{d}/{part}" if part else d for d in (f"{_stage(target)}/new", target))
    swapped = journal is not None and (journal["parts"] is None or part in journal["parts"])
    return staged if swapped and fs.exists(P(staged)) else live


def _with_parts(live: DataFrame, other: DataFrame, parts: list[str]) -> DataFrame:
    """``live`` with its ``parts`` (``name=value`` names) read from ``other``."""
    col = parts[0].split("=", 1)[0]
    pick = F.col(col).cast("string").isin([p.split("=", 1)[1] for p in parts])
    return live.filter(~pick).unionByName(other.filter(pick), allowMissingColumns=True)


def read_parquet(spark: SparkSession, target: str) -> DataFrame | None:
    """Read ``target`` as the next writer's :func:`recover` would leave
    it, renaming and deleting nothing; None if there is nothing to read."""
    fs, P = handle(spark, target)
    target = target.rstrip("/")
    stage, bak = _stage(target), f"{target}.bak"
    journal = _journal(fs, P, stage)
    read = spark.read.parquet
    if journal is not None and journal["parts"] is None:
        live = _current(fs, P, target, journal)
        return read(live) if fs.exists(P(live)) else None
    elif journal is not None:
        pending = [p for p in journal["parts"] if fs.exists(P(f"{stage}/new/{p}"))]
        if pending:
            return _with_parts(read(target), read(f"{stage}/new"), pending)
    elif fs.exists(P(bak)):  # an earlier release's swap
        if not fs.exists(P(target)):
            return read(bak)
        parked = [
            name
            for name in (st.getPath().getName() for st in fs.listStatus(P(bak)))
            if "=" in name and not fs.exists(P(f"{target}/{name}"))
        ]
        if parked:
            return _with_parts(read(target), read(bak), parked)
    return read(target) if fs.exists(P(target)) else None
