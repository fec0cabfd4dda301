"""The one swap (``sources.fsio``): a checked rename, reads that land
between any two steps of a writer's swap, a crash at every step of a
dimension swap and of a cache delta write and fold, and the pin that keeps every
rename and staging name inside the module."""

from __future__ import annotations

import argparse
import os
import pathlib
import re
import shutil

import pytest

from epicsarchiver_spark import cli
from epicsarchiver_spark.sources import fsio, points_store
from epicsarchiver_spark.streaming.ingest import read_cache, upsert_latest

SCHEMA = "pvname string, time double, value double"


def _steps(monkeypatch, before):
    """Call ``before(op, args)`` ahead of every mutating step of a swap
    (writing a file aside, a rename, a delete)."""
    for name in ("_write_aside", "_rename", "_delete"):
        op = getattr(fsio, name)

        def run(*args, _op=op, _name=name):
            before(_name, args)
            return _op(*args)

        monkeypatch.setattr(fsio, name, run)


class Crash(RuntimeError):
    pass


def _crash_at(monkeypatch, step):
    """Raise ``Crash`` before the ``step``-th mutating step; returns the
    steps seen, as (op, destination) pairs."""
    seen = []

    def before(name, args):
        if len(seen) == step:
            raise Crash(f"injected crash at step {step}")
        seen.append((name, str(args[-1])))

    _steps(monkeypatch, before)
    return seen


def _tree(root) -> dict:
    """Every file under ``root`` with its size and modification time."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.relpath(os.path.join(d, f), root)] = (st.st_size, st.st_mtime_ns)
    return out


def _nested(root) -> list:
    """Directories inside a swapped part (a part holds files only)."""
    return [
        os.path.join(d, s)
        for part in os.listdir(root)
        if os.path.isdir(os.path.join(root, part))
        for d, subs, _ in os.walk(os.path.join(root, part))
        for s in subs
    ]


def test_rename_onto_an_existing_directory_raises(spark, tmp_path):
    """FileSystem.rename would move ``a`` inside ``b`` and report
    success; the checked rename raises and leaves both as they were."""
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir()
    b.mkdir()
    (a / "x").write_text("new")
    (b / "y").write_text("old")
    fs, P = fsio.handle(spark, str(a))
    with pytest.raises(OSError, match="could not rename"):
        fsio._rename(fs, P(str(a)), P(str(b)))
    assert os.listdir(a) == ["x"] and os.listdir(b) == ["y"]
    with pytest.raises(OSError, match="could not rename"):
        fsio._rename(fs, P(str(tmp_path / "missing")), P(str(tmp_path / "c")))


def _add_rule(table, pv, trip):
    argv = ["alert_rules", "--table", table, "--add", pv, "--trippoint", str(trip)]
    assert cli.main(argv + ["--active", "yes"]) == 0


def _sweep_rules(spark, table):
    """The rules the ``alerts`` sweep reads (it reads, never writes)."""
    rules, _ = cli._load_alert_rules(spark, argparse.Namespace(table=table, rules=None))
    return sorted(tuple(r) for r in rules.collect())


def _cache_rows(spark, path):
    return sorted((r.pvname, r.time, r.value, r.np) for r in read_cache(spark, path).collect())


def _interleave(monkeypatch, root, read):
    """Before every mutating step of the swap that runs next, ``read()``
    with the tree checked unchanged by it; returns the reads' results."""
    seen = []

    def before(name, args):
        tree = _tree(root)
        with monkeypatch.context() as m:
            _steps(m, lambda name, args: pytest.fail(f"a read ran {name}{args}"))
            seen.append(read())
        assert _tree(root) == tree

    _steps(monkeypatch, before)
    return seen


def test_a_rules_read_between_any_two_steps_sees_old_or_new_rules(spark, tmp_path, monkeypatch):
    """An ``alerts`` sweep read injected before every step of an
    ``alert_rules`` edit changes nothing and returns the old rules or
    the new ones; the edit lands whole, not nested in the old table."""
    table = str(tmp_path / "alerts")
    _add_rule(table, "PV:a", 1.0)
    old = _sweep_rules(spark, table)
    with monkeypatch.context() as m:
        reads = _interleave(m, tmp_path, lambda: _sweep_rules(spark, table))
        _add_rule(table, "PV:b", 2.0)
    new = _sweep_rules(spark, table)
    assert len(new) == 2 and len(reads) >= 5
    assert all(r in (old, new) for r in reads), reads
    assert new in reads and not _nested(tmp_path)


def _cache_base(spark, path, names):
    """A cache whose base holds ``names`` at time 1 (batch id 0)."""
    upsert_latest(spark.createDataFrame([(n, 1.0, 1.0) for n in names], SCHEMA), path, 0)


def test_a_cache_read_between_any_two_steps_sees_old_or_new_rows(spark, tmp_path, monkeypatch):
    """``read_cache`` injected before every step of a delta write and the
    fold it triggers changes nothing and returns the old cache or the
    merged one; the new base lands whole, not nested."""
    cache = str(tmp_path / "cache")
    names = [f"PV{i}" for i in range(8)]
    _cache_base(spark, cache, names)
    old = _cache_rows(spark, cache)
    batch = spark.createDataFrame([(n, 2.0, 2.0) for n in names[::2]], SCHEMA)
    with monkeypatch.context() as m:
        m.setattr(points_store, "split_bytes", lambda spark: 1)  # the delta folds
        reads = _interleave(m, tmp_path, lambda: _cache_rows(spark, cache))
        upsert_latest(batch, cache, 1)
    new = _cache_rows(spark, cache)
    assert new != old and len(reads) >= 10
    assert all(r in (old, new) for r in reads), reads
    assert old in reads and new in reads and not _nested(cache)


def _committed(seen, step):
    """Whether the crash at ``step`` came after the journal's rename."""
    commit = next(
        i for i, (op, dst) in enumerate(seen) if op == "_rename" and dst.endswith("/journal")
    )
    return step > commit


def test_a_dimension_swap_survives_a_crash_at_every_step(spark, tmp_path, monkeypatch):
    """A crash before any step of an ``alert_rules`` edit, then one more
    edit: every rule is there once, the crashed edit too once it was
    committed, and no staging is left."""
    base = str(tmp_path / "base" / "alerts")
    _add_rule(base, "PV:a", 1.0)
    with monkeypatch.context() as m:
        seen = _crash_at(m, -1)
        clean = shutil.copytree(tmp_path / "base", tmp_path / "clean")
        _add_rule(str(clean / "alerts"), "PV:b", 2.0)
    for step in range(len(seen)):
        table = str(shutil.copytree(tmp_path / "base", tmp_path / f"crash{step}") / "alerts")
        with monkeypatch.context() as m:
            _crash_at(m, step)
            with pytest.raises(Crash):
                _add_rule(table, "PV:b", 2.0)
        _add_rule(table, "PV:c", 3.0)
        got = [r[0] for r in _sweep_rules(spark, table)]
        want = ["PV:a", "PV:b", "PV:c"] if _committed(seen, step) else ["PV:a", "PV:c"]
        assert got == want, step
        assert os.listdir(os.path.dirname(table)) == ["alerts"], step


def test_a_cache_merge_survives_a_crash_at_every_step(spark, tmp_path, monkeypatch):
    """A crash before any step of a delta write, and of a delta write
    with the fold it triggers, then the stream's replay of the batch
    under its id: every series is in the cache once with its latest
    value, ``np`` counts each event once, and no staging is left."""
    names = [f"PV{i}" for i in range(400)]  # a base well above one batch's delta
    _cache_base(spark, str(tmp_path / "base" / "cache"), names)
    batch = spark.createDataFrame([(n, 2.0, 2.0) for n in names[::2]], SCHEMA)
    want = sorted(
        (n, 2.0, 2.0, 2) if i % 2 == 0 else (n, 1.0, 1.0, 1) for i, n in enumerate(names)
    )
    for fold, min_steps in ((False, 2), (True, 10)):
        with monkeypatch.context() as bound:
            if fold:  # every delta reaches the bound
                bound.setattr(points_store, "split_bytes", lambda spark: 1)
            with monkeypatch.context() as m:
                seen = _crash_at(m, -1)
                clean = shutil.copytree(tmp_path / "base", tmp_path / f"clean{fold}")
                upsert_latest(batch, str(clean / "cache"), 1)
            # the delta's rename and aside; the fold's recovery,
            # watermark, journal, two renames, dropped delta and staging
            assert len(seen) >= min_steps, seen
            for step in range(len(seen)):
                root = shutil.copytree(tmp_path / "base", tmp_path / f"crash{fold}{step}")
                cache = str(root / "cache")
                with monkeypatch.context() as m:
                    _crash_at(m, step)
                    with pytest.raises(Crash):
                        upsert_latest(batch, cache, 1)
                upsert_latest(batch, cache, 1)
                assert _cache_rows(spark, cache) == want, (fold, step)
                assert os.listdir(root) == ["cache"], (fold, step)
                if fold:  # folded: the swap dropped the deltas
                    assert not os.path.exists(f"{cache}/_delta"), step
                else:
                    landed = [f for f in os.listdir(f"{cache}/_delta") if not f.startswith(".")]
                    assert landed == ["1.parquet"], step


def test_a_delta_landed_during_a_cache_fold_survives(spark, tmp_path, monkeypatch):
    """``pvarch compact`` on a cache lists its pending deltas and folds
    them; the cache's daemon lands its next batch's delta before the
    fold commits. The fold drops only the deltas it listed: the late one
    stays pending and every event counts once."""
    from epicsarchiver_spark.streaming.ingest import compact_cache

    cache = str(tmp_path / "cache")
    _cache_base(spark, cache, [f"PV{i}" for i in range(400)])
    upsert_latest(spark.createDataFrame([("PV0", 2.0, 2.0)], SCHEMA), cache, 1)
    late = spark.createDataFrame([("PV0", 3.0, 3.0), ("PV1", 3.0, 3.0)], SCHEMA)
    commit = fsio.commit

    def land_then_commit(*args, **kw):
        monkeypatch.setattr(fsio, "commit", commit)
        upsert_latest(late, cache, 2)  # the daemon's next batch
        return commit(*args, **kw)

    monkeypatch.setattr(fsio, "commit", land_then_commit)
    assert compact_cache(spark, cache) == 1
    assert [f for f in os.listdir(f"{cache}/_delta") if not f.startswith(".")] == ["2.parquet"]
    got = {r[0]: r[1:] for r in _cache_rows(spark, cache)}
    assert got["PV0"] == (3.0, 3.0, 3) and got["PV1"] == (3.0, 3.0, 2)
    assert got["PV2"] == (1.0, 1.0, 1) and len(got) == 400


def test_only_fsio_renames_or_stages():
    """Outside ``sources/fsio.py`` no engine source renames, opens a
    filesystem of its own, or names a ``.tmp``/``.bak`` staging path."""
    root = pathlib.Path(__file__).resolve().parents[1] / "epicsarchiver_spark"
    pattern = re.compile(r"""\.rename\(|getFileSystem\(|\.(tmp|bak)["']""")
    hits = [
        f"{path.relative_to(root)}:{n}: {line.strip()}"
        for path in sorted(root.rglob("*.py"))
        if path.name != "fsio.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert hits == []
