"""pvarch CLI equivalent: the operational commands drive the engine
end-to-end (status/list/search over a store; zarr export → import round
trip) — the reference's pvarch.py surface, minus daemon lifecycle."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

from epicsarchiver_spark import cli
from epicsarchiver_spark.sources.points_store import read_points, write_points


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("cli") / "store")
    rows = []
    for pv in ("CLI:a.VAL", "CLI:b.VAL"):
        rows += [(pv, float(t), float(t % 7)) for t in range(0, 3000, 30)]
    write_points(
        spark.createDataFrame(pd.DataFrame(rows, columns=["pvname", "time", "value"])),
        path,
        run="run_001",
        n_buckets=4,
    )
    return path


def test_status_and_list_and_search(spark, store, capsys):
    assert cli.main(["--store", store, "status", "-t", "1e12"]) == 0
    out = capsys.readouterr().out
    assert "CLI:a.VAL" in out and "CLI:b.VAL" in out

    assert cli.main(["--store", store, "list"]) == 0
    assert "run_001" in capsys.readouterr().out

    assert cli.main(["--store", store, "search", "CLI:a*"]) == 0
    out = capsys.readouterr().out
    assert "CLI:a.VAL" in out and "CLI:b.VAL" not in out


def test_zarr_export_import_roundtrip(spark, store, tmp_path, capsys):
    zip_path = str(tmp_path / "export_zarr.zip")
    assert cli.main(["--store", store, "save_zarr", zip_path]) == 0
    store2 = str(tmp_path / "store2")
    assert (
        cli.main(
            ["--store", store2, "import_zarr", zip_path, "--run", "r2", "--buckets", "4"]
        )
        == 0
    )
    a = read_points(spark, store).select("pvname", "time", "value").toPandas()
    b = read_points(spark, store2).select("pvname", "time", "value").toPandas()
    key = lambda df: sorted(map(tuple, df.to_numpy()))  # noqa: E731
    assert key(a) == key(b)


def test_sql_dump(spark, store, tmp_path, capsys):
    assert cli.main(["--store", store, "save", str(tmp_path)]) == 0
    out_dir = tmp_path / "points_dump.sql"
    lines = []
    for part in out_dir.glob("part-*"):
        lines += part.read_text().splitlines()
    assert len(lines) == 200
    assert all(line.startswith("INSERT INTO pvdat") for line in lines)


def test_compact_cli(spark, tmp_path, capsys):
    path = str(tmp_path / "cstore")
    for i in range(4):
        write_points(
            spark.createDataFrame(
                pd.DataFrame(
                    [("CLI:c.VAL", float(i), 1.0)], columns=["pvname", "time", "value"]
                )
            ),
            path,
            run="run_001",
            n_buckets=2,
        )
    assert cli.main(["--store", path, "compact"]) == 0
    out = capsys.readouterr().out
    assert "compacted 1 partition(s)" in out
    assert read_points(spark, path).count() == 4


def test_compact_cli_reports_the_summary_fold(spark, tmp_path, capsys):
    """`pvarch compact` folds the partial files each write landed under
    the store's `_summary` into one, and reports it."""
    path = str(tmp_path / "fstore")
    for i in range(3):
        write_points(
            spark.createDataFrame(
                pd.DataFrame([("CLI:f.VAL", float(i), 1.0)], columns=["pvname", "time", "value"])
            ),
            path,
            run="run_001",
            n_buckets=2,
        )
    assert cli.main(["--store", path, "compact"]) == 0
    assert "summary: 3 partial file(s) -> 1" in capsys.readouterr().out


def test_compact_cli_refuses_a_streamed_store(spark, tmp_path, capsys):
    """`pvarch compact` on a store the file sink of earlier releases
    streamed (a _spark_metadata manifest at its root) exits non-zero with
    the refusal instead of reporting 0 partitions compacted; the store is
    intact, and `pvarch list` still reads it as a store without runs."""
    from tests.conftest import file_sink_store

    path = file_sink_store(spark, tmp_path)
    capsys.readouterr()
    assert cli.main(["--store", path, "compact"]) == 1
    out, err = capsys.readouterr()
    assert "written by the streaming file sink of an earlier release" in err
    assert "compacted" not in out
    assert read_points(spark, path).count() == 3
    assert cli.main(["--store", path, "list"]) == 0
    assert "(store has no run partitions)" in capsys.readouterr().out


def test_archive_lands_in_the_current_run(spark, tmp_path, capsys):
    """`pvarch archive` appends to the runs dimension's open run, read
    from the config's runs_file when it starts: after `init` and `next`
    its points land in run_00002, and `list` shows that run; without a
    runs dimension it appends to run_00001."""
    src = tmp_path / "events_in"
    src.mkdir()
    pd.DataFrame(
        [("R:a", float(t), float(t)) for t in range(0, 400, 100)],
        columns=["pvname", "time", "value"],
    ).to_parquet(src / "b0.parquet", index=False)
    store, runs_file = str(tmp_path / "store"), str(tmp_path / "runs.parquet")
    cfg = tmp_path / "dep.toml"
    cfg.write_text(f'store = "{store}"\nruns_file = "{runs_file}"\n')
    init = ["init", "--catalog", str(tmp_path / "cat"), "--table", str(tmp_path / "alerts")]
    assert cli.main(["--config", str(cfg), *init]) == 0
    assert cli.main(["--config", str(cfg), "next"]) == 0
    argv = ["archive", str(src), "--checkpoint", str(tmp_path / "ck"), "--buckets", "4"]
    assert cli.main(["--config", str(cfg), *argv]) == 0
    assert {r.run for r in read_points(spark, store).select("run").distinct().collect()} == {
        "run_00002"
    }
    capsys.readouterr()
    assert cli.main(["--config", str(cfg), "list"]) == 0
    assert "run_00002" in capsys.readouterr().out

    bare = str(tmp_path / "bare")
    ck = str(tmp_path / "ck_bare")
    cfg.write_text(f'runs_file = "{tmp_path / "no_runs.parquet"}"\n')
    assert cli.main(["--config", str(cfg), "--store", bare, "archive", str(src), "--checkpoint", ck]) == 0
    assert {r.run for r in read_points(spark, bare).select("run").distinct().collect()} == {
        "run_00001"
    }


def test_compact_cli_folds_a_cache(spark, tmp_path, capsys):
    """`pvarch compact` on a latest-value cache path (told from a points
    store by its layout, with no flag) folds the cache's pending deltas
    into its base: `read_cache` answers the same, with no delta left."""
    from epicsarchiver_spark.streaming.ingest import read_cache, upsert_latest

    cache = str(tmp_path / "cache")
    schema = "pvname string, time double, value double"
    upsert_latest(spark.createDataFrame([(f"C:{i}", 1.0, 1.0) for i in range(400)], schema), cache)
    for t in (2.0, 3.0):
        upsert_latest(spark.createDataFrame([("C:0", t, t), ("C:9", t, -t)], schema), cache)
    assert sorted(f for f in os.listdir(f"{cache}/_delta") if not f.startswith(".")) == [
        "1.parquet",
        "2.parquet",
    ]
    before = sorted(map(tuple, read_cache(spark, cache).collect()))
    assert ("C:9", -3.0, 3.0, 3) in before
    capsys.readouterr()
    assert cli.main(["--store", cache, "compact"]) == 0
    assert "folded 2 cache delta file(s)" in capsys.readouterr().out
    assert not os.path.exists(f"{cache}/_delta")
    assert sorted(map(tuple, read_cache(spark, cache).collect())) == before


def test_next_rotates_runs(spark, tmp_path, capsys):
    """pvarch next (ref pvarch.py:204-216): first call seeds the runs
    dimension; later calls close the open run and increment the name."""
    runs_file = str(tmp_path / "runs.parquet")
    assert cli.main(["next", "--runs-file", runs_file]) == 0
    assert "run_00001" in capsys.readouterr().out
    assert cli.main(["next", "--runs-file", runs_file]) == 0
    assert "run_00002" in capsys.readouterr().out

    runs = spark.read.parquet(runs_file).orderBy("db").collect()
    assert [r.db for r in runs] == ["run_00001", "run_00002"]
    assert runs[0].stop_time < 2147483647.0  # closed at rotation
    assert runs[1].stop_time == 2147483647.0  # open current run
    assert runs[0].stop_time == runs[1].start_time


def test_next_survives_padding_overflow(spark, tmp_path, capsys):
    """Once the counter outgrows its zero-padding, rotation must keep
    advancing numerically (string max would pick run_99999 over
    run_100000 forever and mint duplicate names — ADVICE r3)."""
    from epicsarchiver_spark.operators.control import MAX_EPOCH

    runs_file = str(tmp_path / "runs.parquet")
    spark.createDataFrame(
        [
            ("run_99999", 1000.0, 2000.0),
            ("run_100000", 2000.0, MAX_EPOCH),  # open current run
        ],
        "db string, start_time double, stop_time double",
    ).write.parquet(runs_file)
    assert cli.main(["next", "--runs-file", runs_file]) == 0
    assert "run_100001" in capsys.readouterr().out
    names = sorted(r.db for r in spark.read.parquet(runs_file).collect())
    assert names == ["run_100000", "run_100001", "run_99999"]
    assert len(set(names)) == 3  # no duplicate run names


def test_check_liveness_exit_codes(spark, store, capsys):
    """pvarch check (doc/setup.rst:40-42): the store's points are at
    epoch 0..3000, ancient vs now → DEAD/1; with a huge cadence → ok/0."""
    assert cli.main(["--store", store, "check"]) == 1
    assert "DEAD" in capsys.readouterr().out
    assert cli.main(["--store", store, "check", "-c", "1e12"]) == 0
    assert "ok" in capsys.readouterr().out


def test_position_save_restore_roundtrip(spark, store, tmp_path, capsys):
    """Save a named position, restore by name: values as of the saved ts
    (WebInstruments.py:79-84 save / 255-259 restore)."""
    pos_file = str(tmp_path / "positions.parquet")
    assert (
        cli.main(["save_position", "beamline", "park", "--ts", "1500.5",
                  "--positions-file", pos_file]) == 0
    )
    # re-save another name; both persist, latest save of a name wins
    assert (
        cli.main(["save_position", "beamline", "run", "--ts", "2990.0",
                  "--positions-file", pos_file]) == 0
    )
    assert (
        cli.main(["--store", store, "restore_position", "beamline", "park",
                  "CLI:a.VAL", "CLI:b.VAL", "--positions-file", pos_file]) == 0
    )
    out = capsys.readouterr().out
    # as of t=1500.5 the last point per series is t=1500 (grid step 30)
    assert out.count("@ 1500.000") == 2


def test_dim_swap_crash_recovery(spark, tmp_path, capsys):
    """A runs dimension parked at .bak (crash between the two renames)
    must be restored on the next read — `next` keeps incrementing from
    the old state instead of re-seeding run_00001."""
    import shutil

    runs_file = str(tmp_path / "runs.parquet")
    assert cli.main(["next", "--runs-file", runs_file]) == 0
    assert cli.main(["next", "--runs-file", runs_file]) == 0
    capsys.readouterr()
    # simulate the crash window: live renamed to .bak, tmp never landed
    shutil.move(runs_file, runs_file + ".bak")
    assert cli.main(["next", "--runs-file", runs_file]) == 0
    assert "run_00003" in capsys.readouterr().out
    runs = {r.db for r in spark.read.parquet(runs_file).collect()}
    assert runs == {"run_00001", "run_00002", "run_00003"}


def _bytes_under(root) -> dict:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), root)] = fh.read()
    return out


def test_next_refuses_an_unreadable_runs_dimension(spark, tmp_path):
    """A runs dimension that exists but cannot be read is an error, not
    "no runs": `next` fails instead of replacing it with a lone
    run_00001, and leaves it byte-identical."""
    runs_file = str(tmp_path / "runs.parquet")
    assert cli.main(["next", "--runs-file", runs_file]) == 0
    for name in os.listdir(runs_file):
        if name.endswith(".parquet"):
            with open(os.path.join(runs_file, name), "wb") as fh:
                fh.write(b"not parquet")
    before = _bytes_under(tmp_path)
    with pytest.raises(Exception):
        cli.main(["next", "--runs-file", runs_file])
    assert _bytes_under(tmp_path) == before


def test_alert_rules_on_a_uri_table_keep_every_rule(spark, tmp_path, capsys):
    """A rules table named by a file: URI (as a non-local store would
    be) is found by an edit and by the sweep: the second add keeps the
    first rule."""
    table = (tmp_path / "alerts").as_uri()
    for pv in ("URI:a", "URI:b"):
        assert cli.main(["alert_rules", "--table", table, "--add", pv, "--trippoint", "1",
                         "--active", "yes"]) == 0
    assert "2 rule(s)" in capsys.readouterr().out
    import argparse

    rules, n = cli._load_alert_rules(spark, argparse.Namespace(table=table, rules=None))
    assert n == 2 and {r.pvname for r in rules.collect()} == {"URI:a", "URI:b"}


def test_health_report(spark, store, capsys):
    # points span time 0..2970 with 30 s cadence; heartbeat 60 → high
    # uptime inside [0, 3000]; deterministic --now pins the window
    assert cli.main([
        "--store", store, "health",
        "--now", "3000", "-w", "3000", "-b", "60", "-n", "10",
    ]) == 0
    out = capsys.readouterr().out
    assert "uptime" in out and "CLI:a.VAL" in out and "CLI:b.VAL" in out
    # uptime column parses as a fraction in (0, 1]
    for line in out.splitlines()[1:]:
        up = float(line.split()[1])
        assert 0.0 < up <= 1.0


def test_build_dedup_artifacts_cli(spark, tmp_path, capsys):
    """The once-per-release artifact build: components + winnow fps +
    minhash signatures land as parquet, and the read-back sharding over
    the written components equals the inline lane."""
    import pandas as pd

    from epicsarchiver_spark.operators import curation, dedup

    docs_path = str(tmp_path / "docs.parquet")
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (i, base if i % 3 == 0 else f"{base} tail {i} extra words here", "en", "s")
        for i in range(24)
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"])
    pdf["n_chars"] = pdf["text"].str.len()
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(docs_path)

    out = str(tmp_path / "artifacts")
    assert cli.main(["build_dedup_artifacts", docs_path, out]) == 0
    printed = capsys.readouterr().out
    for name in ("components", "winnow_fp", "minhash_sig"):
        assert name in printed
        assert spark.read.parquet(f"{out}/{name}").count() > 0

    docs = spark.read.parquet(docs_path)
    via_artifact = {
        (r.shard, r.n_docs, r.n_groups)
        for r in curation.shard_by_component(
            docs, f"{out}/components", n_shards=4
        ).collect()
    }
    inline = {
        (r.shard, r.n_docs, r.n_groups)
        for r in curation.shard_by_component(
            docs,
            dedup.connected_components(
                dedup.jaccard_pairs_blocked(docs, shingle_k=2, threshold=0.05)
            ),
            n_shards=4,
        ).collect()
    }
    assert via_artifact == inline


def test_bucketize_cli(spark, store, tmp_path, capsys):
    from epicsarchiver_spark.plans import explain_str

    table = "pvarch_test_cli_bucketized"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        assert (
            cli.main(
                [
                    "--store", store, "bucketize", table,
                    "--path", str(tmp_path / "bt"), "--buckets", "4",
                ]
            )
            == 0
        )
        assert "bucketed by pvname" in capsys.readouterr().out
        t = spark.table(table)
        assert t.count() == 200
        plan = explain_str(
            t.groupBy("pvname").agg(__import__("pyspark").sql.functions.count("*"))
        )
        assert "Exchange" not in plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_archive_and_cache_daemon_cli(spark, tmp_path, capsys):
    """pvarch start analogs: bounded availableNow drains of the archiver
    pipeline and the latest-value cache from a parquet events dir."""
    import pandas as pd

    src = tmp_path / "events_in"
    src.mkdir()
    rows = []
    for pv in ("D:a", "D:b"):
        rows += [(pv, float(t), float(t)) for t in range(0, 400, 100)]
    pd.DataFrame(rows, columns=["pvname", "time", "value"]).to_parquet(
        src / "b0.parquet", index=False
    )

    store = str(tmp_path / "store")
    assert (
        cli.main(
            [
                "--store", store, "archive", str(src),
                "--checkpoint", str(tmp_path / "ck_a"),
                "--deadtime", "50", "--buckets", "4",
            ]
        )
        == 0
    )
    out = capsys.readouterr().out
    assert "store now holds" in out
    assert read_points(spark, store).count() > 0

    cache = str(tmp_path / "cache")
    assert (
        cli.main(
            [
                "cache_daemon", str(src),
                "--checkpoint", str(tmp_path / "ck_c"),
                "--cache", cache,
            ]
        )
        == 0
    )
    assert "cache holds 2 series" in capsys.readouterr().out
    got = {
        (r.pvname, r.time, r.value)
        for r in spark.read.parquet(cache).drop("bucket").collect()
    }
    assert got == {("D:a", 300.0, 300.0), ("D:b", 300.0, 300.0)}


def _offset_log_conf(checkpoint: str) -> dict:
    """The SQL conf a stream pinned into its checkpoint at batch 0."""
    import json

    with open(os.path.join(checkpoint, "offsets", "0")) as fh:
        return json.loads(fh.read().splitlines()[1])["conf"]


def test_archive_and_land_streams_size_state_partitions(spark, tmp_path, monkeypatch, capsys):
    """Bounded `archive` and `land` drains build their stateful streams
    on a sibling session sized from the input's bytes
    (ingest_state_partitions: the floor of 4 for a tiny input), and that
    count is what the checkpoint pins — not the caller session's
    core-derived default. (A --follow daemon keeps the session's count:
    test_daemon_stop_restart_lifecycle.)"""
    import pandas as pd

    monkeypatch.delenv("SPARK_GRAFT_INGEST_STATE_PARTITIONS", raising=False)
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    assert before != "4"

    src = tmp_path / "events_in"
    src.mkdir()
    pd.DataFrame(
        [("S:a", float(t), float(t)) for t in range(0, 400, 100)],
        columns=["pvname", "time", "value"],
    ).to_parquet(src / "b0.parquet", index=False)
    ck_a = str(tmp_path / "ck_a")
    argv = ["--store", str(tmp_path / "store"), "archive", str(src), "--checkpoint", ck_a]
    assert cli.main([*argv, "--buckets", "4"]) == 0
    assert _offset_log_conf(ck_a)[key] == "4"

    docs = tmp_path / "docs_in"
    docs.mkdir()
    pd.DataFrame(
        [(1, "the quick brown fox jumps over a lazy dog " * 8, "web")],
        columns=["doc_id", "text", "source"],
    ).to_parquet(docs / "b0.parquet", index=False)
    ck_l = str(tmp_path / "ck_land")
    assert cli.main(["land", str(docs), "--out", str(tmp_path / "out"), "--checkpoint", ck_l]) == 0
    assert _offset_log_conf(ck_l)[key] == "4"
    assert spark.conf.get(key) == before
    capsys.readouterr()


def test_daemon_stop_restart_lifecycle(spark, tmp_path, capsys):
    """pvarch arch stop/restart analog (ref pvarch.py:196-202): a live
    --follow archive daemon writes its pidfile, refuses a duplicate
    start, stops via the checkpoint-dir control plane (`pvarch stop`),
    and `pvarch restart` bounces it in place with checkpoint resume —
    pre-bounce events are not re-ingested, post-bounce events land."""
    import threading
    import time as _time

    import pandas as pd

    from epicsarchiver_spark import daemon

    src = tmp_path / "ev"
    src.mkdir()

    def put(name, t0):
        rows = [("L:a", float(t), float(t)) for t in range(t0, t0 + 300, 100)]
        pd.DataFrame(rows, columns=["pvname", "time", "value"]).to_parquet(
            src / f"{name}.parquet", index=False
        )

    def n_points(store):
        try:
            return read_points(spark, store).count()
        except Exception:
            return 0

    put("b0", 0)
    store, ck = str(tmp_path / "store"), str(tmp_path / "ck")
    rc = {}
    common = ["--checkpoint", ck, "--deadtime", "1", "--buckets", "2",
              "--trigger-s", "1"]

    def run_daemon():
        rc["first"] = cli.main(
            ["--store", store, "archive", str(src), *common, "--follow"]
        )

    th = threading.Thread(target=run_daemon, daemon=True)
    th.start()
    deadline = _time.time() + 180
    while _time.time() < deadline and daemon.read_pid(ck, "archive") is None:
        _time.sleep(0.2)
    assert daemon.read_pid(ck, "archive") == os.getpid()

    # duplicate start refused while the pidfile is live
    assert (
        cli.main(["--store", store, "archive", str(src), *common, "--follow"]) == 1
    )
    assert "try 'restart'" in capsys.readouterr().err

    while _time.time() < deadline and n_points(store) < 3:
        _time.sleep(0.5)
    assert n_points(store) >= 3

    # graceful stop through the sentinel; the daemon thread exits 0 and
    # clears both control files
    assert cli.main(["stop", "archive", "--checkpoint", ck]) == 0
    th.join(90)
    assert not th.is_alive() and rc["first"] == 0
    assert daemon.read_pid(ck, "archive") is None
    assert not daemon.stop_requested(ck, "archive")
    # a daemon's input is not what is there at start: its state
    # partitions keep the session's count, not one sized from b0
    key = "spark.sql.shuffle.partitions"
    assert _offset_log_conf(ck)[key] == spark.conf.get(key)
    n1 = n_points(store)

    # restart = stop (no-op here) + start with the SAME checkpoint;
    # only the new batch lands — the old one is in the checkpoint log
    put("b1", 100000)

    def run_restart():
        rc["second"] = cli.main(
            ["--store", store, "restart", "archive", str(src), *common]
        )

    th2 = threading.Thread(target=run_restart, daemon=True)
    th2.start()
    while _time.time() < deadline and n_points(store) < n1 + 3:
        _time.sleep(0.5)
    assert cli.main(["stop", "archive", "--checkpoint", ck]) == 0
    th2.join(90)
    assert not th2.is_alive() and rc["second"] == 0

    pdf = read_points(spark, store).select("pvname", "time").toPandas()
    assert len(pdf) == n1 + 3  # exactly-once across the bounce
    assert not pdf.duplicated().any()


def test_keyphrases_cli(spark, tmp_path, capsys):
    import pandas as pd

    docs = tmp_path / "kp_docs.parquet"
    pd.DataFrame(
        [(1, "linear regression of the data"), (2, "linear regression and data")],
        columns=["doc_id", "text"],
    ).to_parquet(docs, index=False)
    assert cli.main(["keyphrases", str(docs), "-k", "5"]) == 0
    out = capsys.readouterr().out
    assert "linear regression" in out and "keyphrase(s)" in out


def test_bm25_watch_reports_only_new_hits(spark, tmp_path, capsys):
    """Standing-query sweep: pass 1 reports everything (cold state),
    pass 2 with no corpus change reports nothing, pass 3 after a new
    matching doc lands reports EXACTLY that doc — the per-period delta
    a subscriber would be mailed."""
    import pandas as pd

    docs = tmp_path / "docs"
    docs.mkdir()
    pd.DataFrame(
        [(1, "spark shuffle join"), (2, "totally unrelated words")],
        columns=["doc_id", "text"],
    ).to_parquet(docs / "b0.parquet", index=False)
    subs = tmp_path / "subs.csv"
    subs.write_text("query,terms\nengine,spark join\nghost,quantum\n")
    state = str(tmp_path / "watch_state")

    # pass 1: cold state → the one matching doc is a new hit (exit 2)
    assert cli.main(["bm25_watch", str(docs), str(subs), "--state", state]) == 2
    out = capsys.readouterr().out
    assert "engine: NEW hit doc 1" in out and "ghost" not in out

    # pass 2: same corpus → no deltas (exit 0)
    assert cli.main(["bm25_watch", str(docs), str(subs), "--state", state]) == 0
    assert "0 new hit(s) across 2 subscription(s)" in capsys.readouterr().out

    # pass 3: a new matching doc lands → only IT is reported
    pd.DataFrame([(3, "spark spark join")], columns=["doc_id", "text"]).to_parquet(
        docs / "b1.parquet", index=False
    )
    assert cli.main(["bm25_watch", str(docs), str(subs), "--state", state]) == 2
    out = capsys.readouterr().out
    assert "engine: NEW hit doc 3" in out and "NEW hit doc 1" not in out

    # --follow with --max-loops bounds the daemon loop (alerts cadence)
    assert (
        cli.main(
            ["bm25_watch", str(docs), str(subs), "--state", state,
             "--follow", "--max-loops", "2", "--period-s", "0.1"]
        )
        == 0
    )


def test_update_dedup_artifacts_matches_rebuild(spark, tmp_path, capsys):
    """The nightly shape end-to-end: build artifacts over the old
    corpus, land a batch, update incrementally — the updated components
    must equal a from-scratch rebuild over the full corpus."""
    import pandas as pd

    from epicsarchiver_spark.operators.dedup import (
        connected_components_star,
        jaccard_pairs_blocked,
    )

    texts = {
        1: "alpha beta gamma delta epsilon zeta",
        2: "alpha beta gamma delta epsilon eta",   # near-dup of 1
        3: "one two three four five six seven",
        4: "totally different words entirely here now",
    }
    new_texts = {
        5: "one two three four five six eight",    # near-dup of 3
        6: "alpha beta gamma delta epsilon theta", # joins {1,2}
    }
    mk = lambda d: pd.DataFrame(  # noqa: E731
        [(i, t, "en") for i, t in d.items()], columns=["doc_id", "text", "lang"]
    )
    old_p = str(tmp_path / "old.parquet")
    full_p = str(tmp_path / "full.parquet")
    new_p = str(tmp_path / "newids.parquet")
    mk(texts).to_parquet(old_p, index=False)
    mk({**texts, **new_texts}).to_parquet(full_p, index=False)
    pd.DataFrame({"doc_id": list(new_texts)}).to_parquet(new_p, index=False)

    art = str(tmp_path / "art")
    assert cli.main(["build_dedup_artifacts", old_p, art, "--shingle-k", "2",
                     "--threshold", "0.3"]) == 0
    # update refuses without an artifact
    assert cli.main(["update_dedup_artifacts", full_p, str(tmp_path / "nope"),
                     "--new-ids", new_p]) == 1
    assert cli.main(["update_dedup_artifacts", full_p, art, "--new-ids", new_p,
                     "--shingle-k", "2", "--threshold", "0.3"]) == 0
    got = {
        (r.id, r.component)
        for r in spark.read.parquet(f"{art}/components").collect()
    }
    docs = spark.read.parquet(full_p)
    want = {
        (r.id, r.component)
        for r in connected_components_star(
            jaccard_pairs_blocked(docs, shingle_k=2, threshold=0.3)
        ).collect()
    }
    assert got == want and {5, 6} <= {i for i, _ in got}


def test_stop_with_no_daemon_is_cron_safe(tmp_path, capsys):
    """`pvarch stop` when nothing runs exits 0 and leaves NO stale
    sentinel behind (a leftover sentinel would kill the next start
    immediately) — the cron/check script shape (ref cron/check_cache)."""
    from epicsarchiver_spark import daemon

    ck = str(tmp_path / "ck")
    assert cli.main(["stop", "archive", "--checkpoint", ck]) == 0
    assert not daemon.stop_requested(ck, "archive")


def test_foreign_host_pidfile_is_trusted_never_signalled(tmp_path, monkeypatch):
    """A pidfile written by ANOTHER node on shared checkpoint storage
    (r10 ADVICE): its pid means nothing in the local process table, so
    already_running trusts it as-is (no cleanup even when a matching
    local pid is dead, no SIGTERM escalation in stop_daemon — an
    unrelated local process could share the number); a stale LOCAL
    pidfile is still cleaned up."""
    import os

    from epicsarchiver_spark import daemon

    ck = str(tmp_path / "ck")
    os.makedirs(ck)

    # a guaranteed-dead local pid
    dead = os.fork()
    if dead == 0:
        os._exit(0)
    os.waitpid(dead, 0)

    # foreign host, dead-locally pid: trusted as running, file kept
    with open(daemon.pidfile(ck, "archive"), "w") as fh:
        fh.write(f"{dead} some-other-node\n")
    assert daemon.already_running(ck, "archive") == dead
    assert os.path.exists(daemon.pidfile(ck, "archive"))

    # stop_daemon must NOT kill local pid `dead`'s number; it waits for
    # the handshake, times out, and reports failure
    killed = []
    monkeypatch.setattr(
        os, "kill", lambda pid, sig: killed.append((pid, sig)) if sig else None
    )
    assert daemon.stop_daemon(ck, "archive", timeout=0.8) is False
    assert killed == []
    monkeypatch.undo()
    daemon.clear(ck, "archive")

    # same dead pid recorded by THIS host: stale, cleaned up, start ok
    with open(daemon.pidfile(ck, "archive"), "w") as fh:
        fh.write(f"{dead} {__import__('socket').gethostname()}\n")
    assert daemon.already_running(ck, "archive") is None
    assert not os.path.exists(daemon.pidfile(ck, "archive"))


def test_alerts_cli_fires_and_renders(spark, store, tmp_path, capsys):
    """Rule sweep over the store's latest values: firing rules render
    the mail template (incl. a %PV()% cache lookup) and flip the exit
    code to 2; a quiet rule set exits 0."""
    rules = tmp_path / "rules.csv"
    # store series end at t=2970 with value 2970 % 7 == 2.0
    rules.write_text(
        "pvname,compare,trippoint\nCLI:a.VAL,gt,1\nCLI:b.VAL,gt,99\n"
    )
    tpl = tmp_path / "mail.txt"
    tpl.write_text("PV %PV% hit %VALUE% (%COMP% %TRIP%); b is %PV(CLI:b.VAL)%")
    assert (
        cli.main(["--store", store, "alerts", str(rules), "--template", str(tpl)])
        == 2
    )
    out = capsys.readouterr().out
    assert "PV CLI:a.VAL hit 2.0 (gt 1); b is 2.0" in out
    assert "1 alert(s) fired over 2 rule(s)" in out

    quiet = tmp_path / "quiet.csv"
    quiet.write_text("pvname,compare,trippoint\nCLI:a.VAL,gt,99\n")
    assert cli.main(["--store", store, "alerts", str(quiet)]) == 0
    assert "0 alert(s)" in capsys.readouterr().out


def test_corpus_cli(spark, tmp_path, capsys):
    """The corpus release loop from the command line: dashboards print,
    write actions land parquet, leakage gate flips the exit code."""
    import pandas as pd

    words = (
        "the quick brown fox jumps over a lazy dog while morning light "
        "settles on the quiet river and small boats drift past old stone "
        "bridges carrying baskets of fresh bread toward the market square "
        "where traders call out prices and children watch the painter mix "
        "his colors beside the fountain"
    )
    rows = []
    for i in range(30):
        text = rows[i - 1][1] if (i % 6 == 0 and i > 0) else f"{words} verse {i}."
        rows.append((i, text, "en", "web" if i % 2 else "code"))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"])
    pdf["n_chars"] = pdf["text"].str.len()
    docs_path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(docs_path)

    assert cli.main(["corpus", "funnel", docs_path]) == 0
    out = capsys.readouterr().out
    assert "stage=" in out and "n_docs=" in out

    surv = str(tmp_path / "survivors")
    assert cli.main(["corpus", "survivors", docs_path, "--out", surv]) == 0
    assert "survivors:" in capsys.readouterr().out
    texts = [r.text for r in spark.read.parquet(surv).collect()]
    assert len(texts) == len(set(texts))  # exact dups removed

    # leakage gate exit code (0 or 2, never a crash), message printed
    rc = cli.main(["corpus", "leakage", docs_path])
    assert rc in (0, 2)
    assert "leaking split pair(s)" in capsys.readouterr().out

    # splits / packing write actions through the same path
    spl = str(tmp_path / "splits")
    assert cli.main(["corpus", "splits", docs_path, "--out", spl]) == 0
    got = spark.read.parquet(spl)
    assert set(got.columns) == {"doc_id", "root", "split"}
    pk = str(tmp_path / "packs")
    assert cli.main(["corpus", "packing", docs_path, "--out", pk, "--budget", "64"]) == 0
    packs = spark.read.parquet(pk)
    assert {"doc_id", "chunk_id", "n_tokens", "seq_id", "seq_offset"} <= set(packs.columns)
    assert packs.count() >= 30  # every doc contributes >=1 chunk

    # write action without --out is a usage error
    assert cli.main(["corpus", "shards", docs_path]) == 1


def test_land_cli(spark, tmp_path, capsys):
    """Streaming curated intake from the command line: the availableNow
    drain lands gate survivors partitioned by source, dropping in-stream
    fingerprint duplicates and docs already in the standing corpus."""
    import pandas as pd

    words = (
        "the quick brown fox jumps over a lazy dog while morning light "
        "settles on the quiet river and small boats drift past old stone "
        "bridges carrying baskets of fresh bread toward the market square "
        "where traders call out prices and children watch the painter mix "
        "his colors beside the fountain"
    )
    rows = [(i, f"{words} verse {i}.", "web" if i % 2 else "code") for i in range(12)]
    rows.append((100, rows[3][1], "web"))  # in-stream duplicate of doc 3
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    src = tmp_path / "docs_in"
    src.mkdir()
    pdf.to_parquet(src / "b0.parquet", index=False)

    # standing corpus already holds doc 5's text
    corpus = str(tmp_path / "corpus")
    spark.createDataFrame(pdf[pdf.doc_id == 5]).write.parquet(corpus)

    out = str(tmp_path / "landed")
    assert (
        cli.main(
            [
                "land", str(src),
                "--out", out,
                "--checkpoint", str(tmp_path / "ck_land"),
                "--corpus", corpus,
            ]
        )
        == 0
    )
    assert "landed 11 curated docs" in capsys.readouterr().out
    landed = spark.read.parquet(out)
    ids = {r.doc_id for r in landed.select("doc_id").collect()}
    assert ids == set(range(12)) - {5}  # dup-100 and corpus-member 5 gone
    assert set(landed.columns) >= {"doc_id", "text", "source", "fp", "n_words"}


def test_land_cli_guards(spark, tmp_path, capsys):
    """--follow without --watermark-col is a usage error (unbounded
    dedup state); a drain where every doc fails the gate reports
    'landed 0' instead of crashing on the schemaless sink."""
    import pandas as pd

    src = tmp_path / "docs_gated"
    src.mkdir()
    # gibberish docs that fail the gopher gate (too short, no stopwords)
    pd.DataFrame(
        [(i, "zz qq", "web") for i in range(4)],
        columns=["doc_id", "text", "source"],
    ).to_parquet(src / "b0.parquet", index=False)

    out = str(tmp_path / "landed2")
    ck = str(tmp_path / "ck_land2")
    assert cli.main(["land", str(src), "--out", out, "--checkpoint", ck, "--follow"]) == 1
    assert "requires --watermark-col" in capsys.readouterr().err

    assert cli.main(["land", str(src), "--out", out, "--checkpoint", ck]) == 0
    assert "landed 0 curated docs" in capsys.readouterr().out


def test_import_ascii_cli_roundtrip(spark, store, tmp_path, capsys):
    """S9 text file → import_ascii → store holds the typed points."""
    p = tmp_path / "ascii"
    p.mkdir()
    (p / "part-0.txt").write_text(
        "# header comment\n"
        "1000.500  1.25  20010909 014640\n"
        "1001.000  2.50  20010909 014641\n"
    )
    store2 = str(tmp_path / "store_ascii")
    assert (
        cli.main(
            ["--store", store2, "import_ascii", str(p), "--pv", "CLI:x.VAL"]
        )
        == 0
    )
    assert "imported 2 points" in capsys.readouterr().out
    from epicsarchiver_spark.sources.points_store import read_points

    rows = {r.time: r.value for r in read_points(spark, store2).collect()}
    assert rows == {1000.5: 1.25, 1001.0: 2.5}


def test_import_ascii_counts_from_one_bucket(spark, store, tmp_path, capsys, monkeypatch):
    """import_ascii's landed-row count reads the PV's bucket only (a
    bucket PartitionFilter from the store's record) and counts the same
    rows as before: those of the PV in the imported run."""
    from epicsarchiver_spark.plans import scan_partition_filters
    from epicsarchiver_spark.sources import points_store

    seen = []
    real = points_store.series_of

    def spy(*a, **kw):
        seen.append(real(*a, **kw))
        return seen[-1]

    monkeypatch.setattr(points_store, "series_of", spy)
    p = tmp_path / "ascii"
    p.mkdir()
    (p / "part-0.txt").write_text("1000.500  1.25  20010909 014640\n1001.000  2.50  20010909 014641\n")
    store2 = str(tmp_path / "store_ascii")
    for pv, run in (("CLI:x.VAL", "run_001"), ("CLI:y.VAL", "run_001"), ("CLI:x.VAL", "run_002")):
        assert cli.main(["--store", store2, "import_ascii", str(p), "--pv", pv, "--run", run]) == 0
        assert "imported 2 points" in capsys.readouterr().out
    assert len(seen) == 3
    assert all(any("bucket" in f for f in scan_partition_filters(df)) for df in seen)


def test_bpe_cli_prints_merges(spark, tmp_path, capsys):
    docs = spark.createDataFrame(
        [(1, "low low lower low"), (2, "low lowest low")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "docs.parquet")
    docs.write.parquet(path)
    assert cli.main(["bpe", path, "--merges", "3"]) == 0
    lines = [l for l in capsys.readouterr().out.splitlines() if l.strip()]
    assert len(lines) == 3
    # 'l o' must be the first merge on this corpus ('lo' appears in every word)
    assert lines[0] == "l o"


def test_alert_rules_crud_cli(spark, tmp_path, capsys):
    """VERDICT r7 #4 — alert-rule CRUD verbs (ref webapp.py:163-227):
    add two rules, edit one field of one (others kept), drop the other,
    list the survivor; last-write-wins on the (pvname, compare) key."""
    table = str(tmp_path / "alert_rules")
    base = ["alert_rules", "--table", table]
    assert (
        cli.main(
            base
            + ["--add", "CLI:a.VAL", "--compare", "gt", "--trippoint", "50",
               "--name", "hi-a", "--mailto", "ops@example.com"]
        )
        == 0
    )
    assert cli.main(
        base + ["--add", "CLI:b.VAL", "--compare", "lt", "--trippoint", "5"]
    ) == 0
    assert "2 rule(s)" in capsys.readouterr().out
    # single-field patch: trippoint changes, name/mailto survive
    assert cli.main(
        base + ["--edit", "CLI:a.VAL", "--compare", "gt", "--trippoint", "99"]
    ) == 0
    assert cli.main(base + ["--drop", "CLI:b.VAL", "--compare", "lt"]) == 0
    capsys.readouterr()
    assert cli.main(base) == 0
    out = capsys.readouterr().out
    assert "1 rule(s)" in out
    assert "CLI:a.VAL gt 99.0 name=hi-a" in out
    rows = spark.read.parquet(table).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.pvname, r.compare, r.trippoint, r.name, r.mailto, r.timeout,
            r.active, r.status) == (
        "CLI:a.VAL", "gt", 99.0, "hi-a", "ops@example.com", 30.0, "yes", "ok")


def test_request_queue_cli_drain(spark, tmp_path, capsys):
    """VERDICT r7 #5 — requests-queue verbs end-to-end (ref cache.py:591
    drop_pv, :705-752 process_requests): queue add + suspend + drop,
    latest action per PV wins at drain time, queue cleared after."""
    import os

    import pandas as pd

    queue = str(tmp_path / "requests")
    catalog = str(tmp_path / "pv_catalog")
    spark.createDataFrame(
        pd.DataFrame(
            {"pvname": ["CLI:a.VAL", "CLI:b.VAL", "CLI:c.VAL"],
             "active": ["yes", "yes", "yes"]}
        )
    ).write.parquet(catalog)

    assert cli.main(["suspend_pv", "CLI:a.VAL", "--queue", queue]) == 0
    assert cli.main(["drop_pv", "CLI:b.VAL", "--queue", queue]) == 0
    # latest action wins: the later add supersedes the suspend for a
    assert cli.main(
        ["request", "CLI:a.VAL", "--action", "add", "--queue", queue]
    ) == 0
    assert cli.main(["request", "CLI:d.VAL", "--action", "add", "--queue", queue]) == 0
    assert cli.main(
        ["process_requests", "--queue", queue, "--catalog", catalog]
    ) == 0
    out = capsys.readouterr().out
    assert "processed 4 request(s)" in out
    got = {(r.pvname, r.active) for r in spark.read.parquet(catalog).collect()}
    assert got == {
        ("CLI:a.VAL", "yes"),   # suspend superseded by the later add
        ("CLI:c.VAL", "yes"),   # untouched
        ("CLI:d.VAL", "yes"),   # added
    }  # CLI:b.VAL dropped
    import glob

    assert glob.glob(f"{queue}/*.parquet") == []  # drained files deleted
    assert cli.main(["process_requests", "--queue", queue, "--catalog", catalog]) == 0
    assert "no requests" in capsys.readouterr().out
    # a request landing after a drain is picked up by the next pass
    assert cli.main(["drop_pv", "CLI:d.VAL", "--queue", queue]) == 0
    assert cli.main(["process_requests", "--queue", queue, "--catalog", catalog]) == 0
    got2 = {(r.pvname, r.active) for r in spark.read.parquet(catalog).collect()}
    assert got2 == {("CLI:a.VAL", "yes"), ("CLI:c.VAL", "yes")}


def test_bm25_cli_search(spark, tmp_path, capsys):
    docs = spark.createDataFrame(
        [(1, "spark shuffle exchange plan"), (2, "window sort merge join"),
         (3, "spark spark spark broadcast")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "docs_bm25.parquet")
    docs.write.parquet(path)
    assert cli.main(["bm25", path, "spark", "join", "-k", "2"]) == 0
    out = capsys.readouterr().out
    lines = [l for l in out.splitlines() if l.lstrip().startswith(("1 ", "2 "))]
    # the rare term ('join', df=1) out-idfs the common one: doc 2 first,
    # then the spark-heaviest doc
    assert "doc 2" in lines[0] and "doc 3" in lines[1]
    assert "2 hit(s)" in out
    assert cli.main(["bm25", path, "zzzzz"]) == 1  # no hits → nonzero exit


def test_bm25_cli_hybrid_fusion(spark, tmp_path, capsys):
    """--fuse-embeddings RRF-fuses the BM25 lane with the cosine lane:
    a doc ranked by BOTH lanes must out-fuse single-lane docs with the
    same per-lane ranks."""
    docs = spark.createDataFrame(
        [(0, "anchor text"), (1, "spark shuffle exchange plan"),
         (2, "window sort merge join"), (3, "spark spark spark broadcast")],
        "doc_id long, text string",
    )
    dpath = str(tmp_path / "docs_hyb.parquet")
    docs.write.parquet(dpath)
    # vec 2 is most similar to the anchor (vec 0) → doc 2 tops BOTH the
    # lexical lane ('join' out-idfs 'spark') and the semantic lane
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.9, 0.1]), (3, [0.1, 0.9])],
        "vec_id long, embedding array<double>",
    )
    epath = str(tmp_path / "emb_hyb.parquet")
    emb.write.parquet(epath)
    assert cli.main([
        "bm25", dpath, "spark", "join",
        "--fuse-embeddings", epath, "--query-vec-id", "0", "-k", "3",
    ]) == 0
    out = capsys.readouterr().out
    assert "fused hit(s)" in out
    first = next(l for l in out.splitlines() if l.lstrip().startswith("1 "))
    assert "doc 2" in first and "(2 lane(s))" in first
    # unknown anchor id fails loudly
    assert cli.main([
        "bm25", dpath, "spark", "--fuse-embeddings", epath,
        "--query-vec-id", "99",
    ]) == 1


def test_bm25_cli_index_lane(spark, tmp_path, capsys):
    """--build-index writes the postings basis; --index answers the same
    query from it with no documents argument."""
    docs = spark.createDataFrame(
        [(1, "spark shuffle exchange plan"), (2, "window sort merge join"),
         (3, "spark spark spark broadcast")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "docs_bm25ix.parquet")
    docs.write.parquet(path)
    ix = str(tmp_path / "bm25_index")
    # genuinely inline (no index flags at all)
    assert cli.main(["bm25", path, "spark"]) == 0
    inline_out = capsys.readouterr().out
    # build, then query the persisted index with no documents argument
    assert cli.main(["bm25", path, "spark", "--build-index", ix]) == 0
    capsys.readouterr()
    assert cli.main(["bm25", "--index", ix, "spark"]) == 0
    indexed_out = capsys.readouterr().out
    # identical ranking lines from the two lanes
    strip = lambda o: [l for l in o.splitlines() if "  doc " in l]
    assert strip(inline_out) == strip(indexed_out) and len(strip(indexed_out)) == 2
    # multi-term --index query: the first term must not vanish into the
    # documents positional (review r8)
    assert cli.main(["bm25", "--index", ix, "spark", "join", "-k", "3"]) == 0
    assert len(strip(capsys.readouterr().out)) == 3  # all three docs match
    assert cli.main(["bm25", "zzz-also-a-term"]) == 1  # neither docs nor index


def test_alerts_sweep_from_crud_table_and_follow(spark, store, tmp_path, capsys):
    """The CRUD dimension feeds the sweep (--table), and --follow loops
    re-read the rules each pass (the reference daemon's polling shape;
    ref cache.py:393)."""
    table = str(tmp_path / "rules_dim")
    # store series end at value 2970 % 7 == 2.0 → gt 1 fires, gt 99 not
    assert cli.main(
        ["alert_rules", "--table", table, "--add", "CLI:a.VAL",
         "--compare", "gt", "--trippoint", "1"]
    ) == 0
    assert cli.main(
        ["alert_rules", "--table", table, "--add", "CLI:b.VAL",
         "--compare", "gt", "--trippoint", "99"]
    ) == 0
    capsys.readouterr()
    assert cli.main(["--store", store, "alerts", "--table", table]) == 2
    out = capsys.readouterr().out
    assert "1 alert(s) fired over 2 rule(s)" in out
    # a suspended rule drops out of the sweep without a restart
    assert cli.main(
        ["alert_rules", "--table", table, "--edit", "CLI:a.VAL",
         "--compare", "gt", "--active", "no"]
    ) == 0
    capsys.readouterr()
    assert cli.main(["--store", store, "alerts", "--table", table]) == 0
    assert "0 alert(s) fired over 1 rule(s)" in capsys.readouterr().out
    # --follow re-sweeps every period (bounded here by --max-loops)
    assert cli.main(
        ["--store", store, "alerts", "--table", table, "--follow",
         "--period-s", "0.1", "--max-loops", "2"]
    ) == 0
    assert capsys.readouterr().out.count("alert(s) fired") == 2
    # neither CSV nor table → usage error
    assert cli.main(["--store", store, "alerts"]) == 1


def test_prune_runs_retention(spark, tmp_path, capsys):
    """Retention drops whole run partitions without touching newer data;
    the newest (open) run always survives; no bound → usage error."""
    path = str(tmp_path / "pstore")
    for i in (1, 2, 3):
        write_points(
            spark.createDataFrame(
                pd.DataFrame(
                    [("CLI:p.VAL", float(i), float(i))],
                    columns=["pvname", "time", "value"],
                )
            ),
            path,
            run=f"run_0000{i}",
            n_buckets=2,
        )
    assert cli.main(["--store", path, "prune"]) == 1  # no bound
    assert cli.main(["--store", path, "prune", "--keep-last", "2"]) == 0
    out = capsys.readouterr().out
    assert "dropped run=run_00001" in out and "2 remain" in out
    left = {r.run for r in read_points(spark, path).collect()}
    assert left == {"run_00002", "run_00003"}
    # --before never drops the newest run even when it matches
    assert cli.main(["--store", path, "prune", "--before", "run_99999"]) == 0
    assert {r.run for r in read_points(spark, path).collect()} == {"run_00003"}


def test_prune_runs_keep_last_date_stamped_boundary(spark, tmp_path):
    """Date-stamped run names spanning a month boundary share a shape
    (all digit groups normalized), so keep_last works; a genuinely mixed
    naming scheme still trips the heterogeneity guard."""
    from epicsarchiver_spark.sources.points_store import prune_runs, write_points

    path = str(tmp_path / "pstore_dates")
    for i, run in enumerate(("2026-07-30", "2026-07-31", "2026-08-01")):
        write_points(
            spark.createDataFrame(
                pd.DataFrame(
                    [("CLI:d.VAL", float(i), float(i))],
                    columns=["pvname", "time", "value"],
                )
            ),
            path,
            run=run,
            n_buckets=2,
        )
    assert prune_runs(spark, path, keep_last=2) == ["2026-07-30"]
    # partition-value inference reads date-shaped names back as dates
    left = {str(r.run) for r in read_points(spark, path).collect()}
    assert left == {"2026-07-31", "2026-08-01"}
    # mixed scheme (date-stamped + rotation-style) still refuses
    write_points(
        spark.createDataFrame(
            pd.DataFrame([("CLI:d.VAL", 9.0, 9.0)], columns=["pvname", "time", "value"])
        ),
        path,
        run="run_00001",
        n_buckets=2,
    )
    with pytest.raises(ValueError, match="heterogeneous"):
        prune_runs(spark, path, keep_last=1)


def test_process_requests_crash_safe_swap(spark, tmp_path, capsys):
    """The drained catalog lands via the two-rename swap: no .tmp/.bak
    residue after success, and the catalog stays readable."""
    import epicsarchiver_spark.cli as cli_mod

    queue = str(tmp_path / "queue")
    catalog = str(tmp_path / "catalog")
    spark.createDataFrame(
        pd.DataFrame({"pvname": ["S:a.VAL", "S:b.VAL"], "active": ["yes", "yes"]})
    ).write.parquet(catalog)
    assert cli_mod.main(["request", "S:c.VAL", "--action", "add", "--queue", queue]) == 0
    assert cli_mod.main(["process_requests", "--queue", queue, "--catalog", catalog]) == 0
    assert not os.path.exists(catalog + ".tmp") and not os.path.exists(catalog + ".bak")
    got = {r.pvname for r in spark.read.parquet(catalog).collect()}
    assert got == {"S:a.VAL", "S:b.VAL", "S:c.VAL"}


def test_config_file_lane_precedence(spark, tmp_path, capsys, monkeypatch):
    """VERDICT r9 #4 — the EPICSARCH_CONFIG TOML lane (ref util.py:68-77
    get_config, pvarch.py:154-170 show_config): flag > file > built-in
    default, $EPICSARCH_CONFIG honored when --config absent, unknown
    keys fail loudly, and a config-supplied store feeds a real command."""
    store = str(tmp_path / "cfg_pts")
    write_points(
        spark.createDataFrame(
            pd.DataFrame([("CFG:a.VAL", 1.0, 1.0)], columns=["pvname", "time", "value"])
        ),
        store,
        run="run_00001",
        n_buckets=2,
    )
    cfgf = tmp_path / "dep.toml"
    cfgf.write_text(f'store = "{store}"\ndeadtime = 2\nalert_period = 60\n')

    # file values resolve (numeric coercion included), defaults fall back
    assert cli.main(["--config", str(cfgf), "show_config"]) == 0
    out = capsys.readouterr().out
    assert f"store = '{store}'  # file" in out
    assert "deadtime = 2.0  # file" in out
    assert "alert_period = 60.0  # file" in out
    assert "deadband = 0.0  # default" in out

    # a real command reads the store from the file...
    assert cli.main(["--config", str(cfgf), "list"]) == 0
    assert "run_00001" in capsys.readouterr().out
    # ...and an explicit flag overrides the file
    other = str(tmp_path / "cfg_pts2")
    write_points(
        spark.createDataFrame(
            pd.DataFrame([("CFG:b.VAL", 1.0, 1.0)], columns=["pvname", "time", "value"])
        ),
        other,
        run="run_00099",
        n_buckets=2,
    )
    assert cli.main(["--config", str(cfgf), "--store", other, "list"]) == 0
    assert "run_00099" in capsys.readouterr().out

    # $EPICSARCH_CONFIG is the no-flag path
    monkeypatch.setenv("EPICSARCH_CONFIG", str(cfgf))
    assert cli.main(["show_config"]) == 0
    assert "EPICSARCH_CONFIG=" in capsys.readouterr().out
    monkeypatch.delenv("EPICSARCH_CONFIG")

    # unknown key -> loud config error, nonzero exit
    bad = tmp_path / "bad.toml"
    bad.write_text('stroe = "typo"\n')
    assert cli.main(["--config", str(bad), "show_config"]) == 1
    assert "unknown config key" in capsys.readouterr().err


def test_set_runinfo_repairs_run_boundaries(spark, tmp_path, capsys):
    """VERDICT r9 #5 — pvarch set_runinfo (ref pvarch.py:308-315,
    cache.py:254-288): recompute an existing run's start/stop from the
    point data and persist the runs dimension; the open run keeps its
    stop pinned open; runs_for_window prunes correctly afterward."""
    from epicsarchiver_spark.operators.control import MAX_EPOCH
    from epicsarchiver_spark.sources.points_store import runs_for_window

    store = str(tmp_path / "sr_pts")
    for run, times in [("run_00001", [100.0, 200.0]), ("run_00002", [300.0, 450.0])]:
        write_points(
            spark.createDataFrame(
                pd.DataFrame({"pvname": ["X.VAL", "Y.VAL"], "time": times,
                              "value": [1.0, 2.0]})
            ),
            store,
            run=run,
            n_buckets=2,
        )
    runs_file = str(tmp_path / "sr_runs.parquet")
    spark.createDataFrame(
        [("run_00001", 0.0, 99999.0), ("run_00002", 99999.0, MAX_EPOCH)],
        "db string, start_time double, stop_time double",
    ).coalesce(1).write.parquet(runs_file)

    assert cli.main(
        ["--store", store, "set_runinfo", "--runs-file", runs_file]
    ) == 0
    out = capsys.readouterr().out
    assert "<currently running>" in out
    fixed = {r.db: (r.start_time, r.stop_time)
             for r in spark.read.parquet(runs_file).collect()}
    assert fixed == {"run_00001": (100.0, 200.0), "run_00002": (300.0, MAX_EPOCH)}
    # the stale dimension would have pruned run_00001 out of [150, 180]
    pruned = {r.db for r in runs_for_window(
        spark.read.parquet(runs_file), 150.0, 180.0).collect()}
    assert pruned == {"run_00001"}

    # explicit run target; unknown run -> error
    assert cli.main(
        ["--store", store, "set_runinfo", "run_00001", "--runs-file", runs_file]
    ) == 0
    capsys.readouterr()
    assert cli.main(
        ["--store", store, "set_runinfo", "nope", "--runs-file", runs_file]
    ) == 1
    assert "not in" in capsys.readouterr().err


def test_init_bootstraps_cold_store(spark, tmp_path, capsys):
    """VERDICT r9 #6 — pvarch init (ref pvarch.py:109-122 sql_init):
    cold-start creates store + runs/pv/alerts dims; status/check/list/
    alert_rules all work on the fresh zero-data deployment; a second
    init refuses to clobber."""
    store = str(tmp_path / "cold_pts")
    runs_file = str(tmp_path / "cold_runs.parquet")
    catalog = str(tmp_path / "cold_catalog")
    table = str(tmp_path / "cold_alerts")
    base = ["--store", store]
    initargs = base + ["init", "--runs-file", runs_file,
                       "--catalog", catalog, "--table", table]
    assert cli.main(initargs) == 0
    out = capsys.readouterr().out
    assert "current run is run_00001" in out

    runs = spark.read.parquet(runs_file).collect()
    assert len(runs) == 1 and runs[0].db == "run_00001"
    assert spark.read.parquet(catalog).count() == 0
    assert spark.read.parquet(table).count() == 0

    # the zero-data path: every read verb works on the fresh store
    assert cli.main(base + ["status"]) == 0
    assert cli.main(base + ["check"]) == 1  # DEAD is the correct cold answer
    assert cli.main(base + ["search", "*"]) == 0
    assert cli.main(["alert_rules", "--table", table]) == 0
    capsys.readouterr()

    # rotation picks up from the bootstrapped dimension
    assert cli.main(base + ["next", "--runs-file", runs_file]) == 0
    assert "run_00002" in capsys.readouterr().out

    # never clobbers an existing deployment
    assert cli.main(initargs) == 1
    assert "refusing to init" in capsys.readouterr().err


def test_ann_cli_lanes(spark, tmp_path, capsys):
    """pvarch ann: rerank (default), --exact, and --mmr lanes over an
    embeddings parquet; bad anchor exits 1."""
    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 10) / 10.0 for j in range(8)]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path / "emb_ann.parquet")
    emb.write.parquet(path)
    assert cli.main(["ann", path, "--vec-id", "0", "-k", "5"]) == 0
    out = capsys.readouterr().out
    assert "5 hit(s) for vec 0" in out and "cosine" in out
    assert cli.main(["ann", path, "--vec-id", "0", "-k", "5", "--exact"]) == 0
    out_exact = capsys.readouterr().out
    assert "cosine" in out_exact
    assert cli.main(["ann", path, "--vec-id", "0", "-k", "4", "--mmr"]) == 0
    out_mmr = capsys.readouterr().out
    assert "mmr" in out_mmr and "4 hit(s)" in out_mmr
    assert cli.main(["ann", path, "--vec-id", "0", "-k", "5", "--sq8"]) == 0
    out_sq8 = capsys.readouterr().out
    assert "cosine" in out_sq8 and "5 hit(s)" in out_sq8
    assert cli.main(["ann", path, "--vec-id", "999"]) == 1


def test_alerts_smooth_span_suppresses_single_tick_spike(spark, tmp_path, capsys):
    """--smooth-span: a one-tick spike fires the raw sweep but not the
    EWMA-trend sweep — the anti-flapping knob."""
    import pandas as pd

    path = str(tmp_path / "sm_store")
    rows = [("SM:pv", float(t), 1.0) for t in range(0, 300, 30)]
    rows.append(("SM:pv", 300.0, 100.0))  # single spike at the end
    write_points(
        spark.createDataFrame(pd.DataFrame(rows, columns=["pvname", "time", "value"])),
        path, run="run_001", n_buckets=2,
    )
    rules = tmp_path / "rules.csv"
    rules.write_text("pvname,compare,trippoint\nSM:pv,ge,50\n")
    assert cli.main(["--store", path, "alerts", str(rules)]) == 2  # raw fires
    capsys.readouterr()
    assert cli.main(
        ["--store", path, "alerts", str(rules), "--smooth-span", "8"]
    ) == 0  # the trend never crossed
    assert "0 alert(s)" in capsys.readouterr().out


def test_resolve_cli_inline_and_artifact_lanes(spark, tmp_path, capsys):
    """pvarch resolve: inline build, --write-components persist, then a
    --components read-back run — all three agree on the canonical map."""
    import pandas as pd

    rows = [(10, "smith aa"), (11, "smith ab"), (12, "smith bb"), (20, "jones xx")]
    path = str(tmp_path / "recs.parquet")
    spark.createDataFrame(pd.DataFrame(rows, columns=["id", "name"])).write.parquet(path)
    out1 = str(tmp_path / "map1")
    comp = str(tmp_path / "cc")
    assert cli.main(["resolve", path, "--out", out1,
                     "--write-components", comp]) == 0
    txt = capsys.readouterr().out
    assert "4 record(s) -> 2 entit(ies)" in txt and "3 record(s)" in txt
    out2 = str(tmp_path / "map2")
    assert cli.main(["resolve", path, "--out", out2, "--components", comp]) == 0
    a = sorted(map(tuple, spark.read.parquet(out1).collect()))
    b = sorted(map(tuple, spark.read.parquet(out2).collect()))
    assert a == b


def test_bm25_cli_snippets(spark, tmp_path, capsys):
    docs = spark.createDataFrame(
        [(1, "x x spark join y y"), (2, "nothing relevant")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "docs_snip.parquet")
    docs.write.parquet(path)
    assert cli.main(["bm25", path, "spark", "join", "-k", "2",
                     "--snippet-width", "3"]) == 0
    out = capsys.readouterr().out
    assert '"spark join y"' in out


def test_discords_cli_lists_rare_windows(spark, store, capsys):
    """`pvarch discords`: top-k rarest-shape windows per series from the
    store; --pv restricts, --novel-only keeps word_count==1 rows."""
    assert cli.main(["--store", store, "discords", "--window", "8", "-k", "2"]) == 0
    out = capsys.readouterr().out
    assert "CLI:a.VAL" in out and "CLI:b.VAL" in out and "word=" in out

    assert (
        cli.main(
            ["--store", store, "discords", "--window", "8", "--pv", "CLI:a.VAL"]
        )
        == 0
    )
    out = capsys.readouterr().out
    assert "CLI:a.VAL" in out and "CLI:b.VAL" not in out


def test_forecast_cli_backtests_store(spark, store, capsys):
    """`pvarch forecast`: per-series one-step backtest MAE from the
    store, worst first; --method holt switches the forecaster."""
    assert cli.main(["--store", store, "forecast"]) == 0
    out = capsys.readouterr().out
    assert "CLI:a.VAL" in out and "mae=" in out and "worst first" in out
    assert cli.main(["--store", store, "forecast", "--method", "holt",
                     "--pv", "CLI:b.VAL"]) == 0
    out = capsys.readouterr().out
    assert "CLI:b.VAL" in out and "CLI:a.VAL" not in out


def test_similar_cli_finds_shape_twins(spark, store, capsys):
    """`pvarch similar`: both store series are t%7 sawtooths — each is
    the other's shape twin at r=1."""
    assert (
        cli.main(["--store", store, "similar", "CLI:a.VAL",
                  "0", "2970", "30", "-k", "2"]) == 0
    )
    out = capsys.readouterr().out
    assert "CLI:b.VAL" in out and "r=1.0" in out


def test_index_words_cli_build_and_refresh(spark, store, tmp_path, capsys):
    """`pvarch index_words`: full build writes the watermarked word
    artifact; --refresh with unchanged points reads every row back
    (same rows, 'incremental refresh' lane); --auto echoes the sizing
    recommendation."""
    out = str(tmp_path / "wordidx")
    assert (
        cli.main(["--store", store, "index_words", "0", "2970", "30",
                  "--out", out, "--auto"]) == 0
    )
    got = capsys.readouterr().out
    assert "auto sizing: 2 series -> n_segments=4" in got
    assert "2 series" in got and "full build" in got
    rows1 = {tuple(r) for r in spark.read.parquet(out + "/words").collect()}
    assert len(rows1) == 2 and all(len(t) == 4 for t in rows1)  # +wm +np

    assert (
        cli.main(["--store", store, "index_words", "0", "2970", "30",
                  "--out", out, "--refresh"]) == 0
    )
    assert "incremental refresh" in capsys.readouterr().out
    rows2 = {tuple(r) for r in spark.read.parquet(out + "/words").collect()}
    assert rows2 == rows1

    # a refresh pins the artifact's word length: a contradicting
    # explicit --segments is refused (mixed-length words would break
    # the word equi-join downstream)
    assert (
        cli.main(["--store", store, "index_words", "0", "2970", "30",
                  "--out", out, "--refresh", "--segments", "6"]) == 1
    )
    err = capsys.readouterr().err
    assert "contradicts the artifact's 4-letter words" in err


def test_cusum_cli_lists_regime_changes(spark, store, capsys):
    """`pvarch cusum`: sawtooth store series wander past a small
    threshold (crossings listed newest-first) and never past an
    absurd one."""
    assert cli.main(["--store", store, "cusum", "--threshold", "1"]) == 0
    out = capsys.readouterr().out
    assert out.strip().splitlines()[-1] == "20 changepoint(s)"
    assert "  up  " in out or "  down  " in out

    assert (
        cli.main(["--store", store, "cusum", "--threshold", "100000"]) == 0
    )
    out2 = capsys.readouterr().out
    assert out2.strip().splitlines()[-1] == "0 changepoint(s)"


def test_sax_health_cli_reports_occupancy_and_sizing(spark, store, capsys):
    """`pvarch sax_health`: the two sawtooth store series share one
    word → one 2-deep bucket; healthy under a 128 fence (exit 0,
    overflow 0), fence-breaking under --fence 1 (exit 2), and the
    auto-sizing recommendation line is printed either way."""
    assert (
        cli.main(["--store", store, "sax_health", "0", "2970", "30"]) == 0
    )
    out = capsys.readouterr().out
    assert "2 series in 1 words" in out
    assert "0 overflowing word(s)" in out
    assert "n_segments=4 n_candidates=128" in out

    assert (
        cli.main(
            ["--store", store, "sax_health", "0", "2970", "30",
             "--fence", "1"]
        )
        == 2
    )
    out = capsys.readouterr().out
    assert "1 overflowing word(s), 100.00% of series in them" in out


def test_rollup_cli_materializes_plot_lane(spark, store, tmp_path, capsys):
    out = str(tmp_path / "rollup")
    assert cli.main(["--store", store, "rollup", "--out", out]) == 0
    assert "(series, day) rows" in capsys.readouterr().out
    from epicsarchiver_spark.sources.points_store import read_rollup

    rows = read_rollup(spark, out).collect()
    # both series have points on epoch day 0 (t=0..2970 < 86400)
    assert {r[0] for r in rows} == {"CLI:a.VAL", "CLI:b.VAL"}
    assert all(r.day == "1970-01-01" for r in rows)
    assert sum(r.n for r in rows) == 200


def test_index_words_sidecar_pins_window_and_params(spark, tmp_path, capsys):
    """r12 ADVICE (medium): the build writes _params.json inside the
    words dir (riding the atomic swap) and --refresh validates the FULL
    parameter set against it — a shifted window or changed alphabet is
    refused the same way a contradicting --segments is, instead of
    silently mixing windows in one artifact."""
    import json

    storep = str(tmp_path / "sidecar_store")
    rows = [("SC:a", float(t), float(t % 7)) for t in range(0, 3000, 30)]
    rows += [("SC:b", float(t), float(t % 5)) for t in range(0, 3000, 30)]
    write_points(
        spark.createDataFrame(
            pd.DataFrame(rows, columns=["pvname", "time", "value"])
        ),
        storep, run="run_001", n_buckets=4,
    )
    out = str(tmp_path / "wordidx_sc")
    assert (
        cli.main(["--store", storep, "index_words", "0", "2970", "30",
                  "--out", out]) == 0
    )
    capsys.readouterr()
    side = json.load(open(out + "/words/_params.json"))
    assert side == {"t0": 0.0, "t1": 2970.0, "step": 30.0,
                    "segments": 4, "alphabet": 4, "quantum": 0.01}

    # same window refreshes fine
    assert (
        cli.main(["--store", storep, "index_words", "0", "2970", "30",
                  "--out", out, "--refresh"]) == 0
    )
    capsys.readouterr()
    # advancing t1 (the natural archiver cadence) is REFUSED on refresh
    assert (
        cli.main(["--store", storep, "index_words", "0", "3600", "30",
                  "--out", out, "--refresh"]) == 1
    )
    err = capsys.readouterr().err
    assert "contradict the artifact's build" in err and "t1" in err
    # a changed alphabet is refused too
    assert (
        cli.main(["--store", storep, "index_words", "0", "2970", "30",
                  "--out", out, "--refresh", "--alphabet", "6"]) == 1
    )
    assert "alphabet" in capsys.readouterr().err

    # a pre-sidecar artifact still refreshes (word-length pinning) with
    # a loud warning that the window is unchecked
    os.remove(out + "/words/_params.json")
    assert (
        cli.main(["--store", storep, "index_words", "0", "2970", "30",
                  "--out", out, "--refresh"]) == 0
    )
    assert "no _params.json sidecar" in capsys.readouterr().err
    # and the refresh re-writes the sidecar for the next round
    assert json.load(open(out + "/words/_params.json"))["t1"] == 2970.0


def test_index_words_refresh_from_cache_stats(spark, tmp_path, capsys):
    """VERDICT r12 task 3 end-to-end through the CLI: ingest feeds the
    store AND the latest-value cache; `pvarch index_words --refresh
    --stats-from-cache` refreshes O(stale) from the cache's (time, np)
    and equals a from-scratch rebuild."""
    from epicsarchiver_spark.streaming.ingest import upsert_latest

    storep = str(tmp_path / "cs_store")
    cache = str(tmp_path / "cs_cache")
    base = [("CS:a", float(t), float(t % 7)) for t in range(0, 3000, 30)]
    base += [("CS:b", float(t), float(t % 5)) for t in range(0, 3000, 30)]
    b1 = spark.createDataFrame(
        pd.DataFrame(base, columns=["pvname", "time", "value"])
    )
    write_points(b1, storep, run="run_001", n_buckets=4)
    upsert_latest(b1.select("pvname", "value", "time"), cache)

    out = str(tmp_path / "wordidx_cs")
    assert (
        cli.main(["--store", storep, "index_words", "0", "2970", "30",
                  "--out", out]) == 0
    )
    capsys.readouterr()

    # append: CS:a jumps (stale); CS:b untouched
    app = spark.createDataFrame(
        pd.DataFrame(
            [("CS:a", 1500.0 + i, 50.0 + i) for i in range(5)],
            columns=["pvname", "time", "value"],
        )
    )
    write_points(app, storep, run="run_002", n_buckets=4)
    upsert_latest(app.select("pvname", "value", "time"), cache)

    assert (
        cli.main(["--store", storep, "index_words", "0", "2970", "30",
                  "--out", out, "--refresh", "--stats-from-cache", cache])
        == 0
    )
    assert "incremental refresh" in capsys.readouterr().out
    refreshed = {
        tuple(r) for r in spark.read.parquet(out + "/words").collect()
    }

    out2 = str(tmp_path / "wordidx_cs_rebuild")
    assert (
        cli.main(["--store", storep, "index_words", "0", "2970", "30",
                  "--out", out2]) == 0
    )
    capsys.readouterr()
    rebuilt = {
        tuple(r) for r in spark.read.parquet(out2 + "/words").collect()
    }
    assert refreshed == rebuilt


def test_rollup_cli_refresh_folds_only_new_runs(spark, tmp_path, capsys):
    """VERDICT r12 task 5: `pvarch rollup --refresh` after appending a
    run — the artifact must equal a cold-scan rollup of the whole
    store, and the refresh must fold only the new run (plus re-fold
    the newest already-folded run, the append-to-latest guard)."""
    from epicsarchiver_spark.sources.points_store import (
        merge_rollup,
        read_rollup,
        rollup_partials,
    )

    storep = str(tmp_path / "rollup_store")
    day = 86400.0
    r1 = [("RU:a", i * 3600.0, float(i)) for i in range(48)]  # days 0-1
    r1 += [("RU:b", i * 3600.0, float(i % 5)) for i in range(48)]
    write_points(
        spark.createDataFrame(pd.DataFrame(r1, columns=["pvname", "time", "value"])),
        storep, run="run_001", n_buckets=4,
    )
    out = str(tmp_path / "rollup_art")
    assert cli.main(["--store", storep, "rollup", "--out", out]) == 0
    assert "full build (1 runs)" in capsys.readouterr().out

    # refresh with nothing new: re-folds only the newest run, stays equal
    assert cli.main(["--store", storep, "rollup", "--out", out, "--refresh"]) == 0
    assert "refreshed 1 run(s)" in capsys.readouterr().out

    # append run_002: new days + a backfill day for RU:a
    r2 = [("RU:a", 2 * day + i * 3600.0, 100.0 + i) for i in range(24)]
    r2 += [("RU:a", 1800.0, 7.0)]  # backfill into day 0
    write_points(
        spark.createDataFrame(pd.DataFrame(r2, columns=["pvname", "time", "value"])),
        storep, run="run_002", n_buckets=4,
    )
    assert cli.main(["--store", storep, "rollup", "--out", out, "--refresh"]) == 0
    assert "refreshed 2 run(s)" in capsys.readouterr().out

    got = sorted(map(tuple, read_rollup(spark, out).collect()))
    want = sorted(
        map(
            tuple,
            merge_rollup(
                rollup_partials(read_points(spark, storep))
            ).selectExpr(
                "pvname", "day", "n",
                "round(cast(sum_q as double) * 0.01, 2) as sum_value",
                "round(cast(min_q as double) * 0.01, 2) as min_value",
                "round(cast(max_q as double) * 0.01, 2) as max_value",
            ).collect(),
        )
    )
    assert got == want
    # day-0 backfill folded: RU:a day 0 count = 24 (run_001) + 1 (backfill)
    by = {(r[0], r[1]): r[2] for r in got}
    assert by[("RU:a", "1970-01-01")] == 25

    # a second refresh with nothing new re-folds just the newest run
    assert cli.main(["--store", storep, "rollup", "--out", out, "--refresh"]) == 0
    assert "refreshed 1 run(s)" in capsys.readouterr().out
    assert sorted(map(tuple, read_rollup(spark, out).collect())) == want

    # quantum is pinned by the sidecar
    assert (
        cli.main(["--store", storep, "rollup", "--out", out, "--refresh",
                  "--quantum", "0.1"]) == 1
    )
    assert "contradicts the artifact's 0.01" in capsys.readouterr().err


def test_rollup_refresh_refuses_legacy_flat_artifact(spark, tmp_path, capsys):
    """A pre-per-run (flat write_rollup) artifact must not be
    refreshed in place — run dirs beside flat files would double-count
    on merge-on-read. Refusal with a rebuild hint instead."""
    from epicsarchiver_spark.sources.points_store import write_rollup

    storep = str(tmp_path / "legacy_store")
    write_points(
        spark.createDataFrame(
            pd.DataFrame(
                [("LG:a", float(t), 1.0) for t in range(0, 300, 30)],
                columns=["pvname", "time", "value"],
            )
        ),
        storep, run="run_001", n_buckets=2,
    )
    out = str(tmp_path / "legacy_rollup")
    write_rollup(read_points(spark, storep), out)  # the r12 flat layout
    assert (
        cli.main(["--store", storep, "rollup", "--out", out, "--refresh"]) == 1
    )
    assert "flat (pre-per-run) rollup artifact" in capsys.readouterr().err


def test_similar_cli_warns_on_window_drift_vs_index_sidecar(
    spark, store, tmp_path, capsys
):
    """`pvarch similar --index` against an index_words artifact: a
    query window differing from the sidecar's build window gets a loud
    warning (nominations ride the index words, the re-rank rides the
    query window), while the matching window stays quiet."""
    out = str(tmp_path / "wordidx_sim")
    assert (
        cli.main(["--store", store, "index_words", "0", "2970", "30",
                  "--out", out]) == 0
    )
    capsys.readouterr()
    idx = out + "/words"
    assert (
        cli.main(["--store", store, "similar", "CLI:a.VAL",
                  "0", "2970", "30", "--index", idx]) == 0
    )
    assert "warning" not in capsys.readouterr().err
    assert (
        cli.main(["--store", store, "similar", "CLI:a.VAL",
                  "0", "1500", "30", "--index", idx]) == 0
    )
    err = capsys.readouterr().err
    assert "differs from the index's build window" in err and "t1" in err


def test_discords_cli_confirm_orders_by_exact_distance(spark, store, capsys):
    """`pvarch discords --confirm`: the exact-distance stage lists
    confirmed ranks with the nn distance, ordered farthest-neighbor
    first per series."""
    assert (
        cli.main(["--store", store, "discords", "--window", "8", "-k", "2",
                  "--confirm"]) == 0
    )
    out = capsys.readouterr().out
    assert "confirmed discord window(s)" in out
    assert "nn_d2=" in out and "confirmed=1" in out


def test_cusum_cli_split_warm_start(spark, store, capsys):
    """`pvarch cusum --split T`: reference levels from the backfill
    half, crossings only on the live half — the warm-start composition
    through the CLI. The sawtooth store holds its level, so a small
    threshold still fires while an absurd one stays quiet."""
    assert (
        cli.main(["--store", store, "cusum", "--split", "1500",
                  "--threshold", "1"]) == 0
    )
    out = capsys.readouterr().out
    assert out.strip().splitlines()[-1].endswith("changepoint(s)")
    assert "  up  " in out or "  down  " in out
    # crossings reported only on the live half
    times = [
        float(line.split("t=")[1].split()[0])
        for line in out.splitlines() if "t=" in line
    ]
    assert times and all(t > 1500 for t in times)
