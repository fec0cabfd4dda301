"""``archive``: the two ingest daemons plus alert checks as a bounded backfill.

Three streams run back to back, each on a fresh checkpoint and each
reading one time-slice file per micro-batch, so keyed state carries
across batches:

1. ``streaming.ingest.compressed_stream`` -> ``archive_query`` (the
   deadtime/deadband archiver appending to the bucketed points store);
2. ``latest_value_query`` (the latest-value cache daemon);
3. ``streaming.alerts.alert_stream`` over seeded rules (notifications
   land in a parquet sink).

Set-up runs the same three streams on a small warm-up input with its
own checkpoints. The workload does no viewer reads.

The traced run also makes one corpus release pass (``corpus_pass``),
after the timed streams and their checks, for the per-layer figures of
``corpus`` / ``operators.dedup`` and ``operators.related.pagerank``.
"""

from __future__ import annotations

import json
import os
import time

import gen
from corpus_pass import CorpusPass
from harness import reset_dir, tree_bytes
from stats import median

N_PVS = 3754  # the GSECARS PV inventory (BASELINE.md)
EVENTS_PER_S = 2000  # input events per second of --seconds
N_SLICES = 2
N_RULES = 400
WARM = dict(n_pvs=100, n_events=1_000, n_slices=1, n_rules=40)
STREAM_TIMEOUT_S = 60  # a drained stream takes ~10 s; keeps a hung run well inside 180 s


class Archive:
    name = "archive"

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.samples: dict = {}

    # ---------------------------------------------------------------- inputs
    def generate(self) -> dict:
        c = self.ctx
        n_events = int(EVENTS_PER_S * c.seconds)
        self.inp = gen.archive_inputs(
            c.seed, os.path.join(c.gen_dir, "main"), N_PVS, n_events, N_SLICES, N_RULES
        )
        gen.archive_inputs(c.seed, os.path.join(c.gen_dir, "warm"), tag=11, **WARM)
        self.n_events = len(self.inp["events"])
        sizes = {"pvs": N_PVS, "events": self.n_events, "slices": N_SLICES, "rules": N_RULES}
        if c.trace:
            self.corpus = CorpusPass(c)
            sizes.update(self.corpus.generate())
        return sizes

    # ------------------------------------------------------------------ set-up
    def set_up(self) -> None:
        """The three streams on their own input, sinks and checkpoints."""
        self._streams("warm")

    # ---------------------------------------------------------------- measure
    def measure(self) -> None:
        self.walls = self._streams("main")
        self.attempted = len(self.walls)

    def _streams(self, label: str) -> dict[str, float]:
        """Run the three streams over the ``label`` input ("warm" or the
        timed "main"); their wall times by name."""
        from epicsarchiver_spark.streaming.alerts import alert_stream
        from epicsarchiver_spark.streaming.ingest import (
            EVENT_SCHEMA,
            archive_query,
            compressed_stream,
            latest_value_query,
        )

        c = self.ctx
        spark, tr = c.spark, c.tracer
        timed = label == "main"
        inp = os.path.join(c.gen_dir, label)
        out = reset_dir(os.path.join(c.work, "archive", label))
        if timed:
            self.out = out

        def source(sub: str):
            return (
                spark.readStream.schema(EVENT_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .parquet(os.path.join(inp, sub))
            )

        rules = spark.read.parquet(os.path.join(inp, "rules.parquet"))
        writers = {
            "ingest.archive": lambda: archive_query(
                compressed_stream(
                    source("archive_in"), gen.DEADTIME, gen.DEADBAND, flush_ms=None
                ),
                os.path.join(out, "store"),
                os.path.join(out, "ckpt_archive"),
            ),
            "cache.stream": lambda: latest_value_query(
                source("events"), os.path.join(out, "cache"), os.path.join(out, "ckpt_cache")
            ),
            "alerts.stream": lambda: (
                alert_stream(source("events"), rules)
                .writeStream.format("parquet")
                .option("path", os.path.join(out, "notifications"))
                .option("checkpointLocation", os.path.join(out, "ckpt_alerts"))
                .outputMode("append")
            ),
        }
        walls = {}
        for name, build in writers.items():
            with tr.span(name if timed else f"warmup.{name}") as sp:
                t0 = time.perf_counter()
                q = build().trigger(availableNow=True).start()
                done = q.awaitTermination(STREAM_TIMEOUT_S)
                walls[name] = time.perf_counter() - t0
            if not done:
                q.stop()
                raise RuntimeError(f"{name} did not drain within {STREAM_TIMEOUT_S} s")
            if q.exception() is not None:
                raise RuntimeError(f"{name} failed: {q.exception()}")
            tr.count_stream(sp, q)
            if timed:
                self.samples[name] = [json.loads(p.json) for p in q.recentProgress]
        return walls

    # ------------------------------------------------------------------ checks
    def check(self) -> dict[str, bool]:
        """Each stream against its executable spec on the same events; in
        the traced run, then the corpus release pass and its checks."""
        import pandas as pd

        from epicsarchiver_spark.operators.deadband import compress_reference
        from epicsarchiver_spark.operators.timeseries import latest_per_key
        from epicsarchiver_spark.streaming.alerts import evaluate_transitions
        from epicsarchiver_spark.streaming.ingest import read_cache

        spark = self.ctx.spark
        ev = self.inp["events"]
        res = {}

        full = pd.concat([ev, self.inp["sentinel"]], ignore_index=True)
        want = set()
        for pv, g in full.sort_values("time", kind="mergesort").groupby("pvname", sort=False):
            rows = list(zip(g["time"].tolist(), g["value"].tolist()))
            want.update((pv, t, v) for t, v in compress_reference(rows, gen.DEADTIME, gen.DEADBAND))
        got_rows = spark.read.parquet(os.path.join(self.out, "store")).select(
            "pvname", "time", "value"
        ).collect()
        got = {tuple(r) for r in got_rows}
        res["archive"] = len(got_rows) == len(got) and got == want
        self.stored_points = len(got_rows)

        cache = {tuple(r) for r in read_cache(spark, os.path.join(self.out, "cache"))
                 .select("pvname", "time", "value").collect()}
        events = spark.read.parquet(os.path.join(self.ctx.gen_dir, "main", "events"))
        spec = {tuple(r) for r in latest_per_key(events).select("pvname", "time", "value").collect()}
        res["cache"] = cache == spec and len(cache) == ev["pvname"].nunique()

        rules = self.inp["rules"]
        want_n = set()
        by_pv = dict(tuple(ev.groupby("pvname", sort=False)))
        for r in rules[rules["active"] == "yes"].itertuples():
            g = by_pv[r.pvname].sort_values("time", kind="mergesort").assign(
                alert_id=r.alert_id, trippoint=r.trippoint, compare=r.compare, timeout=r.timeout
            )
            out, _status, _last = evaluate_transitions(g, "ok", float("-inf"))
            want_n.update((n["alert_id"], n["pvname"], n["time"], n["value"]) for n in out)
        got_n = spark.read.parquet(os.path.join(self.out, "notifications")).select(
            "alert_id", "pvname", "time", "value"
        ).collect()
        res["alerts"] = len(got_n) == len(want_n) and {tuple(r) for r in got_n} == want_n
        self.notifications = len(got_n)
        if self.ctx.trace:
            self.corpus.run()
            self.attempted += 1
            res.update(self.corpus.check())
        return res

    # ----------------------------------------------------------------- metrics
    def info(self) -> dict:
        return {
            "stream_s": self.walls,
            "batch_ms": {k: self._durations(k, "triggerExecution") for k in self.samples},
            "store_bytes": self.store_bytes,
        }

    def end_to_end(self) -> dict:
        self.store_bytes, self.store_files = tree_bytes(os.path.join(self.out, "store"))
        return {
            "work_per_s": self.n_events / sum(self.walls.values()),
            "op_p50_ms": median(self._durations("ingest.archive", "triggerExecution")),
            "store_bytes_per_event": self.store_bytes / self.n_events,
        }

    def _durations(self, stream: str, phase: str) -> list[float]:
        """Per-micro-batch ``durationMs[phase]`` of one stream."""
        return [p["durationMs"].get(phase, 0) for p in self.samples[stream]]

    def per_layer(self) -> dict:
        dur = self._durations
        batches = dur("ingest.archive", "triggerExecution")
        state = [p["stateOperators"][0] for p in self.samples["ingest.archive"] if p["stateOperators"]]
        last = state[-1] if state else {}
        return {
            "ingest.archive_s": self.walls["ingest.archive"],
            # a few batches per run: their median and max, no tail
            "ingest.batch_p50_ms": median(batches),
            "ingest.batch_max_ms": max(batches),
            "ingest.add_batch_ms": sum(dur("ingest.archive", "addBatch")),
            "ingest.planning_ms": sum(dur("ingest.archive", "queryPlanning")),
            "ingest.commit_ms": sum(dur("ingest.archive", "walCommit"))
            + sum(dur("ingest.archive", "commitOffsets")),
            "ingest.state_rows": last.get("numRowsTotal", 0),
            "ingest.state_bytes": last.get("memoryUsedBytes", 0),
            "ingest.state_commit_ms": sum(s.get("commitTimeMs", 0) for s in state),
            "ingest.points_per_event": self.stored_points / self.n_events,
            "ingest.files_written": self.store_files,
            "cache.stream_s": self.walls["cache.stream"],
            "cache.batch_p50_ms": median(dur("cache.stream", "triggerExecution")),
            "alerts.stream_s": self.walls["alerts.stream"],
            "alerts.batch_p50_ms": median(dur("alerts.stream", "triggerExecution")),
            "alerts.notifications": self.notifications,
            **self.corpus.per_layer(),
        }
