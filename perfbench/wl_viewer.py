"""``viewer``: one closed-loop client replaying a fixed seeded op sequence.

The reference web app answers one request at a time, so there is one
client and each request starts when the previous one returned. Every
request re-opens the store with ``points_store.read_points`` and goes
through ``api.PVArchEngine``, as every ``pvarch`` command does. Ops:

- ``read``: single-PV ``get_data`` over a 1 h - 7 d window, Zipf-skewed
  PVs, recent windows favoured;
- ``plot``: up to 4 PVs, each ``get_data``, then ``cull_for_plot(30 000)``
  and the plot JSON through ``sources.sinks``;
- ``value_at`` / ``latest`` / ``related`` / ``search``: the lookups
  ``get_value_at_time``, ``get_values``, ``get_related_pvs`` and
  ``search_names``;
- ``append``: every ``APPEND_EVERY``-th op, the next live event slice
  is appended into the open run with ``write_points(mode="append")``.

Set-up builds the run+bucket store with ``write_points`` in the store's
default layout (``points_store.DEFAULT_BUCKETS`` buckets per run) and
runs one op of each kind. No streaming state is involved.
"""

from __future__ import annotations

import functools
import os
import time
import traceback
from typing import NamedTuple

import numpy as np
import pandas as pd

import gen
from harness import between_ops, reset_dir, tree_bytes
from stats import median, summarize

N_PVS = 300
DAYS = 7.0
APPEND_S = 1800.0
APPEND_EVERY = 6
N_EDGES = 4000
HEARTBEAT_S = 86400.0  # PVArchEngine's default heartbeat floor
LOOKBACK_S = 2 * HEARTBEAT_S  # the engine's "auto" as-of lookback
MAX_POINTS = 30_000
OPEN_RUN = "run_00002"
WINDOWS_H = np.array([1, 3, 6, 12, 24, 72, 168], float)
WINDOW_P = np.array([0.25, 0.2, 0.15, 0.15, 0.1, 0.1, 0.05])
BACK_MEAN_S = 0.5 * 86400.0  # mean distance of a window's end from the newest point
# op mix of the non-append ops
MIX = {"read": 0.65, "plot": 0.1, "value_at": 0.08, "latest": 0.04, "related": 0.04, "search": 0.04}
OPS_PER_S = 0.6  # sequence length per second of --seconds
MIN_OPS = 12  # two appends, every request kind once and reads the most
PLOT_SPAN_S = 3 * 86400.0  # the web app's default plot window (BASELINE.md)


def _strata(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` uniforms, one from each of ``n`` equal strata, in random order."""
    u = (np.arange(n) + rng.random(n)) / max(n, 1)
    rng.shuffle(u)
    return u


class Op(NamedTuple):
    kind: str
    pvs: tuple = ()
    back: float = 0.0  # window end, seconds before the newest point
    span: float = 0.0  # window length, seconds
    pattern: str = ""  # search_names pattern
    slice: int = -1  # append: index of the live slice


class Viewer:
    name = "viewer"

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.lat: dict[str, list[float]] = {}
        self.failures: list[str] = []

    # ---------------------------------------------------------------- inputs
    def generate(self) -> dict:
        c = self.ctx
        n_ops = max(MIN_OPS, int(OPS_PER_S * c.seconds))
        n_appends = n_ops // APPEND_EVERY
        self.inp = gen.viewer_inputs(
            c.seed, os.path.join(c.gen_dir, "viewer"), N_PVS, DAYS, n_appends, APPEND_S, N_EDGES
        )
        self.ops = self._sequence(n_ops)
        self.model = {
            pv: (g["time"].to_numpy(), g["value"].to_numpy())
            for pv, g in self.inp["base"].groupby("pvname", sort=False)
        }
        self.now = self.inp["t_end"]
        self.points_written = len(self.inp["base"]) + sum(len(a) for a in self.inp["appends"])
        return {
            "pvs": N_PVS,
            "events": self.points_written,
            "store_points": len(self.inp["base"]),
            "ops": n_ops,
            "edges": len(self.inp["pairs"]),
        }

    def _sequence(self, n_ops: int, tag: int = 21) -> list[Op]:
        """The op list. Kinds and window lengths come in fixed proportions,
        and each kind draws its PVs (Zipf) and window ends (exponential,
        recent favoured) by stratified sampling, so every seed asks for
        the same mix of work; the seed picks the order, which PVs are hot
        and the data. Appends sit at fixed positions."""
        rng = np.random.default_rng([self.ctx.seed, tag])
        names, w = self.inp["names"], self.inp["weights"]
        n_append = n_ops // APPEND_EVERY
        # every request kind at least once; reads take the rest
        counts = {k: max(1, round(p * (n_ops - n_append))) for k, p in MIX.items() if k != "read"}
        counts = {"read": n_ops - n_append - sum(counts.values()), **counts}
        kinds = [k for k, n in counts.items() for _ in range(n)]
        rng.shuffle(kinds)
        spans = np.repeat(WINDOWS_H, np.round(WINDOW_P * n_ops).astype(int) + 1)
        rng.shuffle(spans)
        u_pv = {k: list(_strata(rng, n)) for k, n in counts.items()}
        u_back = {k: list(_strata(rng, n)) for k, n in counts.items()}
        hot_first = np.argsort(-w, kind="stable")
        cdf = np.cumsum(w[hot_first])
        ops = []
        for i in range(n_ops):
            if i % APPEND_EVERY == APPEND_EVERY - 1:
                ops.append(Op("append", slice=i // APPEND_EVERY))
                continue
            kind = kinds.pop()
            first = hot_first[min(np.searchsorted(cdf, u_pv[kind].pop()), len(names) - 1)]
            others = [j for j in rng.choice(len(names), 4, replace=False, p=w) if j != first]
            pvs = tuple(names[j] for j in [first, *others[:3]])
            # plots take 2 and 1 PVs in turn, every other op one PV
            n = 2 - sum(o.kind == "plot" for o in ops) % 2 if kind == "plot" else 1
            back = -np.log1p(-u_back[kind].pop()) * BACK_MEAN_S
            span = PLOT_SPAN_S if kind == "plot" else 3600.0 * float(spans[i])
            ops.append(Op(kind, pvs[:n], float(back), span, f"{pvs[0][:4]}*"))
        return ops

    # ------------------------------------------------------------------ set-up
    def set_up(self) -> None:
        """Build the run+bucket store from the history in the store's
        default layout, then run one op of each kind (no append) from a
        sequence of its own."""
        from pyspark.sql import functions as F

        from epicsarchiver_spark.sources.points_store import write_points

        c = self.ctx
        spark = c.spark
        self.store = os.path.join(reset_dir(os.path.join(c.work, "viewer")), "store")
        mid = gen.T_BASE + 0.5 * DAYS * 86400.0
        base = spark.read.parquet(self.inp["base_path"]).withColumn(
            "run", F.when(F.col("time") < mid, "run_00001").otherwise(OPEN_RUN)
        )
        t0 = time.perf_counter()
        with c.tracer.span("store.write"):
            write_points(base, self.store)
        self.write_s = time.perf_counter() - t0
        between_ops(spark)
        self.pairs = spark.read.parquet(os.path.join(self.ctx.gen_dir, "viewer", "pairs.parquet"))
        warm = self._sequence(400, tag=22)
        for kind in MIX:
            self._run(next(o for o in warm if o.kind == kind), req=f"warm-{kind}", record=False)
            between_ops(spark)

    # ---------------------------------------------------------------- measure
    def measure(self) -> None:
        spark = self.ctx.spark
        self.first_span = len(self.ctx.tracer.spans)  # per-layer figures skip warm-up spans
        self.wall = 0.0
        for i, op in enumerate(self.ops):
            self.wall += self._run(op, req=i, record=True)
            between_ops(spark)
        self.attempted = len(self.ops)

    def _engine(self):
        from epicsarchiver_spark.api import PVArchEngine
        from epicsarchiver_spark.sources.points_store import read_points

        spark, tr = self.ctx.spark, self.ctx.tracer
        with tr.span("store.open"):
            pts = read_points(spark, self.store)
        return PVArchEngine(spark, pts, pairs=self.pairs, heartbeat_s=HEARTBEAT_S)

    def _window(self, op: Op) -> tuple[float, float]:
        t1 = self.now - op.back
        return t1 - op.span, t1

    def _run(self, op: Op, req, record: bool) -> float:
        """One request; returns its latency in seconds. The output check
        runs after the clock stops."""
        tr = self.ctx.tracer
        kind = op.kind
        t0 = time.perf_counter()
        try:
            with tr.span(f"op.{kind}", req=req):
                verify = getattr(self, f"_op_{kind}")(op)
            dt = time.perf_counter() - t0
            ok = verify()
        except Exception:  # a failed request is a failed op, the loop goes on
            traceback.print_exc()
            dt, ok = time.perf_counter() - t0, False
        if record:
            self.lat.setdefault(kind, []).append(1000.0 * dt)
            if not ok:
                self.failures.append(f"{kind}#{req}")
        elif not ok:
            raise RuntimeError(f"warm-up op {kind} failed its check")
        return dt

    # each _op_* runs the request and returns its output check
    def _op_read(self, op):
        tr = self.ctx.tracer
        pv = op.pvs[0]
        t0, t1 = self._window(op)
        eng = self._engine()
        with tr.span("get_data.build"):
            df = eng.get_data(pv, t0, t1)
        with tr.span("get_data.exec"):
            rows = df.select("time", "value").collect()
        return lambda: [tuple(r) for r in rows] == self._expect_get_data(pv, t0, t1)

    def _op_plot(self, op):
        from epicsarchiver_spark.sources import sinks

        tr = self.ctx.tracer
        pvs = op.pvs
        t0, t1 = self._window(op)
        eng = self._engine()
        with tr.span("plot.get_data"):
            frame = functools.reduce(
                lambda a, b: a.unionByName(b), [eng.get_data(pv, t0, t1) for pv in pvs]
            )
        with tr.span("cull"):
            culled = eng.cull_for_plot(frame, max_points=MAX_POINTS)
        with tr.span("plot.json"):
            traces = sinks.plot_traces(culled).orderBy("pvname").collect()
            doc = sinks.make_plot_json(traces)

        def verify() -> bool:
            # <= 30 000 points in all, every series' min and max kept
            ok = doc is not None and sum(len(t["y"]) for t in traces) <= MAX_POINTS
            for t in traces:
                want = [v for _t, v in self._expect_get_data(t["pvname"], t0, t1)]
                ok = ok and bool(want) and min(t["y"]) == min(want) and max(t["y"]) == max(want)
            return ok and len(traces) == len({p for p in pvs if self._expect_get_data(p, t0, t1)})

        return verify

    def _op_value_at(self, op):
        tr = self.ctx.tracer
        pv = op.pvs[0]
        t = self.now - op.back
        eng = self._engine()
        with tr.span("value_at"):
            got = eng.get_value_at_time(pv, t)

        def verify() -> bool:
            times, values = self.model[pv]
            k = np.searchsorted(times, t + 1e-4, side="left") - 1
            want = None
            if k >= 0 and times[k] >= t - LOOKBACK_S:
                want = (float(times[k]), float(values[k]))
            return got == want

        return verify

    def _op_latest(self, op):
        tr = self.ctx.tracer
        eng = self._engine()
        with tr.span("latest"):
            rows = eng.get_values(time_ago=op.span, now=self.now).select(
                "pvname", "time", "value"
            ).collect()
        cutoff = self.now - op.span
        return lambda: {tuple(r) for r in rows} == {
            (pv, float(t[-1]), float(v[-1])) for pv, (t, v) in self.model.items() if t[-1] > cutoff
        }

    def _op_related(self, op):
        tr = self.ctx.tracer
        pv = op.pvs[0]
        eng = self._engine()
        with tr.span("related.topk"):
            rows = eng.get_related_pvs(pv, limit=20).collect()

        def verify() -> bool:
            # both edge directions, max score per neighbour, score desc then name
            e = self.inp["pairs"]
            nb = pd.concat([
                e.loc[e["pv1"] == pv, ["pv2", "score"]].set_axis(["pvname", "score"], axis=1),
                e.loc[e["pv2"] == pv, ["pv1", "score"]].set_axis(["pvname", "score"], axis=1),
            ]).groupby("pvname", as_index=False)["score"].max()
            nb = nb.sort_values(["score", "pvname"], ascending=[False, True]).head(20)
            return [(r.pvname, r.score) for r in rows] == list(
                zip(nb["pvname"], nb["score"].astype(float))
            )

        return verify

    def _op_search(self, op):
        tr = self.ctx.tracer
        eng = self._engine()
        with tr.span("search.names"):
            rows = eng.search_names(op.pattern).collect()
        return lambda: [r.pvname for r in rows] == sorted(
            n for n in self.model if n.startswith(op.pattern.rstrip("*"))
        )

    def _op_append(self, op):
        from epicsarchiver_spark.sources.points_store import write_points

        spark, tr = self.ctx.spark, self.ctx.tracer
        k = op.slice
        sl = self.inp["appends"][k]
        path = os.path.join(self.ctx.gen_dir, "viewer", "appends", f"append-{k:05d}.parquet")
        with tr.span("store.append"):
            write_points(spark.read.parquet(path), self.store, run=OPEN_RUN, mode="append")

        def advance() -> bool:  # the pandas model follows the store
            for pv, g in sl.groupby("pvname", sort=False):
                t, v = self.model[pv]
                self.model[pv] = (
                    np.concatenate([t, g["time"].to_numpy()]),
                    np.concatenate([v, g["value"].to_numpy()]),
                )
            self.now = max(self.now, float(sl["time"].max()))
            return True

        return advance

    def _expect_get_data(self, pv: str, t0: float, t1: float) -> list[tuple]:
        """get_data on the points appended so far: the in-window rows plus
        the last point in [t0 - lookback, t0), time-ordered."""
        times, values = self.model[pv]
        lo = np.searchsorted(times, t0, side="left")
        hi = np.searchsorted(times, t1, side="right")
        out = [(float(t), float(v)) for t, v in zip(times[lo:hi], values[lo:hi])]
        if lo > 0 and times[lo - 1] >= t0 - LOOKBACK_S:
            out.insert(0, (float(times[lo - 1]), float(values[lo - 1])))
        return out

    # ------------------------------------------------------------------ checks
    def check(self) -> dict[str, bool]:
        return {f: False for f in self.failures} or {"all_ops": True}

    # ----------------------------------------------------------------- metrics
    def info(self) -> dict:
        return {
            "loop_s": self.wall,
            "store_bytes": self.store_bytes,
            "op_ms": {k: sorted(round(x, 1) for x in v) for k, v in self.lat.items()},
        }

    def end_to_end(self) -> dict:
        self.read = summarize(self.lat["read"])
        self.store_bytes, self.store_files = tree_bytes(self.store)
        return {
            "work_per_s": len(self.ops) / self.wall,
            "op_p50_ms": self.read["p50"],
            "store_bytes_per_event": self.store_bytes / self.points_written,
        }

    def per_layer(self) -> dict:
        plots = self.lat.get("plot", [])

        def timed(name):
            return [s for s in self.ctx.tracer.named(name) if s.id >= self.first_span]

        def ms(name):
            sp = timed(name)
            return median([s.ms for s in sp]) if sp else 0.0

        def jobs(name, attr="jobs"):
            sp = timed(name)
            return median([getattr(s, attr) for s in sp]) if sp else 0.0

        return {
            "viewer.read_p50_ms": self.read["p50"],
            "viewer.read_n": self.read["n"],
            # too few plots in a run for a tail with ten samples beyond it
            "viewer.plot_p50_ms": median(plots) if plots else 0.0,
            "viewer.plot_n": len(plots),
            "store.write_s": self.write_s,
            "store.append_p50_ms": ms("store.append"),
            "store.open_ms": ms("store.open"),
            "store.files": self.store_files,
            "store.bytes": self.store_bytes,
            "store.tasks_per_read": jobs("get_data.exec", "tasks"),
            "get_data.build_ms": ms("get_data.build"),
            "get_data.exec_ms": ms("get_data.exec"),
            "get_data.jobs": jobs("op.read"),
            "value_at.ms": ms("value_at"),
            "latest.ms": ms("latest"),
            "search.names_ms": ms("search.names"),
            "cull.ms": ms("cull"),
            "cull.jobs": jobs("cull"),
            "plot.json_ms": ms("plot.json"),
            "related.topk_ms": ms("related.topk"),
        }
