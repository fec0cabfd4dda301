"""Reference-shaped facade: the method surface a user of
newville/epicsarchiver calls today, backed by the Spark engine.

Method names and signatures mirror the reference's ``Archiver`` /
``Cache`` classes (epicsarchiver/archiver.py:46-487,
cache.py:160-802) so a migrating user keeps their call sites; each
method delegates to the DataFrame operators and returns DataFrames (or
small python values where the reference returns scalars/lists). One
class instead of two daemons: the engine has no cache/archiver process
split (SURVEY §3.1 — multiple streaming queries on one session replace
it)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from epicsarchiver_spark.functions.times import parse_bound
from epicsarchiver_spark.operators import control, cull, related, search, timeseries
from epicsarchiver_spark.sources import points_store, pvlist


class PVArchEngine:
    """Query surface over a points store + dimension tables.

    Single-series reads (``get_data``, ``get_value_at_time`` and the
    plots built on them) scan one bucket per run, and the run's delta
    partition of pending small appends, when ``points`` carries
    the store's recorded bucket count — ``read_points`` attaches it to
    the ``bucket`` column from the store's ``_buckets`` record. Without
    that record (a legacy store, or a frame that dropped ``bucket``) they
    filter on ``pvname`` only: the engine never prunes with a bucket
    count it did not read from the store. Each such read is one scan in
    one partition: ``get_data`` finds its early-point seed with a
    ``lead`` over the same scan (``timeseries.series_get_data``), so it
    plans no Exchange and runs as one Spark job, as does
    ``get_value_at_time``. Reads answer the data columns only, never the
    store's ``run``/``bucket`` partition columns.

    Whole-store lookups (``latest``, ``get_values``, ``get_pvnames``,
    ``search_names``, ``check``, ``process_alerts``) on the frame
    ``read_points`` returned, unmodified, merge the store's per-file
    partials (``points_store.series_summary``) and scan only the files
    no partial covers; on any other frame, or a store without partials,
    they scan ``points``.

    Parameters
    ----------
    spark : SparkSession
    points : DataFrame
        (pvname, time, value, ...) fact frame — e.g.
        ``points_store.read_points(spark, path)`` or any view.
    runs, pairs, cache : optional dimension DataFrames.
    """

    def __init__(
        self,
        spark: SparkSession,
        points: DataFrame,
        runs: DataFrame | None = None,
        pairs: DataFrame | None = None,
        cache: DataFrame | None = None,
        heartbeat_s: float | None = 86400.0,
    ) -> None:
        self.spark = spark
        self.points = points
        self.runs = runs
        self.pairs = pairs
        self._cache = cache
        # W3 forced-heartbeat floor of the attached store (ref
        # util.py:348-354: every live series re-emits at least daily).
        # As-of reads then need only a 2×heartbeat_s lookback — EXACT for
        # a compliant store, and the difference between "scan all history"
        # and "scan two days" at 100 TB. None = store makes no heartbeat
        # promise → as-of scans are unbounded (correct for arbitrary data).
        self.heartbeat_s = heartbeat_s

    def _default_lookback(self) -> float | None:
        return 2.0 * self.heartbeat_s if self.heartbeat_s is not None else None

    # --- archiver surface (epicsarchiver/archiver.py) ---

    def get_data(
        self,
        pvname: str,
        tmin: float | str | None = None,
        tmax: float | str | None = None,
        with_current: bool = False,
        lookback: float | None | str = "auto",
    ) -> DataFrame:
        """ref archiver.py:131-223 — range read + early-point seed,
        optional live-value append, time-ordered. ``lookback="auto"``
        bounds the seed scan to 2×heartbeat_s (exact under the store's W3
        heartbeat floor; see __init__); pass None to scan all history."""
        t0, t1 = self._window(tmin, tmax)
        if lookback == "auto":
            lookback = self._default_lookback()
        series = points_store.series_of(self.points, pvname).drop(*points_store.PARTITION_COLS)
        out = timeseries.series_get_data(series, t0, t1, lookback=lookback)
        if with_current and self._cache is not None:
            out = timeseries.with_current(
                out, self._cache.filter(F.col("pvname") == pvname)
            ).coalesce(1)
        return out.orderBy("time")

    def get_value_at_time(
        self, pvname: str, t: float, lookback: float | None | str = "auto"
    ):
        """ref archiver.py:112-129 — (time, value) as of t, or None.
        ``lookback="auto"`` bounds the scan to 2×heartbeat_s (see
        get_data); the reference itself scans only [t-60, t+1]."""
        if lookback == "auto":
            lookback = self._default_lookback()
        series = points_store.series_of(self.points, pvname).coalesce(1)
        row = (
            timeseries.value_at_time(series, t, lookback=lookback)
            .select("time", "value")
            .head()
        )
        return (row.time, row.value) if row is not None else None

    def locf_grid(
        self,
        t0: float,
        t1: float,
        step: float,
        lookback: float | None | str = "auto",
    ) -> DataFrame:
        """W6 — LOCF grid over every attached series; the pre-window seed
        scan is heartbeat-bounded by default (see get_data)."""
        if lookback == "auto":
            lookback = self._default_lookback()
        return timeseries.locf_grid(self.points, t0, t1, step, lookback=lookback)

    def get_nchanged(self, minutes: float = 10, now: float | None = None) -> int:
        """ref archiver.py:475-487 — points archived in the last window."""
        import time as _time

        since = (now if now is not None else _time.time()) - minutes * 60.0
        return timeseries.n_changed(self.points, since).head().n

    def dbs_for_time(self, t0: float, t1: float) -> list[str]:
        """ref archiver.py:104-110 — runs overlapping [t0, t1]."""
        if self.runs is None:
            return []
        return [r.db for r in points_store.runs_for_window(self.runs, t0, t1).collect()]

    # --- cache surface (epicsarchiver/cache.py) ---

    def get_pvnames(self) -> list[str]:
        """ref cache.py:160-169."""
        summary = points_store.series_summary(self.points)
        if summary is None:
            return [r.pvname for r in search.distinct_names(self.points).collect()]
        if summary.names is not None:
            return summary.names
        return [r.pvname for r in search.distinct_names(summary.latest).collect()]

    def latest(self) -> DataFrame:
        """The newest row of every series, data columns only: the
        reference's latest-value cache table (ref cache.py:433-462)."""
        summary = points_store.series_summary(self.points)
        if summary is None:
            return timeseries.latest_per_key(self.points.drop(*points_store.PARTITION_COLS))
        return summary.latest

    def get_values(self, time_ago: float = 60.0, now: float | None = None) -> DataFrame:
        """ref cache.py:464-473 — latest rows newer than now - time_ago."""
        import time as _time

        cutoff = (now if now is not None else _time.time()) - time_ago
        return self.latest().filter(F.col("time") > cutoff)

    def get_related_pvs(self, pvname: str, limit: int = 20) -> DataFrame:
        """ref cache.py:785-802 — top-k related by pair score."""
        if self.pairs is None:
            raise ValueError("no pairs dimension attached")
        return related.related_topk(self.pairs, pvname, k=limit)

    def get_similar_pvs(
        self,
        pvname: str,
        t0: float,
        t1: float,
        step: float,
        limit: int = 5,
        words: DataFrame | None = None,
    ) -> DataFrame:
        """Data-driven sibling of :meth:`get_related_pvs` (which serves
        the reference's USAGE-scored pairs, cache.py:785-802): series
        that MOVED like ``pvname`` on [t0, t1], answered by the iSAX
        word index — neighbor-word nomination, exact Pearson re-rank on
        the nominees only. Pass ``words=`` the persisted
        ``timeseries.sax_words`` artifact to keep nomination off the
        point store entirely."""
        return timeseries.sax_topk(
            self.points, pvname, t0, t1, step, k=limit, index=words
        )

    def set_pair_score(self, new_edges: DataFrame) -> DataFrame:
        """ref cache.py:836-880 — merge usage increments; returns the
        updated pairs frame (caller persists)."""
        if self.pairs is None:
            raise ValueError("no pairs dimension attached")
        self.pairs = control.increment_pair_scores(self.pairs, new_edges)
        return self.pairs

    def add_pvfile(self, path: str) -> DataFrame:
        """ref cache.py:570-588 — parse a PV-list file; returns the name
        frame (pair edges via sources.pvlist.pvlist_pairs)."""
        return pvlist.read_pvlist(self.spark, path)

    def show_status(self, since: float, by: str = "pvname") -> DataFrame:
        """ref cache.py:225-252 / pvarch status — per-group totals,
        recent counts, newest timestamp."""
        return control.status_activity(self.points, since, by=by)

    def process_alerts(self, rules: DataFrame) -> DataFrame:
        """ref cache.py:601-630 ``process_alerts`` — evaluate threshold
        rules (keyed by pvname) against the store's latest values;
        returns the tripped rows."""
        cache = self.latest().select("pvname", "value", "time")
        return control.alert_eval(cache, rules, rule_key="pvname")

    def update_alerts(self, alerts: DataFrame, edits: DataFrame) -> DataFrame:
        """ref webapp.py:163-227 ``submit_alertedits`` →
        cache.add_alert/update_alert — MERGE the edit batch into the
        alerts dimension (caller persists the returned frame)."""
        return control.upsert_alerts(alerts, edits)

    def process_requests(self, pv: DataFrame, requests: DataFrame) -> DataFrame:
        """ref cache.py:705-752 ``process_requests`` — drain the request
        mailbox against the pv catalog, latest action per pvname wins
        (caller persists the returned catalog and clears the queue)."""
        return control.apply_requests(pv, requests)

    # --- web-layer operators (epicsarchiver/webapp.py, web_utils.py) ---

    def cull_for_plot(self, frame: DataFrame, max_points: int = 30_000) -> DataFrame:
        """ref webapp.py:396-401 — decimate for rendering."""
        return cull.cull_data(frame, max_points=max_points)

    def plot_json(self, frame: DataFrame, path: str | None = None, **plot_kw) -> str | None:
        """S12 — cull then render the reference's plotly figure JSON
        (ref web_utils.py:177-237 make_plot, fed by webapp.py:396-401)."""
        from epicsarchiver_spark.sources import sinks

        culled = self.cull_for_plot(frame)
        if path is not None:
            return sinks.write_plot_json(culled, path, **plot_kw)
        return sinks.make_plot_json(
            sinks.plot_traces(culled).orderBy("pvname").collect(), **plot_kw
        )

    def search_names(self, pattern: str) -> DataFrame:
        """ref web/WebAdmin.py:56-57 — '*' wildcard search, name-ordered."""
        summary = points_store.series_summary(self.points)
        if summary is None:
            return search.wildcard_search(self.points.select("pvname").distinct(), pattern)
        if summary.names is not None:  # a local frame, already in name order
            return summary.latest.select("pvname").filter(search.wildcard_match(pattern))
        return search.wildcard_search(summary.latest.select("pvname"), pattern)

    # --- instrument surface (epicsarchiver/web/WebInstruments.py) ---

    def save_position(self, positions: DataFrame | None, instrument: str,
                      position: str, ts: float | None = None) -> DataFrame:
        """ref WebInstruments.py:79-84 — record a named (instrument,
        position, ts); returns the updated positions dimension (caller
        persists, e.g. control.write_positions)."""
        import time as _time

        return control.save_position(
            positions, self.spark, instrument, position,
            ts if ts is not None else _time.time(),
        )

    def restore_position(self, positions: DataFrame, members, instrument: str,
                         position: str) -> DataFrame:
        """ref WebInstruments.py:255-259 — member values as of the named
        saved position."""
        return control.restore_position(self.points, positions, members,
                                        instrument, position)

    def check(self, cadence_s: float = 600.0, now: float | None = None) -> bool:
        """pvarch check (ref doc/setup.rst:40-42) — True iff ≥1 point
        archived within the cadence window."""
        import time as _time

        now = now if now is not None else _time.time()
        summary = points_store.series_summary(self.points)
        if summary is not None:
            return bool(summary.latest.filter(F.col("time") > now - cadence_s).limit(1).collect())
        row = control.check_liveness(self.points, now, cadence_s).head()
        return bool(row.alive) if row is not None else False

    # --- helpers ---

    def _window(self, tmin, tmax) -> tuple[float, float]:
        """Resolve each bound INDEPENDENTLY — mixed windows like
        ``(1000.0, "now")`` keep the numeric bound (a shared
        string-branch dispatch would silently replace it with the
        default-week window). Relative 'N units ago' strings resolve
        against the upper bound; tmin defaults to one week before it."""
        import time as _time

        now = _time.time()
        t1 = parse_bound(tmax, default=now, now=now)
        t0 = parse_bound(tmin, default=t1 - 7 * 86400.0, now=now, rel_to=t1)
        if t1 < t0:
            t0, t1 = t1, t0
        return t0, min(t1, 2147483647.0)
