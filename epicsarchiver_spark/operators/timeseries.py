"""Read-side time-series operators (SURVEY §2: S4/S6, J3/J4/J8, A1/A2/A5,
W4/W5/W9, O1/O2).

All operators take a *points* frame — ``(pvname, time DOUBLE-epoch-sec,
value, ...)`` — and compose pure DataFrame plans: filters push down to the
parquet scan, per-series work partitions by ``pvname`` (the natural shuffle
key; at 100 TB the points table is written bucketed by series so these
windows are shuffle-free), and nothing collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from epicsarchiver_spark.operators.dedup import private_persist
from epicsarchiver_spark.operators.ordering import order_cols, order_struct


def range_read(points: DataFrame, t0: float, t1: float, key: str = "pvname") -> DataFrame:
    """S4/F3/O1 — time-range scan: rows with t0 <= time <= t1.

    The reference over-fetches ±1 day and re-filters client-side
    (epicsarchiver/archiver.py:186-211); with predicate pushdown the exact
    `between` reaches the parquet scan, so the slop is dropped.
    """
    return points.filter(F.col("time").between(t0, t1))


def early_point(
    points: DataFrame, t0: float, key: str = "pvname", lookback: float | None = None
) -> DataFrame:
    """J4/W4 — per series, the single most recent point strictly before t0,
    so a range read starts with a defined value
    (ref epicsarchiver/archiver.py:192-206).

    row_number over (series, time desc) then rn=1 — one shuffle on the
    series key.

    ``lookback`` bounds the pre-t0 scan to [t0-lookback, t0). Unbounded is
    the safe default for arbitrary data, but it scans ALL history at
    100 TB. When the store honors the forced-heartbeat floor (W3: ≥1
    point/series/24 h, ref util.py:348-354), lookback = a little over the
    heartbeat period is *exact* — the heartbeat guarantee is precisely
    what makes the bounded as-of scan correct at scale.
    """
    pre = points.filter(F.col("time") < t0)
    if lookback is not None:
        pre = pre.filter(F.col("time") >= t0 - lookback)
    w = Window.partitionBy(key).orderBy(*order_cols(points, descending=True))
    return pre.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def get_data(
    points: DataFrame,
    t0: float,
    t1: float,
    key: str = "pvname",
    lookback: float | None = None,
) -> DataFrame:
    """§3.2 spine — `get_data(pv, tmin, tmax)`: in-window rows plus the
    early-point seed, one frame, time-ordered downstream
    (ref epicsarchiver/archiver.py:149-223). The reference's per-run loop
    + zarr/SQL dual path collapses into one partition-pruned scan + union.
    ``lookback`` bounds the seed scan (see early_point).

    Bulk reads keep this two-branch plan: over many series, a single
    scan with a per-series ``lead`` (``series_get_data``) would shuffle
    every row of the lookback, while the seed branch's row_number = 1
    plans as a ``WindowGroupLimit`` that shuffles one row per series per
    partition.
    """
    return range_read(points, t0, t1, key).unionByName(
        early_point(points, t0, key, lookback=lookback)
    )


def series_get_data(
    series: DataFrame,
    t0: float,
    t1: float,
    key: str = "pvname",
    lookback: float | None = None,
) -> DataFrame:
    """``get_data`` for ONE series (a frame already filtered to it) and
    t0 <= t1: the same rows, from one scan in one partition.

    The scan covers [t0 - lookback, t1] (``time <= t1`` when unbounded)
    and is coalesced to one partition. Each row with t0 <= time <= t1 is
    kept, plus the one row before t0 whose ``lead(time)`` over the
    series order (``order_cols``: time, then the event_id tiebreak) is
    null or >= t0 — the last pre-window row, early_point's seed, with
    the same tiebreak. The single partition satisfies the window's and a
    downstream ``orderBy("time")``'s distributions, so the plan has no
    Exchange (both sorts are local) and one job runs it. Meant for a
    single series: every scanned row goes through one task.
    """
    in_range = F.col("time") <= t1
    if lookback is not None:
        in_range &= F.col("time") >= t0 - max(lookback, 0.0)
    scan = series.filter(in_range)
    nxt = F.lead("time").over(Window.partitionBy(key).orderBy(*order_cols(series)))
    return (
        scan.coalesce(1)
        .withColumn("_next", nxt)
        .filter(
            F.col("time").between(t0, t1)
            | ((F.col("time") < t0) & (F.col("_next").isNull() | (F.col("_next") >= t0)))
        )
        .drop("_next")
    )


def value_at_time(
    points: DataFrame,
    t: float,
    key: str = "pvname",
    tol: float = 1e-4,
    lookback: float | None = None,
) -> DataFrame:
    """J3/W5 — as-of lookup: per series, the last value with time < t + tol
    (ref epicsarchiver/archiver.py:112-129, which scans a bounded window
    [t-60, t+1] and takes the last row with time < t+1e-4 — its own
    bounded-lookback trick; see early_point for the scale rationale)."""
    pre = points.filter(F.col("time") < t + tol)
    if lookback is not None:
        pre = pre.filter(F.col("time") >= t - lookback)
    w = Window.partitionBy(key).orderBy(*order_cols(points, descending=True))
    return pre.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def asof_join(
    points: DataFrame,
    probes: DataFrame,
    key: str = "pvname",
    probe_time: str = "t",
    tol: float = 1e-4,
) -> DataFrame:
    """J8 — grouped as-of join: for each (key, t) probe row, the latest
    point at-or-before t (ref epicsarchiver/web/WebInstruments.py:255-259:
    instrument positions restored as of a timestamp).

    Formulated as union-tag-and-window: tag probes, union with points,
    LOCF the point columns over (key, time) — a single shuffle on the
    series key, no per-probe scans. Scales to arbitrary probe counts,
    unlike the reference's per-PV loop.
    """
    pcols = [c for c in points.columns if c != key]
    tagged_points = points.select(
        F.col(key),
        F.col("time").alias("_t"),
        F.lit(0).alias("_is_probe"),
        *[F.col(c) for c in pcols],
    )
    tagged_probes = probes.select(
        F.col(key),
        (F.col(probe_time) + tol).alias("_t"),
        F.lit(1).alias("_is_probe"),
        *[F.lit(None).cast(points.schema[c].dataType).alias(c) for c in pcols],
    )
    w = (
        Window.partitionBy(key)
        .orderBy(F.col("_t"), F.col("_is_probe"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = tagged_points.unionByName(tagged_probes).select(
        F.col(key),
        F.col("_t"),
        F.col("_is_probe"),
        *[F.last(c, ignorenulls=True).over(w).alias(c) for c in pcols],
    )
    return filled.filter(F.col("_is_probe") == 1).select(
        key,
        (F.col("_t") - tol).alias(probe_time),
        *([F.col("time").alias("asof_time")] if "time" in pcols else []),
        *[c for c in pcols if c != "time"],
    )


def latest_per_key(points: DataFrame, key: str = "pvname") -> DataFrame:
    """A5 (batch) — the latest-value cache as a query: newest row per
    series (ref epicsarchiver/cache.py:433-462's continuously-upserted
    cache table, reproduced as max_by over the series key).

    Uses max_by (one-pass hash aggregate with map-side partials) instead of
    a row_number window — no full sort, half the shuffle volume at scale.
    """
    others = [c for c in points.columns if c != key]
    order = order_struct(points)
    return points.groupBy(key).agg(
        *[F.max_by(c, order).alias(c) for c in others if c != "time"],
        F.max("time").alias("time"),
    )


def with_current(frame: DataFrame, cache: DataFrame) -> DataFrame:
    """W9 — append the live cached value to an archive read when the window
    reaches 'now' (ref epicsarchiver/archiver.py:212-218)."""
    return frame.unionByName(cache.select(*frame.columns))


def minmax_times(points: DataFrame, key: str = "pvname") -> DataFrame:
    """A2 — per-series first/last timestamp + point count
    (ref epicsarchiver/cache.py:254-288 set_runinfo; the per-bucket-table
    min/max loop becomes one hash aggregate)."""
    return points.groupBy(key).agg(
        F.min("time").alias("t_first"),
        F.max("time").alias("t_last"),
        F.count(F.lit(1)).alias("n_points"),
    )


def n_changed(points: DataFrame, since: float, by: str | None = None) -> DataFrame:
    """A1 — recent-change counts: points newer than `since`
    (ref epicsarchiver/archiver.py:475-487 get_narchived /
    cache.py:208-223 get_nchanged — the Σ-over-128-tables loop is a single
    pushed-down count)."""
    recent = points.filter(F.col("time") > since)
    if by is None:
        return recent.agg(F.count(F.lit(1)).alias("n"))
    return recent.groupBy(by).agg(F.count(F.lit(1)).alias("n"))


def rate_windowed(
    points: DataFrame, window_s: float = 60.0, key: str = "pvname"
) -> DataFrame:
    """Tumbling-window event rate per series: (key, win_start, n_events,
    events_per_sec) for each window that has ≥1 event — the batch twin of
    ``streaming.ingest.rate_stream`` (same windows: floor(time/w)·w
    aligns with F.window's epoch-aligned tumbling buckets, so batch
    backfill and live streaming produce the same rows). One hash
    aggregate, map-side partials; empty windows are absent, not zero
    (join a window grid if a dense series is needed)."""
    win = (F.floor(F.col("time") / F.lit(window_s)) * F.lit(window_s)).alias("win_start")
    return points.groupBy(key, win).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.count(F.lit(1)) / F.lit(window_s), 6).alias("events_per_sec"),
    )


def largest_gaps(
    points: DataFrame,
    top_n: int = 3,
    key: str = "pvname",
) -> DataFrame:
    """Dead-PV triage: each series' ``top_n`` largest silent intervals —
    ``(key, gap_start, gap_end, gap_s, rk)``. The ops view behind the
    reference's cadence checking (a healthy archived PV's max gap ≈ its
    heartbeat; a gap of days means the collector lost the channel).
    One series-keyed exchange for the lag; the rank filter compiles to
    WindowGroupLimit (map-side top-N per series). Ties break on
    gap_start for cross-engine determinism."""
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(*order_cols(points))
    gapped = points.select(
        F.col(key),
        F.lag("time").over(w).alias("gap_start"),
        F.col("time").alias("gap_end"),
    ).filter(F.col("gap_start").isNotNull())
    rk_w = Window.partitionBy(key).orderBy(
        (F.col("gap_end") - F.col("gap_start")).desc(), F.col("gap_start")
    )
    return (
        gapped.withColumn("rk", F.row_number().over(rk_w))
        .filter(F.col("rk") <= top_n)
        .select(
            key,
            "gap_start",
            "gap_end",
            F.round(F.col("gap_end") - F.col("gap_start"), 6).alias("gap_s"),
            "rk",
        )
    )


def sessionize(
    points: DataFrame, gap_s: float, key: str = "pvname"
) -> DataFrame:
    """Gap-based sessionization: consecutive events closer than ``gap_s``
    form one session; returns (key, session_start, session_end,
    n_events) — burst/quiet segmentation for activity audits (the batch
    twin of Structured Streaming's ``session_window``, see
    ``streaming.ingest.session_stream``; same (key, gap) semantics so
    live sessions and batch backfill agree on closed sessions).

    Classic gaps-and-islands: lag → new-session flag → running sum as
    the session id → one hash aggregate. Both the window and the
    aggregate key on the series, so the sort-based window's shuffle is
    reused by the aggregate (one exchange on ``key``), and the aggregate
    is map-side partial. No driver round-trips.

    Boundary convention matches ``session_window`` exactly: an event
    merges into the current session iff its distance to the previous
    event is AT MOST ``gap_s`` — Spark's session merge treats the
    window end (last + gap) inclusively, verified by the streaming
    equivalence test — so a new session starts strictly beyond the gap."""
    w = Window.partitionBy(key).orderBy(*order_cols(points, descending=False))
    new_flag = F.when(
        F.lag("time").over(w).isNull()
        | (F.col("time") - F.lag("time").over(w) > gap_s),
        1,
    ).otherwise(0)
    sid = F.sum("_new").over(
        Window.partitionBy(key)
        .orderBy(*order_cols(points, descending=False))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        points.withColumn("_new", new_flag)
        .withColumn("_sid", sid)
        .groupBy(key, "_sid")
        .agg(
            F.min("time").alias("session_start"),
            F.max("time").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .drop("_sid")
    )


def locf_grid(
    points: DataFrame,
    t0: float,
    t1: float,
    step: float,
    key: str = "pvname",
    lookback: float | None = None,
) -> DataFrame:
    """W6 — step/LOCF resampling onto a regular grid: value holds until the
    next change (ref epicsarchiver/web_utils.py:202 'hv' step rendering).
    Grid generated with sequence() per series — no driver loop.

    Points after the last grid probe can never be a LOCF source, so the
    scan is always pruned to time <= t1 + tol (semantics-preserving).
    ``lookback`` additionally bounds the pre-window side to
    [t0 - lookback, ...] — exact when the store honors the W3
    forced-heartbeat floor (see ``early_point``); without it, a series
    whose last point predates the bound loses its seed and its grid rows
    lead with nulls."""
    tol = 1e-4
    # keys from the UNPRUNED frame: every series keeps its grid rows even
    # when all its points fall outside the pruned scan (they become nulls,
    # not missing series)
    keys = points.select(key).distinct()
    grid = keys.select(
        F.col(key),
        F.explode(
            F.transform(
                F.sequence(F.lit(int(t0)), F.lit(int(t1)), F.lit(int(step))),
                lambda x: x.cast("double"),
            )
        ).alias("t"),
    )
    pruned = points.filter(F.col("time") <= t1 + tol)
    if lookback is not None:
        pruned = pruned.filter(F.col("time") >= t0 - lookback)
    keep = [key, "time", "value"] + (["event_id"] if "event_id" in points.columns else [])
    return asof_join(pruned.select(*keep), grid, key=key)


def interp_grid(
    points: DataFrame,
    t0: float,
    t1: float,
    step: float,
    key: str = "pvname",
    lookback: float | None = None,
) -> DataFrame:
    """LINEAR-interpolation resampling onto a regular grid — the smooth
    companion to ``locf_grid`` for continuous quantities (temperatures,
    field strengths) where a staircase misrepresents the physics.
    Returns ``(key, t, value)``: value = v₀ + (v₁−v₀)·(t−t₀)/(t₁−t₀)
    between the bracketing points; grid instants before a series' first
    point are null; after its last point the value HOLDS (no forward
    extrapolation — what a live strip chart shows).

    One union-tag pass, ONE series-keyed exchange serving two frame
    windows (last-before via unbounded-preceding, first-after via
    unbounded-following) — no second as-of join for the right bracket.
    The tol shift orders a probe after an exactly-coincident point, but
    the arithmetic uses the raw probe instant, so coincident points
    reproduce their value exactly. All-double IEEE chain, mirrored
    op-for-op in the oracle."""
    tol = 1e-4
    keys = points.select(key).distinct()
    grid = keys.select(
        F.col(key),
        F.explode(
            F.transform(
                F.sequence(F.lit(int(t0)), F.lit(int(t1)), F.lit(int(step))),
                lambda x: x.cast("double"),
            )
        ).alias("t"),
    )
    pruned = points.filter(F.col("time") <= t1 + tol)
    if lookback is not None:
        pruned = pruned.filter(F.col("time") >= t0 - lookback)
    # event_id tiebreak: coincident-timestamp samples would otherwise make
    # _v0/_v1 nondeterministic across runs (same order-list discipline as
    # level_shifts/availability/ramps). Probes carry null — a probe never
    # ties with another probe at the same (_t, _is_probe).
    has_eid = "event_id" in points.columns
    eid_pt = F.col("event_id").cast("long") if has_eid else F.lit(None).cast("long")
    tagged_points = pruned.select(
        F.col(key),
        F.col("time").alias("_t"),
        F.lit(0).alias("_is_probe"),
        eid_pt.alias("_eid"),
        F.col("time").alias("_pt_time"),
        F.col("value").alias("_pt_value"),
        F.lit(None).cast("double").alias("t"),
    )
    tagged_probes = grid.select(
        F.col(key),
        (F.col("t") + tol).alias("_t"),
        F.lit(1).alias("_is_probe"),
        F.lit(None).cast("long").alias("_eid"),
        F.lit(None).cast("double").alias("_pt_time"),
        F.lit(None).cast("double").alias("_pt_value"),
        F.col("t"),
    )
    w = Window.partitionBy(key).orderBy("_t", "_is_probe", "_eid")
    wp = w.rowsBetween(Window.unboundedPreceding, 0)
    wn = w.rowsBetween(0, Window.unboundedFollowing)
    filled = tagged_points.unionByName(tagged_probes).select(
        F.col(key),
        F.col("_is_probe"),
        F.col("t"),
        F.last("_pt_time", ignorenulls=True).over(wp).alias("_t0"),
        F.last("_pt_value", ignorenulls=True).over(wp).alias("_v0"),
        F.first("_pt_time", ignorenulls=True).over(wn).alias("_t1"),
        F.first("_pt_value", ignorenulls=True).over(wn).alias("_v1"),
    )
    frac = (F.col("t") - F.col("_t0")) / (F.col("_t1") - F.col("_t0"))
    value = (
        F.when(F.col("_v0").isNull(), F.lit(None).cast("double"))
        .when(
            F.col("_v1").isNull() | (F.col("_t1") <= F.col("_t0")), F.col("_v0")
        )
        .otherwise(F.col("_v0") + (F.col("_v1") - F.col("_v0")) * frac)
    )
    return filled.filter(F.col("_is_probe") == 1).select(
        key, "t", value.alias("value")
    )


def time_weighted_avg(
    points: DataFrame,
    t0: float,
    t1: float,
    key: str = "pvname",
    lookback: float | None = None,
) -> DataFrame:
    """Time-weighted mean of the LOCF step function over [t0, t1]:
    ``(key, coverage_s, twa)`` per series — the correct average for
    irregularly-sampled archived values (a plain avg() over-weights
    bursts; the reference renders LOCF steps, web_utils.py:202, and this
    integrates exactly that staircase). ``coverage_s`` is the covered
    span (< t1−t0 when a series' first point falls inside the window);
    ``twa`` = ∫value·dt / coverage.

    One window + one hash aggregate, both keyed on the series (the
    window's sort shuffle is reused by the aggregate — one exchange).
    No separate as-of seed join: each point's hold segment is
    [max(time,t0), min(next_time,t1)), so the pre-window seed is simply
    the last row whose segment clips to a positive length, and every
    earlier row clips to zero and drops. ``lookback`` bounds the
    pre-window scan the same way as ``early_point`` (exact under the W3
    heartbeat floor)."""
    tol = 1e-4
    pruned = points.filter(F.col("time") < t1 - tol)
    if lookback is not None:
        pruned = pruned.filter(F.col("time") >= t0 - lookback)
    order = ["time", "event_id"] if "event_id" in points.columns else ["time"]
    w = Window.partitionBy(key).orderBy(*[F.col(c) for c in order])
    seg = pruned.select(
        F.col(key),
        F.col("value"),
        F.greatest(F.col("time"), F.lit(t0)).alias("_a"),
        F.least(F.coalesce(F.lead("time").over(w), F.lit(t1)), F.lit(t1)).alias("_b"),
    ).filter(F.col("_b") > F.col("_a"))
    # durations quantized to integer µs (the native resolution of the
    # source timestamps): the coverage sum becomes exact BIGINT math —
    # order-independent across partitions AND engines — instead of a
    # float accumulation whose low bits depend on reduce order
    dur_us = F.round((F.col("_b") - F.col("_a")) * F.lit(1e6)).cast("long")
    return seg.groupBy(key).agg(
        F.round(F.sum(dur_us) / F.lit(1e6), 6).alias("coverage_s"),
        F.round(F.sum(F.col("value") * dur_us) / F.sum(dur_us), 6).alias("twa"),
    )


def rollup_cube(
    points: DataFrame,
    key: str = "pvname",
    quantum: float = 0.01,
) -> DataFrame:
    """Multi-level daily rollup in ONE pass — `ROLLUP (key, day)`: the
    per-(key, day) detail, the per-key subtotal, and the grand total
    computed by a single aggregate (Spark's Expand feeds all three
    grouping sets through one exchange; three separate groupBys would
    scan and shuffle three times). ``level`` is the grouping_id bitmask
    (0 = detail, 1 = per-key, 3 = grand total); rolled-up columns are
    NULL, SQL-standard.

    Exactness across levels: the value sum is a BIGINT sum of integer
    ``quantum`` units (one grand total over millions of rows is where
    float reduce-order slack actually bites), min/max/count are
    order-free by nature; one double multiply at the end."""
    q = F.round(F.col("value") / quantum).cast("long")
    day = F.date_format(F.timestamp_seconds(F.col("time")), "yyyy-MM-dd")
    base = points.select(F.col(key), day.alias("day"), q.alias("_q"), F.col("value"))
    return (
        base.rollup(key, "day")
        .agg(
            F.grouping_id().cast("long").alias("level"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("_q").cast("double") * F.lit(quantum), 6).alias("sum_value"),
            F.round(F.min("value"), 6).alias("min_value"),
            F.round(F.max("value"), 6).alias("max_value"),
        )
        .select(key, "day", "level", "n", "sum_value", "min_value", "max_value")
    )


def ewma(
    points: DataFrame,
    alpha_num: int = 1,
    alpha_den: int = 4,
    span: int = 8,
    quantum: float = 0.01,
    key: str = "pvname",
) -> DataFrame:
    """Span-bounded exponential smoothing per series — the dashboard
    trend line: each point's smoothed value is the (1−α)^age-weighted
    mean of the last ``span`` samples (α = alpha_num/alpha_den). A true
    infinite-horizon EWMA is a recursive fold no window can express and
    (1−α)^age < 1e-4 beyond a few spans anyway, so bounding the support
    makes it a plain frame aggregate.

    Exactness: values quantize to integer ``quantum`` units and the
    weights are the EXACT integers (den−num)^age · den^(span−1−age)
    (a literal span-sized table — no float pow, whose libm rounding
    differs across engines), so numerator and denominator are bit-exact
    BIGINT sums in any engine; one double division at the end, rounded
    to 6 dp. Partial leading windows renormalize over the ages present.
    Overflow budget: |value|/quantum · den^(span−1) · span < 2⁶³ —
    defaults allow |value| ≤ 7e13.

    One series-keyed exchange: the frame window is the only shuffle and
    everything else is per-row array math in WholeStageCodegen."""
    if not (0 < alpha_num < alpha_den):
        raise ValueError("need 0 < alpha_num < alpha_den")
    wt = [
        (alpha_den - alpha_num) ** age * alpha_den ** (span - 1 - age)
        for age in range(span)
    ]
    wt_lit = F.array(*[F.lit(x).cast("long") for x in wt])
    order = ["time", "event_id"] if "event_id" in points.columns else ["time"]
    w = (
        Window.partitionBy(key)
        .orderBy(*[F.col(c) for c in order])
        .rowsBetween(-(span - 1), 0)
    )
    q = F.round(F.col("value") / quantum).cast("long")
    arr = points.select(
        F.col(key),
        F.col("time"),
        F.col("value"),
        F.collect_list(q).over(w).alias("_arr"),
    ).withColumn("_wt", wt_lit)
    # element i (1-based, ascending time) has age L−i → weight _wt[L−i+1].
    # collect_list skips NULL values, so an all-NULL support window gives
    # an EMPTY _arr — sequence(1, 0) would descend and element_at(_, 0)
    # throw; guard to a NULL ewma instead.
    num = F.aggregate(
        F.sequence(F.lit(1), F.size("_arr")),
        F.lit(0).cast("long"),
        lambda acc, i: acc
        + F.element_at("_arr", i) * F.element_at("_wt", F.size("_arr") - i + 1),
    )
    den = F.aggregate(
        F.sequence(F.lit(1), F.size("_arr")),
        F.lit(0).cast("long"),
        lambda acc, i: acc + F.element_at("_wt", i),
    )
    return arr.select(
        F.col(key),
        F.col("time"),
        F.col("value"),
        F.when(
            F.size("_arr") > 0,
            F.round(num.cast("double") / den.cast("double") * F.lit(quantum), 6),
        ).alias("ewma"),
    )


def _holt_tables(
    alpha_num: int, alpha_den: int, beta_num: int, beta_den: int, span: int
) -> tuple[list[list[int]], list[list[int]], list[int]]:
    """Exact per-window-length coefficient tables for windowed Holt:
    the level/trend recurrence is LINEAR in the inputs, so for a window
    x_1..x_L (ascending, textbook init l₁=x₁, b₁=x₂−x₁, then L−1
    updates) l_L = Σ c_i·x_i and b_L = Σ d_i·x_i with exact rational
    c, d. Computed once in python with Fraction and emitted as integer
    numerators over a common denominator per L — Spark and any SQL
    oracle consume the identical literals, so the smoothed values are
    bit-exact in any engine (the ewma weight-table device, extended to
    a second state variable)."""
    from fractions import Fraction
    from math import lcm

    a = Fraction(alpha_num, alpha_den)
    b = Fraction(beta_num, beta_den)
    WL: list[list[int]] = []
    WB: list[list[int]] = []
    DEN: list[int] = []
    for L in range(1, span + 1):
        lc = [Fraction(0)] * L
        bc = [Fraction(0)] * L
        lc[0] = Fraction(1)
        if L >= 2:
            bc[0], bc[1] = Fraction(-1), Fraction(1)
            for t in range(1, L):  # x_{t+1} drives update t+1
                xt = [Fraction(1) if i == t else Fraction(0) for i in range(L)]
                nl = [a * xt[i] + (1 - a) * (lc[i] + bc[i]) for i in range(L)]
                nb = [b * (nl[i] - lc[i]) + (1 - b) * bc[i] for i in range(L)]
                lc, bc = nl, nb
        den = 1
        for f in lc + bc:
            den = lcm(den, f.denominator)
        WL.append([int(f * den) for f in lc])
        WB.append([int(f * den) for f in bc])
        DEN.append(den)
    return WL, WB, DEN


def holt_linear(
    points: DataFrame,
    alpha_num: int = 1,
    alpha_den: int = 4,
    beta_num: int = 1,
    beta_den: int = 4,
    span: int = 8,
    quantum: float = 0.01,
    horizon: int = 1,
    key: str = "pvname",
) -> DataFrame:
    """Windowed Holt linear smoothing per series — the dashboard
    forecast lane next to :func:`ewma`: each point carries the LEVEL
    and TREND of its trailing ``span`` samples (textbook double
    exponential smoothing replayed over the window, init l₁=x₁,
    b₁=x₂−x₁) and the ``horizon``-step-ahead forecast level +
    horizon·trend. A single-sample window has no trend (0) and
    forecast = value.

    Exactness: values quantize to integer ``quantum`` units and the
    per-length coefficient tables are exact integer numerators over a
    common denominator (:func:`_holt_tables`), so level/trend/forecast
    numerators are bit-exact BIGINT dot products in any engine; one
    double division at the end, 6-dp rounded. Overflow budget:
    |value|/quantum · max|w| · span < 2⁶³ — defaults (den ≤ 16⁷)
    allow |value| ≤ ~4e3 at quantum 0.01; widen quantum for larger
    ranges. The gate ``ts_holt_linear`` certifies against a DuckDB
    replay of the same literals.

    One series-keyed exchange (the frame window); everything else is
    per-row array math in WholeStageCodegen — the ewma scale shape."""
    WL, WB, DEN = _holt_tables(alpha_num, alpha_den, beta_num, beta_den, span)
    wl_lit = F.array(*[F.array(*[F.lit(x).cast("long") for x in r]) for r in WL])
    wb_lit = F.array(*[F.array(*[F.lit(x).cast("long") for x in r]) for r in WB])
    den_lit = F.array(*[F.lit(x).cast("long") for x in DEN])
    order = ["time", "event_id"] if "event_id" in points.columns else ["time"]
    w = (
        Window.partitionBy(key)
        .orderBy(*[F.col(c) for c in order])
        .rowsBetween(-(span - 1), 0)
    )
    q = F.round(F.col("value") / quantum).cast("long")
    arr = points.select(
        F.col(key),
        F.col("time"),
        F.col("value"),
        F.collect_list(q).over(w).alias("_arr"),
    )
    L = F.size("_arr")

    def dot(tabs):
        tab = F.element_at(tabs, L)
        return F.aggregate(
            F.sequence(F.lit(1), L),
            F.lit(0).cast("long"),
            lambda acc, i: acc + F.element_at("_arr", i) * F.element_at(tab, i),
        )

    den = F.element_at(den_lit, L).cast("double")
    num_l, num_b = dot(wl_lit), dot(wb_lit)
    lvl = num_l.cast("double") / den * F.lit(quantum)
    trd = num_b.cast("double") / den * F.lit(quantum)
    fc = (num_l + F.lit(int(horizon)) * num_b).cast("double") / den * F.lit(quantum)

    # 6-dp rounding as EXPLICIT IEEE ops (floor(|x|·1e6 + 0.5)·sign/1e6)
    # rather than F.round: these outputs land on exact decimal .5 ties
    # often (power-of-two denominators), and engines disagree there —
    # Spark HALF_UPs the double's SHORTEST decimal repr while DuckDB
    # rounds the binary value. The explicit form is the same op
    # sequence everywhere (the standardize_embeddings device).
    def r6(x):
        return F.floor(F.abs(x) * F.lit(1e6) + F.lit(0.5)) * F.signum(x) / F.lit(1e6)

    # all-NULL support window → empty _arr (collect_list skips NULLs):
    # NULL outputs, same guard as ewma
    ok = L > 0
    return arr.select(
        F.col(key),
        F.col("time"),
        F.col("value"),
        F.when(ok, r6(lvl)).alias("level"),
        F.when(ok, r6(trd)).alias("trend"),
        F.when(ok, r6(fc)).alias("forecast"),
    )


# N(0,1) equiprobable breakpoints per alphabet size (Lin/Keogh SAX).
# Literal doubles — the SQL oracle parses the same decimal strings, so
# both engines compare against bit-identical values.
_SAX_BREAKPOINTS = {
    3: [-0.4307272992954576, 0.4307272992954576],
    4: [-0.6744897501960817, 0.0, 0.6744897501960817],
    5: [-0.8416212335729143, -0.2533471031357997, 0.2533471031357997,
        0.8416212335729143],
    8: [-1.1503493803760079, -0.6744897501960817, -0.3186393639643751, 0.0,
        0.3186393639643751, 0.6744897501960817, 1.1503493803760079],
}


def _hw_tables(
    alpha_num: int,
    alpha_den: int,
    beta_num: int,
    beta_den: int,
    gamma_num: int,
    gamma_den: int,
    period: int,
    span: int,
) -> tuple[list[int], list[int], list[int], int]:
    """Exact coefficient tables for windowed additive Holt–Winters over
    a FULL ``span`` window (the :func:`_holt_tables` device with a
    third, seasonal state): textbook init over the first two seasons
    (l_m = mean of season 1, b_m = Σ(x_{m+i}−x_i)/m², s_i = x_i − l_m)
    then the additive recurrences

        l_t = α(x_t − s_{t−m}) + (1−α)(l_{t−1} + b_{t−1})
        b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}
        s_t = γ(x_t − l_t) + (1−γ)s_{t−m}

    — all LINEAR in x_1..x_span, so l, b and the one-step forecast's
    seasonal s_{slot(span+1)} are exact rational dot products. Returns
    (WL, WB, WS, den): integer numerators over one common denominator;
    Spark and the SQL oracle consume identical literals."""
    from fractions import Fraction
    from math import lcm

    m, L = int(period), int(span)
    if L < 2 * m:
        raise ValueError("span must be >= 2*period (textbook init needs two seasons)")
    a = Fraction(alpha_num, alpha_den)
    b = Fraction(beta_num, beta_den)
    g = Fraction(gamma_num, gamma_den)
    zero = [Fraction(0)] * L

    def unit(i):  # coefficient vector of x_{i+1}
        v = list(zero)
        v[i] = Fraction(1)
        return v

    def add(u, v, cu=1, cv=1):
        return [cu * x + cv * y for x, y in zip(u, v)]

    lc = [Fraction(1, m) if i < m else Fraction(0) for i in range(L)]
    bc = [
        Fraction(-1, m * m) if i < m else (Fraction(1, m * m) if i < 2 * m else Fraction(0))
        for i in range(L)
    ]
    seas = [add(unit(i), lc, 1, -1) for i in range(m)]  # slot i ← x_{i+1} − l_m
    for t in range(m, L):  # x_{t+1} drives update t+1 (0-based index t)
        slot = t % m
        prev_s = seas[slot]
        nl = add(add(unit(t), prev_s, a, -a), add(lc, bc), 1, 1 - a)
        nb = add(add(nl, lc, b, -b), bc, 1, 1 - b)
        ns = add(add(unit(t), nl, g, -g), prev_s, 1, 1 - g)
        lc, bc, seas[slot] = nl, nb, ns
    fc_slot = L % m  # seasonal slot of x_{L+1}
    den = 1
    for f in lc + bc + seas[fc_slot]:
        den = lcm(den, f.denominator)
    WL = [int(f * den) for f in lc]
    WB = [int(f * den) for f in bc]
    WS = [int(f * den) for f in seas[fc_slot]]
    return WL, WB, WS, den


def holt_winters(
    points: DataFrame,
    alpha_num: int = 1,
    alpha_den: int = 2,
    beta_num: int = 1,
    beta_den: int = 2,
    gamma_num: int = 1,
    gamma_den: int = 2,
    period: int = 4,
    span: int = 12,
    quantum: float = 0.01,
    key: str = "pvname",
) -> DataFrame:
    """Windowed additive Holt–Winters per series — the SEASONAL
    forecasting lane completing :func:`holt_linear` +
    :func:`seasonal_profile`: each point with a full trailing ``span``
    window carries the level, trend and next-step seasonal of the
    additive triple-exponential recurrence replayed over that window,
    plus the one-step forecast ``level + trend + season``. Rows whose
    support window is short (series head, or nulls thinning it) get
    NULL outputs — absent evidence, not fabricated zeros.

    Exactness: the :func:`_hw_tables` device — quantized BIGINT values
    against exact integer coefficient tables, three dot products, one
    double division, explicit-IEEE 6-dp rounding; engine-identical by
    construction (gate ``ts_holt_winters``). Overflow budget:
    |value|/quantum · max|w| · span < 2⁶³ — the default ½/½/½ smoothing
    keeps the common denominator ~2²⁴, allowing |value| ≤ ~10⁹·quantum.

    One series-keyed exchange (the frame window); the dot products are
    per-row array folds in WholeStageCodegen — the holt/ewma scale
    shape."""
    WL, WB, WS, den = _hw_tables(
        alpha_num, alpha_den, beta_num, beta_den, gamma_num, gamma_den,
        period, span,
    )
    wl_lit = F.array(*[F.lit(x).cast("long") for x in WL])
    wb_lit = F.array(*[F.lit(x).cast("long") for x in WB])
    ws_lit = F.array(*[F.lit(x).cast("long") for x in WS])
    order = ["time", "event_id"] if "event_id" in points.columns else ["time"]
    w = (
        Window.partitionBy(key)
        .orderBy(*[F.col(c) for c in order])
        .rowsBetween(-(span - 1), 0)
    )
    q = F.round(F.col("value") / quantum).cast("long")
    arr = points.select(
        F.col(key),
        F.col("time"),
        F.col("value"),
        F.collect_list(q).over(w).alias("_arr"),
    )

    def dot(tab):
        return F.aggregate(
            F.sequence(F.lit(1), F.lit(int(span))),
            F.lit(0).cast("long"),
            lambda acc, i: acc + F.element_at("_arr", i) * F.element_at(tab, i),
        )

    dden = F.lit(float(den))
    num_l, num_b, num_s = dot(wl_lit), dot(wb_lit), dot(ws_lit)

    def r6(x):
        return F.floor(F.abs(x) * F.lit(1e6) + F.lit(0.5)) * F.signum(x) / F.lit(1e6)

    ok = F.size("_arr") == int(span)
    return arr.select(
        F.col(key),
        F.col("time"),
        F.col("value"),
        F.when(ok, r6(num_l.cast("double") / dden * F.lit(quantum))).alias("level"),
        F.when(ok, r6(num_b.cast("double") / dden * F.lit(quantum))).alias("trend"),
        F.when(ok, r6(num_s.cast("double") / dden * F.lit(quantum))).alias("season"),
        F.when(
            ok, r6((num_l + num_b + num_s).cast("double") / dden * F.lit(quantum))
        ).alias("forecast"),
    )


def forecast_eval(
    points: DataFrame,
    method: str = "hw",
    key: str = "pvname",
    **kwargs,
) -> DataFrame:
    """Per-series forecast backtest — the evaluation lane of the
    forecasting family: each row's one-step forecast
    (:func:`holt_linear` or :func:`holt_winters`) is compared against
    the NEXT actual value (``lead``), and errors aggregate per series.
    Returns ``(key, n, sum_abs_err_micro, mae)``: n = rows where both a
    forecast and a next value exist, the error sum an exact BIGINT in
    micro-units (|forecast−next| is the same IEEE double in any engine
    — both inputs are certified engine-identical — and the explicit
    floor(x·1e6+0.5) quantization keeps the SUM order-independent),
    mae one double division at the edge.

    The dashboard use: rank series by mae to find where the forecast
    band is trustworthy; re-run with different smoothing params to
    tune them against history. One extra lead() over the window the
    forecaster already sorted — no new exchange."""
    if method == "hw":
        fc = holt_winters(points, key=key, **kwargs)
    elif method == "holt":
        fc = holt_linear(points, key=key, **kwargs)
    else:
        raise ValueError("method must be 'hw' or 'holt'")
    order = ["time"]
    w = Window.partitionBy(key).orderBy(*[F.col(c) for c in order])
    nxt = F.lead("value").over(w)
    err = F.abs(F.col("forecast") - nxt)
    err_micro = F.floor(err * F.lit(1e6) + F.lit(0.5)).cast("long")
    scored = fc.select(
        F.col(key),
        F.when(F.col("forecast").isNotNull() & nxt.isNotNull(), err_micro).alias(
            "_e"
        ),
    )
    return (
        scored.groupBy(key)
        .agg(
            F.count("_e").alias("n"),
            F.sum("_e").alias("sum_abs_err_micro"),
        )
        .filter(F.col("n") > 0)
        .select(
            key,
            "n",
            "sum_abs_err_micro",
            # explicit-IEEE 6-dp: sum/n lands on exact decimal .5 ties
            # whenever sum % n gives half a micro-unit — F.round/round()
            # diverge there (the holt lesson)
            (
                F.floor(
                    F.abs(
                        F.col("sum_abs_err_micro").cast("double")
                        / F.col("n")
                        / F.lit(1e6)
                    )
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("mae"),
        )
    )


def sax_topk_recall(
    points: DataFrame,
    query: str,
    t0: float,
    t1: float,
    step: float,
    k: int = 5,
    n_segments: int = 4,
    alphabet: int = 4,
    quantum: float = 0.01,
    n_candidates: int = 128,
    expand: int = 2,
    key: str = "pvname",
) -> DataFrame:
    """Index-quality audit for :func:`sax_topk` — the ts twin of
    ``emb_ann_recall``: the exact answer is the top-k series by SIGNED
    r against the query (query-vs-all, NOT all-pairs — linear in series
    count, so the audit itself scales; signed r is the shape-similarity
    notion the word index targets — anti-correlated partners belong to
    :func:`series_correlation`'s \\|r\\| domain, which no shape index
    can nominate), the index answer is :func:`sax_topk`'s
    nomination+rerank, and recall is the overlap.
    Returns one row ``(k, n_exact, n_indexed, n_hit, recall_pct)``
    with recall in exact integer percent·100 units (n_hit·10000/k)."""
    # the audit grid feeds the query row and the exact all-series sums —
    # persist so the corpus LOCF pass runs once (series × grid instants,
    # far smaller than points); exact/indexed are k-row frames each read
    # twice (the hit join + their count), and `indexed` re-expands the
    # whole sax_topk plan per reference without the persist (r13)
    grid = private_persist(
        locf_grid(points, t0, t1, step, key=key)
        .filter(F.col("value").isNotNull())
        .select(
            F.col(key),
            "t",
            F.round(F.col("value") / quantum).cast("long").alias("q"),
        )
    )
    qgrid = grid.filter(F.col(key) == query).select(
        F.col("t"), F.col("q").alias("qa")
    )
    sums = (
        grid.filter(F.col(key) != query)
        .join(F.broadcast(qgrid), "t")
        .groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("qa").alias("sx"),
            F.sum("q").alias("sy"),
            F.sum(F.col("qa") * F.col("q")).alias("sxy"),
            F.sum(F.col("qa") * F.col("qa")).alias("sxx"),
            F.sum(F.col("q") * F.col("q")).alias("syy"),
        )
    )
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    r = cov.cast("double") / (
        F.sqrt(varx.cast("double")) * F.sqrt(vary.cast("double"))
    )
    exact = private_persist(
        sums.filter((varx > 0) & (vary > 0))
        .select(F.col(key), r.alias("_r"))
        .orderBy(F.col("_r").desc(), F.col(key))
        .limit(int(k))
    )
    indexed = private_persist(
        sax_topk(
            points, query, t0, t1, step, k=k, n_segments=n_segments,
            alphabet=alphabet, quantum=quantum, n_candidates=n_candidates,
            expand=expand, key=key,
        )
    )
    hit = exact.select(key).join(indexed.select(key), key, "inner")
    return (
        exact.agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(F.broadcast(indexed.agg(F.count(F.lit(1)).alias("n_indexed"))))
        .crossJoin(F.broadcast(hit.agg(F.count(F.lit(1)).alias("n_hit"))))
        .select(
            F.lit(int(k)).cast("long").alias("k"),
            "n_exact",
            "n_indexed",
            "n_hit",
            F.expr(f"CAST(n_hit * 10000 DIV {int(k)} AS BIGINT)").alias(
                "recall_pct100"
            ),
        )
    )


def sax_symbols(
    points: DataFrame,
    n_segments: int = 8,
    alphabet: int = 4,
    quantum: float = 0.01,
    key: str = "pvname",
) -> DataFrame:
    """SAX symbolization per series (Lin/Keogh) — the dimensionality
    reduction behind classic time-series indexing/similarity: each
    series z-normalizes against its OWN exact-integer moments, splits
    into ``n_segments`` equal-count frames in time order, averages each
    frame (PAA), and maps the average to an equiprobable-gaussian
    letter. Returns long-form ``(key, segment, n, paa, symbol)`` — the
    word is ``string_agg(symbol ORDER BY segment)`` away, and long form
    is driver-canon-sortable (the emb_standardize lesson).

    Exactness: values quantize to integer units; per-series moments
    (n, Σq, Σq²) and per-segment sums are exact BIGINTs, so the PAA
    value ((Σq_seg/n_seg − μ_q)/σ_q, fixed IEEE op order, explicit
    6-dp rounding) and therefore every symbol is engine-identical —
    certified by the ts_sax gate. Constant series (σ=0) → paa 0,
    middle letter.

    Scale shape: ONE series-keyed exchange serving everything — the
    rank window, the per-series moments (whole-partition frame windows
    over the same sort, so no second sort either), and the
    (key, segment) aggregate (hash-partitioning on ``key`` already
    co-locates every segment of a series, so Spark adds no exchange).
    The r13 optimization pass replaced the original
    aggregate-and-join-back formulation, whose THREE references to the
    upstream frame re-expanded the whole input subtree (a locf_grid
    caller paid 6 parquet scans per symbolization; nested callers
    multiplied that into the 156-scan ts_sax_words_incremental plan) —
    same BIGINT sums, same IEEE op order, bit-identical output."""
    if alphabet not in _SAX_BREAKPOINTS:
        raise ValueError(f"alphabet must be one of {sorted(_SAX_BREAKPOINTS)}")
    bps = _SAX_BREAKPOINTS[alphabet]
    letters = "abcdefgh"[:alphabet]
    order = ["time", "event_id"] if "event_id" in points.columns else ["time"]
    q = F.round(F.col("value") / quantum).cast("long")
    w = Window.partitionBy(key).orderBy(*[F.col(c) for c in order])
    wk = Window.partitionBy(key)
    base = points.select(
        F.col(key),
        q.alias("_q"),
        (F.row_number().over(w) - 1).alias("_rk"),
    ).select(
        F.col(key),
        "_q",
        "_rk",
        F.count(F.lit(1)).over(wk).alias("_n"),
        F.sum("_q").over(wk).alias("_sq"),
        F.sum(F.col("_q") * F.col("_q")).over(wk).alias("_sqq"),
    )
    seg = base.select(
        F.col(key),
        F.floor(F.col("_rk") * int(n_segments) / F.col("_n")).cast("long").alias(
            "segment"
        ),
        "_q",
        "_n",
        "_sq",
        "_sqq",
    )
    segsum = seg.groupBy(key, "segment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_q").alias("_ss"),
        F.first("_n").alias("_n"),
        F.first("_sq").alias("_sq"),
        F.first("_sqq").alias("_sqq"),
    )
    mu = F.col("_sq").cast("double") / F.col("_n")
    var = F.col("_sqq").cast("double") / F.col("_n") - mu * mu
    sig = F.sqrt(F.greatest(var, F.lit(0.0)))
    joined = segsum.withColumn(
        "_paa_raw",
        F.when(
            sig > 0,
            (F.col("_ss").cast("double") / F.col("n") - mu) / sig,
        ).otherwise(F.lit(0.0)),
    )
    r6 = (
        F.floor(F.abs(F.col("_paa_raw")) * F.lit(1e6) + F.lit(0.5))
        * F.signum("_paa_raw")
        / F.lit(1e6)
    )
    sym = F.lit(letters[0])
    for i, bp in enumerate(bps):
        sym = F.when(F.col("paa") < F.lit(bp), sym).otherwise(F.lit(letters[i + 1]))
    return (
        joined.withColumn("paa", r6)
        .select(F.col(key), "segment", F.col("n").cast("long").alias("n"), "paa")
        .withColumn("symbol", sym)
    )


def sax_words(
    points: DataFrame,
    t0: float,
    t1: float,
    step: float,
    n_segments: int = 4,
    alphabet: int = 4,
    quantum: float = 0.01,
    key: str = "pvname",
) -> DataFrame:
    """One SAX word per series over its LOCF grid on [t0, t1] —
    ``(key, word)``, the iSAX-style index record (Shieh/Keogh).
    Aligning every series onto the SAME grid before symbolizing is
    what makes words comparable across series; :func:`sax_symbols`
    then guarantees the letters are engine-identical (exact-integer
    moments, explicit 6-dp rounding, literal breakpoints).

    This is the persisted build-once artifact of the similarity lane
    (the minhash-signature cadence): bytes per series, rebuilt per
    release, and every :func:`sax_topk` query after that nominates by
    word equi-join against it without touching the point store."""
    grid = (
        locf_grid(points, t0, t1, step, key=key)
        .filter(F.col("value").isNotNull())
        .select(F.col(key), F.col("t").alias("time"), "value")
    )
    sym = sax_symbols(
        grid, n_segments=n_segments, alphabet=alphabet, quantum=quantum, key=key
    )
    return sym.groupBy(key).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("segment", "symbol"))),
                lambda s: s["symbol"],
            ),
            "",
        ).alias("word")
    )


def sax_words_build(
    points: DataFrame,
    t0: float,
    t1: float,
    step: float,
    n_segments: int = 4,
    alphabet: int = 4,
    quantum: float = 0.01,
    key: str = "pvname",
) -> DataFrame:
    """:func:`sax_words` plus the freshness contract the artifact needs
    to be refreshable (VERDICT r11 task 5, mirroring the persisted
    components/BM25/IVF-PQ artifacts): each word row carries ``wm`` —
    the series' max point time at or before the window horizon
    (``t1 + 1e-4``, the LOCF as-of slack) at build — and ``np``, its
    point COUNT under that horizon. A later point at or under the
    horizon is exactly what can change the word (LOCF pulls from
    before ``t0`` too, so the watermark spans ALL points up to the
    horizon, not just in-window ones); points past the horizon cannot.
    The count catches what the max-time alone cannot: a BACKFILL — a
    point landing EARLIER than the series' current max (ASCII imports,
    zarr restores) changes the word without moving the watermark.
    ``(key, word, wm, np)``."""
    words = sax_words(points, t0, t1, step, n_segments, alphabet, quantum, key)
    wms = (
        points.filter(F.col("time") <= t1 + 1e-4)
        .groupBy(key)
        .agg(F.max("time").alias("wm"), F.count(F.lit(1)).alias("np"))
    )
    return words.join(wms, key)


def sax_words_refresh(
    points: DataFrame,
    artifact: DataFrame,
    t0: float,
    t1: float,
    step: float,
    n_segments: int = 4,
    alphabet: int = 4,
    quantum: float = 0.01,
    key: str = "pvname",
    stats: DataFrame | None = None,
) -> DataFrame:
    """Incremental refresh of a :func:`sax_words_build` artifact as
    points append — the ``doc_components_incremental`` cadence applied
    to the word index: an anti-join of live per-series (max-time,
    count) pairs against the artifact's build watermarks finds STALE
    series (new points at/under the window horizon — the COUNT catches
    backfills that land below the max-time — or series the artifact
    has never seen); ONLY those are re-worded — a leftsemi-pruned
    :func:`sax_words` pass (AQE broadcasts the stale-key side when the
    append is narrow, the common case) — and every unchanged series
    reads back its artifact row untouched. Unchanged (watermark,
    count) ⇒ unchanged grid inputs ⇒ identical word, so the refreshed
    artifact is row-identical to a full rebuild at a fraction of the
    scan (tests/test_sax_auto.py proves read-back by tampering an
    unchanged row). Output schema = the artifact's
    ``(key, word, wm, np)``.

    At probe scale the staleness scan itself (per-series max/count over
    raw points) rides the same raw scan the full build pays, so refresh
    saves only the word-build compute (SCALE r12e: 8.3 vs 9.8 s at ×10
    for a 1% append). The production move is ``stats=``: pass a
    ``(key, wm, np)`` CURRENT-stats frame maintained by the ingest —
    the latest-value cache already carries each series' max time, and a
    per-series point count is one more mergeable integer beside it —
    and the refresh touches raw points ONLY for the stale series; its
    cost is then O(stale), independent of corpus size. ``stats=`` is a
    staleness DETECTOR only, with a COMPLETENESS precondition (r12
    ADVICE): staleness is computed from ``stats`` alone, so the frame
    must cover every series present in ``points`` — a series missing
    from it is neither re-worded nor kept and silently drops from the
    refreshed artifact. The ingest cache satisfies this by
    construction (every ingested point lands in it;
    ``streaming.ingest.read_cache_stats``), but writes that bypass the
    cache (direct ASCII/zarr store imports) break BOTH the coverage
    and the count — run a no-stats refresh after such imports. Under
    that precondition the detector can only over-report: an all-time
    cache re-words a series with only past-horizon appends to the
    identical word (harmless), while under-reporting would need the
    monotone count to stand still across an in-horizon append, which
    it cannot for cache-fed writes. The artifact's stored
    (wm, np) are ALWAYS recomputed horizon-bounded from the stale
    series' own points — an O(stale) aggregate on the frame the reword
    already scans — never copied from ``stats``, so the
    refresh ≡ full-rebuild invariant survives unbounded caches
    (tests/test_sax_auto.py::test_stats_detector_never_poisons_artifact).
    """
    horizon = t1 + 1e-4
    if stats is not None:
        cur = stats.select(
            F.col(key),
            F.col("wm").alias("_cur_wm"),
            F.col("np").alias("_cur_np"),
        )
    else:
        cur = (
            points.filter(F.col("time") <= horizon)
            .groupBy(key)
            .agg(
                F.max("time").alias("_cur_wm"),
                F.count(F.lit(1)).alias("_cur_np"),
            )
        )
    # diamond dedup (r13, guide §2.4/§5): ``artifact`` feeds both the
    # staleness join and the keep anti-join, and ``stale`` feeds both
    # the reword semi-join and the keep anti-join — without persisting,
    # each reference re-expands the upstream plan (an inline-built
    # artifact was WORDED TWICE; the certification gate's plan carried
    # 156 parquet scans). Both frames are bytes-per-series small
    # (word rows / bare keys), so the persist is bounded at any scale.
    # LIFECYCLE: the persists are PRIVATE (per-call token, see
    # dedup.private_persist) — a plain persist of the artifact's bare
    # read was silently served to every later same-path plan in the
    # session, including a post-swap read of the refreshed artifact
    # (caught by the `pvarch index_words` CLI round-trip test) and a
    # later from-scratch rebuild (caught by the stats-lane e2e test).
    # The entries live until clearCache; the CLI additionally
    # refreshByPath-es after its in-place swap (the standard Spark
    # contract for externally-changed files).
    artifact = private_persist(artifact)
    stale = private_persist(
        cur.join(artifact.select(key, "wm", "np"), key, "left")
        .filter(
            F.col("wm").isNull()
            | (F.col("_cur_wm") > F.col("wm"))
            | (F.col("_cur_np") != F.col("np"))
        )
        .select(key)
    )
    # the stale-pruned point frame feeds three consumers (the build
    # stats below, plus locf_grid's key census and as-of scan inside the
    # reword) — persist so the corpus is scanned once for it; in the
    # production cadence stale is a narrow append so this frame is small
    stale_points = private_persist(points.join(stale, key, "leftsemi"))
    # horizon-bounded build stats for the re-worded rows, from the same
    # pruned frame the reword scans — NEVER the caller's stats frame,
    # whose values may be unbounded (all-time cache)
    fresh_stats = (
        stale_points.filter(F.col("time") <= horizon)
        .groupBy(key)
        .agg(F.max("time").alias("wm"), F.count(F.lit(1)).alias("np"))
    )
    fresh = sax_words(
        stale_points, t0, t1, step, n_segments, alphabet, quantum, key
    ).join(fresh_stats, key)
    keep = artifact.join(stale, key, "left_anti")
    return keep.unionByName(fresh.select(key, "word", "wm", "np"))


def sax_topk(
    points: DataFrame,
    query: str,
    t0: float,
    t1: float,
    step: float,
    k: int = 5,
    n_segments: int = 4,
    alphabet: int = 4,
    quantum: float = 0.01,
    n_candidates: int = 128,
    expand: int = 2,
    key: str = "pvname",
    index: DataFrame | None = None,
) -> DataFrame:
    """iSAX-style indexed series similarity — "series most similar to
    ``query``", the time-series twin of the SQ8/IVF-PQ two-stage
    cadence and the data-driven lane of the reference's related-PV
    page (ref cache.py:785-802 serves it from co-browsing scores;
    :func:`series_correlation` from exact correlation at Σ block²
    cost; this answers one query at nominate-then-rerank cost).

    Stage 1 nominates series sharing the query's SAX WORD by equi-join
    on the word table — pass ``index=`` the persisted
    :func:`sax_words` artifact and nomination never touches the point
    store at all (the 100 TB shape: a word row is ~word-length bytes
    per series). The candidate set is fenced to the first
    ``n_candidates`` by name — a deterministic recall dial, same
    posture as the ANN lanes' nomination caps. Stage 2 re-reads ONLY
    the nominees' points (the ``isin`` pushes into the scan) and
    re-ranks by EXACT Pearson r on the common LOCF grid — the
    :func:`series_correlation` BIGINT-moment device, so r is
    engine-identical. Returns ``(pvname, word, n, r)``: top ``k`` by
    \\|r\\| desc, name-ordered ties; non-constant overlap only.

    Sizing at scale (SCALE r11f): the productive recall dial is word
    RESOLUTION + fence together — grow ``n_segments`` with the corpus
    so word buckets stay well under ``n_candidates`` (the iSAX
    adaptive-cardinality move); widening ``expand`` at a fixed fence
    can HURT (the neighbor flood evicts true mates from the
    name-ordered fence). When a bucket holds thousands of true
    shape-mates the top-k among them is a tie lottery and any fence-ful
    is quality-equivalent (measured within 1e-4 of optimal r). Use
    :func:`sax_auto_params` / :func:`sax_topk_auto` to derive
    fence-sized settings from the series count, and
    :func:`sax_index_health` to read the bucket-occupancy health line
    before trusting a configuration.

    NEVER call the inline lane (``index=None``) at scale: it rebuilds
    the ENTIRE word table — a full corpus scan — per query (SCALE r11b:
    3.8 s inline vs 1.6 s indexed at sf0.1; at 100 TB the inline lane
    is a 100 TB scan per lookup). It exists to certify the word builder
    inside one gate; production queries pass ``index=`` the persisted
    :func:`sax_words` artifact, always."""
    spark = points.sparkSession
    # the word table is read twice (query-word lookup + candidate scan);
    # an inline build must not be PAID twice (r13, guide §5) — the
    # persisted frame is bytes-per-series. A passed index= artifact is
    # already a cheap parquet read-back and is left alone.
    words = (
        index
        if index is not None
        else private_persist(
            sax_words(points, t0, t1, step, n_segments, alphabet, quantum, key)
        )
    )
    empty = spark.createDataFrame(
        [], f"{key} string, word string, n long, r double"
    )
    qrow = words.filter(F.col(key) == query).select("word").head()
    if qrow is None:
        return empty
    qword = qrow["word"]
    # iSAX-style neighbor expansion: nominate words within `expand`
    # differing segments of the query's, each differing letter ADJACENT
    # on the breakpoint ladder (the MINDIST-lite move — an exact-word
    # equi-join alone misses near-shape partners whose PAA sits just
    # across one breakpoint). expand=0 degenerates to word equality.
    dists = [
        F.abs(
            F.ascii(F.substring("word", i + 1, 1)) - F.lit(ord(qword[i]))
        )
        for i in range(len(qword))
    ]
    ndiff = None
    for d in dists:
        term = F.when(d > 0, 1).otherwise(0)
        ndiff = term if ndiff is None else ndiff + term
    maxd = F.greatest(*dists) if len(dists) > 1 else dists[0]
    cands = (
        words.filter(
            (ndiff <= int(expand)) & (maxd <= 1) & (F.col(key) != query)
        )
        .orderBy(key)
        .limit(int(n_candidates))
    )
    # bounded driver hop (≤ n_candidates (name, word) pairs) — the
    # sq8_topk_rerank posture: nominate, collect ids, prune the exact
    # re-read. Words ride along so the output can report each
    # candidate's OWN word (expansion makes them differ from the
    # query's).
    id_words = [(r[0], r[1]) for r in cands.select(key, "word").collect()]
    ids = [i for i, _w in id_words]
    if not ids:
        return empty
    cand_words = F.broadcast(
        spark.createDataFrame(id_words, f"{key} string, word string")
    )
    # the nominee grid feeds both the query row and the candidate sums —
    # persist so the isin-pruned re-read + LOCF pass runs once (it is
    # ≤ (n_candidates+1) series × grid instants, bounded at any scale)
    grid = private_persist(
        locf_grid(points.filter(F.col(key).isin(ids + [query])), t0, t1, step, key=key)
        .filter(F.col("value").isNotNull())
        .select(
            F.col(key),
            "t",
            F.round(F.col("value") / quantum).cast("long").alias("q"),
        )
    )
    qgrid = grid.filter(F.col(key) == query).select(
        F.col("t"), F.col("q").alias("qa")
    )
    sums = (
        grid.filter(F.col(key) != query)
        .join(F.broadcast(qgrid), "t")
        .groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("qa").alias("sx"),
            F.sum("q").alias("sy"),
            F.sum(F.col("qa") * F.col("q")).alias("sxy"),
            F.sum(F.col("qa") * F.col("qa")).alias("sxx"),
            F.sum(F.col("q") * F.col("q")).alias("syy"),
        )
    )
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    r = cov.cast("double") / (
        F.sqrt(varx.cast("double")) * F.sqrt(vary.cast("double"))
    )
    return (
        sums.filter((varx > 0) & (vary > 0))
        .select(F.col(key), "n", r.alias("_r"))
        .orderBy(F.abs(F.col("_r")).desc(), F.col(key))
        .limit(int(k))
        .join(cand_words, key)
        .select(key, "word", "n", F.round("_r", 6).alias("r"))
    )


def sax_auto_params(
    n_series: int,
    n_grid: int = 16,
    alphabet: int = 4,
    fence: int = 128,
    max_fence: int = 1024,
    pin_segments: int | None = None,
) -> dict:
    """Corpus-stat-derived iSAX sizing (the adaptive-cardinality move,
    Shieh/Keogh iSAX; SCALE r11f measured the failure of fixed
    defaults): pick the smallest ``n_segments`` whose word space keeps
    the EXPECTED bucket (series per word) at or under half the
    nomination fence, so a bucket-ful of nominees fits the fence with
    headroom for neighbor expansion. Segments are capped by the grid
    (a PAA segment needs at least one grid instant; resolution beyond
    the grid is imaginary). If the cap still leaves buckets
    fence-breaking — a corpus of few distinct shapes, where more
    resolution cannot split true shape-mates — the fence itself grows
    to 2× the expected bucket (clamped to ``max_fence``), trading query
    cost for not silently truncating a tied bucket.

    Pure driver-side arithmetic (no data pass — feed it
    ``index.count()`` or a cached series count). Returns ``{'n_segments',
    'n_candidates', 'n_words', 'expected_bucket'}``. At the gate corpus
    (750 series, 15-instant grid) it resolves to the r11 defaults
    (4, 128) — certified by the ``ts_sax_topk_auto`` gate sharing
    ``ts_sax_topk``'s oracle; the segment-changing and fence-growing
    branches are driver-certified by ``ts_sax_topk_auto_adaptive`` /
    ``ts_sax_topk_auto_fence`` (VERDICT r12 task 7) and the ×10
    structured-corpus probe (SCALE r12b) certifies the region beyond
    gate scale.

    ``pin_segments`` — a persisted word artifact PINS the segment
    count (every stored word has the build's length; mixed lengths
    break the equi-join): pass the index's word length to skip the
    segment search and derive only the fence for that resolution."""
    n_series = max(1, int(n_series))
    # the grid cap is a hard ceiling (a PAA segment needs at least one
    # grid instant — the old max(4, ...) floor could exceed a short
    # grid and emit words shorter than the pinned segment count)
    cap = max(1, int(n_grid) - 1)
    target = max(1, int(fence) // 2)
    if pin_segments is not None:
        n_segments = max(1, int(pin_segments))
    else:
        n_segments = min(4, cap)
        while n_segments < cap and n_series > target * (alphabet ** n_segments):
            n_segments += 1
    n_words = alphabet ** n_segments
    expected_bucket = -(-n_series // n_words)  # ceil
    n_candidates = int(fence)
    if 2 * expected_bucket > n_candidates:
        n_candidates = min(int(max_fence), 2 * expected_bucket)
    return {
        "n_segments": n_segments,
        "n_candidates": n_candidates,
        "n_words": n_words,
        "expected_bucket": expected_bucket,
    }


def sax_topk_auto(
    points: DataFrame,
    query: str,
    t0: float,
    t1: float,
    step: float,
    k: int = 5,
    alphabet: int = 4,
    quantum: float = 0.01,
    fence: int = 128,
    expand: int = 2,
    key: str = "pvname",
    index: DataFrame | None = None,
    n_series: int | None = None,
) -> DataFrame:
    """:func:`sax_topk` with :func:`sax_auto_params` sizing — the lane
    that stays healthy as the corpus grows instead of shipping the
    fixed (4 segments, fence 128) defaults that SCALE r11f measured at
    0% identity-recall on a ×10 structured corpus. ``n_series`` skips
    the sizing count when the caller already knows it (one bounded
    driver aggregate otherwise — prefer ``index.count()``: the word
    artifact is bytes per series).

    With ``index=`` the segment count is DERIVED FROM THE INDEX — the
    length of a sampled word, the same device as ``pvarch index_words
    --refresh`` — never from the live series count (r12 ADVICE): an
    index built at a different resolution would otherwise make the
    query word a different length than the stored words, and the
    equi-join + neighbor expansion would silently match nothing. The
    fence still sizes adaptively for the pinned resolution
    (``sax_auto_params(pin_segments=...)``)."""
    idx_segments = None
    if index is not None:
        if n_series is None:
            n_series = index.count()
        head = index.select(F.length("word").alias("_n")).head()
        if head is not None:
            idx_segments = int(head["_n"])
    elif n_series is None:
        n_series = points.select(key).distinct().count()
    n_grid = int(round((t1 - t0) / step)) + 1
    p = sax_auto_params(
        n_series, n_grid=n_grid, alphabet=alphabet, fence=fence,
        pin_segments=idx_segments,
    )
    return sax_topk(
        points, query, t0, t1, step, k=k,
        n_segments=p["n_segments"], alphabet=alphabet, quantum=quantum,
        n_candidates=p["n_candidates"], expand=expand, key=key, index=index,
    )


def sax_index_health(
    words: DataFrame, n_candidates: int = 128, key: str = "pvname"
) -> DataFrame:
    """The one-line index-health report beside ``ts_sax_recall``
    (VERDICT r11 task 3): bucket-occupancy stats of a :func:`sax_words`
    artifact against the nomination fence. One row, all exact BIGINTs:
    ``(n_series, n_words, max_bucket, p99_bucket, overflow_words,
    overflow_series_pct100)`` where overflow = words whose bucket
    exceeds ``n_candidates`` (their members can silently evict true
    mates from the name-ordered fence — the r11f recall cliff) and
    ``p99_bucket`` is the occupancy at integer rank ceil(99·n_words/100)
    ordered by (occupancy, word). Read it before trusting a
    configuration: overflow_series_pct100 > 0 means that share of the
    corpus lives in fence-breaking buckets — grow segments (or the
    fence) via :func:`sax_auto_params`.

    Scale shape: one aggregate over the bytes-per-series word table to
    |word-space| rows, then a single-partition rank over those — bounded
    by alphabet^segments, never by corpus size."""
    from pyspark.sql import Window

    # the bucket frame (≤ alphabet^segments rows) feeds the rank lane
    # and the totals; persist so an inline-built word table is worded
    # once, not once per consumer (r13 — was 4 full builds in the
    # ts_sax_health plan: 48 Exchanges / 36 scans before, one after)
    b = private_persist(words.groupBy("word").agg(F.count(F.lit(1)).alias("bn")))
    ranked = b.withColumn(
        "rk", F.row_number().over(Window.orderBy("bn", "word"))
    )
    tot = b.agg(
        F.sum("bn").cast("long").alias("n_series"),
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.max("bn").cast("long").alias("max_bucket"),
        F.sum(F.when(F.col("bn") > int(n_candidates), 1).otherwise(0))
        .cast("long")
        .alias("overflow_words"),
        F.sum(F.when(F.col("bn") > int(n_candidates), F.col("bn")).otherwise(0))
        .cast("long")
        .alias("_overflow_series"),
    )
    p99 = (
        ranked.crossJoin(F.broadcast(tot.select(F.col("n_words").alias("_nw"))))
        .filter(F.col("rk") == F.expr("CAST((99 * _nw + 99) DIV 100 AS BIGINT)"))
        .select(F.col("bn").cast("long").alias("p99_bucket"))
    )
    return tot.crossJoin(F.broadcast(p99)).select(
        "n_series",
        "n_words",
        "max_bucket",
        "p99_bucket",
        "overflow_words",
        F.expr("CAST(_overflow_series * 10000 DIV n_series AS BIGINT)").alias(
            "overflow_series_pct100"
        ),
    )


def sax_window_words(
    points: DataFrame,
    window: int = 16,
    n_segments: int = 4,
    alphabet: int = 4,
    quantum: float = 0.01,
    key: str = "pvname",
) -> DataFrame:
    """The per-window SAX word lane under :func:`sax_discords` (and the
    batch twin of ``streaming.alerts.discord_stream``): every full
    length-``window`` subsequence, z-normalized against its OWN
    exact-integer moments, PAA-averaged into ``n_segments`` equal
    slices and lettered via the literal gaussian breakpoints. Returns
    ``(key, time, word)`` — ``time`` is the window's start row."""
    if window % n_segments:
        raise ValueError("window must be divisible by n_segments")
    if alphabet not in _SAX_BREAKPOINTS:
        raise ValueError(f"alphabet must be one of {sorted(_SAX_BREAKPOINTS)}")
    bps = _SAX_BREAKPOINTS[alphabet]
    letters = "abcdefgh"[:alphabet]
    ss = window // n_segments
    order = ["time", "event_id"] if "event_id" in points.columns else ["time"]
    w = (
        Window.partitionBy(key)
        .orderBy(*[F.col(c) for c in order])
        .rowsBetween(0, window - 1)
    )
    q = F.round(F.col("value") / quantum).cast("long")
    framed = (
        points.filter(F.col("value").isNotNull())
        .select(F.col(key), F.col("time"), F.collect_list(q).over(w).alias("_arr"))
        .filter(F.size("_arr") == window)
    )

    def isum(arr):
        return F.aggregate(arr, F.lit(0).cast("long"), lambda acc, x: acc + x)

    sw = isum(F.col("_arr"))
    sww = F.aggregate(
        F.col("_arr"), F.lit(0).cast("long"), lambda acc, x: acc + x * x
    )
    mu = sw.cast("double") / F.lit(float(window))
    sig = F.sqrt(
        F.greatest(sww.cast("double") / F.lit(float(window)) - mu * mu, F.lit(0.0))
    )

    def paa_r6(x):
        return F.floor(F.abs(x) * F.lit(1e6) + F.lit(0.5)) * F.signum(x) / F.lit(1e6)

    def letter(paa):
        sym = F.lit(letters[0])
        for i, bp in enumerate(bps):
            sym = F.when(paa < F.lit(bp), sym).otherwise(F.lit(letters[i + 1]))
        return sym

    segs = [
        letter(
            paa_r6(
                F.when(
                    sig > 0,
                    (
                        isum(F.slice(F.col("_arr"), j * ss + 1, ss)).cast("double")
                        / F.lit(float(ss))
                        - mu
                    )
                    / sig,
                ).otherwise(F.lit(0.0))
            )
        )
        for j in range(n_segments)
    ]
    return framed.select(F.col(key), F.col("time"), F.concat(*segs).alias("word"))


def sax_discords(
    points: DataFrame,
    window: int = 16,
    n_segments: int = 4,
    alphabet: int = 4,
    k: int = 3,
    quantum: float = 0.01,
    key: str = "pvname",
) -> DataFrame:
    """HOT-SAX-style discord detection (Keogh/Lin/Fu): the top-``k``
    most anomalous length-``window`` subsequences per series, ranked
    by the RARITY of their SAX word within that series — a
    subsequence whose shape recurs gets a common word; the one-off
    transient gets a word (almost) nobody else has. The anomaly
    consumer of :func:`sax_symbols`, completing the outlier family
    next to robust/rolling/seasonal/level-shift.

    Each full window z-normalizes against its OWN exact-integer
    moments (Σq, Σq² BIGINTs over the frame), PAA-averages
    ``n_segments`` equal slices, maps to letters via the literal
    gaussian breakpoints (same explicit 6-dp rounding as
    :func:`sax_symbols` — engine-identical words), then words are
    counted per series and windows ranked (count asc, start time asc).
    Classic HOT-SAX uses the rare-word heuristic to ORDER a search
    whose final metric is exact-NN distance; at archive scale the word
    count itself is the certified, shuffle-cheap anomaly score, and an
    exact-distance confirm is a bounded re-read of the k winners.
    Returns ``(key, time, word, word_count, rank)``.

    Scale shape: one series-keyed sort window builds the frame arrays,
    PAA/letters are per-row higher-order expressions in codegen, the
    word count is a (series, word)-keyed frame aggregate — no join, no
    pair space, nothing corpus-ordered (two keyed exchanges total)."""
    worded = sax_window_words(points, window, n_segments, alphabet, quantum, key)
    cw = Window.partitionBy(key, "word")
    rk = Window.partitionBy(key).orderBy(
        F.col("word_count").asc(), F.col("time").asc(), F.col("word").asc()
    )
    return (
        worded.withColumn(
            "word_count", F.count(F.lit(1)).over(cw).cast("long")
        )
        .withColumn("rank", F.row_number().over(rk).cast("long"))
        .filter(F.col("rank") <= int(k))
        .select(key, "time", "word", "word_count", "rank")
    )


def cusum_targets(
    points: DataFrame, quantum: float = 0.01, key: str = "pvname"
) -> DataFrame:
    """Per-series CUSUM reference targets from a batch backfill — the
    warm-start feed for the live chart (VERDICT r12 task 4): each
    series' exact mean, rounded half-up onto the ``quantum`` grid, as
    ``(key, target)`` in value units. Hand the collected frame (bytes
    per series) to ``streaming.alerts.cusum_stream(targets=...)`` — or
    the frame itself to :func:`cusum_changepoints`/:func:`cusum_segments`
    ``targets=`` — and the live chart measures new points against the
    backfill's level: batch(new, targets) ≡ stream(new, targets)
    row-exactly (tests/test_streaming.py), because both quantize the
    SAME grid value back to the SAME integer reference.

    Exactness: n and Σq are BIGINTs; the grid index is
    floor((2·Σq + n) / (2n)) — half-up division of exact integers,
    bit-reproducible in any engine while |2·Σq + n| < 2⁵³ (the double
    division of exact integers is correctly rounded, and an integral
    true quotient is representable, so the floor cannot waver). One
    map-side-combined aggregate, one exchange."""
    q = F.round(F.col("value") / quantum).cast("long")
    agg = (
        points.filter(F.col("value").isNotNull())
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias("_n"), F.sum(q).alias("_sq"))
    )
    tq = F.floor(
        (2 * F.col("_sq") + F.col("_n")).cast("double")
        / (2 * F.col("_n")).cast("double")
    )
    return agg.select(
        F.col(key), (tq * F.lit(float(quantum))).alias("target")
    )


def sax_discords_confirmed(
    points: DataFrame,
    window: int = 16,
    k: int = 3,
    n_segments: int = 4,
    alphabet: int = 4,
    quantum: float = 0.01,
    key: str = "pvname",
) -> DataFrame:
    """The exact-distance CONFIRM stage :func:`sax_discords`' docstring
    promises — classic HOT-SAX uses the rare-word heuristic to ORDER a
    search whose final metric is nearest-neighbor distance; this runs
    that bounded final stage: for each of the k rarest-word windows
    per series, the exact squared distance (integer ``quantum`` units,
    BIGINT — engine-identical; the z-normalized variant would put a
    per-window sqrt in the metric) to its nearest NON-OVERLAPPING
    window in the same series (row offset ≥ ``window`` — trivial
    self-matches excluded, the HOT-SAX exclusion zone). A TRUE discord
    has a FAR nearest neighbor, so ``confirmed_rank`` re-orders the
    candidates by ``nn_dist2_q`` DESC — the rarity heuristic nominates,
    the exact metric decides. Candidates whose series is too short for
    any non-overlapping neighbor (< 2·window full windows) drop: there
    is nothing to confirm against.

    Output ``(key, time, word, word_count, rank, nn_dist2_q, nn_time,
    confirmed_rank)`` — ``rank`` is the rarity rank, ``nn_time`` the
    neighbor window's start (ties on distance break to the earliest
    neighbor), all exact.

    Overflow budget: nn_dist2_q ≤ window·(2·max|q|)² — safe to
    |value| ≈ 3·10⁶ at quantum 0.01, window 16.

    Scale shape: ONE scan builds windows+words (the sax_window_words
    expressions inline over the same collect_list frame, so arrays and
    words share a pass), the k·series candidate frame BROADCASTS back
    against the window frame (per series the pair space is k·n_windows
    rows × window-length array ops — linear in the series, never n²),
    and the confirm is one (key, candidate)-keyed partial aggregate."""
    if window % n_segments:
        raise ValueError("window must be divisible by n_segments")
    if alphabet not in _SAX_BREAKPOINTS:
        raise ValueError(f"alphabet must be one of {sorted(_SAX_BREAKPOINTS)}")
    bps = _SAX_BREAKPOINTS[alphabet]
    letters = "abcdefgh"[:alphabet]
    ss = window // n_segments
    order = ["time", "event_id"] if "event_id" in points.columns else ["time"]
    wo = Window.partitionBy(key).orderBy(*[F.col(c) for c in order])
    wf = wo.rowsBetween(0, window - 1)
    q = F.round(F.col("value") / quantum).cast("long")
    framed = (
        points.filter(F.col("value").isNotNull())
        .select(
            F.col(key),
            F.col("time"),
            F.row_number().over(wo).alias("_i"),
            F.collect_list(q).over(wf).alias("_arr"),
        )
        .filter(F.size("_arr") == window)
    )

    def isum(arr):
        return F.aggregate(arr, F.lit(0).cast("long"), lambda acc, x: acc + x)

    sw = isum(F.col("_arr"))
    sww = F.aggregate(
        F.col("_arr"), F.lit(0).cast("long"), lambda acc, x: acc + x * x
    )
    mu = sw.cast("double") / F.lit(float(window))
    sig = F.sqrt(
        F.greatest(sww.cast("double") / F.lit(float(window)) - mu * mu, F.lit(0.0))
    )

    def paa_r6(x):
        return F.floor(F.abs(x) * F.lit(1e6) + F.lit(0.5)) * F.signum(x) / F.lit(1e6)

    def letter(paa):
        sym = F.lit(letters[0])
        for i, bp in enumerate(bps):
            sym = F.when(paa < F.lit(bp), sym).otherwise(F.lit(letters[i + 1]))
        return sym

    segs = [
        letter(
            paa_r6(
                F.when(
                    sig > 0,
                    (
                        isum(F.slice(F.col("_arr"), j * ss + 1, ss)).cast("double")
                        / F.lit(float(ss))
                        - mu
                    )
                    / sig,
                ).otherwise(F.lit(0.0))
            )
        )
        for j in range(n_segments)
    ]
    from epicsarchiver_spark.operators.dedup import _truncate_lineage

    # ONE materialization of the window frames+words: the candidate
    # branch and the confirm's probe side both consume this frame — an
    # un-checkpointed plan replicates the corpus-wide collect_list
    # window pipeline into both subtrees (measured 2 scans / 6 window
    # nodes; checkpointed: 1 scan, each window once — the
    # emb_pipeline_verdicts r12a lesson)
    worded = _truncate_lineage(framed.withColumn("word", F.concat(*segs)))
    cw = Window.partitionBy(key, "word")
    rk = Window.partitionBy(key).orderBy(
        F.col("word_count").asc(), F.col("time").asc(), F.col("word").asc()
    )
    cand = (
        worded.withColumn("word_count", F.count(F.lit(1)).over(cw).cast("long"))
        .withColumn("rank", F.row_number().over(rk).cast("long"))
        .filter(F.col("rank") <= int(k))
        .select(
            F.col(key),
            F.col("time").alias("_ct"),
            F.col("word"),
            F.col("word_count"),
            F.col("rank"),
            F.col("_i").alias("_ci"),
            F.col("_arr").alias("_carr"),
        )
    )
    d2 = F.aggregate(
        F.zip_with("_arr", "_carr", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pairs = worded.select(key, "time", "_i", "_arr").join(
        F.broadcast(cand), key
    ).filter(F.abs(F.col("_i") - F.col("_ci")) >= window)
    conf = (
        pairs.withColumn("_d2", d2)
        .groupBy(key, "_ct", "word", "word_count", "rank")
        .agg(
            F.min("_d2").alias("nn_dist2_q"),
            F.min_by("time", F.struct("_d2", "time")).alias("nn_time"),
        )
    )
    crk = Window.partitionBy(key).orderBy(
        F.col("nn_dist2_q").desc(), F.col("_ct").asc()
    )
    return conf.select(
        F.col(key),
        F.col("_ct").alias("time"),
        "word",
        "word_count",
        "rank",
        "nn_dist2_q",
        "nn_time",
        F.row_number().over(crk).cast("long").alias("confirmed_rank"),
    )


def cusum_changepoints(
    points: DataFrame,
    k: float = 0.5,
    h: float = 5.0,
    target: float | None = None,
    quantum: float = 0.01,
    key: str = "pvname",
    targets: DataFrame | None = None,
) -> DataFrame:
    """Two-sided CUSUM changepoint detection per series (Page 1954) —
    the classic mean-shift chart the archiver family pairs with
    level_shifts/drift: emit a row each time the cumulative deviation
    statistic CROSSES the decision threshold ``h`` (slack ``k``, both
    in value units). ``target=None`` measures deviations against the
    series' own exact mean (the backfill/audit lane — the gate);
    an explicit ``target`` is the online-reference lane that
    ``streaming.alerts.cusum_stream`` mirrors row-exactly; a
    ``targets=`` FRAME ``(key, target)`` is the per-series reference
    lane — :func:`cusum_targets` of a backfill broadcast-joined in, the
    batch twin of a warm-started stream (gate ``ts_cusum_warm``;
    ``targets`` wins over ``target`` when both are given).

    Exactness (the recurrence-to-window device): the textbook
    S⁺ᵢ = max(0, S⁺ᵢ₋₁ + (xᵢ − μ − k)) is a reset fold no window
    expresses directly, but it equals prefixᵢ − min(0, min_{j≤i}
    prefixⱼ) for prefix = Σ(xᵢ − μ − k) — two window functions.
    Values quantize to integer ``quantum`` units; with the mean
    target every quantity is scaled by the series count n so the mean
    never leaves the integers: dᵢ = n·qᵢ − Σq − n·k_q, prefix/min/
    threshold all BIGINT, bit-exact in any engine. Output
    ``(key, time, side, s_scaled, n)`` — ``s_scaled`` is the statistic
    in n·quantum units (exact BIGINT; divide by n·(1/quantum) for value
    units). Overflow budget: n²·|q|·rows — safe to n ≈ 10⁶ rows/series
    at |value| ≤ 10⁴; shard longer series by run first. The budget is
    ENFORCED in-plan (VERDICT r12 task 4): the mean lane carries a
    per-series guard — 4·n²·(max|q| + k_q) must stay under 2⁶³, a
    conservative bound on every intermediate including the prefix-min
    subtraction — whose max|q| and n fall out of the same partition
    window; a breach raises loudly (``raise_error`` inside codegen,
    naming the series and the shard-by-run / coarser-quantum remedies)
    instead of silently wrapping into wrong crossings under green
    plans.

    Scale shape: one series-keyed exchange; the count/sum, cumulative
    sum, running min, and lag all share the same window partitioning,
    so Catalyst plans a single sort-based window stage — no joins, no
    extra shuffles (the ``targets=`` lane adds one broadcast hash join
    of the bytes-per-series target frame, nothing else)."""
    s, thr = _cusum_stat(points, k, h, target, quantum, key, targets)
    # both sides emit from ONE subtree (a union would replicate the
    # scan + the whole window pipeline — measured 2 scans / 8 window
    # nodes; this form plans 1 scan / 4 windows / 1 exchange)
    crossings = F.filter(
        F.array(
            F.when(
                (F.col("su") > thr) & (F.col("psu") <= thr),
                F.struct(F.lit("up").alias("side"), F.col("su").alias("s_scaled")),
            ),
            F.when(
                (F.col("sd") > thr) & (F.col("psd") <= thr),
                F.struct(F.lit("down").alias("side"), F.col("sd").alias("s_scaled")),
            ),
        ),
        lambda x: x.isNotNull(),
    )
    return (
        s.select(F.col(key), "time", "n", F.explode(crossings).alias("_x"))
        .select(
            F.col(key), "time", F.col("_x.side").alias("side"),
            F.col("_x.s_scaled").alias("s_scaled"), "n",
        )
    )


def _cusum_stat(points, k, h, target, quantum, key, targets=None):
    """Shared statistic frame for the CUSUM family: per point, both
    sides' statistics (su/sd), their previous values (psu/psd — the
    crossing edge), the quantized value ``q``, raw ``value``, and the
    per-series row index ``i``; plus the (possibly n-scaled) threshold
    Column. One scan, one series-keyed exchange, one sort-based window
    stage (plan-pinned via ts_cusum). ``targets`` (a ``(key, target)``
    frame — :func:`cusum_targets`) selects the per-series reference
    lane: one broadcast join, then the same unscaled BIGINT prefix as
    the scalar-target lane with the reference a per-series column."""
    kq = int(round(k / quantum))
    hq = int(round(h / quantum))
    order = ["time", "event_id"] if "event_id" in points.columns else ["time"]
    wp = Window.partitionBy(key)
    wo = wp.orderBy(*[F.col(c) for c in order])
    wrun = wo.rowsBetween(Window.unboundedPreceding, 0)
    q = F.round(F.col("value") / quantum).cast("long")
    # null-valued rows (disconnect events) carry no level information:
    # drop them up front — unfiltered, the mean lane would count them in
    # n while sq skips them, biasing the target exactly as if they were
    # zeros (the sibling correlation/autocorr ops filter the same way,
    # and cusum_stream drops null values in its kernel)
    b = points.filter(F.col("value").isNotNull()).select(
        F.col(key), *[F.col(c) for c in order], F.col("value"), q.alias("q")
    )
    if targets is not None:
        # per-series reference: quantize each target exactly as the
        # stream kernel does (_half_up_long) so batch and a warm-started
        # stream agree on the integer reference bit-for-bit
        tqc = F.floor(F.col("target") / F.lit(float(quantum)) + F.lit(0.5)).cast(
            "long"
        )
        bt = b.join(
            F.broadcast(targets.select(F.col(key), F.col("target"))), key
        ).withColumn("_tq", tqc)
        scaled = bt.select(
            F.col(key),
            *[F.col(c) for c in order],
            "value",
            "q",
            F.lit(1).cast("long").alias("n"),
            F.sum(F.col("q") - F.col("_tq") - F.lit(kq)).over(wrun).alias("pu"),
            F.sum(F.col("_tq") - F.lit(kq) - F.col("q")).over(wrun).alias("pd"),
            F.row_number().over(wo).alias("i"),
        ).select(F.col(key), F.col("time"), "value", "q", "n", "pu", "pd", "i")
        thr = F.lit(hq).cast("long")
    elif target is None:
        # in-plan overflow guard (VERDICT r12 task 4): every
        # intermediate of the n-scaled lane — |n·cq|, |i·sq| ≤ n²·max|q|,
        # |i·n·k_q| ≤ n²·k_q, and su = pu − min ≤ 2|pu| — stays under
        # 4·n²·(max|q| + k_q), so that bound under 2⁶³ is sufficient.
        # max|q| shares the partition window (no extra exchange); the
        # check is three doubles in codegen per row, and a breach raises
        # instead of silently wrapping into wrong crossings.
        bad = (
            F.lit(4.0)
            * F.col("n").cast("double")
            * F.col("n").cast("double")
            * (F.col("_maxq").cast("double") + F.lit(float(kq)))
        ) > F.lit(9.2e18)
        guard_msg = F.concat(
            F.lit("cusum: int64 overflow budget exceeded for series '"),
            F.col(key).cast("string"),
            F.lit("' (n="),
            F.col("n").cast("string"),
            F.lit(", max|q|="),
            F.col("_maxq").cast("string"),
            F.lit(
                f", k_q={kq}): 4*n^2*(max|q|+k_q) > 2^63."
                " Shard the series by run first, or pass a coarser"
                " quantum (each 10x coarser buys 10x budget)."
            ),
        )
        scaled = b.select(
            F.col(key),
            *[F.col(c) for c in order],
            "value",
            "q",
            F.count(F.lit(1)).over(wp).alias("n"),
            F.sum("q").over(wp).alias("sq"),
            F.sum("q").over(wrun).alias("cq"),
            F.max(F.abs(F.col("q"))).over(wp).alias("_maxq"),
            F.row_number().over(wo).alias("i"),
        ).select(
            F.col(key),
            F.col("time"),
            "value",
            "q",
            "n",
            F.when(bad, F.raise_error(guard_msg))
            .otherwise(F.expr("n * cq - i * sq - i * n * " + str(kq)))
            .alias("pu"),
            F.expr("i * sq - n * cq - i * n * " + str(kq)).alias("pd"),
            F.col("i"),
        )
        thr = F.expr(f"n * {hq}")
    else:
        tq = int(round(target / quantum))
        scaled = b.select(
            F.col(key),
            *[F.col(c) for c in order],
            "value",
            "q",
            F.lit(1).cast("long").alias("n"),
            F.sum(F.col("q") - F.lit(tq + kq)).over(wrun).alias("pu"),
            F.sum(F.lit(tq - kq) - F.col("q")).over(wrun).alias("pd"),
            F.row_number().over(wo).alias("i"),
        ).select(F.col(key), F.col("time"), "value", "q", "n", "pu", "pd", "i")
        thr = F.lit(hq).cast("long")
    wi = wp.orderBy("i")
    wirun = wi.rowsBetween(Window.unboundedPreceding, 0)
    s = scaled.select(
        F.col(key),
        "time",
        "value",
        "q",
        "n",
        (F.col("pu") - F.least(F.lit(0).cast("long"), F.min("pu").over(wirun))).alias("su"),
        (F.col("pd") - F.least(F.lit(0).cast("long"), F.min("pd").over(wirun))).alias("sd"),
        "i",
    ).select(
        F.col(key),
        "time",
        "value",
        "q",
        "n",
        "su",
        "sd",
        F.coalesce(F.lag("su").over(wi), F.lit(0).cast("long")).alias("psu"),
        F.coalesce(F.lag("sd").over(wi), F.lit(0).cast("long")).alias("psd"),
        "i",
    )
    return s, thr


def cusum_segments(
    points: DataFrame,
    k: float = 0.5,
    h: float = 5.0,
    target: float | None = None,
    quantum: float = 0.01,
    key: str = "pvname",
    targets: DataFrame | None = None,
) -> DataFrame:
    """Regime segmentation from the CUSUM crossings — the question an
    operator actually asks after :func:`cusum_changepoints` fires
    ("what WAS the level before and after?"): cut each series at every
    threshold crossing (either side) and report per-segment exact
    stats. Output ``(key, seg, t_start, t_end, n_points, vmin, vmax,
    mean)`` — seg is 0-based in time order; mean is the exact integer
    q-sum divided once at the edge through the explicit-IEEE 6-dp
    device, so every engine agrees bit-for-bit.

    Plan shape: the statistic frame's windows plus ONE more running sum
    over the same series partitioning (the segment id = crossings seen
    so far) and a (key, seg)-keyed aggregate — two exchanges total."""
    s, thr = _cusum_stat(points, k, h, target, quantum, key, targets)
    crossed = (
        ((F.col("su") > thr) & (F.col("psu") <= thr))
        | ((F.col("sd") > thr) & (F.col("psd") <= thr))
    ).cast("long")
    wi = Window.partitionBy(key).orderBy("i").rowsBetween(
        Window.unboundedPreceding, 0
    )
    seg = s.withColumn("seg", F.sum(crossed).over(wi))
    mean_u = F.floor(
        F.abs(F.sum("q").cast("double") * F.lit(quantum * 1e6) / F.count(F.lit(1)))
        + F.lit(0.5)
    ) * F.signum(F.sum("q").cast("double"))
    return (
        seg.groupBy(key, "seg")
        .agg(
            F.min("time").alias("t_start"),
            F.max("time").alias("t_end"),
            F.count(F.lit(1)).alias("n_points"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
            (mean_u / F.lit(1e6)).alias("mean"),
        )
        .select(
            F.col(key), F.col("seg"), "t_start", "t_end", "n_points",
            "vmin", "vmax", "mean",
        )
    )


def level_shifts(
    points: DataFrame,
    window: int = 5,
    threshold: float = 50.0,
    key: str = "pvname",
    quantum: float = 0.01,
) -> DataFrame:
    """Change-point (level-shift) detection: flag instants where the
    mean of the next ``window`` samples differs from the mean of the
    previous ``window`` by more than ``threshold`` — setpoint changes,
    valve closures, beam-mode switches; the step events a deadband keeps
    but nothing annotates. Returns ``(key, time, value, mean_before,
    mean_after, shift)`` for flagged rows (each side must have the full
    ``window`` samples — edges are silent, not spuriously flagged).

    One series-keyed sort window serving four frame aggregates
    (count/sum × before/after). Sums are integer ``quantum`` units —
    exact and engine-identical — and each mean divides an exact integer
    by the window constant, so the flag comparison can't waver in the
    last ulp. Shuffle = one exchange per series; output only flagged
    rows."""
    order = ["time", "event_id"] if "event_id" in points.columns else ["time"]
    w = Window.partitionBy(key).orderBy(*[F.col(c) for c in order])
    before = w.rowsBetween(-window, -1)
    after = w.rowsBetween(0, window - 1)
    q = F.round(F.col("value") / quantum).cast("long")
    framed = points.select(
        F.col(key),
        F.col("time"),
        F.col("value"),
        F.count(F.lit(1)).over(before).alias("_nb"),
        F.sum(q).over(before).alias("_sb"),
        F.count(F.lit(1)).over(after).alias("_na"),
        F.sum(q).over(after).alias("_sa"),
    )
    # cast→×quantum→/window as three explicit double ops (NOT a python
    # `window/quantum` divisor, whose own rounding differs from the SQL
    # oracle's literal chain — the ts_ramps lesson)
    mb = F.col("_sb").cast("double") * F.lit(quantum) / F.lit(float(window))
    ma = F.col("_sa").cast("double") * F.lit(quantum) / F.lit(float(window))
    return (
        framed.filter((F.col("_nb") == window) & (F.col("_na") == window))
        .withColumn("mean_before", mb)
        .withColumn("mean_after", ma)
        .withColumn("shift", F.col("mean_after") - F.col("mean_before"))
        .filter(F.abs(F.col("shift")) > threshold)
        .select(key, "time", "value", "mean_before", "mean_after", "shift")
    )


def drift(
    points: DataFrame,
    t0: float,
    t1: float,
    key: str = "pvname",
    quantum: float = 0.01,
) -> DataFrame:
    """Per-series drift over [t0, t1]: the least-squares linear trend of
    value against time — the archiver question "which PVs are slowly
    walking away?" (vacuum creep, thermal drift, aging sensors) that a
    min/max or deadband view can't separate from noise. Returns
    ``(key, n, slope_per_day)`` for series with ≥ 2 distinct sample
    times; slope in value units per day.

    Engine-exact by the same discipline as ``series_correlation``:
    times quantize to integer SECONDS offset from t0, values to integer
    ``quantum`` units, the five moment sums are BIGINTs (one map-side
    partial aggregate — order-independent), and the slope is one
    closed-form double over exact integers. Overflow budget:
    n·span_s²·(v_max/quantum)… the binding term is n·Σt'² <
    2⁶³ — holds to ~10⁷ points per series on a one-year window; beyond
    that, pre-aggregate per-day partials first (same formula, partials
    are themselves exact)."""
    pruned = points.filter((F.col("time") >= t0) & (F.col("time") <= t1))
    t = (F.floor(F.col("time")) - F.lit(int(t0))).cast("long")
    q = F.round(F.col("value") / quantum).cast("long")
    sums = pruned.groupBy(key).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(t).alias("st"),
        F.sum(q).alias("sq"),
        F.sum(t * q).alias("stq"),
        F.sum(t * t).alias("stt"),
    )
    den = F.col("n") * F.col("stt") - F.col("st") * F.col("st")
    num = F.col("n") * F.col("stq") - F.col("st") * F.col("sq")
    slope = num.cast("double") / den.cast("double") * F.lit(quantum) * F.lit(86400.0)
    return sums.filter(den > 0).select(key, "n", slope.alias("slope_per_day"))


def availability(
    points: DataFrame,
    t0: float,
    t1: float,
    heartbeat: float,
    key: str = "pvname",
) -> DataFrame:
    """Per-series availability over [t0, t1]: a series is LIVE at instant
    t when its latest point is at most ``heartbeat`` old — under the W3
    forced-heartbeat contract, any longer silence means the collector
    lost the PV (the batch analog of `pvarch check`'s liveness verdict,
    scored as a fraction instead of a point-in-time flag). Returns
    ``(key, covered_s, uptime)``, uptime = covered/(t1−t0) ∈ [0, 1].

    Same single-window shape as ``time_weighted_avg``: each point's live
    segment is [max(time, t0), min(time+heartbeat, next_time, t1)) — the
    pre-window seed falls out of segment clipping (scan pruned to
    [t0 − heartbeat, t1), which is exact by the liveness definition
    itself), and µs-quantized durations make the coverage sum exact
    BIGINT math, engine- and partition-order-independent."""
    tol = 1e-4
    pruned = points.filter(
        (F.col("time") < t1 - tol) & (F.col("time") >= t0 - heartbeat)
    )
    order = ["time", "event_id"] if "event_id" in points.columns else ["time"]
    w = Window.partitionBy(key).orderBy(*[F.col(c) for c in order])
    seg = pruned.select(
        F.col(key),
        F.greatest(F.col("time"), F.lit(t0)).alias("_a"),
        F.least(
            F.col("time") + F.lit(heartbeat),
            F.coalesce(F.lead("time").over(w), F.lit(t1)),
            F.lit(t1),
        ).alias("_b"),
    ).filter(F.col("_b") > F.col("_a"))
    dur_us = F.round((F.col("_b") - F.col("_a")) * F.lit(1e6)).cast("long")
    return seg.groupBy(key).agg(
        F.round(F.sum(dur_us) / F.lit(1e6), 6).alias("covered_s"),
        F.round(F.sum(dur_us) / F.lit(1e6) / F.lit(t1 - t0), 6).alias("uptime"),
    )


def ramps(
    points: DataFrame,
    min_steps: int = 3,
    key: str = "pvname",
    quantum: float = 0.01,
) -> DataFrame:
    """Monotone-ramp detection — find maximal strictly
    increasing/decreasing runs per series (motor moves, temperature
    ramps, pressure pump-downs: the shapes an operator scans a trace
    for). Returns one row per run of ≥ ``min_steps`` consecutive
    same-direction changes: ``(key, direction, t_start, t_end, n_steps,
    delta)``, direction ∈ {1, −1}, delta = net change over the run.

    Classic gaps-and-islands: one series-keyed sort window computes each
    step's direction (sign of the change) and the run id as the
    row_number difference — the second window over (key, direction)
    reuses the same exchange. Direction and delta come from integer
    ``quantum`` units (cents by default — exact for 2-decimal archiver
    values), so run boundaries and sums are engine-exact; equal
    consecutive values (step 0) break runs, as strictness requires.
    Nothing leaves the executors but the per-run aggregate rows."""
    order = ["time", "event_id"] if "event_id" in points.columns else ["time"]
    w = Window.partitionBy(key).orderBy(*[F.col(c) for c in order])
    q = F.round(F.col("value") / quantum).cast("long")
    stepped = points.select(
        F.col(key),
        F.col("time"),
        *[F.col(c) for c in order[1:]],
        q.alias("_q"),
        F.lag("time").over(w).alias("_pt"),
        (q - F.lag(q).over(w)).alias("_dq"),
    ).filter(F.col("_dq").isNotNull())
    # run ids via a running count of direction changes — every window here
    # partitions on the series key with the same ordering, so Catalyst
    # plans ONE exchange+sort for the whole island computation (the
    # row_number-difference formulation needs a second (key, direction)
    # exchange)
    d = F.signum(F.col("_dq")).cast("int")
    w2 = Window.partitionBy(key).orderBy(*[F.col(c) for c in order])
    flagged = stepped.select(
        F.col(key),
        d.alias("direction"),
        F.col("time"),
        *[F.col(c) for c in order[1:]],
        F.col("_pt"),
        F.col("_dq"),
        F.when(F.lag(d).over(w2).isNull() | (F.lag(d).over(w2) != d), 1)
        .otherwise(0)
        .alias("_new"),
    )
    # zero-steps (plateaus) carry direction 0 THROUGH the run numbering —
    # they break adjacent same-sign runs, as strict monotonicity requires
    # — and only then drop out; filtering them earlier would silently
    # merge two ramps separated by a flat stretch
    runs = flagged.withColumn(
        "_grp",
        F.sum("_new").over(
            w2.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    ).filter(F.col("direction") != 0)
    return (
        runs.groupBy(key, "direction", "_grp")
        .agg(
            F.min("_pt").alias("t_start"),
            F.max("time").alias("t_end"),
            F.count(F.lit(1)).alias("n_steps"),
            # divide by 1/quantum (an exact 100.0), never multiply by the
            # inexact 0.01: IEEE division is correctly rounded, so the
            # exact integer-cent sum maps to the same double in any engine
            (F.sum("_dq") / F.lit(1.0 / quantum)).alias("delta"),
        )
        .filter(F.col("n_steps") >= min_steps)
        .drop("_grp")
    )


def _correlation_gemm(
    grid: DataFrame, min_abs_r: float, n_subsplits: int = 8
) -> DataFrame:
    """Per-block masked-GEMM Pearson moments over the quantized grid
    ``(key, blk, t, q)`` — see ``series_correlation``. Emits the same
    exact (pv_a, pv_b, n, r) rows as the relational lane.

    Two scale guards, both found by tools/scale_probe.py at ×10 data:
    - row-chunked GEMM inside the kernel — the naive full N×N moment
      matrices are O(block²) floats (tens of GB at 75k series/block,
      executor OOM); chunking caps peak memory at ~6·chunk·N doubles
      while every multiply stays a BLAS call;
    - ``n_subsplits`` Spark groups per block, each owning the a-side
      rows with sorted-index ≡ s (mod n_subsplits) against the full
      block — the PAIR OUTPUT of a dense block can exceed one Arrow
      batch's direct-memory budget (measured: a 1.2 GB single-group
      batch vs the 1 GB cap), so it must leave through many groups.
      Total compute and results are identical; only the grid (tiny)
      duplicates per split."""
    import numpy as np
    import pandas as pd

    C = max(1, n_subsplits)

    def block_corr(pdf: pd.DataFrame) -> pd.DataFrame:
        sub = int(pdf["_sub"].iloc[0])
        names, r_idx = np.unique(pdf["pvname"].to_numpy(), return_inverse=True)
        ts, c_idx = np.unique(pdf["t"].to_numpy(), return_inverse=True)
        N = len(names)
        Q = np.zeros((N, len(ts)), dtype=np.float64)
        M = np.zeros_like(Q)
        Q[r_idx, c_idx] = pdf["q"].to_numpy(dtype=np.float64)
        M[r_idx, c_idx] = 1.0
        QQ = Q * Q
        own = np.arange(N)[np.arange(N) % C == sub]
        # ~4M doubles per moment matrix (×~8 live) ≈ 250 MB peak per
        # task — sized for a full 32-task executor; smaller chunks make
        # the BLAS calls launch-bound (measured at the ×30 probe: 22-row
        # chunks at 45k series spent the time in loop overhead)
        chunk = max(16, 4_000_000 // max(N, 1))
        out_a, out_b, out_n, out_r = [], [], [], []
        for c0 in range(0, len(own), chunk):
            ids = own[c0 : c0 + chunk]
            Qa, Ma, QQa = Q[ids], M[ids], QQ[ids]
            n = Ma @ M.T
            sx = Qa @ M.T  # Σ q_a over instants where BOTH present
            sy = Ma @ Q.T
            sxy = Qa @ Q.T
            sxx = QQa @ M.T
            syy = Ma @ QQ.T
            varx = n * sxx - sx * sx
            vary = n * syy - sy * sy
            cov = n * sxy - sx * sy
            with np.errstate(invalid="ignore", divide="ignore"):
                r = cov / (np.sqrt(varx) * np.sqrt(vary))
            # strictly-upper pairs (global col > own row), both sides
            # non-constant, |r| over threshold
            cols = np.arange(N)[None, :]
            keep = (
                (cols > ids[:, None])
                & (varx > 0)
                & (vary > 0)
                & (np.abs(r) >= min_abs_r)
            )
            ka, kb = np.nonzero(keep)
            out_a.append(names[ids[ka]])
            out_b.append(names[kb])
            out_n.append(n[ka, kb].astype(np.int64))
            out_r.append(r[ka, kb])
        return pd.DataFrame(
            {
                "pv_a": np.concatenate(out_a) if out_a else np.array([], dtype=object),
                "pv_b": np.concatenate(out_b) if out_b else np.array([], dtype=object),
                "n": np.concatenate(out_n) if out_n else np.array([], dtype=np.int64),
                "r": np.concatenate(out_r) if out_r else np.array([], dtype=np.float64),
            }
        )

    return (
        grid.withColumnRenamed(grid.columns[0], "pvname")
        .withColumn("_sub", F.explode(F.array(*[F.lit(i) for i in range(C)])))
        .groupBy("blk", "_sub")
        .applyInPandas(block_corr, "pv_a string, pv_b string, n long, r double")
    )


def autocorrelation(
    points: DataFrame,
    t0: float,
    t1: float,
    step: float,
    lag: int = 1,
    key: str = "pvname",
    quantum: float = 0.01,
) -> DataFrame:
    """Per-series autocorrelation at a grid lag — the periodicity /
    self-similarity screen (daily thermal cycles, oscillating control
    loops, stuck-then-jump sensors all show distinctive lag profiles).
    Samples the LOCF grid (so irregular archives compare fairly), pairs
    each instant with the instant ``lag`` steps later, and computes
    Pearson r between the two shifted copies. Returns ``(key, n, r)``
    for series with ≥ 2 valid pairs and variance on both sides.

    No pair join at all: ONE series-keyed window (lead) and one hash
    aggregate. The same exact-integer moment discipline as
    ``series_correlation`` — quantized values, BIGINT sums,
    closed-form double r — so any engine reproduces it bit-for-bit."""
    grid = (
        locf_grid(points, t0, t1, step, key=key)
        .select(key, "t", "value")
        .filter(F.col("value").isNotNull())
        .select(
            F.col(key), "t", F.round(F.col("value") / quantum).cast("long").alias("q")
        )
    )
    w = Window.partitionBy(key).orderBy("t")
    # lead over the grid ROW order equals the time-shifted pair ONLY
    # when intermediate instants exist; grid rows are dense from each
    # series' first non-null instant, so row-lead == time-lag here
    paired = grid.select(
        F.col(key),
        F.col("q").alias("qa"),
        F.lead("q", lag).over(w).alias("qb"),
    ).filter(F.col("qb").isNotNull())
    sums = paired.groupBy(key).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("qa").alias("sx"),
        F.sum("qb").alias("sy"),
        F.sum(F.col("qa") * F.col("qb")).alias("sxy"),
        F.sum(F.col("qa") * F.col("qa")).alias("sxx"),
        F.sum(F.col("qb") * F.col("qb")).alias("syy"),
    )
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    r = cov.cast("double") / (F.sqrt(varx.cast("double")) * F.sqrt(vary.cast("double")))
    return sums.filter((varx > 0) & (vary > 0)).select(key, "n", r.alias("r"))


def correlated_partners(
    points: DataFrame,
    t0: float,
    t1: float,
    step: float,
    k: int = 3,
    block_expr=None,
    key: str = "pvname",
    quantum: float = 0.01,
    n_subsplits: int = 8,
) -> DataFrame:
    """Per-series TOP-K most-correlated partners — the related-PV page's
    actual shape (each PV shows its k best companions), and the output-
    bounded form of ``series_correlation``: N·k rows however dense the
    correlation structure (an all-pairs-over-threshold report on a
    correlation-dense archive is inherently quadratic — measured 108M
    rows at the ×10 probe). Returns ``(pv, partner, n, r)``; selection
    orders by (\\|r\\| desc, partner) for deterministic ties; constant
    partners (zero variance on the common grid) never rank.

    Same blocked masked-GEMM kernel as ``series_correlation`` (exact
    integer moments, row-chunked, sub-split) — each owned row ranks
    against ALL block columns, so a series' top-k is exact within its
    block."""
    if block_expr is None:
        block_expr = F.substring_index(F.col(key), ":", -1)
    grid = (
        locf_grid(points, t0, t1, step, key=key)
        .select(key, "t", "value")
        .filter(F.col("value").isNotNull())
        .select(
            F.col(key),
            block_expr.alias("blk"),
            "t",
            F.round(F.col("value") / quantum).cast("long").alias("q"),
        )
    )
    import numpy as np
    import pandas as pd

    C = max(1, n_subsplits)

    def block_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        sub = int(pdf["_sub"].iloc[0])
        names, r_idx = np.unique(pdf["pvname"].to_numpy(), return_inverse=True)
        ts, c_idx = np.unique(pdf["t"].to_numpy(), return_inverse=True)
        N = len(names)
        Q = np.zeros((N, len(ts)), dtype=np.float64)
        M = np.zeros_like(Q)
        Q[r_idx, c_idx] = pdf["q"].to_numpy(dtype=np.float64)
        M[r_idx, c_idx] = 1.0
        QQ = Q * Q
        own = np.arange(N)[np.arange(N) % C == sub]
        chunk = max(16, 1_000_000 // max(N, 1))
        out_a, out_b, out_n, out_r = [], [], [], []
        for c0 in range(0, len(own), chunk):
            ids = own[c0 : c0 + chunk]
            Qa, Ma, QQa = Q[ids], M[ids], QQ[ids]
            n = Ma @ M.T
            sx = Qa @ M.T
            sy = Ma @ Q.T
            sxy = Qa @ Q.T
            sxx = QQa @ M.T
            syy = Ma @ QQ.T
            varx = n * sxx - sx * sx
            vary = n * syy - sy * sy
            cov = n * sxy - sx * sy
            with np.errstate(invalid="ignore", divide="ignore"):
                r = cov / (np.sqrt(varx) * np.sqrt(vary))
            valid = (varx > 0) & (vary > 0)
            valid[np.arange(len(ids)), ids] = False  # never pair with self
            absr = np.where(valid, np.abs(r), -1.0)
            nvalid = valid.sum(axis=1)
            # top-k selection must be O(N) per row, not a sort: a full
            # argsort was the ×30 probe's wall (225k rows × 45k·log n
            # comparisons ≈ 200 s). argpartition finds the k-th |r|
            # boundary; every column at-or-above it (ALL boundary ties
            # included) gets a tiny (|r| desc, name asc) lexsort — the
            # deterministic order the oracle's ranked window uses.
            if absr.shape[1] > 4 * k:
                kth = min(k, absr.shape[1]) - 1
                part = np.argpartition(-absr, kth=kth, axis=1)[:, : kth + 1]
                bvals = np.take_along_axis(absr, part, axis=1).min(axis=1)
            else:
                bvals = None
            for li in range(len(ids)):
                kk = min(k, int(nvalid[li]))
                if kk == 0:
                    continue
                row = absr[li]
                if bvals is not None:
                    cand = np.nonzero(row >= bvals[li])[0]
                    if len(cand) < kk:  # invalid (-1) leaked into the boundary
                        cand = np.nonzero(row > -1.0)[0]
                else:
                    cand = np.nonzero(row > -1.0)[0]
                sel = cand[np.lexsort((cand, -row[cand]))][:kk]
                out_a.append(np.repeat(names[ids[li]], kk))
                out_b.append(names[sel])
                out_n.append(n[li, sel].astype(np.int64))
                out_r.append(r[li, sel])
        return pd.DataFrame(
            {
                "pv": np.concatenate(out_a) if out_a else np.array([], dtype=object),
                "partner": np.concatenate(out_b) if out_b else np.array([], dtype=object),
                "n": np.concatenate(out_n) if out_n else np.array([], dtype=np.int64),
                "r": np.concatenate(out_r) if out_r else np.array([], dtype=np.float64),
            }
        )

    return (
        grid.withColumn("_sub", F.explode(F.array(*[F.lit(i) for i in range(C)])))
        .groupBy("blk", "_sub")
        .applyInPandas(block_topk, "pv string, partner string, n long, r double")
    )


def series_correlation(
    points: DataFrame,
    t0: float,
    t1: float,
    step: float,
    block_expr=None,
    min_abs_r: float = 0.5,
    key: str = "pvname",
    quantum: float = 0.01,
    method: str = "gemm",
) -> DataFrame:
    """Data-driven related-PV discovery: Pearson correlation between
    series pairs over their LOCF grids on [t0, t1] — the statistical
    complement of the reference's usage-based pairs table (cache.py
    related_pvs: co-browsing scores; this finds series that MOVE
    together). Returns ``(pv_a, pv_b, n, r)`` for pairs with |r| ≥
    ``min_abs_r``, both series non-constant on their common grid.

    Engine-portability by construction: grid values quantize to integer
    ``quantum`` units (archiver values are 2-decimal, so cents are
    EXACT), the five correlation sums (Σx, Σy, Σxy, Σx², Σy², n)
    accumulate as BIGINTs — order-independent across partitions AND
    engines — and r is one closed-form double expression over exact
    integers (IEEE sqrt/divide are correctly rounded, so any engine
    reproduces it bit-for-bit).

    Scale shape: pairs are BLOCKED by ``block_expr`` (default: the
    series name's trailing component — pass a domain-appropriate
    grouping), so cost is Σ_block series², never corpus². The default
    ``method="gemm"`` computes each block's moment matrices with ONE
    numpy GEMM inside ``applyInPandas`` (masked: n/Σx/Σxy per pair come
    from Q·Qᵀ, Q·Mᵀ, M·Mᵀ with missing grid cells zeroed) — all inputs
    are integers and every partial stays < 2⁵³ (bounded by
    instants·(v_max/quantum)², the documented budget), so float64 GEMM
    is still EXACT and agrees with the relational lane and any SQL
    engine bit-for-bit. Measured 22× faster than the pair join at 2 500
    series/block (2 s vs 44 s): the join materializes block²·instants
    rows through a shuffle, the GEMM touches them as one in-memory
    matrix per block. ``method="join"`` keeps the pure-relational
    formulation (the semantic reference, and the shape to shard further
    if a single block's matrix ever outgrows one task). The grid frame
    (series × instants) is tiny relative to raw points regardless of
    archive size."""
    if block_expr is None:
        block_expr = F.substring_index(F.col(key), ":", -1)
    grid = (
        locf_grid(points, t0, t1, step, key=key)
        .select(key, "t", "value")
        .filter(F.col("value").isNotNull())
        .select(
            F.col(key),
            block_expr.alias("blk"),
            "t",
            F.round(F.col("value") / quantum).cast("long").alias("q"),
        )
    )
    if method == "gemm":
        return _correlation_gemm(grid, min_abs_r)
    a = grid.select(F.col("blk"), F.col("t"), F.col(key).alias("pv_a"), F.col("q").alias("qa"))
    b = grid.select(F.col("blk"), F.col("t"), F.col(key).alias("pv_b"), F.col("q").alias("qb"))
    sums = (
        a.join(b, ["blk", "t"])
        .filter(F.col("pv_a") < F.col("pv_b"))
        .groupBy("pv_a", "pv_b")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("qa").alias("sx"),
            F.sum("qb").alias("sy"),
            F.sum(F.col("qa") * F.col("qb")).alias("sxy"),
            F.sum(F.col("qa") * F.col("qa")).alias("sxx"),
            F.sum(F.col("qb") * F.col("qb")).alias("syy"),
        )
    )
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    r = cov.cast("double") / (F.sqrt(varx.cast("double")) * F.sqrt(vary.cast("double")))
    return (
        sums.filter((varx > 0) & (vary > 0))
        .select("pv_a", "pv_b", "n", r.alias("r"))
        .filter(F.abs(F.col("r")) >= min_abs_r)
    )


def value_histogram(
    points: DataFrame,
    n_bins: int = 20,
    key: str = "pvname",
) -> DataFrame:
    """Per-series auto-ranged value histogram — the distribution panel an
    archiver viewer draws beside a trace (the reference computes y-ranges
    client-side from the full point list, plotpage.py; at 100 TB the
    server must reduce). Returns ``(key, bin, bin_lo, bin_hi, n)`` for
    NON-EMPTY bins only; ``bin`` ∈ [0, n_bins) over the series' own
    [min, max] value range, the max itself clamped into the top bin. A
    degenerate series (min == max) lands entirely in bin 0.

    Two hash aggregates, both keyed on the series: one for per-series
    ranges (map-side partials, output = one tiny row per series,
    broadcast back), one for the (series, bin) counts. Nothing
    proportional to the input leaves the executors. All bin edges are
    closed-form doubles (lo + bin·width) — deterministic IEEE arithmetic,
    reproducible in any engine."""
    rng = points.groupBy(key).agg(
        F.min("value").alias("_lo"), F.max("value").alias("_hi")
    )
    width = (F.col("_hi") - F.col("_lo")) / F.lit(n_bins)
    b = F.when(F.col("_hi") > F.col("_lo"),
        F.least(
            F.floor((F.col("value") - F.col("_lo")) / width),
            F.lit(n_bins - 1).cast("long"),
        ),
    ).otherwise(F.lit(0).cast("long"))
    return (
        points.join(F.broadcast(rng), key)
        .select(F.col(key), F.col("_lo"), width.alias("_w"), b.alias("bin"))
        .groupBy(key, "bin", "_lo", "_w")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            key,
            "bin",
            (F.col("_lo") + F.col("bin") * F.col("_w")).alias("bin_lo"),
            (F.col("_lo") + (F.col("bin") + 1) * F.col("_w")).alias("bin_hi"),
            "n",
        )
    )


def robust_outliers(
    points: DataFrame,
    k: float = 5.0,
    key: str = "pvname",
    exact: bool = True,
) -> DataFrame:
    """Median/MAD outlier detection per series: flag points with
    |value − median| > k · MAD, MAD = median(|value − median|) — the
    robust alternative to z-scores for archived PVs, where a stuck sensor
    or a single glitch wrecks mean/stddev but not the median. Returns the
    flagged rows ``(key, time, value, med, mad)``; series with MAD = 0
    (constant or half-constant) flag nothing, by construction.

    Both medians are whole-partition window aggregates over ONE
    series-keyed exchange (r13, guide §2.4 — the former
    aggregate-and-join-back pair re-expanded the points scan three
    times for no shuffle saving: exact median's partial buffers ship
    every value across the exchange anyway, so the join form paid 3
    scans AND ~2× the shuffle bytes; this form plans 1 scan / 1
    exchange). ``exact=True`` uses Spark's exact ``median`` (buffers
    each series' values: right for the gate and for series up to ~10⁷
    points); at 100 TB flip ``exact=False`` for ``approx_percentile``
    (t-digest sketch, constant memory, rank error ≤ 1e-4)."""
    med_of = (
        (lambda c: F.expr(f"median({c})"))
        if exact
        else (lambda c: F.expr(f"approx_percentile({c}, 0.5, 10000)"))
    )
    wk = Window.partitionBy(key)
    return (
        points.withColumn("med", med_of("value").over(wk))
        .withColumn("mad", med_of("abs(value - med)").over(wk))
        .filter(
            (F.col("mad") > 0)
            & (F.abs(F.col("value") - F.col("med")) > F.lit(k) * F.col("mad"))
        )
        .select(key, "time", "value", "med", "mad")
    )


def rolling_robust_outliers(
    points: DataFrame,
    window: int = 25,
    k: float = 5.0,
    key: str = "pvname",
) -> DataFrame:
    """ROLLING median/MAD anomaly detection: flag each point against the
    trailing ``window`` samples of its own series — |v − med| > k·MAD
    with med/MAD computed over the last ``window`` rows (inclusive).
    The local complement of ``robust_outliers``: a slow drift moves the
    rolling median with it, so only FAST excursions flag — glitches and
    steps, not seasonal wander (which ``ts_drift``/``ts_level_shifts``
    report instead). Early points use however many samples exist.
    Returns the flagged rows ``(key, time, value, med, mad, n_win)``.

    One exchange (series key) + sort; the window collects ``window``
    doubles per row and both medians are array-local on that buffer —
    O(w log w) per row, no second pass and no re-shuffle (the global
    operator's two aggregate passes don't port to a per-row window).
    Lower-median convention (element (n+1)÷2 of the sorted buffer) so
    any SQL engine reproduces it exactly; MAD = 0 (locally constant)
    flags nothing, as in the global operator."""
    from pyspark.sql import Window

    wnd = (
        Window.partitionBy(key)
        .orderBy(*order_cols(points))
        .rowsBetween(-(window - 1), Window.currentRow)
    )
    # the window collect materializes once (WindowExec is a projection
    # barrier); n_win/med/mad all read the _arr attribute
    buffered = points.select(
        F.col(key),
        "time",
        "value",
        F.sort_array(F.collect_list("value").over(wnd)).alias("_arr"),
    ).withColumn("n_win", F.size("_arr"))
    med_col = F.element_at("_arr", ((F.col("n_win") + 1) / 2).cast("int"))
    with_med = buffered.select(
        key, "time", "value", "_arr", "n_win", med_col.alias("med")
    )
    resid = F.sort_array(
        F.transform("_arr", lambda x: F.abs(x - F.col("med")))
    )
    mad_col = F.element_at(resid, ((F.col("n_win") + 1) / 2).cast("int"))
    return (
        with_med.select(key, "time", "value", "n_win", "med", mad_col.alias("mad"))
        .filter(
            (F.col("mad") > 0)
            & (F.abs(F.col("value") - F.col("med")) > F.lit(k) * F.col("mad"))
        )
        .select(key, "time", "value", "med", "mad", "n_win")
    )


def decimate_minmax(
    points: DataFrame,
    t0: float,
    t1: float,
    n_buckets: int = 100,
    key: str = "pvname",
) -> DataFrame:
    """Plot decimation: per (series, time bucket) keep the first / min /
    max / last values — the archiver-viewer downsample that preserves
    envelope and edges at any zoom (the reference ships every point to
    the client and decimates in JS; at 100 TB the server must). Returns
    ``(key, bucket_start, n_events, v_first, v_min, v_max, v_last)``.

    ONE hash aggregate with map-side partials — first/last via
    ``min_by``/``max_by`` on the (time, event_id) struct, no sort-based
    window over the raw points and nothing proportional to the input
    leaves the executors (output is series × buckets rows)."""
    width = (t1 - t0) / n_buckets
    tie = (
        F.struct("time", "event_id")
        if "event_id" in points.columns
        else F.struct("time")
    )
    b = F.floor((F.col("time") - F.lit(t0)) / F.lit(width))
    return (
        points.filter((F.col("time") >= t0) & (F.col("time") < t1))
        .groupBy(F.col(key), (F.lit(t0) + b * F.lit(width)).alias("bucket_start"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min_by("value", tie).alias("v_first"),
            F.min("value").alias("v_min"),
            F.max("value").alias("v_max"),
            F.max_by("value", tie).alias("v_last"),
        )
    )


def lttb_downsample(
    points: DataFrame,
    t0: float,
    t1: float,
    step: float,
    key: str = "pvname",
) -> DataFrame:
    """Parallel LTTB plot downsampling (largest-triangle-three-buckets,
    Steinarsson 2013): per time bucket, keep the point forming the
    largest triangle with the NEIGHBOR BUCKETS' average points — the
    visually-representative decimation plot frontends use when min/max
    bars (``decimate_minmax``) over-emphasize noise. This is the
    parallel variant (anchors are the adjacent buckets' averages, not
    the previously-selected point), which drops the sequential
    dependency chain and keeps the whole operator at one series-keyed
    exchange: bucket aggregate → lag/lead anchors on the bucket frame
    (bucket-count sized) → rank window per bucket.

    Engine determinism: anchor averages are exact-integer sums (µs
    times, cent values) divided as identical integers → identical
    doubles in any engine; the triangle area is then the same IEEE
    expression, ranked with round-6dp + (time, event_id) tie-break.
    First/last buckets (one missing anchor) fall back to their earliest
    point, mirroring LTTB's fixed endpoints."""
    order = ["time", "event_id"] if "event_id" in points.columns else ["time"]
    tus = F.round(F.col("time") * 1e6).cast("long")
    vc = F.round(F.col("value") * 100).cast("long")
    pts = points.filter((F.col("time") >= t0) & (F.col("time") < t1)).withColumn(
        "_b", F.floor((F.col("time") - F.lit(t0)) / F.lit(step)).cast("long")
    )
    bav = pts.groupBy(key, "_b").agg(
        F.sum(tus).alias("_st"), F.sum(vc).alias("_sv"), F.count(F.lit(1)).alias("_n")
    )
    wb = Window.partitionBy(key).orderBy("_b")
    anch = bav.select(
        F.col(key),
        "_b",
        F.col("_n").alias("n_in_bucket"),
        (F.lag("_st").over(wb) / F.lag("_n").over(wb) / F.lit(1e6)).alias("_pax"),
        (F.lag("_sv").over(wb) / F.lag("_n").over(wb) / F.lit(100.0)).alias("_pay"),
        (F.lead("_st").over(wb) / F.lead("_n").over(wb) / F.lit(1e6)).alias("_nax"),
        (F.lead("_sv").over(wb) / F.lead("_n").over(wb) / F.lit(100.0)).alias("_nay"),
    )
    joined = pts.join(anch, [key, "_b"])
    area = F.abs(
        (F.col("_pax") - F.col("_nax")) * (F.col("value") - F.col("_pay"))
        - (F.col("_pax") - F.col("time")) * (F.col("_nay") - F.col("_pay"))
    )
    wr = Window.partitionBy(key, "_b").orderBy(
        F.desc_nulls_last(F.round(area, 6)), *[F.col(c) for c in order]
    )
    return (
        joined.withColumn("_rk", F.row_number().over(wr))
        .filter(F.col("_rk") == 1)
        .select(
            F.col(key),
            F.col("_b").alias("bucket"),
            "time",
            "value",
            "n_in_bucket",
        )
    )


def series_health(
    points: DataFrame,
    t0: float,
    t1: float,
    heartbeat: float,
    deadtime: float,
    deadband_v: float,
    key: str = "pvname",
) -> DataFrame:
    """Per-series health report — the archiver's one-glance PV dashboard
    composing four certified signals: point volume + deadband keep ratio
    (is the PV's deadband tuned?), availability over [t0, t1] (is the
    collector keeping up?), least-squares drift (is the device walking?)
    and the single largest silent gap (did we lose the channel?). The
    per-PV analog of the corpus report card on the documents side.

    Each signal is its own aggregate to ≤ one-row-per-series; the
    composite then left-joins them onto the distinct-series spine —
    series-count-sized frames throughout (AQE broadcasts them), raw
    points never join anything."""
    from epicsarchiver_spark.operators.deadband import deadband_lag

    spine = points.select(F.col(key)).distinct()
    raw = points.groupBy(key).agg(F.count(F.lit(1)).alias("n_raw"))
    kept = (
        deadband_lag(points, deadtime, deadband_v)
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias("_nk"))
    )
    comp = raw.join(kept, key).select(
        F.col(key),
        "n_raw",
        F.round(F.col("_nk").cast("double") / F.col("n_raw"), 6).alias("keep_ratio"),
    )
    av = availability(points, t0, t1, heartbeat, key=key).select(key, "uptime")
    dr = drift(points, t0, t1, key=key).select(key, "slope_per_day")
    gp = largest_gaps(points, top_n=1, key=key).select(
        F.col(key), F.col("gap_s").alias("max_gap_s")
    )
    return (
        spine.join(comp, key, "left")
        .join(av, key, "left")
        .join(dr, key, "left")
        .join(gp, key, "left")
    )


def xcorr_lag(
    points: DataFrame,
    pairs,
    t0: float,
    t1: float,
    step: float,
    max_lag: int = 3,
    key: str = "pvname",
    quantum: float = 0.01,
) -> DataFrame:
    """Lead-lag scan between CANDIDATE series pairs: Pearson r between
    a's LOCF grid and b's grid shifted by every lag in ±``max_lag``
    steps — "which PV leads which, and by how much" (beam current
    preceding a temperature, a setpoint preceding its readback).
    ``pairs`` is a bounded (pv_a, pv_b) frame or list of tuples —
    typically ``correlated_partners``' output, which makes this the
    second stage of related-PV discovery: partners first (output-
    bounded), lag structure only for the survivors.

    Positive lag means b's future tracks a's present — a LEADS b by
    ``lag`` grid steps. Returns ``(pv_a, pv_b, lag, n, r, best)`` for
    lags with ≥2 overlapping instants and variance on both sides;
    ``best`` marks each pair's (\\|r\\| desc, lag asc) winner. The same
    exact-integer moment discipline as ``series_correlation``:
    quantized values, BIGINT sums, closed-form double r — grid indices
    are integers so the lag join never touches float time equality.

    Scale shape: the grid builds on one series-keyed exchange
    (``locf_grid``); the pair list broadcasts onto it; the lag
    dimension explodes a literal (2·max_lag+1)-element array; the
    b-side attach is one hash equi-join on (series, grid index). Every
    frame after the grid is bounded by \\|pairs\\| × grid_len × lags —
    candidate-sized, never corpus².
    """
    if not isinstance(pairs, DataFrame):
        sess = points.sparkSession
        pairs = sess.createDataFrame(
            [(str(x), str(y)) for x, y in pairs], "pv_a string, pv_b string"
        )
    # prune the archive to the candidate PVs BEFORE the grid build —
    # the series-keyed window shuffle must run over ~|pairs| series,
    # not the whole corpus (same discipline as grid_pivot)
    names = (
        pairs.select(F.col("pv_a").alias(key))
        .unionByName(pairs.select(F.col("pv_b").alias(key)))
        .distinct()
    )
    # the candidate grid feeds both the a-side and the b-side attach.
    # A persist was tried here (r13) and REVERTED in r14: the driver
    # measured the gate −14% with it, and a fresh same-JVM interleaved
    # A/B confirms (persist 2.75 s / plain 2.48 s median of 6 at
    # sf0.1) — both attach sides re-expand the SAME series-keyed
    # exchange + window subtree, which ReuseExchange already computes
    # once at runtime; only the cheap post-window projections differ
    # (the r13 ReuseExchange lesson).
    grid = (
        locf_grid(
            points.join(F.broadcast(names), key, "left_semi"),
            t0,
            t1,
            step,
            key=key,
        )
        .select(key, "t", "value")
        .filter(F.col("value").isNotNull())
        .select(
            F.col(key),
            F.round((F.col("t") - float(t0)) / float(step)).cast("long").alias("i"),
            F.round(F.col("value") / quantum).cast("long").alias("q"),
        )
    )
    pa = grid.join(F.broadcast(pairs), F.col(key) == F.col("pv_a")).select(
        "pv_a", "pv_b", "i", F.col("q").alias("qa")
    )
    lags = F.array([F.lit(l) for l in range(-int(max_lag), int(max_lag) + 1)])
    pa_l = pa.select(
        "pv_a", "pv_b", "i", "qa", F.explode(lags).alias("lag")
    ).withColumn("j", F.col("i") + F.col("lag"))
    pb = grid.select(
        F.col(key).alias("pv_b"), F.col("i").alias("j"), F.col("q").alias("qb")
    )
    sums = (
        pa_l.join(pb, ["pv_b", "j"])
        .groupBy("pv_a", "pv_b", "lag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("qa").alias("sx"),
            F.sum("qb").alias("sy"),
            F.sum(F.col("qa") * F.col("qb")).alias("sxy"),
            F.sum(F.col("qa") * F.col("qa")).alias("sxx"),
            F.sum(F.col("qb") * F.col("qb")).alias("syy"),
        )
    )
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    r = cov.cast("double") / (
        F.sqrt(varx.cast("double")) * F.sqrt(vary.cast("double"))
    )
    scored = (
        sums.filter((F.col("n") >= 2) & (varx > 0) & (vary > 0))
        .select("pv_a", "pv_b", "lag", "n", r.alias("_r"))
    )
    w = Window.partitionBy("pv_a", "pv_b").orderBy(
        F.abs(F.col("_r")).desc(), F.col("lag")
    )
    return scored.withColumn("_rn", F.row_number().over(w)).select(
        "pv_a",
        "pv_b",
        "lag",
        "n",
        F.round("_r", 6).alias("r"),
        (F.col("_rn") == 1).alias("best"),
    )


def flatlines(
    points: DataFrame,
    min_points: int = 5,
    min_duration_s: float = 0.0,
    key: str = "pvname",
    quantum: float = 0.01,
) -> DataFrame:
    """Stuck-sensor screen — per series, the maximal runs of IDENTICAL
    (quantum-quantized) consecutive values: a transducer that died but
    keeps publishing shows up as one long flat island, the failure mode
    the deadband compressor actively hides (it archives exactly one
    point per flat stretch, so flatline detection must run on the RAW
    feed or alongside the heartbeat fill). Returns one row per series:
    ``(key, n_points, longest_run, longest_run_s, n_stuck_runs, stuck)``
    where stuck runs have ≥ ``min_points`` points AND ≥
    ``min_duration_s`` span, and the longest-run columns describe the
    series' worst island regardless of thresholds.

    Same gaps-and-islands discipline as ``ramps``: island ids from a
    running change count on ONE series-keyed exchange (windows and both
    aggregates share it); value equality in exact integer quantum
    units, so island boundaries cannot waver across engines. Output is
    one row per series — nothing input-sized leaves the executors."""
    order = ["time", "event_id"] if "event_id" in points.columns else ["time"]
    w = Window.partitionBy(key).orderBy(*[F.col(c) for c in order])
    q = F.round(F.col("value") / quantum).cast("long")
    flagged = points.select(
        F.col(key),
        F.col("time"),
        *[F.col(c) for c in order[1:]],
        q.alias("_q"),
        # null-safe inequality (IS DISTINCT FROM): a NULL value starts a
        # new island and consecutive NULLs form one — matching the SQL
        # oracle; the first row's NULL lag also flags
        (~F.lag(q).over(w).eqNullSafe(q)).cast("int").alias("_chg"),
    )
    runs = (
        flagged.withColumn(
            "_run", F.sum("_chg").over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
        .groupBy(key, "_run")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            (F.max("time") - F.min("time")).alias("_span"),
        )
    )
    stuck = (F.col("_n") >= int(min_points)) & (
        F.col("_span") >= float(min_duration_s)
    )
    return runs.groupBy(key).agg(
        F.sum("_n").alias("n_points"),
        F.max("_n").alias("longest_run"),
        F.round(
            F.max_by(F.col("_span"), F.struct(F.col("_n"), F.col("_span"))), 6
        ).alias("longest_run_s"),
        F.sum(stuck.cast("long")).alias("n_stuck_runs"),
        F.max(stuck).alias("stuck"),
    )


def grid_pivot(
    points: DataFrame,
    names: list[str],
    t0: float,
    t1: float,
    step: float,
    key: str = "pvname",
) -> DataFrame:
    """Instrument snapshot matrix — the named series' LOCF grids as
    COLUMNS of one wide frame (t, pv_a, pv_b, …): the export format
    every offline analysis / ML notebook asks the archive for, and the
    relational form of the reference webapp's multi-PV plot data. Names
    map to columns in list order as ``v0..vN`` alongside their source
    names in the column metadata-free contract: callers pass the list,
    so ordinal naming keeps arbitrary PV strings out of column names
    (``PV:1.VAL`` is not a valid identifier in most consumers).

    Scale shape: the grid builds on the usual series-keyed exchange for
    ONLY the named series (the filter prunes the scan); the pivot is a
    single groupBy(t) with |names| conditional ``max`` aggregates —
    map-side partial, output rows = grid instants regardless of input
    volume. |names| is a plot/instrument-sized list (10²), never the
    corpus."""
    grid = locf_grid(
        points.filter(F.col(key).isin(list(names))), t0, t1, step, key=key
    ).select(key, "t", "value")
    aggs = [
        F.max(F.when(F.col(key) == n, F.col("value"))).alias(f"v{i}")
        for i, n in enumerate(names)
    ]
    return grid.groupBy("t").agg(*aggs).orderBy("t")


def seasonal_profile(
    points: DataFrame,
    key: str = "pvname",
    exact: bool = True,
) -> DataFrame:
    """Hour-of-day percentile envelope per series — the dashboard band
    behind :func:`seasonal_anomalies`' verdicts: ``(key, hour, n, p10,
    p50, p90)`` from exact percentiles (same interpolating reduction
    DuckDB's ``quantile_cont`` computes, certified by ts_percentiles).
    Plot the band, overlay today's trace, and the daily-cycle PV's
    "anomalies" become visible excursions instead of afternoon noise.

    One (series, hour)-keyed aggregate with map-side partials — 24 rows
    per series out, raw points shuffle once. ``exact=True`` buffers each
    (series, hour) group's values to sort (right for the gate and groups
    up to ~10⁷ points); at 100 TB flip ``exact=False`` for
    ``approx_percentile`` (t-digest sketch, constant memory per group,
    mergeable partials — the ``robust_outliers`` dial)."""
    if exact:
        pct = lambda p: F.percentile("value", F.lit(p))  # noqa: E731
    else:
        pct = lambda p: F.expr(  # noqa: E731
            f"approx_percentile(value, {p}, 10000)"
        )
    hour = (F.floor(F.col("time") / 3600) % 24).cast("long").alias("hour")
    return (
        points.select(F.col(key), hour, F.col("value"))
        .groupBy(key, "hour")
        .agg(
            F.count(F.lit(1)).alias("n"),
            pct(0.1).alias("p10"),
            pct(0.5).alias("p50"),
            pct(0.9).alias("p90"),
        )
    )


def seasonal_anomalies(
    points: DataFrame,
    k: float = 5.0,
    key: str = "pvname",
    quantum: float = 0.01,
) -> DataFrame:
    """Deseasonalized anomaly detection — flag points whose RESIDUAL
    against the series' own hour-of-day baseline exceeds k·MAD of the
    residuals: a PV with a daily thermal cycle trips plain median/MAD
    outlier detection every afternoon, while the residual screen only
    fires on departures FROM the cycle. Baseline = per (series, hour)
    mean in exact integer-cent arithmetic (a ratio of exact sums, so
    residuals are identical doubles in any engine); the flag reuses the
    ``robust_outliers`` median/MAD rule on the residual column.

    Returns flagged rows ``(key, time, value, residual, med, mad)``.
    Scale shape: one (series, hour)-keyed aggregate (24 rows per series
    — broadcast-weight re-join), then the same two bounded aggregate
    passes as ``robust_outliers``; raw points shuffle once for the
    baseline join and never again."""
    hour = (F.floor(F.col("time") / 3600) % 24).alias("hour")
    q = F.round(F.col("value") / quantum).cast("long")
    base = (
        points.select(F.col(key), hour, q.alias("_q"))
        .groupBy(key, "hour")
        .agg(F.sum("_q").alias("_sq"), F.count(F.lit(1)).alias("_n"))
        .select(
            F.col(key).alias("_bk"),
            F.col("hour").alias("_bh"),
            (F.col("_sq").cast("double") / F.col("_n")).alias("_base_q"),
        )
    )
    resid = points.select(F.col(key), F.col("time"), F.col("value"), hour, q.alias("_q")).join(
        base,
        (F.col(key) == F.col("_bk")) & (F.col("hour") == F.col("_bh")),
    ).select(
        F.col(key),
        "time",
        "value",
        ((F.col("_q") - F.col("_base_q")) * quantum).alias("residual"),
    )
    # med/MAD as whole-partition window aggregates over ONE series-keyed
    # exchange (r13, guide §2.4) — the former aggregate-and-join-back
    # pair re-expanded the residual subtree (and its points scan + base
    # join) three times: 14 Exchanges / 16 scans before, 4 / 4 after.
    # Same percentile function over the same rows, bit-identical.
    wk = Window.partitionBy(key)
    with_med = resid.withColumn(
        "_med", F.expr("percentile(residual, 0.5)").over(wk)
    )
    flagged = (
        with_med.withColumn(
            "_mad",
            F.expr("percentile(abs(residual - _med), 0.5)").over(wk),
        )
        .filter(
            (F.col("_mad") > 0)
            & (F.abs(F.col("residual") - F.col("_med")) > float(k) * F.col("_mad"))
        )
        .select(
            F.col(key),
            "time",
            "value",
            F.round("residual", 6).alias("residual"),
            F.round("_med", 6).alias("med"),
            F.round("_mad", 6).alias("mad"),
        )
    )
    return flagged
