"""Alert engine — SURVEY §2.9 alert transitions + C16/C17.

Reference semantics (epicsarchiver/cache.py:601-630, doc/alerts.rst:42-48):
an alert row defines (pvname, compare ∈ {eq,ne,le,lt,ge,gt}, trippoint,
timeout). A notification fires only on the ok→alarm *transition*, and only
if ``now > last_notice + timeout``; staying in alarm does not re-fire.

Spark formulation: broadcast-join the (small) rules table onto the event
stream, then a keyed stateful transition detector per (pvname, alert_id).
State = (status, last_notice) — the exact fields the reference keeps
(cache.py:754-770). "Mail" is a sink table of notification records
(side-effect-free engine; delivery is an edge concern).

Every stream here (alert, outlier, flatline, ewma, holt, discord, hw,
cusum) runs on ``fold.keyed_fold``, the keyed-fold primitive shared with
the compressor: it owns the state store call, cold-state init, the null
guard, the stable time sort (ties fold in arrival order), state
write-back and the output frame. Each stream keeps its config checks,
its state tuple and CSV codec, its output schema and a step function
that folds one key's time-ordered rows over its state."""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

import operator as _op

from epicsarchiver_spark.streaming.fold import keyed_fold

_OPS = {
    "eq": _op.eq,
    "ne": _op.ne,
    "le": _op.le,
    "lt": _op.lt,
    "ge": _op.ge,
    "gt": _op.gt,
}

NOTIFY_SCHEMA = StructType(
    [
        StructField("alert_id", LongType()),
        StructField("pvname", StringType()),
        StructField("time", DoubleType()),
        StructField("value", DoubleType()),
        StructField("trippoint", DoubleType()),
        StructField("compare", StringType()),
    ]
)

ALERT_STATE_SCHEMA = StructType(
    [
        StructField("status", StringType()),  # 'ok' | 'alarm'
        StructField("last_notice", DoubleType()),
    ]
)


def evaluate_transitions(
    rows: pd.DataFrame, status: str, last_notice: float
) -> tuple[list[dict], str, float]:
    """Executable spec shared by the streaming kernel and batch tests:
    process time-ordered events for one (alert, pv), returning
    notifications + final state. Mirrors cache.py:617-630."""
    out: list[dict] = []
    for r in rows.itertuples():
        fires = _OPS[r.compare](r.value, r.trippoint)
        if fires and status == "ok":
            if r.time > last_notice + r.timeout:
                out.append(
                    {
                        "alert_id": r.alert_id,
                        "pvname": r.pvname,
                        "time": r.time,
                        "value": r.value,
                        "trippoint": r.trippoint,
                        "compare": r.compare,
                    }
                )
                last_notice = r.time
            status = "alarm"
        elif not fires:
            status = "ok"
    return out, status, last_notice


def _alert_step(key: tuple, state: tuple, rows):
    out, status, last_notice = evaluate_transitions(rows.sorted_frame(), *state)
    cols = ("time", "value", "trippoint", "compare")
    return (status, last_notice), _columns(cols, [[n[c] for c in cols] for n in out])


def _columns(names, rows) -> dict | None:
    """A step's emitted row tuples as its ``out`` columns; None if none."""
    return dict(zip(names, map(list, zip(*rows)))) if rows else None


def _round6(x: float) -> float:
    """Round half away from zero to 6 dp in explicit IEEE steps — the
    batch operators' rounding (``operators.timeseries``)."""
    return (
        math.floor(abs(x) * 1e6 + 0.5)
        * (1.0 if x > 0 else -1.0 if x < 0 else 0.0)
        / 1e6
    )


def alert_stream(events: DataFrame, rules: DataFrame) -> DataFrame:
    """Notifications stream: events (pvname, time, value) × rules
    (alert_id, pvname, compare, trippoint, timeout, active). Rules are
    broadcast (small dimension); state keyed by (pvname, alert_id), so
    a PV's rules share its key group."""
    joined = events.join(
        F.broadcast(rules.filter(F.col("active") == "yes")), "pvname"
    ).select("alert_id", "pvname", "time", "value", "trippoint", "compare", "timeout")
    return keyed_fold(
        joined,
        ["pvname", "alert_id"],
        _alert_step,
        output_schema=NOTIFY_SCHEMA,
        state_schema=ALERT_STATE_SCHEMA,
        init=lambda key: ("ok", float("-inf")),
    )


OUTLIER_SCHEMA = StructType(
    [
        StructField("pvname", StringType()),
        StructField("time", DoubleType()),
        StructField("value", DoubleType()),
        StructField("med", DoubleType()),
        StructField("mad", DoubleType()),
        StructField("n_win", LongType()),
    ]
)

_OUTLIER_STATE_SCHEMA = StructType(
    [
        StructField("times", StringType()),   # csv-packed trailing buffer
        StructField("values", StringType()),
    ]
)


def _rolling_flags(times, values, buf_t, buf_v, window: int, k: float):
    """Executable spec shared by the streaming kernel and the batch
    equivalence test: score time-ordered samples against the trailing
    ``window`` (buffer + self), lower-median convention — identical
    arithmetic to ``operators.timeseries.rolling_robust_outliers``.
    Returns (flag rows, new trailing buffer)."""
    out = []
    bt = list(buf_t)
    bv = list(buf_v)
    for t, v in zip(times, values):
        bt.append(t)
        bv.append(v)
        if len(bt) > window:
            bt.pop(0)
            bv.pop(0)
        arr = sorted(bv)
        n = len(arr)
        med = arr[(n + 1) // 2 - 1]
        mad = sorted(abs(x - med) for x in arr)[(n + 1) // 2 - 1]
        if mad > 0 and abs(v - med) > k * mad:
            out.append((t, v, med, mad, n))
    return out, bt[-(window - 1) :], bv[-(window - 1) :]


def outlier_stream(
    events: DataFrame, window: int = 25, k: float = 5.0
) -> DataFrame:
    """LIVE rolling robust anomaly detection — the streaming twin of
    ``timeseries.rolling_robust_outliers``: each event is scored against
    the trailing ``window`` samples of its series, state carries the
    last ``window``−1 (time, value) pairs per key (a few hundred bytes
    per series; 10⁶ series ≈ 200 MB, trivially partitioned). Events are
    sorted per micro-batch; like the compressor, in-order delivery
    across batches is the source's contract (late events are scored
    against the state they arrive into). Batch↔stream equivalence for
    in-order input is tested (tests/test_streaming.py)."""
    if window < 2:
        raise ValueError("window must be >= 2 (window=1 can never flag)")
    win, kk = window, k

    def step(key: tuple, state: tuple, rows):
        buf_t, buf_v = ([float(x) for x in csv.split(",")] if csv else [] for csv in state)
        flags, buf_t, buf_v = _rolling_flags(
            rows.time.tolist(), rows.col("value").tolist(), buf_t, buf_v, win, kk
        )
        state = (",".join(repr(x) for x in buf_t), ",".join(repr(x) for x in buf_v))
        return state, _columns(("time", "value", "med", "mad", "n_win"), flags)

    return keyed_fold(
        events,
        ["pvname"],
        step,
        output_schema=OUTLIER_SCHEMA,
        state_schema=_OUTLIER_STATE_SCHEMA,
        init=lambda key: ("", ""),
        required=("time", "value"),
    )


FLATLINE_SCHEMA = StructType(
    [
        StructField("pvname", StringType()),
        StructField("kind", StringType()),
        StructField("time", DoubleType()),
        StructField("value", DoubleType()),
        StructField("run_points", LongType()),
        StructField("run_seconds", DoubleType()),
    ]
)

_FLATLINE_STATE_SCHEMA = StructType(
    [
        StructField("q", LongType()),
        StructField("start_t", DoubleType()),
        StructField("n", LongType()),
        StructField("last_t", DoubleType()),
        StructField("alerted", LongType()),  # 0/1 (bool-in-long for state IO)
    ]
)


def flatline_stream(
    events: DataFrame,
    min_points: int = 5,
    min_duration_s: float = 0.0,
    quantum: float = 0.01,
) -> DataFrame:
    """LIVE stuck-sensor watchdog — the streaming twin of
    ``timeseries.flatlines`` with alert-transition semantics (like the
    reference's ok→alarm rule engine): one ``stuck`` row the moment a
    series' identical-value run crosses BOTH thresholds, one
    ``released`` row when the value finally changes again. Staying
    stuck does not re-fire; a run that never crosses emits nothing.

    State per series is five scalars (current run's quantized value,
    start time, length, last time, alerted flag) — bytes per PV, a few
    MB at 10⁶ series. Same in-order-source contract as the compressor
    and the outlier stream; batch↔stream agreement is tested across
    micro-batch boundaries (the run carries between batches)."""
    mp, ms, qm = int(min_points), float(min_duration_s), float(quantum)

    def step(key: tuple, state: tuple, rows):
        q, start_t, n, last_t, alerted = state
        out = []
        for t, v in zip(rows.time.tolist(), rows.col("value").tolist()):
            # HALF_UP like the batch twin's F.round — python round() is
            # half-even and would disagree at half-quantum values
            x = v / qm
            qv = int(math.floor(abs(x) + 0.5) * (1 if x >= 0 else -1))
            if q is None or qv != q:
                if alerted:
                    out.append(("released", t, v, n, last_t - start_t))
                q, start_t, n, alerted = qv, t, 1, 0
            else:
                n += 1
            last_t = t
            if not alerted and n >= mp and (t - start_t) >= ms:
                out.append(("stuck", t, v, n, t - start_t))
                alerted = 1
        cols = ("kind", "time", "value", "run_points", "run_seconds")
        return (q, start_t, n, last_t, alerted), _columns(cols, out)

    return keyed_fold(
        events,
        ["pvname"],
        step,
        output_schema=FLATLINE_SCHEMA,
        state_schema=_FLATLINE_STATE_SCHEMA,
        init=lambda key: (None, 0.0, 0, 0.0, 0),
        required=("time", "value"),
    )


EWMA_SCHEMA = StructType(
    [
        StructField("pvname", StringType()),
        StructField("time", DoubleType()),
        StructField("value", DoubleType()),
        StructField("ewma", DoubleType()),
    ]
)

_EWMA_STATE_SCHEMA = StructType([StructField("qs_csv", StringType())])


def _half_up_long(x: float) -> int:
    """java.math HALF_UP on the shortest decimal repr — the python twin
    of Spark's ``F.round(double)`` (BigDecimal.valueOf semantics)."""
    from decimal import ROUND_HALF_UP, Decimal

    return int(Decimal(repr(x)).quantize(Decimal(1), rounding=ROUND_HALF_UP))


def _half_up_6dp(x: float) -> float:
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))


def _qbuf_stream(
    events: DataFrame,
    span: int,
    quantum: float,
    output_schema: StructType,
    emit,
) -> DataFrame:
    """The smoothing streams' fold (ewma, holt, hw): each event's value
    enters its series' trailing ``span`` window of quantized values,
    and the event is re-emitted with ``emit(window)``, the columns after
    ``value``. A NULL value occupies a window slot as ``None`` (an ``n``
    in the state CSV), exactly like the batch operators' row frame, but
    contributes nothing to the sums — collect_list-skips-NULLs parity.
    State per series is the last ``span``−1 slots as one CSV."""
    spn, qm = int(span), float(quantum)
    names = [f.name for f in output_schema.fields[3:]]

    def step(key: tuple, state: tuple, rows):
        (qs_csv,) = state
        buf = [None if tok == "n" else int(tok) for tok in qs_csv.split(",")] if qs_csv else []
        out = {c: [] for c in ("time", "value", *names)}
        for t, v in zip(rows.time.tolist(), rows.col("value").tolist()):
            isnull = pd.isna(v)
            buf.append(None if isnull else _half_up_long(v / qm))
            buf = buf[-spn:]
            out["time"].append(t)
            out["value"].append(None if isnull else v)
            for c, x in zip(names, emit(buf)):
                out[c].append(x)
        state = (",".join("n" if x is None else str(x) for x in buf[-(spn - 1):]),)
        return state, {
            "time": out["time"],
            **{c: pd.array(out[c], dtype="Float64") for c in ("value", *names)},
        }

    return keyed_fold(
        events,
        ["pvname"],
        step,
        output_schema=output_schema,
        state_schema=_EWMA_STATE_SCHEMA,
        init=lambda key: ("",),
        required=("time",),
    )


def ewma_stream(
    events: DataFrame,
    alpha_num: int = 1,
    alpha_den: int = 4,
    span: int = 8,
    quantum: float = 0.01,
) -> DataFrame:
    """LIVE exponential smoothing — the streaming twin of
    ``timeseries.ewma``: every event is re-emitted with its span-bounded
    (1−α)^age-weighted mean, the anti-flapping input for dashboards and
    threshold rules (alert on the trend, not the tick). Identical
    arithmetic to the batch operator — quantized BIGINT values against
    the exact integer weight table, one division, HALF_UP 6 dp — so
    batch↔stream agreement is row-exact for in-order input with
    non-null timestamps (tests/test_streaming.py). NULL *values*
    match the batch window semantics exactly: the row still occupies
    a span slot (state keeps an ``n`` marker) and is emitted with the
    smoothed value of the remaining non-null window — NULL when the
    whole support window is null.

    State per series is the last ``span``−1 quantized values (a CSV of
    ≤7 longs by default — bytes per PV, the outlier stream's posture).
    Same in-order-source contract as the compressor; a late event is
    smoothed against the state it arrives into."""
    if not (0 < alpha_num < alpha_den):
        raise ValueError("need 0 < alpha_num < alpha_den")
    if span < 2:
        # span=1 is the identity smoother AND buf[-(span-1):] would
        # slice to buf[-0:] == everything — unbounded state
        raise ValueError("span must be >= 2")
    wt = [
        (alpha_den - alpha_num) ** age * alpha_den ** (span - 1 - age)
        for age in range(span)
    ]
    qm = float(quantum)

    def emit(buf):
        vals = [x for x in buf if x is not None]
        n = len(vals)
        if not n:
            return (None,)
        num = sum(vals[j] * wt[n - 1 - j] for j in range(n))
        return (_half_up_6dp(num / sum(wt[:n]) * qm),)

    return _qbuf_stream(events, span, quantum, EWMA_SCHEMA, emit)


HOLT_SCHEMA = StructType(
    [
        StructField("pvname", StringType()),
        StructField("time", DoubleType()),
        StructField("value", DoubleType()),
        StructField("level", DoubleType()),
        StructField("trend", DoubleType()),
        StructField("forecast", DoubleType()),
    ]
)


def holt_stream(
    events: DataFrame,
    alpha_num: int = 1,
    alpha_den: int = 4,
    beta_num: int = 1,
    beta_den: int = 4,
    span: int = 8,
    quantum: float = 0.01,
    horizon: int = 1,
) -> DataFrame:
    """LIVE windowed Holt — the streaming twin of
    ``timeseries.holt_linear``: every event re-emitted with the level/
    trend of its trailing ``span`` samples and the ``horizon``-step
    forecast, the dashboard's live forecast band. Identical arithmetic
    to the batch operator — quantized BIGINTs against the SAME exact
    integer coefficient tables, float(num)/float(den)·quantum in the
    same op order, the same explicit-IEEE 6-dp rounding — so
    batch↔stream agreement is row-exact for in-order input with
    non-null timestamps. NULL *values* match the batch window
    semantics: the row occupies a span slot (an ``n`` state marker),
    is emitted with level/trend/forecast over the remaining non-null
    window, NULL when the whole support window is null.

    State per series is the last ``span``−1 quantized values (the
    ewma_stream posture: a CSV of ≤7 longs — bytes per PV)."""
    from epicsarchiver_spark.operators.timeseries import _holt_tables

    if span < 2:
        raise ValueError("span must be >= 2")
    WL, WB, DEN = _holt_tables(alpha_num, alpha_den, beta_num, beta_den, span)
    qm, h = float(quantum), int(horizon)

    def emit(buf):
        vals = [x for x in buf if x is not None]
        L = len(vals)
        if not L:
            return (None, None, None)
        num_l = sum(vals[i] * WL[L - 1][i] for i in range(L))
        num_b = sum(vals[i] * WB[L - 1][i] for i in range(L))
        den = float(DEN[L - 1])
        return (
            _round6(float(num_l) / den * qm),
            _round6(float(num_b) / den * qm),
            _round6(float(num_l + h * num_b) / den * qm),
        )

    return _qbuf_stream(events, span, quantum, HOLT_SCHEMA, emit)


DISCORD_SCHEMA = StructType(
    [
        StructField("pvname", StringType()),
        StructField("time", DoubleType()),
        StructField("word", StringType()),
        StructField("n_seen", LongType()),
    ]
)

_DISCORD_STATE_SCHEMA = StructType(
    [StructField("buf_csv", StringType()), StructField("counts_csv", StringType())]
)


def discord_stream(
    events: DataFrame,
    window: int = 16,
    n_segments: int = 4,
    alphabet: int = 4,
    quantum: float = 0.01,
) -> DataFrame:
    """LIVE HOT-SAX discord screen — the streaming twin of
    ``timeseries.sax_window_words`` + a per-series running word count:
    every COMPLETED length-``window`` subsequence is emitted as
    ``(pvname, time, word, n_seen)`` where ``time`` is the window\'s
    START row and ``n_seen`` counts how often this series has produced
    this word so far (including now). ``n_seen == 1`` past warm-up is
    the live anomaly signal: a shape this series has never taken —
    exactly the rarity metric the batch ``sax_discords`` ranks by,
    evaluated at arrival time.

    Identical arithmetic to the batch lane — the same HALF_UP value
    quantization, the same exact-BIGINT window moments divided in the
    same IEEE op order, the same explicit 6-dp rounding and literal
    breakpoints — so (pvname, time, word) agrees row-exactly with
    ``sax_window_words`` and ``n_seen`` with its running count for
    in-order non-null input across any micro-batch split.

    State per series: the trailing ``window``−1 ``(time, value-unit)``
    pairs plus the word-count table — the latter is BOUNDED by the
    alphabet^segments word space (256 entries at the 4/4 default),
    bytes per series either way."""
    from epicsarchiver_spark.operators.timeseries import _SAX_BREAKPOINTS

    if window % n_segments:
        raise ValueError("window must be divisible by n_segments")
    if alphabet not in _SAX_BREAKPOINTS:
        raise ValueError(f"alphabet must be one of {sorted(_SAX_BREAKPOINTS)}")
    bps = _SAX_BREAKPOINTS[alphabet]
    letters = "abcdefgh"[:alphabet]
    win, nseg, qm = int(window), int(n_segments), float(quantum)
    ss = win // nseg

    def word_of(qs: list[int]) -> str:
        sw = sum(qs)
        sww = sum(x * x for x in qs)
        mu = float(sw) / float(win)
        sig = math.sqrt(max(float(sww) / float(win) - mu * mu, 0.0))
        out = []
        for j in range(nseg):
            if sig > 0:
                praw = (float(sum(qs[j * ss : (j + 1) * ss])) / float(ss) - mu) / sig
            else:
                praw = 0.0
            paa = _round6(praw)
            sym = letters[0]
            for i, bp in enumerate(bps):
                if not (paa < bp):
                    sym = letters[i + 1]
            out.append(sym)
        return "".join(out)

    def step(key: tuple, state: tuple, rows):
        buf_csv, counts_csv = state
        buf = [
            (float(t), int(q)) for t, q in (p.split(":") for p in buf_csv.split(";") if p)
        ]
        counts = {w: int(c) for w, c in (p.split(":") for p in counts_csv.split(";") if p)}
        out = []
        for t, v in zip(rows.time.tolist(), rows.col("value").tolist()):
            buf.append((t, _half_up_long(v / qm)))
            if len(buf) == win:
                w = word_of([q for _t, q in buf])
                counts[w] = counts.get(w, 0) + 1
                out.append((buf[0][0], w, counts[w]))
                buf = buf[1:]
        state = (
            ";".join(f"{t!r}:{q}" for t, q in buf),
            ";".join(f"{w}:{c}" for w, c in sorted(counts.items())),
        )
        return state, _columns(("time", "word", "n_seen"), out)

    return keyed_fold(
        events,
        ["pvname"],
        step,
        output_schema=DISCORD_SCHEMA,
        state_schema=_DISCORD_STATE_SCHEMA,
        init=lambda key: ("", ""),
        required=("time", "value"),
    )


HW_SCHEMA = StructType(
    [
        StructField("pvname", StringType()),
        StructField("time", DoubleType()),
        StructField("value", DoubleType()),
        StructField("level", DoubleType()),
        StructField("trend", DoubleType()),
        StructField("season", DoubleType()),
        StructField("forecast", DoubleType()),
    ]
)


def hw_stream(
    events: DataFrame,
    alpha_num: int = 1,
    alpha_den: int = 2,
    beta_num: int = 1,
    beta_den: int = 2,
    gamma_num: int = 1,
    gamma_den: int = 2,
    period: int = 4,
    span: int = 12,
    quantum: float = 0.01,
) -> DataFrame:
    """LIVE windowed Holt–Winters — the streaming twin of
    ``timeseries.holt_winters`` (the holt_stream cadence): every event
    re-emitted with the level/trend/next-step-seasonal of its trailing
    ``span`` rows and the one-step forecast. Identical arithmetic —
    quantized BIGINTs against the SAME exact integer coefficient
    tables, one double division in the same op order, the same
    explicit-IEEE 6-dp rounding — so batch↔stream agreement is
    row-exact for in-order input with non-null timestamps. NULL values
    match the batch row-frame semantics: the null occupies a span slot
    (an ``n`` state marker) and any window containing one has NULL
    outputs (the batch's size(_arr)==span guard).

    State per series is the last ``span``−1 quantized values — a CSV
    of ≤11 longs at the default, bytes per PV."""
    from epicsarchiver_spark.operators.timeseries import _hw_tables

    WL, WB, WS, den = _hw_tables(
        alpha_num, alpha_den, beta_num, beta_den, gamma_num, gamma_den,
        period, span,
    )
    spn, qm, dden = int(span), float(quantum), float(den)

    def emit(buf):
        if len(buf) < spn or any(x is None for x in buf):
            return (None, None, None, None)
        nl = sum(buf[i] * WL[i] for i in range(spn))
        nb = sum(buf[i] * WB[i] for i in range(spn))
        ns = sum(buf[i] * WS[i] for i in range(spn))
        return tuple(
            _round6(float(x) / dden * qm) for x in (nl, nb, ns, nl + nb + ns)
        )

    return _qbuf_stream(events, span, quantum, HW_SCHEMA, emit)


CUSUM_SCHEMA = StructType(
    [
        StructField("pvname", StringType()),
        StructField("time", DoubleType()),
        StructField("side", StringType()),
        StructField("s_scaled", LongType()),
        StructField("n", LongType()),
    ]
)

_CUSUM_STATE_SCHEMA = StructType(
    [
        StructField("cu", LongType()),    # Σ(q − target − k) so far
        StructField("minu", LongType()),  # min(0, running min of cu)
        StructField("psu", LongType()),   # previous S⁺ (crossing edge)
        StructField("cd", LongType()),
        StructField("mind", LongType()),
        StructField("psd", LongType()),
    ]
)


def cusum_stream(
    events: DataFrame,
    target: float | None = None,
    k: float = 0.5,
    h: float = 5.0,
    quantum: float = 0.01,
    targets=None,
) -> DataFrame:
    """LIVE two-sided CUSUM against a known reference ``target`` — the
    streaming twin of ``timeseries.cusum_changepoints(target=...)``:
    emit a crossing row the instant the cumulative deviation statistic
    passes the decision threshold from at-or-below, exactly the rows
    the batch lane emits on the same events (row-exact equivalence in
    tests/test_streaming.py — the statistic is integer arithmetic, so
    batching cannot perturb it). State per series is six BIGINTs: the
    running sum, its running min (0-seeded, the virtual pre-history
    row), and the previous statistic for each side — bytes per PV.
    Same in-order-source contract as the compressor; NULL-value rows
    leave the statistic untouched. Time-TIED events fold in arrival
    order here (stable sort on time — the stream carries no event_id),
    while the batch lane tie-breaks on event_id when its frame has one:
    row-exactness on tied timestamps therefore also requires arrival
    order to match event_id order, the property an in-order archiver
    source provides by construction.

    ``targets`` — the WARM-START lane (VERDICT r12 task 4, the W1
    ``seeds=`` pattern): a {pvname: target_value} map — plain dict, or
    a ``pyspark.Broadcast`` of one to ship it once per executor — built
    from a batch backfill via ``timeseries.cusum_targets(...).collect()``,
    so the live chart measures new points against the backfill's mean
    instead of an operator-guessed constant. Per-key resolution: the
    map wins, the scalar ``target`` is the fallback for series the
    backfill never saw (omit it to let unseen series pass through
    silently — they emit nothing until a target exists). Both the map
    values and the scalar quantize through the same half-up grid as the
    batch ``targets=`` lane, so
    ``cusum_stream(new, targets=m) ≡ cusum_changepoints(new,
    targets=frame)`` row-exactly (tests/test_streaming.py)."""
    if target is None and targets is None:
        raise ValueError("cusum_stream needs target= or targets=")
    kq, hq = _half_up_long(k / quantum), _half_up_long(h / quantum)
    tq_default = None if target is None else _half_up_long(target / quantum)
    qm = float(quantum)

    def target_of(pvname: str) -> int | None:
        tmap = targets.value if hasattr(targets, "value") else targets
        if tmap is not None and pvname in tmap:
            return _half_up_long(float(tmap[pvname]) / qm)
        return tq_default

    def step(key: tuple, state: tuple, rows):
        tq = target_of(key[0])
        if tq is None:
            return state, None
        cu, minu, psu, cd, mind, psd = state
        out = []
        for t, v in zip(rows.time.tolist(), rows.col("value").tolist()):
            q = _half_up_long(v / qm)
            cu += q - (tq + kq)
            minu = min(minu, cu)
            su = cu - minu
            if su > hq and psu <= hq:
                out.append((t, "up", su, 1))
            psu = su
            cd += (tq - kq) - q
            mind = min(mind, cd)
            sd = cd - mind
            if sd > hq and psd <= hq:
                out.append((t, "down", sd, 1))
            psd = sd
        state = (cu, minu, psu, cd, mind, psd)
        return state, _columns(("time", "side", "s_scaled", "n"), out)

    # a series with no target (not in the map, no scalar) keeps no state
    # and emits nothing
    return keyed_fold(
        events,
        ["pvname"],
        step,
        output_schema=CUSUM_SCHEMA,
        state_schema=_CUSUM_STATE_SCHEMA,
        init=lambda key: None if target_of(key[0]) is None else (0, 0, 0, 0, 0, 0),
        required=("time", "value"),
    )
