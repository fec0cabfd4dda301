"""Seeded input generators. The same seed gives byte-identical files.

Every generator draws from one ``numpy.random.Generator`` seeded with
``(seed, <workload tag>)`` and writes parquet through pyarrow with fixed
options, so the files depend on the seed alone. The program under test
only ever sees the written files (or frames built from them).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

T_BASE = 1_700_000_000.0  # epoch seconds of the first generated event
DEADTIME, DEADBAND = 5.0, 0.05  # archiver defaults for double PVs (BASELINE.md)
MTIME_BASE = 1_600_000_000  # file mtimes order the stream's file source


def _rng(seed: int, tag: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), tag])


def write_parquet(df: pd.DataFrame, path: str, mtime: int | None = None) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(table, path, compression="snappy", write_statistics=True)
    if mtime is not None:
        os.utime(path, (mtime, mtime))


def pv_names(rng: np.random.Generator, n: int) -> list[str]:
    """EPICS-shaped names, unique: ``13IDA:m12.VAL`` style."""
    systems = np.array(["IDA", "IDB", "IDC", "IDD", "BMA", "BMC", "BMD", "LAB"])
    devices = np.array(["m", "ai", "bo", "mca", "scaler", "DAC", "temp", "ion"])
    fields = np.array(["VAL", "RBV", "DMOV", "S1", "SEVR", "HIHI"])
    sec = rng.integers(1, 40, n)
    sysi = rng.integers(0, len(systems), n)
    devi = rng.integers(0, len(devices), n)
    fi = rng.integers(0, len(fields), n)
    return [
        f"{sec[i]:02d}{systems[sysi[i]]}:{devices[devi[i]]}{i}.{fields[fi[i]]}"
        for i in range(n)
    ]


def zipf_weights(rng: np.random.Generator, n: int, a: float = 1.1) -> np.ndarray:
    """Skewed per-item weights, shuffled so hot items are spread out."""
    w = 1.0 / np.arange(1, n + 1) ** a
    rng.shuffle(w)
    return w / w.sum()


def bursty_events(
    rng: np.random.Generator, names: list[str], n_events: int, t0: float, span_s: float
) -> pd.DataFrame:
    """(pvname, time, value) with skewed per-PV rates; events come in
    bursts shorter than the deadtime, and values carry noise of the
    order of the deadband around a random walk. Times are distinct per
    PV. Sorted by time."""
    n = len(names)
    w = zipf_weights(rng, n)
    counts = 1 + rng.multinomial(max(n_events - n, 0), w)
    pv = np.repeat(np.arange(n), counts)
    n_bursts = np.maximum(1, counts // 3)
    first = np.concatenate([[0], np.cumsum(n_bursts)[:-1]])
    anchors = t0 + rng.random(int(n_bursts.sum())) * span_s
    pick = first[pv] + (rng.random(len(pv)) * n_bursts[pv]).astype(np.int64)
    t = np.round(anchors[pick] + rng.random(len(pv)) * 4.0, 6)
    order = np.lexsort((t, pv))
    pv, t = pv[order], t[order]
    keep = np.ones(len(pv), bool)
    keep[1:] = (pv[1:] != pv[:-1]) | (t[1:] != t[:-1])
    pv, t = pv[keep], t[keep]
    level = rng.normal(0.0, 10.0, n)
    scale = rng.uniform(0.02, 1.0, n)
    steps = rng.normal(0.0, 1.0, len(pv)) * scale[pv]
    walk = np.cumsum(steps)
    starts = np.concatenate([[0], np.flatnonzero(pv[1:] != pv[:-1]) + 1])
    walk -= np.repeat(walk[starts] - steps[starts], np.diff(np.append(starts, len(pv))))
    noise = rng.normal(0.0, DEADBAND, len(pv))
    v = np.round(level[pv] + walk + noise, 4)
    df = pd.DataFrame({"pvname": np.asarray(names, dtype=object)[pv], "time": t, "value": v})
    return df.sort_values(["time", "pvname"], kind="mergesort").reset_index(drop=True)


def time_slices(events: pd.DataFrame, n_slices: int, t0: float, span_s: float) -> list[pd.DataFrame]:
    edges = t0 + span_s * np.arange(1, n_slices) / n_slices
    idx = np.searchsorted(events["time"].to_numpy(), edges, side="left")
    bounds = [0, *idx.tolist(), len(events)]
    return [events.iloc[a:b].reset_index(drop=True) for a, b in zip(bounds[:-1], bounds[1:])]


# ---------------------------------------------------------------- archive


def archive_inputs(
    seed: int, out: str, n_pvs: int, n_events: int, n_slices: int, n_rules: int, tag: int = 1
) -> dict:
    """Time-sliced event files for the three streams.

    ``events/`` holds one parquet file per time slice (mtimes ascending,
    so a one-file-per-trigger stream replays them in time order).
    ``archive_in/`` holds the same slices for the archive stream, the
    last one extended by a sentinel event per PV: far past the deadtime
    window and with a jump beyond the deadband, it flushes every pending
    limbo entry, so the archive stream's output is the full batch spec
    (the sentinel tail events of the streaming tests). ``rules.parquet``
    holds the alert rules."""
    rng = _rng(seed, tag)
    names = pv_names(rng, n_pvs)
    span_s = n_events / max(n_pvs, 1) * 40.0
    ev = bursty_events(rng, names, n_events, T_BASE, span_s)
    slices = time_slices(ev, n_slices, T_BASE, span_s)
    sentinel = pd.DataFrame(
        {
            "pvname": names,
            "time": np.round(T_BASE + span_s + 1000.0 + np.arange(n_pvs) * 1e-3, 6),
            "value": 1.0e6 + np.arange(n_pvs, dtype=float),
        }
    )
    for k, sl in enumerate(slices):
        write_parquet(sl, os.path.join(out, "events", f"slice-{k:05d}.parquet"), MTIME_BASE + k)
        if k == len(slices) - 1:
            sl = pd.concat([sl, sentinel], ignore_index=True)
        write_parquet(sl, os.path.join(out, "archive_in", f"slice-{k:05d}.parquet"), MTIME_BASE + k)
    rules = alert_rules(rng, ev, n_rules)
    write_parquet(rules, os.path.join(out, "rules.parquet"))
    return {"events": ev, "sentinel": sentinel, "rules": rules}


def alert_rules(rng: np.random.Generator, ev: pd.DataFrame, n_rules: int) -> pd.DataFrame:
    """Threshold rules on the busiest PVs, trippoints inside each PV's
    value range so transitions happen; a few rules are inactive."""
    busy = ev["pvname"].value_counts(sort=True)
    pvs = busy.index[: min(n_rules, len(busy))].tolist()
    pvs.sort()
    q = ev[ev["pvname"].isin(pvs)].groupby("pvname")["value"]
    lo, hi = q.quantile(0.2), q.quantile(0.8)
    n = len(pvs)
    frac = rng.uniform(0.0, 1.0, n)
    trip = np.round(lo[pvs].to_numpy() + frac * (hi[pvs].to_numpy() - lo[pvs].to_numpy()), 4)
    return pd.DataFrame(
        {
            "alert_id": np.arange(1, n + 1, dtype=np.int64),
            "pvname": pvs,
            "compare": np.array(["gt", "lt", "ge", "le"])[rng.integers(0, 4, n)],
            "trippoint": trip,
            "timeout": np.array([0.0, 10.0, 60.0, 600.0])[rng.integers(0, 4, n)],
            "active": np.where(rng.random(n) < 0.9, "yes", "no"),
        }
    )


# ----------------------------------------------------------------- viewer


def viewer_inputs(
    seed: int, out: str, n_pvs: int, days: float, n_appends: int, append_s: float,
    n_edges: int, tag: int = 2,
) -> dict:
    """A store history with a daily heartbeat floor per PV, the live
    slices appended during the run, and a related-pairs graph."""
    rng = _rng(seed, tag)
    names = sorted(pv_names(rng, n_pvs))
    span_s = days * 86400.0
    w = zipf_weights(rng, n_pvs, a=1.2)
    t_end = T_BASE + span_s
    # busiest PV ~ 1 point / 15 s, the floor is one point per 12 h
    rate = np.maximum(w / w.max() / 15.0, 1.0 / 43200.0)
    base = _points(rng, names, rate, T_BASE, span_s)
    base_path = os.path.join(out, "base.parquet")
    write_parquet(base, base_path)
    slices = []
    for k in range(n_appends):
        sl = _points(rng, names, rate, t_end + k * append_s, append_s)
        p = os.path.join(out, "appends", f"append-{k:05d}.parquet")
        write_parquet(sl, p)
        slices.append(sl)
    pairs = related_pairs(rng, names, n_edges)
    write_parquet(pairs, os.path.join(out, "pairs.parquet"))
    return {
        "names": names, "weights": w, "base": base, "base_path": base_path,
        "appends": slices, "pairs": pairs, "t_end": t_end,
    }


def _points(rng, names, rate, t0, span_s) -> pd.DataFrame:
    counts = rng.poisson(rate * span_s)
    counts = np.maximum(counts, 1)
    pv = np.repeat(np.arange(len(names)), counts)
    t = np.round(t0 + rng.random(len(pv)) * span_s, 6)
    order = np.lexsort((t, pv))
    pv, t = pv[order], t[order]
    keep = np.ones(len(pv), bool)
    keep[1:] = (pv[1:] != pv[:-1]) | (t[1:] != t[:-1])
    pv, t = pv[keep], t[keep]
    v = np.round(np.cumsum(rng.normal(0.0, 1.0, len(pv))) % 1000.0 - 500.0, 4)
    return pd.DataFrame({"pvname": np.asarray(names, dtype=object)[pv], "time": t, "value": v})


def related_pairs(rng, names, n_edges: int) -> pd.DataFrame:
    """(pv1, pv2, score): preferential endpoints, integer usage scores,
    some reversed duplicates (the reference's pairs table shape)."""
    n = len(names)
    w = zipf_weights(rng, n, a=0.8)
    a = rng.choice(n, n_edges, p=w)
    b = rng.choice(n, n_edges, p=w)
    keep = a != b
    a, b = a[keep], b[keep]
    nm = np.asarray(names, dtype=object)
    return pd.DataFrame(
        {"pv1": nm[a], "pv2": nm[b], "score": rng.integers(1, 21, len(a)).astype(float)}
    )


# ----------------------------------------------------------------- curate

_STOP = ["the", "and", "of", "to", "in", "is", "that", "with"]


def curate_inputs(
    seed: int, out: str, n_docs: int, n_nodes: int, n_edges: int, tag: int = 3
) -> dict:
    """A near-duplicate corpus and a pairs graph.

    Documents come in families whose members form an edit chain: each
    member replaces ~30% of the previous member's words with words of
    the same length, so neighbours in the chain clear the Jaccard
    threshold while members two steps apart mostly do not — connected
    components then needs several rounds. Same-length substitutions
    keep ``n_chars`` (and so the length block) fixed within a family.
    A few exact copies are planted too."""
    rng = _rng(seed, tag)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    by_len = {
        k: sorted({"".join(rng.choice(letters, k)) for _ in range(900)}) for k in (3, 5, 7, 9)
    }
    rows: list[tuple] = []
    doc_id = 0
    while doc_id < n_docs:
        size = int(min(rng.geometric(0.22), 12, n_docs - doc_id))
        m = int(rng.integers(30, 110))
        lens = rng.choice([3, 5, 7, 9], m)
        words = [
            _STOP[rng.integers(0, len(_STOP))] if rng.random() < 0.25 else
            by_len[int(k)][rng.integers(0, len(by_len[int(k)]))]
            for k in lens
        ]
        lang = "en" if rng.random() < 0.8 else "de"
        source = ["web", "code", "books"][int(rng.integers(0, 3))]
        for j in range(size):
            if j:
                if rng.random() < 0.08:
                    rows.append((doc_id, rows[-1][1], lang, source))  # exact copy
                    doc_id += 1
                    continue
                for i in rng.choice(m, max(1, int(0.3 * m)), replace=False):
                    k = len(words[i])
                    pool = by_len.get(k) or [w for w in _STOP if len(w) == k]
                    words[i] = pool[rng.integers(0, len(pool))]
            rows.append((doc_id, " ".join(words), lang, source))
            doc_id += 1
    docs = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"])
    docs["doc_id"] = docs["doc_id"].astype(np.int64)
    docs["n_chars"] = docs["text"].str.len().astype(np.int32)
    write_parquet(docs, os.path.join(out, "docs.parquet"))
    names = [f"N{i:05d}" for i in range(n_nodes)]
    pairs = related_pairs(rng, names, n_edges)
    write_parquet(pairs, os.path.join(out, "pairs.parquet"))
    return {"docs": docs, "pairs": pairs}
