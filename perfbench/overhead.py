#!/usr/bin/env python3
"""Tracing overhead per workload, from the results under ``.perfbench_out/``.

    python3 perfbench/overhead.py

For each workload with both untraced (``--trace 0``) and traced
(``--trace 1``) results at the ``run_seconds`` of ``BENCHMARK.json``,
prints each end-to-end metric's median over the untraced runs, the
median of its ``traced.*`` twin, and their relative difference
(positive = tracing made it worse), plus the tracer's own bookkeeping
time. Results accumulate across runs; clear the directory to compare a
fresh set.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys


def main(out_dir: str = ".perfbench_out") -> int:
    with open("BENCHMARK.json", encoding="utf-8") as fh:
        spec = json.load(fh)
    e2e = spec["end_to_end"]
    wanted = [m["name"] for m in e2e]
    runs: dict = {}
    for path in sorted(glob.glob(os.path.join(out_dir, "result-*.json"))):
        with open(path, encoding="utf-8") as fh:
            res = json.load(fh)
        info, metrics = res["info"], res["result"]["metrics"]
        keys = wanted if info["trace"] == 0 else ["traced." + n for n in wanted]
        if info["seconds"] == spec["run_seconds"] and all(k in metrics for k in keys):
            runs.setdefault(info["workload"], {}).setdefault(info["trace"], []).append(metrics)
    for wl, by_trace in sorted(runs.items()):
        plain, traced = by_trace.get(0, []), by_trace.get(1, [])
        if not plain or not traced:
            continue
        print(f"{wl}: {len(plain)} untraced, {len(traced)} traced runs")
        for m in e2e:
            a = statistics.median(r[m["name"]]["value"] for r in plain)
            b = statistics.median(r["traced." + m["name"]]["value"] for r in traced)
            worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
            print(f"  {m['name']:<24} {a:12.4g} {b:12.4g} {m['unit']:<6} overhead {100 * worse:+.1f}%")
        book = statistics.median(r["trace.bookkeeping_ms"]["value"] for r in traced)
        print(f"  {'trace.bookkeeping_ms':<24} {book:12.4g}")
    return 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:]))
