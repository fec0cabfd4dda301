#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {archive,viewer} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. The workload's inputs are generated from
the seed (outside every timed region), the program's public entry points
are driven on ``local[nproc]`` by one client, every output is checked,
and the last stdout line is one JSON object::

    {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` makes the traced run and reports its per-layer metrics.
A line before it records the run's configuration (cores, seed, input
sizes, every check). Scratch files go to ``.perfbench_work/`` and a copy
of the result plus the trace spans to ``.perfbench_out/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from types import SimpleNamespace  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402


def workloads():
    """Workload classes by name. Each one is built on the run context and
    provides: ``generate() -> sizes``; ``set_up()``, the program's own
    set-up calls and the warm-up; ``measure()``; ``check() -> {name: ok}``;
    ``end_to_end()``, ``per_layer()`` and ``info()`` dicts; and the
    ``attempted`` op count. Every failed check counts as a failed op."""
    from wl_archive import Archive
    from wl_viewer import Viewer

    return {w.name: w for w in (Archive, Viewer)}


def load_spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    spec = load_spec(root)
    kinds = workloads()
    if args.workload not in kinds:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(kinds)}")
    sys.path.insert(0, root)
    if importlib.util.find_spec("epicsarchiver_spark") is None:
        print("perfbench: epicsarchiver_spark is not importable from " + root, file=sys.stderr)
        return 2

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    work = harness.reset_dir(os.path.join(root, ".perfbench_work", args.workload))
    harness.configure_env(work, cpus)
    ctx = SimpleNamespace(
        seed=args.seed, seconds=args.seconds, work=work,
        gen_dir=os.path.join(work, "gen"), trace=bool(args.trace),
    )
    wl = kinds[args.workload](ctx)

    t = time.perf_counter()
    sizes = wl.generate()
    gen_s = time.perf_counter() - t

    from epicsarchiver_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    ctx.spark = spark
    ctx.tracer = tr = harness.Tracer(spark, ctx.trace)
    try:
        t = time.perf_counter()
        wl.set_up()
        set_up_s = time.perf_counter() - t
        harness.between_ops(spark)
        gc0 = harness.jvm_gc_ms(spark)
        # set-up: process start to the first timed op, less input generation
        setup_s = time.perf_counter() - T_PROCESS - gen_s
        wl.measure()
        gc_ms = harness.jvm_gc_ms(spark) - gc0
        checks = wl.check()
        e2e = {"setup_s": setup_s, **wl.end_to_end()}
        layers = wl.per_layer() if ctx.trace else {}
    finally:
        if ctx.trace:
            tr.dump(os.path.join(root, ".perfbench_out", f"spans-{args.workload}-{args.seed}.json"))
        harness.stop_session(spark)

    failed = sum(1 for ok in checks.values() if not ok)
    attempted = max(wl.attempted, failed, 1)
    if ctx.trace:
        roots = [s for s in tr.spans if s.parent is None]
        layers.update({
            "session.start_s": session_s,
            "jvm.gc_ms": gc_ms,
            "spark.failed_tasks": sum(s.failed_tasks for s in roots),
            "trace.bookkeeping_ms": 1000.0 * tr.bookkeeping_s,
            **{f"traced.{k}": v for k, v in e2e.items()},
        })
        wanted = spec["per_layer"]
        values = layers
    else:
        wanted = spec["end_to_end"]
        values = e2e
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    info = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "inputs": sizes,
        "generate_s": gen_s, "session_s": session_s, "set_up_s": set_up_s,
        "checks": checks, "e2e": e2e, **wl.info(),
    }
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    os.makedirs(os.path.join(root, ".perfbench_out"), exist_ok=True)
    with open(os.path.join(root, ".perfbench_out",
                           f"result-{args.workload}-{args.seed}-{args.trace}.json"), "w") as fh:
        json.dump({"info": info, "result": result}, fh, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"info": info}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except BaseException:
        traceback.print_exc()
        sys.exit(1)
