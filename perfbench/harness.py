"""Process set-up, tracing and Spark-side counters shared by the workloads.

Everything the benchmark writes lives under one work directory inside
the checkout (Spark local dirs, JVM and Python temp files, the
warehouse); :func:`configure_env` points every writer there before the
JVM starts.

Tracing is measured from outside the program: a :class:`Tracer` span
wraps one call into a layer's public function, gives that call a unique
Spark job group, and on exit reads ``SparkContext.statusTracker()`` for
the jobs, tasks and failed tasks the call launched. Spans (name, start,
end, parent, request id, counts) are kept in memory and written once
when the run ends. With tracing off a span is a bare context manager
that records nothing, so untraced timings carry no bookkeeping.
"""

from __future__ import annotations

import contextlib
import gc
import json
import os
import shutil
import time
from dataclasses import dataclass


def configure_env(work: str, cpus: int) -> None:
    """Route every file Spark, the JVM and Python workers write into
    ``work`` and fix the core count before the session starts."""
    for sub in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell"
    )


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark and wait for the JVM it launched to exit (its Python
    workers are the JVM's children and stop with it)."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def reset_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def tree_bytes(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files


def between_ops(spark) -> None:
    """Isolation between ops, outside every timed region: drop cached
    frames and collect dead Python handles so their checkpoint RDDs are
    released (the same pair ``bench.py`` runs between queries)."""
    spark.catalog.clearCache()
    gc.collect()


def jvm_gc_ms(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(b.getCollectionTime() for b in beans))


def persistent_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


@dataclass
class Span:
    id: int
    name: str
    req: object
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0

    @property
    def ms(self) -> float:
        return 1000.0 * (self.end - self.start)


class Tracer:
    """Span recorder; a no-op unless ``enabled``."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.bookkeeping_s = 0.0
        self._stack: list[Span] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, req=None):
        if not self.enabled:
            yield None
            return
        b0 = time.perf_counter()
        sp = Span(
            id=len(self.spans),
            name=name,
            req=req,
            parent=self._stack[-1].id if self._stack else None,
            start=0.0,
        )
        self.spans.append(sp)
        self._stack.append(sp)
        sc = self.spark.sparkContext
        sc.setJobGroup(f"perfbench-{sp.id}", name, False)
        sp.start = time.perf_counter()
        self.bookkeeping_s += sp.start - b0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._count_group(sp, f"perfbench-{sp.id}")
            if self._stack:
                sc.setJobGroup(f"perfbench-{self._stack[-1].id}", self._stack[-1].name, False)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.bookkeeping_s += time.perf_counter() - sp.end

    def count_stream(self, sp: Span | None, query) -> None:
        """Add a streaming query's jobs to ``sp``: the stream thread runs
        its micro-batches under the query's run id as job group."""
        if sp is not None:
            b0 = time.perf_counter()
            self._count_group(sp, str(query.runId))
            self.bookkeeping_s += time.perf_counter() - b0

    def _count_group(self, sp: Span, group: str) -> None:
        st = self.spark.sparkContext.statusTracker()
        jobs = tasks = failed = 0
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is not None:
                    tasks += si.numCompletedTasks + si.numFailedTasks
                    failed += si.numFailedTasks
        # a span's counts include its descendants' (groups are per call)
        for s in [sp, *self._ancestors(sp)]:
            s.jobs += jobs
            s.tasks += tasks
            s.failed_tasks += failed

    def _ancestors(self, sp: Span):
        while sp.parent is not None:
            sp = self.spans[sp.parent]
            yield sp

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        rows = [
            {
                "id": s.id,
                "name": s.name,
                "req": s.req,
                "parent": s.parent,
                "start_s": s.start - self._t0,
                "end_s": s.end - self._t0,
                "jobs": s.jobs,
                "tasks": s.tasks,
                "failed_tasks": s.failed_tasks,
            }
            for s in self.spans
        ]
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(rows, fh)

