"""The corpus release pass: ``corpus.CorpusPipeline`` plus pagerank.

One pass re-reads the seeded near-duplicate corpus, builds a fresh
``CorpusPipeline`` and runs components, survivors and shards, then
``operators.related.pagerank`` over the seeded pairs graph. The document
families carry planted edit chains, so connected components needs
several rounds. These are the iterative, job-bound lanes (about 110
Spark jobs a pass, whatever the corpus size).

A pass costs about half a minute on a fresh plan cache; a workload of
its own (session, warm-up pass, timed passes) does not fit the time
budget of a full benchmark set next to the other two, so it runs as a
phase of the ``archive`` workload's traced run, once and after the timed
streams. Its figures are per-layer only and include each plan's first
compilation; no end-to-end metric depends on it.
"""

from __future__ import annotations

import os

import gen
from harness import between_ops, persistent_rdds

N_DOCS = 2000
N_NODES = 2000
N_EDGES = 8000
PAGERANK_ROUNDS = 8
SCALE = 10**9
N_SHARDS = 8


class CorpusPass:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.dir = os.path.join(ctx.gen_dir, "curate")

    def generate(self) -> dict:
        self.inp = gen.curate_inputs(self.ctx.seed, self.dir, N_DOCS, N_NODES, N_EDGES)
        return {"documents": len(self.inp["docs"]), "nodes": N_NODES, "edges": len(self.inp["pairs"])}

    def run(self) -> None:
        from epicsarchiver_spark.corpus import CorpusPipeline
        from epicsarchiver_spark.operators.related import pagerank

        spark, tr = self.ctx.spark, self.ctx.tracer
        with tr.span("corpus.pass"):
            cp = CorpusPipeline(spark, spark.read.parquet(os.path.join(self.dir, "docs.parquet")))
            with tr.span("corpus.components"):
                self.components = cp.components().collect()
            with tr.span("corpus.survivors"):
                cp.survivors().write.format("noop").mode("overwrite").save()
            with tr.span("corpus.shards"):
                self.shards = cp.shards(N_SHARDS).collect()
            pairs = spark.read.parquet(os.path.join(self.dir, "pairs.parquet"))
            with tr.span("pagerank"):
                self.ranks = pagerank(pairs, rounds=PAGERANK_ROUNDS, scale=SCALE).collect()
        self.pipeline = cp
        between_ops(spark)
        self.leaked = persistent_rdds(spark)

    def check(self) -> dict[str, bool]:
        pairs = [(r.id_a, r.id_b) for r in self.pipeline.near_dup_pairs().select("id_a", "id_b").collect()]
        got = {(r.id, r.component) for r in self.components}
        res = {"components": got == union_find(pairs) and len(pairs) > 0}
        res["shards"] = sum(r.n_docs for r in self.shards) == len(self.inp["docs"])
        want = pagerank_reference(self.inp["pairs"], PAGERANK_ROUNDS, SCALE)
        res["pagerank"] = {(r.pvname, r.rank_units) for r in self.ranks} == set(want.items())
        return res

    def per_layer(self) -> dict:
        tr = self.ctx.tracer

        def one(name):
            (sp,) = tr.named(name)
            return sp

        return {
            "corpus.components_s": one("corpus.components").ms / 1000.0,
            "corpus.components_jobs": one("corpus.components").jobs,
            "corpus.survivors_s": one("corpus.survivors").ms / 1000.0,
            "corpus.survivors_jobs": one("corpus.survivors").jobs,
            "corpus.shards_s": one("corpus.shards").ms / 1000.0,
            "corpus.shards_jobs": one("corpus.shards").jobs,
            "corpus.leaked_rdds": self.leaked,
            "pagerank.s": one("pagerank").ms / 1000.0,
            "pagerank.jobs": one("pagerank").jobs,
        }


def union_find(pairs) -> set[tuple[int, int]]:
    """(id, min id of its component) for every id in ``pairs``."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {(x, find(x)) for x in list(parent)}


def pagerank_reference(pairs, rounds: int, scale: int) -> dict[str, int]:
    """The integer recurrence of ``operators.related.pagerank`` in Python:
    canonical edges (max score per unordered pair), weights in integer
    cents, ``r_{k+1}(v) = 15*scale//100 + 85*sum_u(r_k(u)*w(u,v)//W(u))//100``."""
    best: dict = {}
    for a, b, s in pairs[["pv1", "pv2", "score"]].itertuples(index=False):
        key = (min(a, b), max(a, b))
        best[key] = max(best.get(key, s), s)
    adj: dict = {}
    for (a, b), s in best.items():
        w = int(round(s * 100))  # scores are whole numbers: no half-way ties
        if w > 0:
            adj.setdefault(a, []).append((b, w))
            adj.setdefault(b, []).append((a, w))
    wt = {u: sum(w for _v, w in nb) for u, nb in adj.items()}
    r = {u: scale for u in adj}
    base = 15 * scale // 100
    for _ in range(rounds):
        c = dict.fromkeys(adj, 0)
        for u, nb in adj.items():
            for v, w in nb:
                c[v] += r[u] * w // wt[u]
        r = {v: base + 85 * c[v] // 100 for v in adj}
    return r
