"""Cache hygiene: operators that persist internal frames must release
them before returning (VERDICT r9 task 4). Each op eager-checkpoints its
small result and unpersists its internal frame — so repeated calls in a
long-lived session (SearchPipeline, the alerts daemon loop) leave at most
the checkpoint RDD per live result, never an accumulating pile of token
projections / edge frames.

The assertion: run each operator three times holding the results alive;
the persistent-RDD count may grow by ≤1 per call (the localCheckpoint
artifact, freed when the result is GC'd) but NOT by 2 per call — the
internal persist must be gone (RDD.unpersist removes the entry from the
context's persistentRdds map synchronously even with blocking=False).
"""

from __future__ import annotations


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _assert_releases(spark, make_df, n_calls: int = 3):
    before = _n_persistent(spark)
    alive = []
    for _ in range(n_calls):
        df = make_df()
        df.collect()
        alive.append(df)
    grown = _n_persistent(spark) - before
    assert grown <= n_calls, (
        f"internal persist leaked: +{grown} persistent RDDs after "
        f"{n_calls} calls (≤{n_calls} checkpoint artifacts allowed)"
    )
    return alive


def test_qld_topk_releases_token_projection(spark):
    from epicsarchiver_spark.operators.text_ops import qld_topk

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc{i}") for i in range(20)],
        "doc_id long, text string",
    )
    _assert_releases(spark, lambda: qld_topk(docs, ["alpha", "doc3"], k=5))


def test_related_terms_releases_token_projection(spark):
    from epicsarchiver_spark.operators.text_ops import related_terms

    docs = spark.createDataFrame(
        [(i, "spark shuffle spark shuffle join") for i in range(10)],
        "doc_id long, text string",
    )
    _assert_releases(
        spark, lambda: related_terms(docs, "spark", window=1, k=5, min_count=2)
    )


def test_triangle_stats_releases_edge_frame(spark):
    from epicsarchiver_spark.operators.dedup import triangle_stats

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (3, 5)],
        "id_a long, id_b long",
    )
    _assert_releases(spark, lambda: triangle_stats(pairs))
    # the fenced path re-derives the residual graph off the SAME persisted
    # frame — it must release too
    _assert_releases(spark, lambda: triangle_stats(pairs, max_degree=10))


def test_embedding_verdicts_releases_assignment(spark):
    """The r12 drift fix persists the shared cell-assignment frame — it
    must be released on return (the cell_quality discipline), leaving
    only the id-sized localCheckpoint artifact per live result."""
    import numpy as np

    from epicsarchiver_spark.operators.similarity import embedding_verdicts

    rng = np.random.default_rng(3)
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=8)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    _assert_releases(
        spark,
        lambda: embedding_verdicts(
            vecs, threshold=0.4, drop_frac=0.2, n_cells=4, dim=8
        ),
    )


def test_hybrid_rrf3_releases_shared_match_base(spark):
    """The three-lane hybrid gate persists one query_match_base frame for
    its two keyword lanes; once the query's rows are out, no persisted
    RDD is left beyond the localCheckpoint artifacts that hold the
    result (the shared base is released)."""
    import __spark_entry__ as entry
    from tests.conftest import SF_SMOKE

    def persisted() -> dict:
        m = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k): m.get(k) for k in m.keySet().toArray()}

    before = set(persisted())
    df = entry.queries()["doc_hybrid_rrf3"](spark, SF_SMOKE)
    assert df.count() > 0
    left = {k: v for k, v in persisted().items() if k not in before}
    assert all(v.rdd().isCheckpointed() for v in left.values()), sorted(left)
