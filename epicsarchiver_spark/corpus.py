"""Training-corpus facade: the LLM-data-pipeline surface as one object,
the way ``api.PVArchEngine`` wraps the archiver surface. Each method
delegates to a certified operator (operators/text_ops.py, dedup.py,
curation.py) and returns a DataFrame; the object carries only the
handles (docs frame, id/text column names, artifact paths) — no state
beyond what a deployment would keep anyway.

Intended call pattern (the RefinedWeb/FineWeb release loop):

    cp = CorpusPipeline(spark, docs)
    cp.build_artifacts("s3://corpus/release-42/artifacts")   # once
    cp.verdicts().write...                                   # audit view
    cp.survivors().write...                                  # training set
    cp.shards(n_shards=1024).write...                        # layout
    assert cp.leakage().count() == 0                         # gate
    cp.report().show(); cp.mixture().show()                  # dashboards
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from epicsarchiver_spark.operators import curation, dedup, text_ops
from epicsarchiver_spark.sources import fsio


class CorpusPipeline:
    """Curation surface over a documents frame.

    Parameters
    ----------
    spark : SparkSession
    docs : DataFrame
        ``(doc_id, text, lang, source, n_chars, ...)`` — the driver
        documents schema; ``lang``/``n_chars`` feed the blocked-join
        defaults.
    artifacts : optional path of a ``build_artifacts`` output dir —
        when set, pair/shard methods read the persisted bases instead
        of rebuilding them (the steady-state shape).
    """

    def __init__(
        self,
        spark: SparkSession,
        docs: DataFrame,
        id_col: str = "doc_id",
        text: str = "text",
        artifacts: str | None = None,
        shingle_k: int = 2,
        jaccard_threshold: float = 0.05,
    ) -> None:
        self.spark = spark
        self.docs = docs
        self.id_col = id_col
        self.text = text
        self.artifacts = artifacts.rstrip("/") if artifacts else None
        self.shingle_k = shingle_k
        self.jaccard_threshold = jaccard_threshold

    # --- pair / component bases -------------------------------------
    def near_dup_pairs(self, lane: str = "jaccard", **kw) -> DataFrame:
        """Candidate near-dup pairs: exact blocked Jaccard (certified
        default, gate scale) or banded MinHash (the 100 TB lane). With
        ``artifacts`` set, the minhash lane reads the persisted
        signature table — text never re-shingles."""
        if lane == "minhash":
            sig = None
            if self.artifacts:
                sig = self.spark.read.parquet(f"{self.artifacts}/minhash_sig")
            return dedup.minhash_near_duplicates(
                None if sig is not None else self.docs,
                threshold=self.jaccard_threshold,
                text=self.text,
                id_col=self.id_col,
                shingle_k=self.shingle_k,
                signatures=sig,
                **kw,
            )
        if lane == "jaccard":
            return dedup.jaccard_pairs_blocked(
                self.docs,
                text=self.text,
                id_col=self.id_col,
                shingle_k=self.shingle_k,
                threshold=self.jaccard_threshold,
                **kw,
            )
        raise ValueError(f"lane must be 'jaccard' or 'minhash': {lane!r}")

    def components(self, lane: str = "jaccard") -> DataFrame:
        """Resolved duplicate groups ``(id, component)`` — read back from
        the artifact when available, else built from ``near_dup_pairs``."""
        if self.artifacts:
            return self.spark.read.parquet(f"{self.artifacts}/components")
        return dedup.connected_components_star(self.near_dup_pairs(lane))

    def build_artifacts(self, out: str, lane: str = "jaccard") -> str:
        """Write the per-release bases (components, winnowing
        fingerprints, MinHash signatures, the bigram LM) and point this pipeline at
        them. The expensive step runs once; every later method is a
        read-back (mirrors ``pvarch build_dedup_artifacts``)."""
        out = out.rstrip("/")
        curation.write_components(
            dedup.connected_components_star(self.near_dup_pairs(lane)),
            f"{out}/components",
        )
        dedup.winnow_fingerprints(
            self.docs, text=self.text, id_col=self.id_col
        ).write.mode("overwrite").parquet(f"{out}/winnow_fp")
        dedup.minhash_signatures(
            self.docs, text=self.text, id_col=self.id_col, shingle_k=self.shingle_k
        ).write.mode("overwrite").parquet(f"{out}/minhash_sig")
        text_ops.write_bigram_lm(self.docs, f"{out}/bigram_lm", text=self.text)
        self.artifacts = out
        return out

    # --- curation chain ----------------------------------------------
    def verdicts(self, near_dup: str = "jaccard", **kw) -> DataFrame:
        """First-failing-stage verdict per document (the audit view)."""
        return curation.pipeline_verdicts(
            self.docs,
            jaccard_threshold=self.jaccard_threshold,
            shingle_k=self.shingle_k,
            text=self.text,
            id_col=self.id_col,
            near_dup=near_dup,
            **kw,
        )

    def funnel(self, near_dup: str = "jaccard") -> DataFrame:
        return curation.pipeline_funnel(self.verdicts(near_dup))

    def survivors(self, near_dup: str = "jaccard") -> DataFrame:
        """The training set: every input column, kept docs only."""
        kept = self.verdicts(near_dup).filter(F.col("kept")).select(self.id_col)
        return self.docs.join(kept, self.id_col)

    def shards(self, n_shards: int = 8) -> DataFrame:
        """Dedup-aware shard layout over the component base."""
        comps = (
            f"{self.artifacts}/components" if self.artifacts else self.components()
        )
        return curation.shard_by_component(
            self.docs, comps, n_shards=n_shards, id_col=self.id_col
        )

    def soft_dedup(self, max_per_group: int = 2) -> DataFrame:
        """Cap-m dedup verdicts over the component base: keep up to
        ``max_per_group`` members of each duplicate cluster
        (distribution-preserving; m=1 = hard dedup's keep-min-id)."""
        comps = (
            f"{self.artifacts}/components" if self.artifacts else self.components()
        )
        return curation.soft_dedup(
            self.docs, comps, max_per_group=max_per_group, id_col=self.id_col
        )

    def leakage(
        self,
        pairs: DataFrame | None = None,
        assignment: DataFrame | None = None,
        of_splits: bool = False,
        **split_kw,
    ) -> DataFrame:
        """Cross-split near-dup leakage audit (empty = release-ready).

        By default audits the plain id-hash assignment. Pass
        ``assignment=`` (any ``(doc_id, split)`` frame) to audit an
        explicit assignment, or ``of_splits=True`` to audit THIS
        pipeline's ``splits()`` output — the component-rooted
        assignment the release actually ships, so the documented gate
        ``assert cp.leakage(of_splits=True).count() == 0`` checks the
        shipped splits rather than a parallel hash (ADVICE r7)."""
        if of_splits and assignment is None:
            # split_kw is validated HERE (a typo'd kwarg raises in
            # component_splits) and consumed — split_leakage ignores
            # its splits= when an assignment is given
            assignment = self.splits(**split_kw).select(self.id_col, "split")
            split_kw = {}
        elif assignment is not None and split_kw:
            # explicit assignment: split kwargs are meaningless — raise
            # rather than silently accepting a typo (review r8)
            raise TypeError(
                f"leakage(assignment=...) does not take {sorted(split_kw)}"
            )
        return curation.split_leakage(
            self.docs,
            pairs if pairs is not None else self.near_dup_pairs(),
            id_col=self.id_col,
            assignment=assignment,
            **split_kw,
        )

    # --- dashboards ----------------------------------------------------
    def graph(self, lane: str = "jaccard") -> DataFrame:
        """Dup-graph shape dashboard (``dedup.graph_profile``): degree
        and component-size distributions of the near-dup pair graph —
        the release-over-release monitor for duplicate-cluster growth
        and the measurement behind the CC-lane choice (SCALE.md). With
        ``artifacts`` set, component sizes come from the persisted CC
        labels (no iteration) and the minhash lane reads the persisted
        signatures for the degree side."""
        comps = (
            self.spark.read.parquet(f"{self.artifacts}/components")
            if self.artifacts
            else None
        )
        return dedup.graph_profile(self.near_dup_pairs(lane), components=comps)

    def report(self) -> DataFrame:
        return text_ops.corpus_report(self.docs, text=self.text)

    def diff(self, new_docs: DataFrame) -> DataFrame:
        return curation.corpus_diff(self.docs, new_docs)

    def mixture(self, target_weights: dict[str, float] | None = None) -> DataFrame:
        return text_ops.mixture_plan(
            self.docs, target_weights=target_weights, text=self.text
        )

    def budget(self, token_budget: int) -> DataFrame:
        return text_ops.budget_selection(
            self.docs, token_budget, text=self.text, id_col=self.id_col
        )

    def perplexity_tiers(self, n_buckets: int = 3) -> DataFrame:
        """CCNet tiers — scored against the persisted LM artifact when
        available (the reference-corpus cadence), self-trained else."""
        model = None
        if self.artifacts:
            lm = f"{self.artifacts}/bigram_lm"
            # artifact dirs written before the LM lane existed lack the
            # bigram_lm tables — self-train rather than crash
            if fsio.exists(self.spark, f"{lm}/unigrams"):
                model = lm
        return text_ops.perplexity_buckets(
            self.docs, n_buckets=n_buckets, text=self.text, id_col=self.id_col,
            model=model,
        )

    def splits(self, **split_kw) -> DataFrame:
        """Leakage-free train/val/test assignment ``(doc_id, root,
        split)``: the split hash keys on the near-dup group root (the
        component base — artifact read-back when available), so the
        ``leakage()`` audit over the same pair lane is empty by
        construction."""
        comps = (
            f"{self.artifacts}/components" if self.artifacts else self.components()
        )
        return curation.component_splits(
            self.docs, comps, id_col=self.id_col, **split_kw
        )

    def packing(
        self, seq_tokens: int = 2048, chunk_tokens: int = 512, overlap: int = 0
    ) -> DataFrame:
        """Training-batch layout: chunk the corpus, then pack the chunks
        into fixed-width sequences over the deterministically shuffled
        token stream (``chunk_documents`` → ``pack_sequences``)."""
        chunks = text_ops.chunk_documents(
            self.docs, chunk_tokens=chunk_tokens, overlap=overlap,
            text=self.text, id_col=self.id_col,
        )
        return text_ops.pack_sequences(
            chunks, seq_tokens=seq_tokens, id_col=self.id_col
        )
