"""End-to-end dedup pipeline: docs → clusters, stage by stage.

The Spark re-expression of the reference's two entry points
(``/root/reference/duplicate_face.py:146-248``
``find_duplicate_faces_in_directory`` and
``face_recognition_custom.py:60-123`` main loop; orchestration
``run_program.sh:13-35``), as a sequence of DataFrame jobs:

    docs → docs_normalized → (exact dedup) → signatures → buckets
         → candidate pairs → verified dup_pairs → clusters

Each stage can commit to a :class:`StageCatalog` checkpoint table and
a re-run resumes from the last committed stage (north_rule: a 10^12
document run restarts mid-stage without recomputation) — the scalable
version of the reference's cross-batch carried state
(``duplicate_face.py:186-189``).

Scale notes (what makes this survive 100 TB):

- exact-dup collapse first: only distinct texts are MinHashed.
- the html/text fat columns never enter the LSH shuffles — signatures
  carry only hashes.
- the candidate-pair path is linear in oversized buckets (lsh.py).
- verification is native codegen expressions, Python appears only in
  the one Arrow-batched signature pass.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from face_duplicate_detection_spark.catalog import StageCatalog
from face_duplicate_detection_spark.config import DedupConfig
from face_duplicate_detection_spark.functions.normalize import (
    matchable_docs,
    normalize_documents,
    normalize_pages,
)
from face_duplicate_detection_spark.operators.connected_components import (
    assign_clusters,
    connected_components,
)
from face_duplicate_detection_spark.operators.exact_dedup import exact_base
from face_duplicate_detection_spark.operators.lsh import (
    candidate_pairs,
    explode_buckets,
)
from face_duplicate_detection_spark.operators.signatures import compute_signatures
from face_duplicate_detection_spark.operators.verify import verify_pairs
from face_duplicate_detection_spark.session import local_ckpt


@dataclass
class PipelineResult:
    """Pipeline outputs.  ``clusters`` / ``dup_assignments`` are LAZY
    (round 6): the connected-components loop is an eager multi-job
    stage, and half the query surface (``minhash_dup_pairs``, the skew
    bench row, ``duplicate_report``) consumes only ``dup_pairs`` —
    building CC for them was 1.4-3.8 s of pure waste per call
    (measured sf0.1 / skew-corpus stage walls).  First attribute
    access builds (and caches) the stage; consumers that do use
    clusters pay exactly what they paid before."""

    docs_normalized: DataFrame
    signatures: DataFrame
    dup_pairs: DataFrame       # verified similarity edges (a, b, jaccard, method)
    _clusters_fn: "object"     # () -> DataFrame, memoized below

    @property
    def clusters(self) -> DataFrame:  # doc_id, ..., cluster_id, is_canonical
        if not hasattr(self, "_clusters_df"):
            object.__setattr__(self, "_clusters_df", self._clusters_fn())
        return self._clusters_df

    @property
    def dup_assignments(self) -> DataFrame:
        """(canonical, duplicate) rows — reference output form."""
        return self.clusters.filter(
            (~F.col("is_canonical")) & (F.col("status") == "ok")
        ).select(
            F.col("cluster_id").alias("canonical"),
            F.col("doc_id").alias("duplicate"),
        )


def run_pipeline(
    docs: DataFrame,
    cfg: DedupConfig = DedupConfig(),
    *,
    input_kind: str = "documents",   # "documents" | "pages" | "normalized"
    catalog: StageCatalog | None = None,
    spark: SparkSession | None = None,
    timings: dict | None = None,     # stage -> seconds (materialize incl.)
) -> PipelineResult:
    """Run (or resume) the full dedup pipeline.

    With a catalog, every stage table is committed and a committed
    stage is *read back, not recomputed* on the next call.  A stage
    committed under a different config raises ``ValueError`` instead
    of silently serving results for the old thresholds.
    """
    spark = spark or docs.sparkSession

    # stages consumed by more than one downstream action; without a
    # catalog they are cached AND materialized eagerly.  Eager
    # materialization matters: letting the final action compute the
    # whole DAG lazily makes Spark run many 32-task stages
    # concurrently (racing each other for cores and re-computing the
    # not-yet-cached signature partitions) — measured ~3× slower than
    # stage-sequential execution on this workload.
    _HOT = {"signatures", "dup_pairs", "exact_base", "candidate_pairs"}
    config = repr(cfg)

    def stage(name: str, build):
        import time as _time

        t0 = _time.time()
        if catalog is None:
            df = build()
            if name in _HOT:
                # localCheckpoint, not cache(): same eager stage-
                # sequential materialization, but lineage is truncated
                # (no giant recompute DAG carried forward) and the
                # stored partitions don't occupy the unified memory
                # pool that execution shuffles compete for.  Measured
                # at 800k docs: e2e wall 155.9 → ~107 s at local[8]
                # (the per-stage sum), and the 2→8-core scaling
                # efficiency of the whole pipeline rises to the
                # stage-level ~0.8.
                df = local_ckpt(df)
            if timings is not None:
                timings[name] = round(_time.time() - t0, 2)
            return df
        if catalog.is_committed(name):
            committed = catalog.read_manifest(name).get("config")
            if committed != config:
                raise ValueError(
                    f"stage {name!r} in {catalog.root} was committed under "
                    f"{committed} but this run uses {config}; invalidate "
                    "the catalog's stages or resume with the same config"
                )
            return catalog.read(spark, name)
        df = build()
        catalog.write(name, df, {"config": config})
        if timings is not None:
            timings[name] = round(_time.time() - t0, 2)
        return catalog.read(spark, name)

    if input_kind == "pages":
        docs_normalized = stage("docs_normalized", lambda: normalize_pages(docs, cfg))
    elif input_kind == "documents":
        docs_normalized = stage(
            "docs_normalized", lambda: normalize_documents(docs, cfg)
        )
    else:
        docs_normalized = docs

    matchable = matchable_docs(docs_normalized)

    # exact-copy collapse (only distinct texts get signatures).  One
    # checkpointed window pass feeds BOTH the edge set and the
    # representative rows, so the fat text column crosses one
    # exchange, and the signature stage reads representatives from
    # stored blocks instead of re-running normalize + window from the
    # source.
    base = stage("exact_base", lambda: exact_base(matchable))
    exact_edges = base.filter(F.col("doc_id") != F.col("rep")).select(
        F.col("rep").alias("a"), F.col("doc_id").alias("b")
    )
    reps = base.filter(F.col("_rn") == 1).select("doc_id", "text")

    signatures = stage("signatures", lambda: compute_signatures(reps, cfg))

    cand = stage(
        "candidate_pairs",
        lambda: candidate_pairs(explode_buckets(signatures), cfg),
    )

    def build_dup_pairs():
        # bounded-state mode recomputes candidate shingles from the
        # representative texts (cfg.store_shingles=False)
        verified = verify_pairs(cand, signatures, cfg, docs=reps)
        # exact-text copies are collapsed before signatures (scale fast
        # path), so surface their edges here as jaccard-1.0 dup pairs —
        # the reference emits these as ordinary matches (distance 0,
        # duplicate_face.py:66-67)
        exact_as_pairs = exact_edges.select(
            "a",
            "b",
            F.lit(1.0).alias("jaccard"),
            F.lit(0).alias("hamming"),
            F.lit("exact").alias("method"),
        )
        return verified.unionByName(exact_as_pairs)

    dup_pairs = stage("dup_pairs", build_dup_pairs)

    def build_clusters():
        # dup_pairs already holds the exact edges as method='exact' rows
        labels = connected_components(dup_pairs.select("a", "b"))
        return assign_clusters(
            docs_normalized.select("doc_id", "status"), labels
        )

    def clusters_stage():
        return stage("clusters", build_clusters)

    # per-partition lineage rows (north_rule: every stage writes
    # per-partition lineage + metrics) — committed alongside the
    # stage tables when a catalog is attached
    if catalog is not None and not catalog.is_committed("lineage"):
        from face_duplicate_detection_spark.metrics import lineage_rows

        lineage = lineage_rows(docs_normalized, "docs_normalized").unionByName(
            lineage_rows(signatures.select("doc_id"), "signatures")
        ).unionByName(lineage_rows(dup_pairs.select("a"), "dup_pairs"))
        catalog.write("lineage", lineage)

    return PipelineResult(
        docs_normalized=docs_normalized,
        signatures=signatures,
        dup_pairs=dup_pairs,
        _clusters_fn=clusters_stage,
    )
