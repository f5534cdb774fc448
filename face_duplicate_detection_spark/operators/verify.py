"""Verification join: candidate pairs → verified duplicate pairs.

The reference's match predicate is Euclidean distance ≤ 0.32 on the
128-d embedding (``/root/reference/duplicate_face.py:66-67``) or
cosine sim > 0.65 (``face_recognition_custom.py:105-106``).  Our text
analogue verifies LSH candidates with **exact** shingle-set Jaccard —
entirely native column expressions (``array_intersect`` /
``array_union`` on the stored shingle arrays), whole-stage codegen,
zero Python — plus a SimHash Hamming distance computed with
``bit_count(a ^ b)`` (SURVEY.md §2.4 J2/J3, §2.8 SF4).

LSH only *proposes*; this join decides.  Precision therefore equals
the exact predicate's precision (1.0 vs the brute-force oracle) and
recall is governed solely by the banding S-curve.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from face_duplicate_detection_spark.config import DedupConfig


def verify_pairs(
    pairs: DataFrame,
    signatures: DataFrame,
    cfg: DedupConfig,
    docs: DataFrame | None = None,
) -> DataFrame:
    """pairs(a, b, n_bands, forced) ⋈ signatures → dup_pairs(a, b,
    jaccard, hamming, method).  `pairs` is :func:`lsh.candidate_pairs`
    output (or a filtered subset with the same columns).

    Only rows with jaccard ≥ cfg.jaccard_threshold survive.  The two
    signature joins shuffle just the candidate doc_ids' shingle arrays
    (semi-join reduction happens naturally: `pairs` is the small side
    after LSH).

    Bounded-state mode (``cfg.store_shingles=False``): `signatures`
    has no shingle arrays; pass `docs(doc_id, text)` and the exact
    shingle sets are recomputed for the candidate docs only — one
    semi-join-pruned Arrow pass over ~candidates, not corpus.
    """
    if cfg.min_band_collisions > 1:
        # free pre-filter: n_bands is a MinHash similarity estimate the
        # LSH stage already computed; see DedupConfig.min_band_collisions.
        # `forced` pairs (mega-bucket chain/bridge — proposed by one
        # band by construction, ADVICE r1) bypass the filter and are
        # decided by exact Jaccard alone.
        pairs = pairs.filter(
            (F.col("n_bands") >= cfg.min_band_collisions) | F.col("forced")
        )
    # shuffle-prune: only candidate docs' (fat) shingle arrays enter
    # the pair joins.  No broadcast hint — AQE converts the semi-join
    # to broadcast at runtime when the id set is small (always, at
    # test scale) but keeps a shuffle join if a 10^12-doc run yields a
    # candidate set too large to broadcast.
    cand_ids = (
        pairs.select(F.col("a").alias("doc_id"))
        .unionByName(pairs.select(F.col("b").alias("doc_id")))
        .distinct()
    )
    if "shingles" in signatures.columns:
        sig = signatures.join(cand_ids, "doc_id", "left_semi").select(
            "doc_id", "shingles", "simhash"
        )
    else:
        if docs is None:
            raise ValueError(
                "signatures table has no shingle arrays "
                "(cfg.store_shingles=False) — pass docs(doc_id, text) "
                "so candidate shingles can be recomputed"
            )
        from face_duplicate_detection_spark.operators.signatures import (
            compute_shingle_sets,
        )

        sh = compute_shingle_sets(
            docs.join(cand_ids, "doc_id", "left_semi"), cfg
        )
        sig = (
            signatures.join(cand_ids, "doc_id", "left_semi")
            .select("doc_id", "simhash")
            .join(sh, "doc_id")
        )
    ja = sig.select(
        F.col("doc_id").alias("a"),
        F.col("shingles").alias("sh_a"),
        F.col("simhash").alias("sim_a"),
    )
    jb = sig.select(
        F.col("doc_id").alias("b"),
        F.col("shingles").alias("sh_b"),
        F.col("simhash").alias("sim_b"),
    )
    joined = pairs.join(ja, "a").join(jb, "b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    jaccard = inter / F.greatest(union, F.lit(1))
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        joined.select(
            "a",
            "b",
            jaccard.alias("jaccard"),
            hamming.alias("hamming"),
        )
        .filter(F.col("jaccard") >= cfg.jaccard_threshold)
        .withColumn("method", F.lit("minhash"))
    )


def simhash_near_pairs(
    pairs: DataFrame, signatures: DataFrame, cfg: DedupConfig
) -> DataFrame:
    """Alternative predicate: SimHash Hamming ≤ h (cosine-ish family,
    the ``face_recognition_custom.py:105-106`` analogue)."""
    sig = signatures.select("doc_id", "simhash")
    joined = (
        pairs.join(sig.select(F.col("doc_id").alias("a"), F.col("simhash").alias("sim_a")), "a")
        .join(sig.select(F.col("doc_id").alias("b"), F.col("simhash").alias("sim_b")), "b")
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        joined.select("a", "b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= cfg.simhash_hamming_threshold)
        .withColumn("method", F.lit("simhash"))
    )
