"""Signature stage: text → shingle set + MinHash + SimHash + band hashes.

This is the Spark re-expression of the reference's embedding step —
one native-library call per image producing a 128-d vector
(``/root/reference/duplicate_face.py:43-44``,
``face_recognition_custom.py:82-84``).  Here a single Arrow-batched
``mapInPandas`` pass produces *all* signature families per document
(SURVEY.md §2.3 F1-F3):

- ``shingles``  array<long>  — distinct k-char shingle hashes (kept for
  exact-Jaccard verification, the analogue of keeping the embedding)
- ``minhash``   array<long>  — 128-perm multiply-shift MinHash
- ``simhash``   long         — 64-bit majority-vote fingerprint
- ``bands``     array<long>  — per-band LSH hashes (precomputed here so
  the LSH stage is a pure posexplode, no second Python crossing)

The numpy kernels (functions/text_hashing.py) batch across documents;
there is no per-row Python in the Spark sense — one Python invocation
per Arrow batch.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from face_duplicate_detection_spark.config import DedupConfig
from face_duplicate_detection_spark.functions.text_hashing import (
    band_hashes,
    minhash_batch,
    minhash_params,
    normalize_text,
    shingle_hashes,
    simhash_batch,
)

# Value-domain version of the signature columns.  Bumped whenever the
# hash kernels change what a persisted signature MEANS (e.g. the r3
# 64-bit → uint32 MinHash switch): signatures written under a
# different format can never band-collide with newly computed ones, so
# resuming an old state catalog would silently disable cross-batch dup
# detection (ADVICE r3).  The incremental state stamps this into the
# state_signatures manifest and refuses a mismatched resume.
SIGNATURE_FORMAT = "shingle64-minhash-u32-simhash64-v2"

SIGNATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_shingles", T.IntegerType(), False),
        T.StructField("shingles", T.ArrayType(T.LongType()), False),
        T.StructField("minhash", T.ArrayType(T.LongType()), False),
        T.StructField("simhash", T.LongType(), False),
        T.StructField("bands", T.ArrayType(T.LongType()), False),
    ]
)

SHINGLE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("shingles", T.ArrayType(T.LongType()), False),
    ]
)


def compute_shingle_sets(docs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """docs(doc_id, text) → (doc_id, shingles) — the verify-time
    recompute path when ``cfg.store_shingles`` is False: callers
    semi-join `docs` down to candidate ids first, so this Arrow pass
    is linear in the candidate set, never the corpus."""
    k = cfg.shingle_k
    lowercase, fold = cfg.lowercase, cfg.fold_whitespace

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "shingles": [
                        shingle_hashes(
                            normalize_text(t, lowercase, fold), k
                        ).view(np.int64)
                        for t in pdf["text"]
                    ],
                }
            )

    return docs.select("doc_id", "text").mapInPandas(gen, schema=SHINGLE_SCHEMA)


def compute_signatures(docs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """docs(doc_id, text, ...) → signatures table.

    Input should already be status-filtered (normalize.matchable_docs);
    docs with zero shingles (defensive) still get sentinel signatures
    and empty band arrays, so they never produce candidates.

    The input is repartitioned to the cluster's parallelism before the
    pandas UDF: small inputs (one parquet file = one partition) would
    otherwise run the whole Python signature pass on a single core,
    and at 100 TB the rebalance also evens out file-size skew so every
    executor core gets signature work.
    """
    k = cfg.shingle_k
    num_perms = cfg.num_perms
    num_bands = cfg.num_bands
    seed = cfg.minhash_seed
    lowercase, fold = cfg.lowercase, cfg.fold_whitespace
    chunk = cfg.signature_batch_docs

    def sign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        a, b = minhash_params(num_perms, seed)
        for pdf in batches:
            for lo in range(0, len(pdf), chunk):
                part = pdf.iloc[lo : lo + chunk]
                sets = [
                    shingle_hashes(normalize_text(t, lowercase, fold), k)
                    for t in part["text"]
                ]
                sigs = minhash_batch(sets, a, b)                  # docs × perms
                sims = simhash_batch(sets)                        # docs
                bnds = band_hashes(sigs, num_bands)               # docs × bands
                n_sh = np.fromiter((s.size for s in sets), dtype=np.int32,
                                   count=len(sets))
                yield pd.DataFrame(
                    {
                        "doc_id": part["doc_id"].to_numpy(),
                        "n_shingles": n_sh,
                        "shingles": [s.view(np.int64) for s in sets],
                        "minhash": list(sigs),
                        "simhash": sims,
                        "bands": [
                            bnds[i] if n_sh[i] > 0 else np.empty(0, np.int64)
                            for i in range(len(sets))
                        ],
                    }
                )

    inp = docs.select("doc_id", "text")
    parallelism = inp.sparkSession.sparkContext.defaultParallelism
    if inp.rdd.getNumPartitions() < parallelism:
        inp = inp.repartition(parallelism)
    out = inp.mapInPandas(sign, schema=SIGNATURE_SCHEMA)
    if not cfg.store_shingles:
        # bounded-state mode: the checkpointable table carries only
        # O(docs·perms) columns; verify recomputes candidate shingles
        out = out.drop("shingles")
    return out
