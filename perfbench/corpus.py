"""Seeded input generators and the ground truth the output checks use.

Every generator is a pure function of its parameters and the seed, so
the same seed gives the same parquet.  The engine only ever sees the
written parquet; the texts and planted pairs stay on the benchmark side
for the checks.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from face_duplicate_detection_spark.functions.text_hashing import (
    normalize_text,
    shingle_hashes,
)
from face_duplicate_detection_spark.sources.pages import page_for_doc_id


def exact_jaccard(text_a: str, text_b: str, k: int) -> float:
    """Shingle-set Jaccard from the pure kernels, as the engine computes
    it: |A ∩ B| / max(|A ∪ B|, 1) over normalized k-char shingles."""
    a = shingle_hashes(normalize_text(text_a), k)
    b = shingle_hashes(normalize_text(text_b), k)
    inter = np.intersect1d(a, b, assume_unique=True).size
    return inter / max(a.size + b.size - inter, 1)


def planted_texts(n_docs: int, seed: int) -> dict[int, str]:
    """The realistic planted class mix of ``sources/pages.py``."""
    return {i: page_for_doc_id(i, seed)["text"] for i in range(n_docs)}


def planted_pairs(texts: dict[int, str], k: int, threshold: float) -> list[tuple[int, int]]:
    """Planted duplicate relations that really are duplicates.

    Per decade d: the exact copy (d, d+6), the near copy (d, d+7) and
    the chain link (d+7, d+5).  The ladder plants some near copies
    below the threshold on purpose, so a relation counts only when its
    exact Jaccard reaches ``threshold``.
    """
    out = []
    for d in range(0, len(texts) - 9, 10):
        for a, b in ((d, d + 6), (d, d + 7), (d + 7, d + 5)):
            if exact_jaccard(texts[a], texts[b], k) >= threshold:
                out.append((a, b))
    return out


def skew_texts(groups: int, group_docs: int, fillers: int, seed: int) -> dict[int, str]:
    """Boilerplate skew after bench.py's ``_skew_corpus``: each group is
    one 40-token body plus ``" v<doc_id>"``, so its texts are distinct
    (exact dedup keeps them all) yet near-identical (every band bucket
    holds the whole group).  Fillers are unique one-liners."""
    rng = np.random.default_rng(seed)
    texts = {}
    for g in range(groups):
        body = " ".join(f"g{g}w{w}" for w in rng.integers(0, 10**6, size=40))
        for i in range(group_docs):
            doc_id = g * group_docs + i
            texts[doc_id] = f"{body} v{doc_id}"
    nums = rng.integers(0, 10**9, size=(fillers, 5))
    for j in range(fillers):
        a, b, c, d, e = nums[j]
        texts[1_000_000 + j] = (
            f"filler {j} document {a} about {b} subject {c} content {d} tokens {e} end"
        )
    return texts


def skew_pairs(groups: int, group_docs: int) -> list[tuple[int, int]]:
    """Star pairs (first member, member): all true iff each group is
    one cluster."""
    return [
        (g * group_docs, g * group_docs + i)
        for g in range(groups)
        for i in range(1, group_docs)
    ]


def write_parquet(texts: dict[int, str], path: str) -> None:
    ids = list(texts)
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array([texts[i] for i in ids], pa.string()),
        }
    )
    pq.write_table(table, path)
