"""LSH banding: signatures → buckets → candidate pairs.

This operator replaces the reference's O(n·u) nested-loop similarity
scan — every new item compared against *all* known representatives
(``/root/reference/duplicate_face.py:64-75``,
``face_recognition_custom.py:103-111``) — with an equi-join: documents
sharing any MinHash band hash land in the same bucket, and only
bucket-mates become candidate pairs (SURVEY.md §2.4 J1).

Skew (north_rule "salted-key skew mitigation"): web text is
boilerplate-heavy, so some band buckets collect a huge share of the
corpus.  Two regimes, split by bucket size:

- **small buckets** (size ≤ cap): all-pairs within bucket via native
  higher-order functions over a ``collect_list`` — no Python, bounded
  at cap·(cap-1)/2 pairs.
- **oversized buckets**: *chain pairing* — members are row-numbered by
  doc_id inside the bucket and each doc is paired with its next
  ``chain_window`` neighbors, generated linearly via an
  ``explode(sequence(...))`` + equi-join on (bucket, rn).  This keeps
  the bucket connected (so connected components still merges the whole
  near-dup group) at O(m·W) pairs instead of O(m²), with no
  ``collect_list`` that could blow executor memory at 10^12 docs.

AQE skew-join handling covers residual imbalance; the explicit split
is the structural fix (AQE can rebalance partitions, not a quadratic
pair blow-up).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from face_duplicate_detection_spark.config import DedupConfig


def explode_buckets(signatures: DataFrame) -> DataFrame:
    """signatures → buckets(band, band_hash, doc_id)."""
    return signatures.select(
        "doc_id", F.posexplode("bands").alias("band", "band_hash")
    )


def explode_simhash_blocks(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Exact Hamming-LSH buckets: the 64-bit SimHash split into
    ``hamming_threshold + 1`` contiguous bit blocks →
    buckets(band, band_hash, doc_id), same shape as MinHash banding so
    :func:`candidate_pairs` (census, caps, mega-bucket salting) is
    reused unchanged.

    Pigeonhole guarantee: two fingerprints within Hamming distance h
    differ in at most h of the h+1 blocks, so they agree EXACTLY on at
    least one block — candidate recall is 1.0 by construction, unlike
    probabilistic MinHash banding.  This is the block-permuted
    candidate scheme of Manku, Jain & Das Sarma, "Detecting
    Near-Duplicates for Web Crawling" (WWW 2007), restricted to one
    blocking round (sufficient for exactness; extra permutations only
    shrink bucket sizes).  Replaces the reference's all-pairs distance
    scan (/root/reference/duplicate_face.py:64-75) for the
    cosine-family predicate.

    Docs with zero shingles carry simhash 0 (signatures.py sentinel)
    and are excluded — empty docs must never bucket together.
    """
    n_blocks = cfg.simhash_hamming_threshold + 1
    base, extra = divmod(64, n_blocks)
    blocks = []
    start = 0
    for i in range(n_blocks):
        w = base + (1 if i < extra else 0)
        blk = F.shiftrightunsigned(F.col("simhash"), start)
        if start + w < 64:
            blk = blk.bitwiseAND(F.lit((1 << w) - 1))
        blocks.append(F.struct(F.lit(i).alias("band"), blk.alias("band_hash")))
        start += w
    return (
        signatures.filter(F.col("n_shingles") > 0)
        .select("doc_id", F.explode(F.array(*blocks)).alias("blk"))
        .select("blk.band", "blk.band_hash", "doc_id")
    )


def candidate_pairs(buckets: DataFrame, cfg: DedupConfig) -> DataFrame:
    """buckets → distinct candidate pairs (a < b) with band-collision
    counts.

    Census design: a cheap keys-only size count first (map-side
    combined — shuffles one long per distinct bucket, not the rows),
    the handful of mega keys broadcast, then ONE ``collect_list``
    aggregation of the non-mega rows and a single native
    higher-order expression emits either all pairs (bucket ≤
    bucket_cap) or chain pairs (each doc × its next ``chain_window``
    neighbors — linear volume, still connected).

    (A salt-first single-scan variant was tried in round 2 and
    reverted: salting every row before grouping turns millions of
    size-1-2 buckets into two array-building aggregations — measured
    37.6s vs ~13s for this design on the 200k-doc scaling corpus.
    The census's 3 scans of the input are cheap because the bucket
    stream is either a posexplode of cached signatures or a
    rebalanced Arrow pass.  Round 5 A/B'd localCheckpointing the
    exploded stream once so the 3 scans re-read stored blocks — at 2M
    docs, bounded, local[8], interleaved run order
    (BENCH/ab_runs.jsonl): recompute wins, best wall 304 vs 412 s and
    candidate stage 94 vs 159 s — writing the ~n_docs×32-row stream
    costs more than two extra posexplode map passes that pipeline
    into their shuffles.  The incremental path, whose bucket stream
    is a state scan rather than a cached posexplode, checkpoints it
    itself.)

    **Mega buckets** (north_rule salted-key skew mitigation): a
    pathological boilerplate bucket at 10^12-doc scale could make one
    collect_list group unbounded.  Buckets above ``mega_bucket_cap``
    are salted into ``salt_buckets`` subgroups keyed by
    ``pmod(xxhash64(doc_id, band_hash), S)`` — bounding every
    aggregated group — chained within each subgroup, and the subgroup
    minima are bridged pairwise so the bucket remains one connected
    component for CC.

    Mega chain/bridge pairs are tagged ``forced``: the salt varies per
    band, so a given mega pair is typically proposed by exactly ONE
    band and would be discarded by verify's min_band_collisions
    pre-filter — dropping every bridge and disconnecting the
    pathological bucket (ADVICE r1).  Forced pairs skip that
    pre-filter; exact Jaccard verification alone decides them.
    """

    def pairs_from_members(lists: DataFrame, cap: int, window: int) -> DataFrame:
        m = F.size(F.col("members"))
        width = F.when(m <= cap, m).otherwise(F.lit(window))
        return lists.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "members",
                        lambda x, i: F.transform(
                            F.slice(
                                "members",
                                i + F.lit(2),
                                F.greatest(F.least(width, m - i - 1), F.lit(0)),
                            ),
                            lambda y: F.struct(x.alias("a"), y.alias("b")),
                        ),
                    )
                )
            ).alias("p")
        ).select("p.a", "p.b")

    sizes = buckets.groupBy("band", "band_hash").agg(F.count("*").alias("bsz"))
    mega_keys = F.broadcast(
        sizes.filter(F.col("bsz") > cfg.mega_bucket_cap).select("band", "band_hash")
    )

    normal = buckets.join(mega_keys, ["band", "band_hash"], "left_anti")
    normal_lists = (
        normal.groupBy("band", "band_hash")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("members"))
        .filter(F.size("members") >= 2)
    )
    pairs = pairs_from_members(normal_lists, cfg.bucket_cap, cfg.chain_window)

    mega = buckets.join(mega_keys, ["band", "band_hash"], "left_semi")
    # salt keyed by doc_id ONLY (not band_hash): a mega bucket's
    # membership is near-identical across all bands, so a doc-keyed
    # salt gives the SAME subgroup split — and therefore the same
    # chain/bridge pairs — in every band.  The final groupBy(a, b)
    # then collapses the per-band repeats to one candidate row
    # (n_bands ≈ num_bands) instead of emitting a fresh disjoint pair
    # set per band: measured 32× fewer distinct mega candidates
    # (327k → ~11k on a 6000-doc boilerplate group), which shrinks the
    # verify join and the CC edge set by the same factor.  Group-size
    # bounding is unaffected (xxhash64(doc_id) is uniform over salts).
    salted = mega.withColumn(
        "salt", F.pmod(F.xxhash64("doc_id"), F.lit(cfg.salt_buckets))
    )
    sub_lists = (
        salted.groupBy("band", "band_hash", "salt")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("members"))
    )
    # chain within every (bounded) subgroup; cap=0 forces chain mode
    mega_chain = pairs_from_members(
        sub_lists.filter(F.size("members") >= 2), 0, cfg.chain_window
    )
    # bridge: all pairs among the ≤ S subgroup minima per bucket
    bridges = (
        sub_lists.select(
            "band", "band_hash", F.element_at("members", 1).alias("m0")
        )
        .groupBy("band", "band_hash")
        .agg(F.sort_array(F.collect_list("m0")).alias("members"))
        .filter(F.size("members") >= 2)
    )
    mega_bridge = pairs_from_members(bridges, cfg.salt_buckets, cfg.chain_window)

    all_pairs = (
        pairs.withColumn("forced", F.lit(False))
        .unionByName(mega_chain.withColumn("forced", F.lit(True)))
        .unionByName(mega_bridge.withColumn("forced", F.lit(True)))
    )
    return all_pairs.groupBy("a", "b").agg(
        F.count("*").alias("n_bands"), F.max("forced").alias("forced")
    )
