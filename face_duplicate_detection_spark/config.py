"""Engine configuration.

The reference hardcodes its knobs as module constants
(``/root/reference/duplicate_face.py:14,251`` batch size + root dir;
``face_recognition_custom.py:16-19`` thresholds).  Here every knob is
a field on one frozen dataclass so the "identical shingle/signature
config" contract (BASELINE.json ``north_rule``) is a single value that
the engine, the tests, and the oracles all share.

Reference threshold analogues:

- ``jaccard_threshold`` ↔ Euclidean tolerance 0.32
  (``duplicate_face.py:67``) / cosine sim > 0.65
  (``face_recognition_custom.py:18,106``): the match predicate.
- ``min_text_chars`` / ``min_distinct_token_ratio`` ↔ Laplacian blur
  variance < 100 quality pre-filter
  (``face_recognition_custom.py:19,32-34``).
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace


@dataclass(frozen=True)
class DedupConfig:
    # --- shingling (F1) ---
    shingle_k: int = 8              # k-char shingles over normalized text
    lowercase: bool = True
    fold_whitespace: bool = True    # collapse runs of whitespace to one space

    # --- MinHash (F2) ---
    num_perms: int = 128            # signature length (reference: 128-d encodings)
    minhash_seed: int = 42          # seeds the (a_i, b_i) multiply-shift params

    # --- SimHash (F2, always 64-bit) ---
    simhash_hamming_threshold: int = 3   # bit_count(a ^ b) <= h ⇒ near-dup

    # --- LSH banding (J1) ---
    num_bands: int = 32             # bands × rows_per_band == num_perms
    # at s = jaccard_threshold = 0.8: P(candidate) = 1-(1-s^4)^32 ≈ 1 - 5e-8

    # --- verification (J2/J3) ---
    jaccard_threshold: float = 0.8  # exact shingle-set Jaccard ≥ θ ⇒ duplicate
    # candidate pre-filter: require ≥ this many band collisions before
    # the (expensive) exact-Jaccard join.  At θ=0.8, P(band)=θ⁴≈0.41,
    # so a true pair misses n_bands≥2 w.p. P(X≤1|X≥1), X~B(32,0.41)
    # ≈ 1e-6 — recall is untouched while ~80% of low-similarity
    # boilerplate candidates never reach the shingle shuffle.
    min_band_collisions: int = 2

    # --- skew handling (north_rule: salted-key mitigation) ---
    # buckets larger than cap use chain pairing.  Candidate volume in
    # boilerplate-heavy web text grows O(m²) per bucket up to the cap:
    # at 800k synthetic docs, cap=64 emitted 23M raw pairs vs 11.5M at
    # cap=16 while the n_bands≥2 survivor set shrank only 6% (junk) —
    # true near-dup pairs collide in ~23/32 bands and chain-connect
    # regardless, so a small cap trades little for linear cost.
    bucket_cap: int = 16
    chain_window: int = 2           # oversized bucket: pair doc with next W ids
    # mega buckets (pathological boilerplate at 10^12-doc scale) are
    # salted into bounded subgroups before any collect_list so no
    # executor ever aggregates an unbounded group; subgroup minima are
    # bridged so the bucket stays one connected component
    mega_bucket_cap: int = 4096
    salt_buckets: int = 64

    # --- signature state size (100 TB design) ---
    # True: the signatures checkpoint table carries each doc's full
    # distinct-shingle array — O(total text) state, larger than the
    # corpus at 100 TB (VERDICT r1 scale risk).  False: the checkpoint
    # stores only minhash/simhash/bands (O(docs·perms)); exact-Jaccard
    # verification recomputes shingles for the *candidate docs only*
    # via one extra semi-join-pruned Arrow pass over ~candidates, not
    # corpus.  Incremental/streaming works in BOTH modes: with False,
    # the incremental state keeps a `state_texts` table (the corpus
    # itself, disk-resident, read only for candidate ids) instead of
    # carrying shingle arrays in the signature state (VERDICT r2
    # "what's wrong" #2c).
    store_shingles: bool = True

    # --- retired switch, kept so existing callers still construct ---
    # localCheckpointing the exploded bucket stream lost its A/B
    # (BENCH/ab_runs.jsonl `checkpoint_buckets_ab`: 412 s vs 304 s
    # recomputed); only False is accepted.
    checkpoint_buckets: bool = False

    # --- incremental state maintenance (B2; VERDICT r2 #2a/#2b) ---
    # every `compact_every` applied batches the label-delta log is
    # folded into bucketed base tables (one row per doc), bounding the
    # merge-on-read window work; 0 disables auto-compaction.
    compact_every: int = 8
    # hash-bucket count for the compacted base tables' partition
    # column — affected-component reads prune to the touched buckets
    # instead of scanning the full label state.  At 10^12 docs size
    # this so one bucket ≈ a few GB (e.g. 4096-65536 partitions).
    state_partitions: int = 32

    # --- quality / status tagging (P2/P3/P4) ---
    min_text_chars: int = 16
    min_distinct_token_ratio: float = 0.05

    # --- long-span (suffix) stage (F4) ---
    span_window: int = 64           # exact window length hashed for anchors
    span_min_len: int = 256         # report spans at least this long
    span_winnow: int = 16           # keep 1-of-w anchors at scale (winnowing)
    # per-(doc, anchor-value) position-multiplicity cap in the verify
    # stage (ADVICE r2): repetitive/low-entropy text repeats the same
    # window hash thousands of times, and the per-pair anchor
    # equi-join would emit cnt_a·cnt_b rows — O(n²) for two periodic
    # docs.  Keeping only the first `span_pos_cap` occurrences per
    # value bounds the join at O(n·cap) while (a) normal text
    # (multiplicity 1) is untouched and (b) detection of periodic
    # spans ≥ span_min_len is preserved because the effective cap is
    # floored at span_min_len − span_window + 1 (first-occurrence runs
    # still reach the threshold); reported span_len degrades to a
    # lower bound only when the cap binds.
    span_pos_cap: int = 256

    # --- execution ---
    signature_batch_docs: int = 2048  # numpy chunking inside the pandas UDF

    def __post_init__(self) -> None:
        if self.checkpoint_buckets:
            raise ValueError(
                "checkpoint_buckets=True is retired: recomputing the "
                "bucket stream won its A/B; only False is accepted"
            )

    @property
    def rows_per_band(self) -> int:
        assert self.num_perms % self.num_bands == 0
        return self.num_perms // self.num_bands

    def with_(self, **kw) -> "DedupConfig":
        return replace(self, **kw)


DEFAULT_CONFIG = DedupConfig()
