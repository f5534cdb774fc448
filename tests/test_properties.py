"""Property-based tests (hypothesis) — SURVEY.md §5.3.

Mostly pure-numpy kernel properties: these pin the invariants the
distributed stages rely on (determinism, batch-order independence,
estimator correctness).  The last property checks both branches of
the connected-components size cap against each other on a Spark
session.
"""

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from face_duplicate_detection_spark.functions.text_hashing import (
    band_hashes,
    minhash_batch,
    minhash_params,
    normalize_text,
    shingle_hashes,
    simhash_batch,
)
from face_duplicate_detection_spark.operators.connected_components import (
    connected_components,
)

texts = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF), max_size=300
)


@given(texts)
@settings(max_examples=200, deadline=None)
def test_normalize_idempotent(t):
    once = normalize_text(t)
    assert normalize_text(once) == once
    assert once == once.strip()


@given(texts, texts)
@settings(max_examples=100, deadline=None)
def test_normalize_whitespace_invariance(a, b):
    """Texts equal modulo whitespace runs normalize identically."""
    joined1 = a + " " + b
    joined2 = a + " \t\n  " + b
    assert normalize_text(joined1) == normalize_text(joined2)


@given(texts)
@settings(max_examples=100, deadline=None)
def test_shingles_deterministic_sorted_distinct(t):
    s1 = shingle_hashes(t, 8)
    s2 = shingle_hashes(t, 8)
    assert (s1 == s2).all()
    if s1.size > 1:
        assert (s1[1:] > s1[:-1]).all()  # strictly increasing = distinct


@given(st.lists(texts, min_size=1, max_size=20), st.integers(0, 2**31))
@settings(max_examples=50, deadline=None)
def test_minhash_batch_order_independent(ts, seed):
    """Signature of a doc is independent of which batch-mates surround
    it — required for partition-independence of the signature stage."""
    a, b = minhash_params(32, 42)
    sets = [shingle_hashes(normalize_text(t), 8) for t in ts]
    batched = minhash_batch(sets, a, b)
    rng = np.random.default_rng(seed)
    perm = rng.permutation(len(sets))
    shuffled = minhash_batch([sets[i] for i in perm], a, b)
    for out_pos, orig_pos in enumerate(perm):
        assert (shuffled[out_pos] == batched[orig_pos]).all()


@given(st.lists(texts, min_size=1, max_size=10))
@settings(max_examples=50, deadline=None)
def test_simhash_batch_matches_single(ts):
    sets = [shingle_hashes(normalize_text(t), 8) for t in ts]
    batched = simhash_batch(sets)
    for i, s in enumerate(sets):
        assert batched[i] == simhash_batch([s])[0]


@given(texts)
@settings(max_examples=50, deadline=None)
def test_identical_docs_identical_everything(t):
    a, b = minhash_params(64, 42)
    s = shingle_hashes(normalize_text(t), 8)
    sig = minhash_batch([s, s], a, b)
    assert (sig[0] == sig[1]).all()
    bh = band_hashes(sig, 16)
    assert (bh[0] == bh[1]).all()
    sh = simhash_batch([s, s])
    assert sh[0] == sh[1]


@given(st.integers(0, 2**31))
@settings(max_examples=20, deadline=None)
def test_minhash_estimator_unbiased_on_known_overlap(seed):
    """Sets with known Jaccard j: signature agreement within 4σ."""
    rng = np.random.default_rng(seed)
    common = rng.integers(1, 2**63, size=80, dtype=np.uint64)
    only_a = rng.integers(1, 2**63, size=20, dtype=np.uint64)
    only_b = rng.integers(1, 2**63, size=20, dtype=np.uint64)
    sa = np.unique(np.concatenate([common, only_a]))
    sb = np.unique(np.concatenate([common, only_b]))
    inter = np.intersect1d(sa, sb).size
    j = inter / (sa.size + sb.size - inter)
    a, b = minhash_params(128, 42)
    sig = minhash_batch([sa, sb], a, b)
    est = float((sig[0] == sig[1]).mean())
    sigma = (j * (1 - j) / 128) ** 0.5
    assert abs(est - j) <= 4 * sigma + 1e-9


# small id range so random edges form several multi-node components;
# self-loops and repeated edges are drawn as often as any other pair.
# Each example costs a few seconds of Spark jobs, hence few examples.
edge_lists = st.lists(
    st.tuples(st.integers(0, 40), st.integers(0, 40)), min_size=1, max_size=60
)


@given(edge_lists)
@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_cc_driver_path_matches_distributed(spark, edges):
    """Both branches of the CC size cap label any graph identically:
    the driver union-find (default cap) and the distributed
    large/small-star loop (``driver_cap=0``)."""
    df = spark.createDataFrame(edges, "a long, b long")
    driver = {r["doc_id"]: r["cluster_id"]
              for r in connected_components(df).collect()}
    star = {r["doc_id"]: r["cluster_id"]
            for r in connected_components(df, driver_cap=0).collect()}
    assert driver == star
    assert set(driver) == {n for e in edges for n in e}
