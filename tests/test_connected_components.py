"""Connected-components correctness: convergence on path-like graphs
(the shape LSH chain-pairing of oversized buckets produces), both sides
of the driver cap and of the per-task edge bound, and loud failure
instead of silently-wrong labels when the iteration cap is hit
(ADVICE r1, high severity)."""

import numpy as np
import pytest

import face_duplicate_detection_spark.operators.connected_components as cc_mod
from face_duplicate_detection_spark.operators.connected_components import (
    assign_clusters,
    connected_components,
)


def _path_edges(spark, n, seed=7):
    """A single path of n nodes whose ids are a random permutation, so
    the min label sits at an arbitrary interior position."""
    rng = np.random.default_rng(seed)
    ids = rng.permutation(n).astype(int) + 1000
    edges = [(int(ids[i]), int(ids[i + 1])) for i in range(n - 1)]
    return spark.createDataFrame(edges, ["a", "b"]), int(ids.min())


def test_long_path_single_cluster(spark):
    """ADVICE r1 repro: a path-like component (diameter ≫ 50) must
    still collapse into ONE cluster — min-label alone moves one hop
    per round and fragmented a 121-node path into 70 clusters.
    Exercises BOTH the driver union-find fast path (default, round 6)
    and the executor contraction rounds (driver_cap=0)."""
    edges, min_id = _path_edges(spark, 500)
    for cap in (None, 0):
        kw = {} if cap is None else {"driver_cap": cap}
        rows = connected_components(edges, **kw).collect()
        assert len(rows) == 500
        assert {r["cluster_id"] for r in rows} == {min_id}


def test_driver_fast_path_matches_distributed(spark):
    """Round-6 optimization guard: the bounded driver union-find must
    label a mixed graph (two blobs + a long path + a self-loop-only
    node) identically to the executor contraction rounds."""
    rng = np.random.default_rng(11)
    ids = rng.permutation(300).astype(int)
    edges = [(int(ids[i]), int(ids[i + 1])) for i in range(120)]       # path
    edges += [(int(ids[150]), int(ids[150 + j])) for j in range(1, 40)]  # star
    edges += [(int(a), int(b)) for a, b in rng.integers(200, 290, (60, 2))]
    edges += [(777, 777)]  # self-loop-only node labels itself
    df = spark.createDataFrame(edges, ["a", "b"])
    fast = {r["doc_id"]: r["cluster_id"]
            for r in connected_components(df).collect()}
    dist = {r["doc_id"]: r["cluster_id"]
            for r in connected_components(df, driver_cap=0).collect()}
    assert fast == dist
    assert fast[777] == 777


def test_two_components_and_star(spark):
    edges = spark.createDataFrame(
        [(10, 11), (11, 12), (20, 21), (20, 22), (20, 23)], ["a", "b"]
    )
    got = {
        r["doc_id"]: r["cluster_id"] for r in connected_components(edges).collect()
    }
    assert got == {10: 10, 11: 10, 12: 10, 20: 20, 21: 20, 22: 20, 23: 20}


def _labels(df, **kw):
    return {r["doc_id"]: r["cluster_id"]
            for r in connected_components(df, **kw).collect()}


def test_multi_task_rounds_match_driver(spark, monkeypatch):
    """Above the per-task bound a round runs in many tasks and stops on
    the no-change test rather than the single-task one.  With 8 edges
    per task: a long path, a hub whose degree alone exceeds the bound
    (all its edges share one task), and a self-loop-only node must
    each label exactly as the driver union-find does."""
    path, _ = _path_edges(spark, 500)
    hub = [(5000, 5000 + j) for j in range(1, 30)] + [(5001, 6000)]
    graphs = {
        "path": path,
        "hub": spark.createDataFrame(hub, ["a", "b"]),
        "self_loop": spark.createDataFrame([(777, 777), (1, 2)], ["a", "b"]),
    }
    monkeypatch.setattr(cc_mod, "CC_EDGES_PER_TASK", 8)
    for name, df in graphs.items():
        assert _labels(df, driver_cap=0) == _labels(df), name
    assert _labels(graphs["self_loop"], driver_cap=0)[777] == 777


def test_distributed_job_budget(spark):
    """One over-cap call on a ~2000-edge graph fits in a few Spark jobs:
    a round is one checkpoint job, and a graph under the per-task bound
    needs one round (the large/small-star loop it replaced ran 59 jobs
    on the same size of graph)."""
    edges, _ = _path_edges(spark, 2000, seed=5)
    sc = spark.sparkContext
    group = "cc-job-budget"
    sc.setJobGroup(group, "connected_components job budget")
    try:
        connected_components(edges, driver_cap=0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 8, jobs


def test_nonconvergence_raises(spark, monkeypatch):
    """Exhausting max_iterations must raise, never return wrong labels."""
    edges, _ = _path_edges(spark, 2000, seed=3)
    # at the default bound this path converges in one single-task
    # round; 8 edges per task keeps every round multi-task
    monkeypatch.setattr(cc_mod, "CC_EDGES_PER_TASK", 8)
    with pytest.raises(RuntimeError, match="did not converge"):
        # driver_cap=0 forces the executor rounds (the driver fast
        # path would otherwise solve a 2000-edge graph directly)
        connected_components(edges, max_iterations=2, driver_cap=0)


def test_assign_clusters_singletons(spark):
    docs = spark.createDataFrame([(1,), (2,), (3,), (9,)], ["doc_id"])
    edges = spark.createDataFrame([(1, 3)], ["a", "b"])
    labels = connected_components(edges)
    out = {
        r["doc_id"]: (r["cluster_id"], r["is_canonical"])
        for r in assign_clusters(docs, labels).collect()
    }
    assert out == {1: (1, True), 2: (2, True), 3: (1, False), 9: (9, True)}
