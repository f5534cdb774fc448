"""Resumability: committed stages are read back, not recomputed
(north_rule: a 10^12-doc run restarts mid-stage without recompute;
reference analogue: cross-batch carried state,
duplicate_face.py:186-189)."""

import pytest
from pyspark.sql import functions as F

from face_duplicate_detection_spark.catalog import StageCatalog
from face_duplicate_detection_spark.plans.pipeline import run_pipeline
from face_duplicate_detection_spark.sources.pages import synthesize_pages


def _collect_pairs(res):
    return sorted(
        (r["a"], r["b"]) for r in res.dup_pairs.select("a", "b").collect()
    )


def test_kill_and_resume_identical(spark, cfg, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("ckpt"))
    pages = synthesize_pages(spark, 200, seed=42)

    cat = StageCatalog(root)
    full = run_pipeline(pages, cfg, input_kind="pages", catalog=cat)
    pairs_first = _collect_pairs(full)
    clusters_first = sorted(
        (r["doc_id"], r["cluster_id"])
        for r in full.clusters.select("doc_id", "cluster_id").collect()
    )

    # simulate a mid-run kill: later stages lost, early stages committed
    cat.invalidate("dup_pairs")
    cat.invalidate("clusters")
    assert cat.is_committed("signatures")

    resumed = run_pipeline(pages, cfg, input_kind="pages", catalog=cat)
    assert _collect_pairs(resumed) == pairs_first
    clusters_resumed = sorted(
        (r["doc_id"], r["cluster_id"])
        for r in resumed.clusters.select("doc_id", "cluster_id").collect()
    )
    assert clusters_resumed == clusters_first


def test_committed_stage_not_recomputed(spark, cfg, tmp_path_factory):
    """After commit, the stage is served from the checkpoint even if
    the input changes — proof that resume does not recompute."""
    root = str(tmp_path_factory.mktemp("ckpt2"))
    cat = StageCatalog(root)
    pages = synthesize_pages(spark, 100, seed=42)
    run_pipeline(pages, cfg, input_kind="pages", catalog=cat)
    n_sigs = cat.read(spark, "signatures").count()

    different = synthesize_pages(spark, 50, seed=99)
    res2 = run_pipeline(different, cfg, input_kind="pages", catalog=cat)
    assert res2.signatures.count() == n_sigs  # served from checkpoint


def test_resume_under_changed_config_refused(spark, cfg, tmp_path_factory):
    """Committed stages record the config they were built under; a
    resume with a different config (e.g. a new Jaccard threshold) must
    fail loudly instead of serving the old run's dup_pairs/clusters."""
    cat = StageCatalog(str(tmp_path_factory.mktemp("ckpt3")))
    pages = synthesize_pages(spark, 100, seed=42)
    run_pipeline(pages, cfg, input_kind="pages", catalog=cat)

    changed = cfg.with_(jaccard_threshold=0.9)
    with pytest.raises(ValueError, match="committed under"):
        run_pipeline(pages, changed, input_kind="pages", catalog=cat)
