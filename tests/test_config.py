"""DedupConfig construction: the retired ``checkpoint_buckets`` switch
stays accepted as False (the frozen bench builds it explicitly) and
refuses True instead of silently ignoring it."""

import pytest

from face_duplicate_detection_spark.config import DedupConfig


def test_checkpoint_buckets_true_refused():
    with pytest.raises(ValueError, match="checkpoint_buckets"):
        DedupConfig().with_(checkpoint_buckets=True)
    with pytest.raises(ValueError, match="checkpoint_buckets"):
        DedupConfig(checkpoint_buckets=True)


@pytest.mark.parametrize("store", [True, False])
def test_bench_config_still_builds(store):
    cfg = DedupConfig().with_(store_shingles=store, checkpoint_buckets=False)
    assert cfg.store_shingles is store
    assert cfg.checkpoint_buckets is False
