"""Exact-dedup semantics: grouping must partition by *text*, with the
64-bit hash only as a shuffle prefix — a hash collision must never
merge distinct texts (VERDICT r1 "what's wrong" #3 / ADVICE)."""

import pytest
from pyspark.sql import functions as F

from face_duplicate_detection_spark.operators import exact_dedup


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "the quick brown fox"),
        (2, "the quick brown fox"),
        (3, "a completely different document"),
        (4, "a completely different document"),
        (5, "a unique snowflake"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_identical_texts_merge(docs):
    c = {
        r["doc_id"]: r["exact_cluster_id"]
        for r in exact_dedup.exact_clusters(docs).collect()
    }
    assert c == {1: 1, 2: 1, 3: 3, 4: 3, 5: 5}


def test_hash_collision_does_not_merge(docs, monkeypatch):
    """Force every row into ONE hash bucket (simulated 64-bit
    collision): distinct texts must still form distinct clusters,
    because the text column disambiguates inside the bucket."""
    monkeypatch.setattr(
        exact_dedup,
        "with_text_hash",
        lambda df, text_col="text": df.withColumn("text_hash", F.lit(0)),
    )
    c = {
        r["doc_id"]: r["exact_cluster_id"]
        for r in exact_dedup.exact_clusters(docs).collect()
    }
    assert c == {1: 1, 2: 1, 3: 3, 4: 3, 5: 5}

    edges = {
        (r["a"], r["b"]) for r in exact_dedup.exact_dup_edges(docs).collect()
    }
    assert edges == {(1, 2), (3, 4)}


def test_representatives_survive_collision(docs, monkeypatch):
    """The pipeline's representatives are exact_base's ``_rn == 1``
    rows; a forced hash collision must still keep one per text."""
    monkeypatch.setattr(
        exact_dedup,
        "with_text_hash",
        lambda df, text_col="text": df.withColumn("text_hash", F.lit(0)),
    )
    base = exact_dedup.exact_base(docs)
    reps = {r["doc_id"] for r in base.filter(F.col("_rn") == 1).collect()}
    assert reps == {1, 3, 5}
    assert {(r["doc_id"], r["rep"]) for r in base.collect()} == {
        (1, 1), (2, 1), (3, 3), (4, 3), (5, 5)
    }
