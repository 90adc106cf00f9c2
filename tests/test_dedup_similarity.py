"""Exact and LSH embedding top-k search on a small deterministic corpus."""

import pytest

from entitylinking_spark.operators.similarity import brute_force_topk, lsh_topk


def _embeddings(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]), (2, [0.99, 0.01, 0.0]),   # near dups
        (3, [0.0, 1.0, 0.0]), (4, [0.0, 0.0, 1.0]),
        (5, [-1.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_brute_force_topk_exact(spark):
    emb = _embeddings(spark)
    q = spark.createDataFrame([(0, [1.0, 0.0, 0.0])], ["query_id", "embedding"])
    out = brute_force_topk(emb, q, k=3).orderBy("rank").collect()
    assert [r["vec_id"] for r in out] == [1, 2, 3]  # cos: 1.0, ~0.9999, 0.0 (ties by id)
    assert out[0]["cosine"] == pytest.approx(1.0)


def test_lsh_topk_finds_close_neighbor(spark):
    emb = _embeddings(spark)
    q = spark.createDataFrame([(0, [1.0, 0.0, 0.0])], ["query_id", "embedding"])
    out = lsh_topk(emb, q, k=3, n_planes=4).orderBy("rank").collect()
    ids = [r["vec_id"] for r in out]
    assert ids[0] == 1 and 2 in ids  # same bucket as the query


def test_brute_force_multiple_queries(spark):
    emb = _embeddings(spark)
    q = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])], ["query_id", "embedding"]
    )
    out = brute_force_topk(emb, q, k=1).collect()
    best = {r["query_id"]: r["vec_id"] for r in out}
    assert best == {0: 1, 1: 3}
