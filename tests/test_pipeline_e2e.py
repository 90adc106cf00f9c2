"""Golden end-to-end: planted clusters -> pipeline -> F1 >= 0.99 + invariants."""

import hashlib
import os
import shutil

import pytest
from pyspark.sql import functions as F

from entitylinking_spark.operators.blocking import ERConfig
from entitylinking_spark.operators.evaluation import pairwise_f1
from entitylinking_spark.plans.pipeline import resolve
from entitylinking_spark.synthdata import generate_repo_files


@pytest.fixture(scope="module")
def fixture():
    return generate_repo_files(500, seed=42)


@pytest.fixture(scope="module")
def result(spark, fixture):
    df = spark.createDataFrame(fixture.rows)
    return resolve(df, ERConfig(), id_col="row_id")


def test_pairwise_f1_target(spark, fixture, result):
    labeled = spark.createDataFrame(fixture.labeled_pairs)
    m = pairwise_f1(result.clusters, labeled)
    assert m["f1"] >= 0.99, m


def test_exact_cluster_assignments(spark, fixture, result):
    got = {r["row_id"]: r["cluster_id"] for r in result.clusters.collect()}
    want = dict(zip(fixture.clusters["row_id"], fixture.clusters["cluster_id"]))
    agreement = sum(1 for k in want if got.get(k) == want[k]) / len(want)
    assert agreement >= 0.99, agreement


def test_partition_property(result):
    """Clustering is a partition: every row exactly one cluster id."""
    n = result.clusters.count()
    n_distinct_rows = result.clusters.select("row_id").distinct().count()
    assert n == n_distinct_rows
    nulls = result.clusters.filter(F.col("cluster_id").isNull()).count()
    assert nulls == 0


def test_cluster_id_is_min_member(result):
    bad = (
        result.clusters.groupBy("cluster_id")
        .agg(F.min("row_id").alias("min_member"))
        .filter(F.col("cluster_id") != F.col("min_member"))
        .count()
    )
    assert bad == 0


def test_content_sha_invariant(fixture, result):
    """sha256(content) computed in-pipeline equals hashlib on raw input rows."""
    got = {r["row_id"]: r["content_sha"] for r in result.keyed.select("row_id", "content_sha").collect()}
    for _, row in fixture.rows.sample(50, random_state=0).iterrows():
        want = hashlib.sha256(row["content"].encode("utf-8")).hexdigest()
        assert got[row["row_id"]] == want


def test_scorer_symmetry(spark, result):
    """score(a,b) must not depend on pair orientation: re-score with ids swapped."""
    from entitylinking_spark.operators.scoring import score_pairs

    sample = result.scored_pairs.orderBy("id_l", "id_r").limit(20)
    swapped_ids = sample.select(
        F.col("id_r").alias("id_l"), F.col("id_l").alias("id_r"), "block_key"
    )
    rescored = score_pairs(swapped_ids, result.keyed)
    a = {(r["id_r"], r["id_l"]): r["score"] for r in rescored.collect()}
    b = {(r["id_l"], r["id_r"]): r["score"] for r in sample.collect()}
    assert set(a) == set(b)
    for k in b:
        assert a[k] == pytest.approx(b[k], abs=1e-12)


def test_resume_equals_single_run(spark, fixture, tmp_path_factory):
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    df = spark.createDataFrame(fixture.rows.head(200))
    r1 = resolve(df, ERConfig(), id_col="row_id", checkpoint_dir=ckpt)
    run1 = sorted((r["row_id"], r["cluster_id"]) for r in r1.clusters.collect())
    # kill after pairs_scored: later stages recomputed from checkpoints
    for stage in ["edges", "clusters"]:
        shutil.rmtree(os.path.join(ckpt, stage), ignore_errors=True)
    r2 = resolve(df, ERConfig(), id_col="row_id", checkpoint_dir=ckpt)
    run2 = sorted((r["row_id"], r["cluster_id"]) for r in r2.clusters.collect())
    assert run1 == run2


def test_metrics_report_shape(result):
    stages = {s["stage"] for s in result.metrics.stages}
    assert "blocks" in stages and "pairs_scored" in stages and "clusters" in stages
    block_stage = next(s for s in result.metrics.stages if s["stage"] == "blocks")
    assert block_stage["comparisons"] is not None
    assert block_stage["skew_factor"] >= 1.0
    n_rows = 500
    assert block_stage["comparisons"] < n_rows * (n_rows - 1) / 2, "blocking must beat n^2"
