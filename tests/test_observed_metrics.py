"""resolve()'s metrics are observed on actions the pipeline already runs.

The observed values must equal a direct recount of the same frames, and a
run that resumes stages from a checkpoint must neither wait on an
observation whose action never ran nor record a stage it did not compute.
"""

import os
import shutil
import threading

import pytest
from pyspark.sql import functions as F

from entitylinking_spark.metrics import block_record, census_aggregates
from entitylinking_spark.operators.blocking import (
    ERConfig,
    block_candidates,
    block_census,
)
from entitylinking_spark.plans.pipeline import resolve
from entitylinking_spark.synthdata import generate_repo_files

FIXTURES = {
    "e2e": (500, 42, ERConfig()),
    # caps small enough that salted AND skipped blocks both occur
    "small_blocks": (300, 7, ERConfig(block_cap=4, skip_block_threshold=12)),
}


@pytest.mark.parametrize("name", sorted(FIXTURES))
def test_observed_metrics_equal_direct_recount(spark, name):
    n, seed, cfg = FIXTURES[name]
    df = spark.createDataFrame(generate_repo_files(n, seed=seed).rows)
    res = resolve(df, cfg, id_col="row_id")
    stages = {s["stage"]: s for s in res.metrics.stages}

    # the census is over one representative (min row_id) per content_sha
    keyed = res.keyed.drop("content")
    reps = keyed.groupBy("content_sha").agg(F.min("row_id").alias("row_id"))
    census = block_census(block_candidates(
        keyed.join(reps, ["content_sha", "row_id"], "left_semi"), cfg))
    want = block_record(census.agg(
        *census_aggregates(cfg.block_cap, cfg.skip_block_threshold)
    ).first().asDict())
    got = {k: v for k, v in stages["blocks"].items()
           if k not in ("stage", "t_offset_s")}
    assert got == pytest.approx(want)
    if name == "small_blocks":
        assert got["n_salted"] > 0 and got["n_skipped"] > 0

    scored = res.scored_pairs.agg(
        F.count("*").alias("n"),
        F.sum(F.col("name_sim").isNotNull().cast("long")).alias("survivors"),
        F.sum(F.col("jw_evaluated").cast("long")).alias("jw_pairs"),
    ).first()
    pairs = stages["pairs_scored"]
    assert scored["n"] > 0
    assert (pairs["n_pairs"], pairs["prescreen_survivors"], pairs["jw_pairs"]) \
        == (scored["n"], scored["survivors"], scored["jw_pairs"])

    clusters = res.clusters.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("cluster_id").alias("n_clusters"),
    ).first()
    assert {k: stages["clusters"][k] for k in ("n_rows", "n_clusters")} \
        == clusters.asDict()
    res.unpersist()


def test_resumed_run_records_only_computed_stages(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    df = spark.createDataFrame(generate_repo_files(200, seed=42).rows)
    first = resolve(df, ERConfig(), id_col="row_id", checkpoint_dir=ckpt)
    assert {"blocks", "pairs_scored", "clusters"} <= \
        {s["stage"] for s in first.metrics.stages}
    # kill after pairs_scored: blocks and pairs_scored resume, their
    # observations never fire, and reading one would wait forever
    for stage in ["edges", "clusters"]:
        shutil.rmtree(os.path.join(ckpt, stage))

    out = {}
    worker = threading.Thread(
        target=lambda: out.setdefault("res", resolve(
            df, ERConfig(), id_col="row_id", checkpoint_dir=ckpt)),
        daemon=True,
    )
    worker.start()
    worker.join(timeout=600)
    assert not worker.is_alive(), "resumed resolve() did not return"
    assert [s["stage"] for s in out["res"].metrics.stages] == ["clusters"]
