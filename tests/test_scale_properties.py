"""Scale-behavior properties checked at small size (SCALE.md claims).

These don't measure wall time (too flaky for CI); they check the
*structural* guarantees: bounded per-task comparisons and sub-quadratic
candidate growth.
"""

from pyspark.sql import functions as F

from entitylinking_spark.metrics import census_aggregates
from entitylinking_spark.operators.blocking import (
    ERConfig,
    block_candidates,
    block_census,
    with_keys,
)
from entitylinking_spark.synthdata import generate_repo_files


def _comparisons(spark, n_rows: int, cfg: ERConfig) -> float:
    fx = generate_repo_files(n_rows, seed=21)
    keyed = with_keys(spark.createDataFrame(fx.rows), cfg, id_col="row_id")
    census = block_census(block_candidates(keyed, cfg))
    return census.agg(
        *census_aggregates(cfg.block_cap, cfg.skip_block_threshold)
    ).first()["comparisons"]


def test_candidate_growth_subquadratic(spark):
    """Doubling the corpus must grow candidate comparisons far slower than
    4x (the n^2 rate): the stop-band + blocking design caps it."""
    cfg = ERConfig()
    c1 = _comparisons(spark, 600, cfg)
    c2 = _comparisons(spark, 1200, cfg)
    assert c1 > 0
    assert c2 / c1 < 3.5, (c1, c2)


def test_stop_band_reduces_comparisons(spark):
    """With a tiny stop threshold, boilerplate bands must be dropped and
    comparisons strictly reduced (never increased)."""
    open_cfg = ERConfig(skip_block_threshold=10**9)
    tight_cfg = ERConfig(skip_block_threshold=60)
    c_open = _comparisons(spark, 800, open_cfg)
    c_tight = _comparisons(spark, 800, tight_cfg)
    assert c_tight <= c_open


def test_salting_bounds_per_task_block(spark):
    """After triangle salting, no join task sees a group bigger than ~2*cap
    rows of one block: verify the per-salt-group row bound directly."""
    cfg = ERConfig(block_cap=50)
    fx = generate_repo_files(1500, seed=22)
    keyed = with_keys(spark.createDataFrame(fx.rows), cfg, id_col="row_id")
    blocks = block_candidates(keyed, cfg)
    census = block_census(blocks)
    hot = blocks.join(census, "block_key").filter(
        (F.col("block_size") > cfg.block_cap)
        & (F.col("block_size") <= cfg.skip_block_threshold)
    )
    if hot.isEmpty():
        return  # fixture produced no hot block at this size; nothing to check
    hot = hot.withColumn(
        "n_salt", F.ceil(F.col("block_size") / F.lit(cfg.block_cap)).cast("int")
    ).withColumn("salt", F.pmod(F.xxhash64("row_id"), F.col("n_salt")).cast("int"))
    sizes = (
        hot.groupBy("block_key", "salt").count().agg(F.max("count")).collect()[0][0]
    )
    # hash imbalance allowance: 3x the ideal cap per salt bucket
    assert sizes <= cfg.block_cap * 3, sizes
