"""Round-3 ADVICE fixes: jw_evaluated contract, visible coarse-gate clamp,
malformed-WAV errors (the WAV case lives in test_media_decoders.py)."""

import dataclasses

import pytest
from pyspark.sql import functions as F

from entitylinking_spark.operators.blocking import ERConfig, with_keys
from entitylinking_spark.operators.scoring import score_pairs
from entitylinking_spark.synthdata import generate_repo_files


@pytest.fixture(scope="module")
def scored_inputs(spark):
    fx = generate_repo_files(120, seed=3)
    cfg = ERConfig(suppress_shingle_df=None)
    keyed = with_keys(spark.createDataFrame(fx.rows), cfg, id_col="row_id")
    keyed = keyed.persist()
    ids = [r["row_id"] for r in keyed.select("row_id").limit(40).collect()]
    pairs = spark.createDataFrame(
        [(a, b, "blk") for i, a in enumerate(ids) for b in ids[i + 1:i + 3]],
        ["id_l", "id_r", "block_key"],
    )
    return keyed, pairs, cfg


class TestJwEvaluatedContract:
    def test_flag_present_and_consistent(self, spark, scored_inputs):
        keyed, pairs, cfg = scored_inputs
        out = score_pairs(pairs, keyed, cfg).persist()
        assert dict(out.dtypes)["jw_evaluated"] == "boolean"
        # pruned (name_sim null) and equal-name (name_sim 1.0 with equal
        # fnames) pairs never reach the Python kernel
        bad = out.filter(
            F.col("jw_evaluated") & F.col("name_sim").isNull()
        ).count()
        assert bad == 0
        out.unpersist()

    def test_band_reduces_jw_pairs(self, spark, scored_inputs):
        keyed, pairs, cfg = scored_inputs
        n_band = (
            score_pairs(pairs, keyed, dataclasses.replace(cfg, jw_decision_band=True))
            .filter("jw_evaluated").count()
        )
        n_full = (
            score_pairs(pairs, keyed, dataclasses.replace(cfg, jw_decision_band=False))
            .filter("jw_evaluated").count()
        )
        assert n_band <= n_full

    def test_band_off_flags_all_unequal_name_survivors(self, spark, scored_inputs):
        keyed, pairs, cfg = scored_inputs
        out = score_pairs(
            pairs, keyed, dataclasses.replace(cfg, jw_decision_band=False)
        ).persist()
        mismatch = out.filter(
            F.col("name_sim").isNotNull()
            & (F.col("name_sim") < 1.0) & ~F.col("jw_evaluated")
        ).count()
        # every survivor with non-trivial name work ran the kernel
        assert mismatch == 0
        out.unpersist()


def test_coarse_gate_clamp_warns():
    with pytest.warns(UserWarning, match="coarse gate clamped"):
        cfg = ERConfig(num_perm=8, num_bands=4, rows_per_band=2,
                       coarse_bands=16, coarse_rows=2)
    assert cfg.coarse_bands * cfg.coarse_rows <= cfg.num_perm
