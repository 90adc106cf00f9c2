"""Regression tests for the round-2 ADVICE findings.

1. len_ratio prune is disabled in estimate mode (verify_jaccard=False) —
   the min/max unit-count bound only holds for the exact verify Jaccard.
2. ERConfig clamps (not raises) the coarse name-channel gate when
   num_perm is too small for the defaults; resolve() with num_perm=16
   runs end to end on the clamped config.
3. score_pairs' equal-name split is null-safe: a pair with a NULL fname
   is scored, not silently dropped from both branches.
"""

import pytest
from pyspark.sql import functions as F

from entitylinking_spark.operators.blocking import ERConfig, with_keys
from entitylinking_spark.operators.pairs import candidate_pairs
from entitylinking_spark.operators.scoring import score_pairs


def test_len_ratio_floor_disabled_in_estimate_mode():
    verified = ERConfig(verify_jaccard=True)
    estimate = ERConfig(verify_jaccard=False)
    assert verified.len_ratio_floor > 0.4
    assert estimate.len_ratio_floor == 0.0
    # explicit opt-in still honored regardless of mode
    assert ERConfig(verify_jaccard=False, min_len_ratio=0.3).len_ratio_floor == 0.3


def test_estimate_mode_keeps_short_long_pairs(spark):
    """With verify_jaccard=False a 2-unit vs 100-unit pair must survive the
    join (the MinHash estimate, not the exact J, decides the match)."""
    rows = [("b", "r1", 2), ("b", "r2", 100)]
    blocks = spark.createDataFrame(rows, ["block_key", "row_id", "n_units"])
    kept = candidate_pairs(blocks, ERConfig(verify_jaccard=False)).count()
    dropped = candidate_pairs(blocks, ERConfig(verify_jaccard=True)).count()
    assert kept == 1
    assert dropped == 0


def test_erconfig_clamps_coarse_gate_to_num_perm():
    cfg = ERConfig(num_perm=16, num_bands=8, rows_per_band=2)
    assert cfg.coarse_bands * cfg.coarse_rows <= cfg.num_perm
    assert cfg.coarse_bands >= 1 and cfg.coarse_rows >= 1
    # defaults untouched when they already fit
    dflt = ERConfig()
    assert (dflt.coarse_bands, dflt.coarse_rows) == (16, 2)


def test_resolve_small_num_perm_runs(spark):
    """A clamped coarse gate resolves end to end: one label per row, and on
    this fixture the same clusters as the default config."""
    from entitylinking_spark.plans.pipeline import resolve
    from entitylinking_spark.synthdata import generate_repo_files

    df = spark.createDataFrame(generate_repo_files(60, seed=42).rows)
    with pytest.warns(UserWarning, match="coarse gate clamped"):
        small = ERConfig(num_perm=16, num_bands=8, rows_per_band=2,
                         suppress_shingle_df=None)
    rows = resolve(df, small, id_col="row_id").clusters.collect()
    assert len(rows) == len({r["row_id"] for r in rows}) == 60
    want = resolve(df, ERConfig(), id_col="row_id").clusters.collect()
    assert dict(map(tuple, rows)) == dict(map(tuple, want))


def test_null_fname_pair_not_dropped(spark):
    """ADVICE r2: fname NULL made both branch predicates NULL -> pair lost."""
    rows = [
        {"repo": "r", "path": None, "commit": "c", "lang": "py",
         "content": "shared identical content body", "row_id": "a"},
        {"repo": "r", "path": "src/x.py", "commit": "c", "lang": "py",
         "content": "shared identical content body", "row_id": "b"},
    ]
    df = spark.createDataFrame(rows)
    cfg = ERConfig(suppress_shingle_df=None)
    keyed = with_keys(df, cfg, id_col="row_id")
    pairs = spark.createDataFrame([("a", "b", 1)], ["id_l", "id_r", "block_key"])
    scored = score_pairs(pairs, keyed, cfg).collect()
    assert len(scored) == 1
    assert scored[0]["name_sim"] is not None
    assert scored[0]["score"] == pytest.approx(
        cfg.w_name * scored[0]["name_sim"] + cfg.w_content * 1.0
    )
