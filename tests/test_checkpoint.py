"""CheckpointStore semantics: markers, resume, invalidation."""

from entitylinking_spark.checkpoint import CheckpointStore


def test_disabled_store_passthrough(spark):
    store = CheckpointStore(None, spark)
    df = spark.range(3)
    assert store.write("s", df) is df
    assert not store.is_complete("s")
    assert not store.enabled


def test_write_marks_complete_and_rereads(spark, tmp_path):
    store = CheckpointStore(str(tmp_path / "ck"), spark)
    df = spark.range(5).withColumnRenamed("id", "row_id")
    out = store.write("stage1", df)
    assert store.is_complete("stage1")
    assert out.count() == 5
    # returned frame reads from disk (lineage truncated to a scan)
    assert "stage1" in out.inputFiles()[0]


def test_get_or_compute_skips_complete_stage(spark, tmp_path):
    store = CheckpointStore(str(tmp_path / "ck"), spark)
    calls = []

    def compute():
        calls.append(1)
        return spark.range(4).withColumnRenamed("id", "row_id")

    a = store.get_or_compute("s", compute)
    b = store.get_or_compute("s", compute)
    assert len(calls) == 1
    assert a.count() == b.count() == 4


def test_incomplete_stage_recomputed(spark, tmp_path):
    """A stage dir without its marker (killed mid-write) must recompute."""
    import os
    root = str(tmp_path / "ck")
    store = CheckpointStore(root, spark)
    store.write("s", spark.range(2).withColumnRenamed("id", "row_id"))
    os.remove(os.path.join(root, "s", "_STAGE_COMPLETE"))
    assert not store.is_complete("s")
    out = store.get_or_compute(
        "s", lambda: spark.range(9).withColumnRenamed("id", "row_id")
    )
    assert out.count() == 9


def test_invalidate(spark, tmp_path):
    store = CheckpointStore(str(tmp_path / "ck"), spark)
    store.write("s", spark.range(2))
    store.invalidate("s")
    assert not store.is_complete("s")


def test_stale_checkpoint_invalidated_on_config_change(spark, tmp_path):
    """Resume keys on a config/input fingerprint, not the stage name alone:
    re-running with a different ERConfig recomputes instead of silently
    returning stale stage tables (round-1 advice)."""
    from entitylinking_spark.operators.blocking import ERConfig
    from entitylinking_spark.plans.pipeline import resolve
    from entitylinking_spark.synthdata import generate_repo_files

    fx = generate_repo_files(60, seed=5)
    df = spark.createDataFrame(fx.rows)
    ckpt = str(tmp_path / "ckpt")

    r1 = resolve(df, ERConfig(tau=0.6), id_col="row_id",
                 checkpoint_dir=ckpt, collect_metrics=False)
    n1 = r1.scored_pairs.count()
    assert n1 >= 0

    # tau=0.99: near-dup edges vanish -> different clusters REQUIRED; with
    # name-only resume the old clusters table would be returned verbatim
    r2 = resolve(df, ERConfig(tau=0.99), id_col="row_id",
                 checkpoint_dir=ckpt, collect_metrics=False)
    c2 = {r["row_id"]: r["cluster_id"] for r in r2.clusters.collect()}
    truth_pairs = {(a, b) for a, b, _, m in fx.labeled_pairs.itertuples(index=False) if m}
    # at tau=0.99 only exact duplicates may share a cluster; chain-mutated
    # members must split -> at least one labeled positive pair separated
    split = sum(1 for a, b in truth_pairs if c2.get(a) != c2.get(b))
    assert split > 0

    # and a THIRD run with the original config recomputes again (marker now
    # carries the tau=0.99 fingerprint) and reproduces run 1
    r3 = resolve(df, ERConfig(tau=0.6), id_col="row_id",
                 checkpoint_dir=ckpt, collect_metrics=False)
    assert r3.scored_pairs.count() == n1


def test_contract_version_invalidates_old_checkpoints(spark, tmp_path):
    """A checkpoint dir written under an older stage contract must
    recompute, not resume: round 4 added jw_evaluated to pairs_scored, and
    resuming a round-3 dir would read back a stage table the current
    metrics path can't consume."""
    from unittest import mock

    import entitylinking_spark.plans.pipeline as pl
    from entitylinking_spark.operators.blocking import ERConfig
    from entitylinking_spark.plans.pipeline import resolve
    from entitylinking_spark.synthdata import generate_repo_files

    fx = generate_repo_files(80, seed=13)
    df = spark.createDataFrame(fx.rows)
    cfg = ERConfig(suppress_shingle_df=None)
    ckpt = str(tmp_path / "ck")

    with mock.patch.object(pl, "_STAGE_CONTRACT_VERSION", 1):
        r_old = resolve(df, cfg, id_col="row_id", checkpoint_dir=ckpt,
                        collect_metrics=False)
        old = sorted((r["row_id"], r["cluster_id"]) for r in r_old.clusters.collect())
    # the stage written under the old contract is stale under the current one
    assert not pl.CheckpointStore(ckpt, spark).is_complete(
        "blocks", fingerprint=pl._fingerprint(cfg, df, "row_id"))

    # current contract: every stage marker is stale -> full recompute, and
    # the new-schema column is present end to end
    r_new = resolve(df, cfg, id_col="row_id", checkpoint_dir=ckpt,
                    collect_metrics=False)
    assert "jw_evaluated" in r_new.scored_pairs.columns
    new = sorted((r["row_id"], r["cluster_id"]) for r in r_new.clusters.collect())
    assert new == old
