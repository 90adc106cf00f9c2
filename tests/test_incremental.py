"""Incremental resolution == batch resolution, at a fraction of the pairs."""

import dataclasses

import pytest
from pyspark.sql import functions as F

from entitylinking_spark.operators.blocking import ERConfig
from entitylinking_spark.plans.incremental import resolve_increment
from entitylinking_spark.plans.pipeline import resolve
from entitylinking_spark.synthdata import generate_repo_files

CFG = ERConfig(suppress_shingle_df=None)


@pytest.fixture(scope="module")
def fixture():
    return generate_repo_files(400, seed=11)


def _batch_clusters(spark, rows):
    df = spark.createDataFrame(rows)
    res = resolve(df, CFG, id_col="row_id", collect_metrics=False)
    out = sorted((r["row_id"], r["cluster_id"]) for r in res.clusters.collect())
    res.unpersist()
    return out


def test_two_increments_equal_batch(spark, fixture):
    rows = fixture.rows
    split = int(len(rows) * 0.6)
    b1, b2 = rows.iloc[:split], rows.iloc[split:]

    s1 = resolve_increment(spark.createDataFrame(b1), None, CFG, id_col="row_id")
    s2 = resolve_increment(spark.createDataFrame(b2), s1, CFG, id_col="row_id")
    inc = sorted((r["row_id"], r["cluster_id"]) for r in s2.clusters.collect())

    assert inc == _batch_clusters(spark, rows)


def test_three_increments_equal_batch(spark, fixture):
    rows = fixture.rows
    a, b = int(len(rows) * 0.4), int(len(rows) * 0.7)
    state = None
    for chunk in (rows.iloc[:a], rows.iloc[a:b], rows.iloc[b:]):
        state = resolve_increment(spark.createDataFrame(chunk), state, CFG, id_col="row_id")
    inc = sorted((r["row_id"], r["cluster_id"]) for r in state.clusters.collect())
    assert inc == _batch_clusters(spark, rows)


def test_incremental_pair_volume_is_new_involving(spark, fixture):
    """The second increment must score far fewer pairs than a batch re-run
    over the combined corpus (old×old killed inside the join)."""
    rows = fixture.rows
    split = int(len(rows) * 0.8)  # small second batch
    s1 = resolve_increment(spark.createDataFrame(rows.iloc[:split]), None, CFG, id_col="row_id")
    s2 = resolve_increment(spark.createDataFrame(rows.iloc[split:]), s1, CFG, id_col="row_id")

    df = spark.createDataFrame(rows)
    res = resolve(df, CFG, id_col="row_id", collect_metrics=False)
    batch_pairs = res.scored_pairs.count()
    res.unpersist()

    assert s2.n_pairs_scored < batch_pairs * 0.6, (
        f"increment scored {s2.n_pairs_scored} vs batch {batch_pairs}"
    )
    # batch and fold run the same core: one fold of every row == batch
    assert resolve_increment(df, None, CFG, id_col="row_id").n_pairs_scored == batch_pairs


def test_pinned_suppression_equals_batch(spark, fixture):
    """Round-3 verdict #6: the blacklist is censused once on the FIRST
    increment, pinned in IncrementalState, and reused by later increments —
    boilerplate suppression survives incremental mode AND old signatures
    stay stable. Equivalence contract: incremental == batch run with the
    SAME pinned blacklist (resolve(..., blacklist=...))."""
    cfg = dataclasses.replace(
        CFG, suppress_shingle_df=0.02, suppress_min_corpus=0,
        suppress_sample=1.0, suppress_min_df=4,
    )
    rows = fixture.rows
    split = int(len(rows) * 0.6)

    s1 = resolve_increment(spark.createDataFrame(rows.iloc[:split]), None, cfg,
                           id_col="row_id")
    assert s1.blacklist is not None and len(s1.blacklist) > 0, (
        "boilerplate fixture must produce a non-empty pinned blacklist"
    )
    s2 = resolve_increment(spark.createDataFrame(rows.iloc[split:]), s1, cfg,
                           id_col="row_id")
    assert s2.blacklist is s1.blacklist  # pinned, not re-censused
    inc = sorted((r["row_id"], r["cluster_id"]) for r in s2.clusters.collect())

    df = spark.createDataFrame(rows)
    res = resolve(df, cfg, id_col="row_id", collect_metrics=False,
                  blacklist=s1.blacklist)
    batch = sorted((r["row_id"], r["cluster_id"]) for r in res.clusters.collect())
    res.unpersist()
    assert inc == batch


def test_pinned_empty_below_gate_equals_batch(spark, fixture):
    """ADVICE r4: a first increment below suppress_min_corpus must pin an
    EMPTY blacklist (censused-nothing), not None (not-computed) — with
    None pinned, the documented replay resolve(..., blacklist=state.
    blacklist) re-censuses the GROWN corpus (which crossed the gate) and
    the incremental==batch contract silently breaks."""
    cfg = dataclasses.replace(
        CFG, suppress_shingle_df=0.02, suppress_min_corpus=300,
        suppress_sample=1.0, suppress_min_df=4,
    )
    rows = fixture.rows
    split = int(len(rows) * 0.6)  # 240 < gate(300) < total(400)

    s1 = resolve_increment(spark.createDataFrame(rows.iloc[:split]), None, cfg,
                           id_col="row_id")
    assert s1.blacklist is not None and len(s1.blacklist) == 0, (
        "below-gate first increment must pin an EMPTY blacklist, not None"
    )
    s2 = resolve_increment(spark.createDataFrame(rows.iloc[split:]), s1, cfg,
                           id_col="row_id")
    assert s2.blacklist is s1.blacklist
    inc = sorted((r["row_id"], r["cluster_id"]) for r in s2.clusters.collect())

    # the replay honors the pin: no census even though the combined corpus
    # is over the gate (blacklist is not None -> resolve skips the census)
    df = spark.createDataFrame(rows)
    res = resolve(df, cfg, id_col="row_id", collect_metrics=False,
                  blacklist=s2.blacklist)
    batch = sorted((r["row_id"], r["cluster_id"]) for r in res.clusters.collect())
    res.unpersist()
    assert inc == batch


def test_increment_writes_o_new_not_o_corpus(spark, fixture, monkeypatch):
    """Round-4 verdict #2: increment k must materialize O(|increment k|)
    keyed rows, not the full accumulated corpus. Spy on localCheckpoint and
    count the rows of every checkpointed frame that carries a minhash
    column (the keyed state frames)."""
    # patch the CONCRETE DataFrame class (pyspark>=4 instances are
    # classic.dataframe.DataFrame; patching the abstract base is a no-op)
    cls = type(spark.range(1))
    recorded = []
    orig = cls.localCheckpoint

    def spy(self, eager=True):
        out = orig(self, eager=eager)
        if "minhash" in self.columns:
            recorded.append(out.count())
        return out

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    rows = fixture.rows
    split = int(len(rows) * 0.8)
    s1 = resolve_increment(spark.createDataFrame(rows.iloc[:split]), None, CFG,
                           id_col="row_id")
    recorded.clear()
    s2 = resolve_increment(spark.createDataFrame(rows.iloc[split:]), s1, CFG,
                           id_col="row_id")
    n_new = len(rows) - split
    assert sum(recorded) == n_new, (
        f"increment 2 materialized {sum(recorded)} keyed rows, "
        f"expected O(new)={n_new} (O(corpus) would be {len(rows)})"
    )
    # the O(new) carry must not cost correctness
    inc = sorted((r["row_id"], r["cluster_id"]) for r in s2.clusters.collect())
    assert inc == _batch_clusters(spark, rows)


def test_pinned_suppression_cuts_pairs(spark):
    """The boilerplate-suppression win is preserved in incremental mode:
    on a corpus dominated by a shared header (the license-header scenario
    suppression exists for), the same second increment scores fewer pairs
    with the pinned blacklist than with suppression off."""
    import hashlib

    import pandas as pd

    header = " ".join(f"licensetok{i}" for i in range(120))
    rows = []
    for c in range(30):
        for m in range(2):
            body = " ".join(f"body{c}x{j}" for j in range(10))
            rows.append({
                "row_id": f"r{c:03d}{m}",
                "repo": f"org/repo{c}",
                "path": f"src/f{c}_{m}.py",
                "commit": hashlib.sha256(f"{c}:{m}".encode()).hexdigest()[:40],
                "lang": "python",
                "content": f"{header}\n{body} variant{m}",
            })
    rows = pd.DataFrame(rows)
    split = 40
    cfg_on = dataclasses.replace(
        CFG, suppress_shingle_df=0.02, suppress_min_corpus=0,
        suppress_sample=1.0, suppress_min_df=4,
    )

    def second_increment_pairs(cfg):
        s1 = resolve_increment(spark.createDataFrame(rows.iloc[:split]), None,
                               cfg, id_col="row_id")
        s2 = resolve_increment(spark.createDataFrame(rows.iloc[split:]), s1,
                               cfg, id_col="row_id")
        return s2.n_pairs_scored

    with_suppression = second_increment_pairs(cfg_on)
    without = second_increment_pairs(CFG)
    assert with_suppression < without, (
        f"pinned suppression: {with_suppression} pairs, off: {without}"
    )


# ---------------------------------------------------------------------------
# durable state (save_state / load_state)
# ---------------------------------------------------------------------------


def test_state_save_load_roundtrip(spark, fixture, tmp_path):
    """Save after increment 2, reload (a 'restarted driver'), fold
    increment 3 onto the LOADED state: clusters equal a batch resolve over
    all rows — keyed/content/clusters/blacklist all survive the store."""
    from entitylinking_spark.checkpoint import CheckpointStore
    from entitylinking_spark.plans.incremental import load_state, save_state

    rows = fixture.rows
    a, b = int(len(rows) * 0.4), int(len(rows) * 0.7)
    store = CheckpointStore(str(tmp_path / "state"), spark)

    s1 = resolve_increment(spark.createDataFrame(rows.iloc[:a]), None, CFG, id_col="row_id")
    save_state(s1, store, 0)
    s2 = resolve_increment(spark.createDataFrame(rows.iloc[a:b]), s1, CFG, id_col="row_id")
    save_state(s2, store, 1)

    loaded = load_state(store, spark)
    assert loaded is not None
    assert loaded.n_pairs_scored == s2.n_pairs_scored
    # a loaded state has nothing new to persist — save must refuse loudly
    with pytest.raises(ValueError, match="delta"):
        save_state(loaded, store, 2)

    s3 = resolve_increment(spark.createDataFrame(rows.iloc[b:]), loaded, CFG, id_col="row_id")
    inc = sorted((r["row_id"], r["cluster_id"]) for r in s3.clusters.collect())
    assert inc == _batch_clusters(spark, rows)


def test_state_save_appends_o_new(spark, fixture, tmp_path):
    """Increment k appends exactly |increment k| rows to the durable keyed
    table (never a rewrite of the accumulated corpus), and superseded
    versioned clusters/meta stages are pruned after each commit."""
    from entitylinking_spark.checkpoint import CheckpointStore
    from entitylinking_spark.plans.incremental import save_state

    rows = fixture.rows
    a = int(len(rows) * 0.8)
    store = CheckpointStore(str(tmp_path / "state"), spark)

    s1 = resolve_increment(spark.createDataFrame(rows.iloc[:a]), None, CFG, id_col="row_id")
    save_state(s1, store, 0)
    s2 = resolve_increment(spark.createDataFrame(rows.iloc[a:]), s1, CFG, id_col="row_id")
    save_state(s2, store, 1)

    keyed = store.read("incr_state_keyed_g0")
    n_b0 = keyed.filter(F.col("_batch_id") == 0).count()
    n_b1 = keyed.filter(F.col("_batch_id") == 1).count()
    assert n_b0 == a
    assert n_b1 == len(rows) - a  # O(new), not O(corpus)
    stages = store.list_stages("incr_state_")
    assert "incr_state_clusters_c1" in stages
    assert "incr_state_clusters_c0" not in stages  # pruned after commit
    assert "incr_state_meta_c0" not in stages


def test_state_load_skips_uncommitted_and_replayed_rows(spark, fixture, tmp_path):
    """Crash/replay model: rows appended for a batch whose meta never
    committed are invisible to load_state, and a replayed append of the
    SAME batch (at-least-once foreachBatch) does not duplicate rows."""
    from entitylinking_spark.checkpoint import CheckpointStore
    from entitylinking_spark.plans.incremental import load_state, save_state

    rows = fixture.rows
    a = int(len(rows) * 0.6)
    store = CheckpointStore(str(tmp_path / "state"), spark)

    s1 = resolve_increment(spark.createDataFrame(rows.iloc[:a]), None, CFG, id_col="row_id")
    save_state(s1, store, 0)
    # crash mid-save of batch 1: delta appended, meta never written
    tag = F.lit(1).alias("_batch_id")
    s2 = resolve_increment(spark.createDataFrame(rows.iloc[a:]), s1, CFG, id_col="row_id")
    store.append("incr_state_keyed_g0", s2.delta_keyed.select("*", tag))
    store.append("incr_state_content_g0", s2.delta_content.select("*", tag))

    loaded = load_state(store, spark)
    assert loaded.keyed.count() == a  # uncommitted batch-1 rows filtered
    # the clean commit has no suspect batches -> load is shuffle-free
    plan = loaded.keyed._jdf.queryExecution().analyzed().toString()
    assert "Deduplicate" not in plan

    # replay lands the same batch 1 again, this time committing; the
    # restarted driver marks the replayed batch suspect (stream_resolve's
    # first post-load fold) so load dedupes exactly that batch
    save_state(s2, store, 1, suspect=True)
    loaded2 = load_state(store, spark)
    assert loaded2.keyed.count() == len(rows)  # dup appends collapse
    assert loaded2.content.count() == len(rows)
    plan2 = loaded2.keyed._jdf.queryExecution().analyzed().toString()
    assert "Deduplicate" in plan2  # scoped to the suspect batch

    # compaction rewrites clean and clears the suspect list
    from entitylinking_spark.plans.incremental import compact_state

    compacted = compact_state(store, spark)
    assert compacted.keyed.count() == len(rows)
    plan3 = compacted.keyed._jdf.queryExecution().analyzed().toString()
    assert "Deduplicate" not in plan3


def test_first_commit_onto_crashed_appends_is_suspect(spark, fixture, tmp_path):
    """A first-ever batch whose previous attempt appended but never
    committed (store has the table, no meta) must be auto-marked suspect
    by save_state, so the committed load dedupes the leftovers."""
    from entitylinking_spark.checkpoint import CheckpointStore
    from entitylinking_spark.plans.incremental import load_state, save_state

    rows = fixture.rows.iloc[:120]
    store = CheckpointStore(str(tmp_path / "state"), spark)
    s1 = resolve_increment(spark.createDataFrame(rows), None, CFG, id_col="row_id")
    tag = F.lit(0).alias("_batch_id")
    # crashed first attempt: appends landed, no commit
    store.append("incr_state_keyed_g0", s1.delta_keyed.select("*", tag))
    store.append("incr_state_content_g0", s1.delta_content.select("*", tag))
    assert load_state(store, spark) is None  # nothing committed yet

    save_state(s1, store, 0)  # replayed attempt commits
    loaded = load_state(store, spark)
    assert loaded.keyed.count() == len(rows)
    assert loaded.content.count() == len(rows)


def test_compact_state_bounds_files_and_preserves_results(spark, fixture, tmp_path):
    """compact_state rewrites the append tables into the next generation:
    the old generation is dropped, the parquet file count shrinks, and a
    further increment folded onto the compacted state still equals batch."""
    import os

    from entitylinking_spark.checkpoint import CheckpointStore
    from entitylinking_spark.plans.incremental import (
        compact_state,
        load_state,
        save_state,
    )

    rows = fixture.rows
    a, b = int(len(rows) * 0.4), int(len(rows) * 0.7)
    root = tmp_path / "state"
    store = CheckpointStore(str(root), spark)

    state = None
    for i, chunk in enumerate((rows.iloc[:a], rows.iloc[a:b])):
        state = resolve_increment(spark.createDataFrame(chunk), state, CFG, id_col="row_id")
        save_state(state, store, i)

    def n_files(stage):
        d = root / stage
        return sum(1 for f in os.listdir(d) if f.endswith(".parquet")) if d.exists() else 0

    files_before = n_files("incr_state_keyed_g0")
    compacted = compact_state(store, spark)
    stages = store.list_stages("incr_state_")
    assert "incr_state_keyed_g1" in stages and "incr_state_keyed_g0" not in stages
    assert "incr_state_content_g1" in stages and "incr_state_content_g0" not in stages
    assert n_files("incr_state_keyed_g1") < files_before
    assert compacted.keyed.count() == b
    # reload agrees with the compacted view
    assert load_state(store, spark).content.count() == b

    s3 = resolve_increment(spark.createDataFrame(rows.iloc[b:]), compacted, CFG, id_col="row_id")
    inc = sorted((r["row_id"], r["cluster_id"]) for r in s3.clusters.collect())
    assert inc == _batch_clusters(spark, rows)
