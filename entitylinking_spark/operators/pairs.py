"""Candidate-pair generation: salted self-join on block keys.

The reference probes in-memory indexes per mention (a driver-side broadcast
hash join — /root/reference/Sparkle/core.py:100-120). At 10^12-file scale
that becomes a distributed self-join of the block table with explicit skew
handling (SURVEY.md §4 "Skew handling" — absent in the reference):

  * blocks of size <= block_cap       : plain equi self-join on block_key
  * blocks of size  > block_cap       : TRIANGLE-SALTED join — each row gets
    a salt s in [0,S), S = ceil(size/cap), and is replicated to the S salt
    groups {(min(s,v), max(s,v)) : v in 0..S-1}; within group (u,v) a pair
    is emitted only when its two salts are exactly {u,v}. Every unordered
    pair lands in exactly one group, and no join task sees more than
    ~2*cap rows of a hot block.
  * blocks of size  > skip_threshold  : dropped (boilerplate/license bands);
    counted in metrics — the reference has no analogue, it would just hang.

A pair may be found under several block keys (different bands); it is
deduplicated by (id_l, id_r) keeping the lexicographically first block key
(deterministic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from entitylinking_spark.metrics import census_aggregates, observed
from entitylinking_spark.operators.blocking import ERConfig, block_census


def candidate_pairs(blocks: DataFrame, cfg: ERConfig = ERConfig(),
                    census: DataFrame | None = None,
                    observation: Observation | None = None) -> DataFrame:
    """(block_key,row_id[,n_units]) -> distinct (id_l,id_r,block_key), id_l < id_r.

    `census`: the block_census of `blocks`, when the caller builds it as
    its own layer (resolve's core does, so a tracer wrapping
    `block_census` can time and count it); computed here otherwise.

    `observation`: optional sink for the census_aggregates, collected by
    the sized-table checkpoint below; no output depends on it.

    When the blocks frame carries `n_units` (distinct verify-space unit
    count per row, from with_keys), pairs whose unit-count ratio is below
    cfg.len_ratio_floor are dropped INSIDE the join, before the dedup
    shuffle: J(A,B) <= min(|A|,|B|)/max(|A|,|B|), so such pairs provably
    cannot reach tau — a sound prune, unlike the sketch prescreen. The
    soundness argument requires the match decision to use the EXACT
    verify-space Jaccard; cfg.len_ratio_floor therefore evaluates to 0
    when cfg.verify_jaccard is False unless min_len_ratio was set
    explicitly (ADVICE r2).
    """
    has_units = "n_units" in blocks.columns
    # is_new column (incremental resolution): only pairs with at least one
    # new side are emitted — old×old pairs were already resolved in a prior
    # increment, and dropping them INSIDE the join (not after the dedup
    # shuffle) keeps incremental cost ~ new×affected, not corpus².
    has_new = "is_new" in blocks.columns
    ratio = cfg.len_ratio_floor if has_units else 0.0
    cols = (["block_key", "row_id"] + (["n_units"] if has_units else [])
            + (["is_new"] if has_new else []))

    def ratio_ok():
        if ratio <= 0:
            return F.lit(True)
        lo = F.least(F.col("l.n_units"), F.col("r.n_units")).cast("double")
        hi = F.greatest(F.col("l.n_units"), F.col("r.n_units")).cast("double")
        return (hi <= 0) | (lo >= F.lit(ratio) * hi)

    def new_ok():
        if not has_new:
            return F.lit(True)
        return F.col("l.is_new") | F.col("r.is_new")

    if census is None:
        census = block_census(blocks.select("block_key", "row_id"))
    obs = observation or Observation()
    census = census.observe(
        obs, *census_aggregates(cfg.block_cap, cfg.skip_block_threshold))
    # Round 6: materialize the sized block table ONCE — the small and hot
    # branches both filter it, and unpersisted each branch re-ran the
    # census join (two extra shuffles of the full block table per call).
    # The frame is slim (key, id, size [, units/new]); the checkpoint is
    # one job over data that was about to be shuffled anyway.
    sized = blocks.join(census, "block_key").filter(
        (F.col("block_size") > 1) & (F.col("block_size") <= cfg.skip_block_threshold)
    ).localCheckpoint(eager=True)

    small = sized.filter(F.col("block_size") <= cfg.block_cap).select(*cols)
    l = small.alias("l")
    r = small.alias("r")
    small_pairs = (
        l.join(r, on="block_key")
        .filter(F.col("l.row_id") < F.col("r.row_id"))
        .filter(new_ok())
        .filter(ratio_ok())
        .select(
            F.col("l.row_id").alias("id_l"),
            F.col("r.row_id").alias("id_r"),
            F.col("block_key"),
        )
    )

    hot = sized.filter(F.col("block_size") > cfg.block_cap)
    # Hot-branch gate (round 6): with auto-sized blocking most corpora have
    # NO hot blocks, yet the triangle-salt subtree (explode + 2-key join +
    # union) still costs ~1.5 s of empty-stage scheduling per call. The
    # census observation, collected by the checkpoint above, decides with no
    # job of its own (null n_hot: no blocks at all); results are identical
    # either way (the skipped subtree would have produced zero rows).
    if not observed(obs).get("n_hot"):
        return (
            small_pairs.groupBy("id_l", "id_r")
            .agg(F.min("block_key").alias("block_key"))
        )
    # salt in [0, S); S per-block from the census
    hot = hot.withColumn(
        "n_salt", F.ceil(F.col("block_size") / F.lit(cfg.block_cap)).cast("int")
    ).withColumn("salt", F.pmod(F.xxhash64("row_id"), F.col("n_salt")).cast("int"))
    # replicate each row to every salt group that contains its salt
    hot = hot.withColumn(
        "grp",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.col("n_salt") - 1),
                lambda v: F.struct(
                    F.least(F.col("salt"), v).alias("u"),
                    F.greatest(F.col("salt"), v).alias("v"),
                ),
            )
        ),
    ).select(*cols, "salt", "grp")
    hl = hot.alias("l")
    hr = hot.alias("r")
    hot_pairs = (
        hl.join(hr, on=["block_key", "grp"])
        .filter(F.col("l.row_id") < F.col("r.row_id"))
        # emit only in the one group that equals the pair's salt set
        .filter(
            (
                (F.col("l.salt") == F.col("grp.u")) & (F.col("r.salt") == F.col("grp.v"))
            )
            | (
                (F.col("l.salt") == F.col("grp.v")) & (F.col("r.salt") == F.col("grp.u"))
            )
        )
        .filter(new_ok())
        .filter(ratio_ok())
        .select(
            F.col("l.row_id").alias("id_l"),
            F.col("r.row_id").alias("id_r"),
            F.col("block_key"),
        )
    )

    return (
        small_pairs.unionByName(hot_pairs)
        .groupBy("id_l", "id_r")
        .agg(F.min("block_key").alias("block_key"))
    )

