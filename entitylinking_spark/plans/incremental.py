"""Incremental entity resolution over an accumulating corpus.

Extension beyond the reference (which is pure batch — SURVEY.md §2.9):
as new file snapshots arrive (e.g. from streaming/ingest.stream_keyed),
each increment resolves clusters WITHOUT re-scoring the old corpus.
`resolve_increment` is the second entry into the resolution core in
plans/pipeline.py (`resolve` is the first, a fold into an empty state):

  * it keys and materializes only the batch's rows, flags them `is_new`
    against the carried state, and hands the combined rows to the core,
    which drops old×old pairs INSIDE the block self-join, so incremental
    pair volume is ~ new×affected, not corpus²;
  * the previous clustering re-enters connected components as its star
    edges (row -> cluster min). Transitive closure of a union satisfies
    closure(closure(old) ∪ new) == closure(old ∪ new), so the incremental
    clusters equal a from-scratch batch run over the combined corpus
    (tests/test_incremental.py proves it on fixtures).

Correctness caveats (documented, enforced where cheap):
  * shingle suppression is PINNED (round-3 verdict #6): the blacklist is
    censused ONCE on the first increment and carried in IncrementalState,
    so old rows' signatures stay stable across increments AND boilerplate
    suppression survives incremental mode. The equivalence contract is
    incremental == batch-with-the-same-pinned-blacklist
    (resolve(..., blacklist=state.blacklist)); a batch run that censuses
    the grown corpus may suppress boilerplate that only became frequent
    after the first increment — recall-equivalent when boilerplate is
    present from the start, which is the license-header case the
    suppression exists for.
  * a first increment BELOW suppress_min_corpus pins an EMPTY blacklist
    (a zero-length uint64 array, not None — ADVICE r4): "censused,
    nothing suppressed" and "not computed" are different states, and only
    the former keeps the replay contract true (resolve treats
    blacklist=None as "run the census", which would re-census the grown
    corpus and change old rows' signatures). The trade is explicit:
    suppression never turns on for a corpus that STARTS small, because
    turning it on later would rewrite already-pinned signatures.
  * a block crossing skip_block_threshold only as the corpus grows was
    partially paired in earlier increments; batch would skip it entirely.
    The skip threshold marks boilerplate bands, where scored pairs are
    below tau anyway — same rationale as the batch skip.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from entitylinking_spark.operators.blocking import ERConfig, with_keys
# not called here (the core calls it through plans.pipeline), but kept as a
# name of every plan module: perfbench/spans.py wraps it in each of them
from entitylinking_spark.operators.cc import connected_components  # noqa: F401
from entitylinking_spark.plans.pipeline import _census, _resolve_core


@dataclass
class IncrementalState:
    """Accumulated resolution state between increments.

    keyed:    slim keyed rows (no content) for every row seen so far
    content:  (row_id, content) for the verify join of future increments
    clusters: current (row_id, cluster_id) assignment
    n_pairs_scored: pairs scored in the LAST increment (the new×affected
    measurement; a full batch re-run would have scored ~corpus² / blocks)
    """

    keyed: DataFrame
    content: DataFrame
    clusters: DataFrame
    n_pairs_scored: int = 0
    # shingle blacklist pinned at the FIRST increment (numpy uint64 or
    # None): reused verbatim by every later increment so old signatures
    # stay stable while boilerplate suppression stays on
    blacklist: object = field(default=None, repr=False)
    # THIS increment's materialized rows only (what resolve_increment just
    # localCheckpoint()ed) — the O(new) unit save_state appends to durable
    # stage tables. None on states reconstructed by load_state (nothing
    # new to persist).
    delta_keyed: DataFrame | None = field(default=None, repr=False)
    delta_content: DataFrame | None = field(default=None, repr=False)


def resolve_increment(
    new_files: DataFrame,
    state: IncrementalState | None = None,
    cfg: ERConfig = ERConfig(),
    id_col: str | None = None,
) -> IncrementalState:
    """Fold one batch of new rows into the resolved state.

    Returns a NEW IncrementalState whose clusters equal a from-scratch
    resolve() over all rows seen so far (same cfg, same pinned blacklist —
    see the module caveat). Only THIS increment's rows are materialized
    (localCheckpoint of new_keyed/new_content); the accumulated state is a
    lazy union over previously checkpointed increments, so per-increment
    write cost is O(new rows), not O(corpus).
    """
    if state is not None:
        blacklist = state.blacklist
    elif cfg.suppress_shingle_df is None:
        blacklist = None  # suppression disabled by config — nothing to pin
    else:
        # censused once, here, on the first increment — PINNED thereafter,
        # as an array even when empty (see the module caveat)
        blacklist = _census(new_files, cfg)
    new_keyed_full = with_keys(new_files, cfg, id_col=id_col,
                               blacklist=blacklist)
    new_keyed = new_keyed_full.drop("content").localCheckpoint(eager=True)
    new_content = (
        new_keyed_full.select("row_id", "content").localCheckpoint(eager=True)
    )

    flagged = new_keyed.withColumn("is_new", F.lit(True))
    if state is None:
        all_keyed, all_content, prior_edges = new_keyed, new_content, None
    else:
        all_keyed = state.keyed.unionByName(new_keyed)
        all_content = state.content.unionByName(new_content)
        flagged = state.keyed.withColumn("is_new", F.lit(False)).unionByName(flagged)
        prior_edges = state.clusters.filter(
            F.col("row_id") != F.col("cluster_id")
        ).select(
            F.col("cluster_id").alias("src"), F.col("row_id").alias("dst")
        )

    core = _resolve_core(flagged, all_content, cfg, prior_edges)
    for df in core.persisted:
        df.unpersist()
    # O(new) state carry (round-4 verdict #2): ONLY this increment's rows
    # were materialized (new_keyed / new_content localCheckpoints above);
    # the accumulated frames are lazy unions over the per-increment
    # checkpointed leaves, so increment k writes O(|increment k|) rows,
    # not O(corpus). The union tree grows one node per increment — plan
    # size O(#increments), each leaf already materialized. For unbounded
    # runs, compact via CheckpointStore stage tables at a cadence of the
    # caller's choosing.
    return IncrementalState(
        keyed=all_keyed,
        content=all_content,
        clusters=core.clusters,
        n_pairs_scored=core.n_pairs,
        blacklist=blacklist,
        delta_keyed=new_keyed,
        delta_content=new_content,
    )


# ---------------------------------------------------------------------------
# durable state (driver-restartable streaming; bounded in-memory plan)
# ---------------------------------------------------------------------------
#
# The in-memory IncrementalState dies with the driver, and its lazy union
# tree grows one node per increment. save_state/load_state close both with
# a log-structured layout:
#
#   * each increment's DELTA is appended (O(new rows) write — the
#     round-4-verdict discipline carried to durability) to a pair of
#     GENERATION tables (incr_state_{keyed,content}_g<N>) tagged with a
#     `_batch_id` column;
#   * every save writes the slim clusters snapshot plus a 1-row meta frame
#     as NEW stages versioned by a monotonic COMMIT SEQUENCE
#     (incr_state_meta_c<seq>); the meta records the batch id AND the
#     physical table names, and its completion marker is the atomic commit
#     point. Nothing referenced by the previous commit is touched until
#     the new commit lands, so a crash mid-save always leaves a readable
#     prior state; superseded clusters/meta versions are pruned after.
#   * compact_state() bounds the append tables' file count for unbounded
#     runs: it rewrites the committed rows into generation N+1 tables,
#     commits a meta pointing at them, then drops generation N — the same
#     write-new/commit/drop-old discipline, so compaction is crash-safe
#     too. (On the Iceberg backend, native table maintenance
#     (rewrite_data_files) is the production alternative.)
#
# Crash/replay safety (foreachBatch is at-least-once): load filters rows
# beyond the last COMMITTED batch id, and a replayed batch that re-appends
# the same delta is neutralized by a read-side dropDuplicates on row_id
# (row ids are content-keyed and unique per corpus row). That dedupe is a
# full-table shuffle, so it is SCOPED: duplicates can only exist in a
# batch whose first append attempt crashed after writing but before the
# meta commit — i.e. the first batch a restarted process folds. Such
# batches are recorded in meta as `suspect_batches` (save_state
# suspect=True, set by stream_resolve on its first post-load fold); load
# dedupes ONLY those batches' rows and unions the rest straight off the
# scan — no shuffle at all in the no-crash case. compact_state dedupes
# while rewriting and clears the list. A state reloaded from the store
# reads straight from the stage tables, so the in-memory union tree
# collapses to one scan per frame.

_ST_KEYED_GEN = "incr_state_keyed_g"  # + generation
_ST_CONTENT_GEN = "incr_state_content_g"  # + generation
_ST_CLUSTERS = "incr_state_clusters_c"  # + commit seq
_ST_META = "incr_state_meta_c"  # + commit seq


def _latest_commit(store) -> tuple[int, dict] | None:
    """(seq, meta dict) of the newest COMMITTED save, or None."""
    import json as _json

    best = None
    for st in store.list_stages(_ST_META):
        try:
            v = int(st[len(_ST_META):])
        except ValueError:
            continue
        if store.is_complete(st) and (best is None or v > best):
            best = v
    if best is None:
        return None
    row = store.read(f"{_ST_META}{best}").first()
    return best, _json.loads(row["meta_json"])


def _commit(store, spark, seq: int, meta: dict) -> None:
    """Write clusters+meta stages for commit `seq`, then prune older
    commit versions (never generation tables — compact_state owns those)."""
    import json as _json

    store.write(
        f"{_ST_META}{seq}",
        spark.createDataFrame([(_json.dumps(meta),)], "meta_json string"),
    )
    for st in store.list_stages(_ST_CLUSTERS) + store.list_stages(_ST_META):
        prefix = _ST_CLUSTERS if st.startswith(_ST_CLUSTERS) else _ST_META
        try:
            v = int(st[len(prefix):])
        except ValueError:
            continue
        if v < seq:
            store.invalidate(st)


def save_state(state: IncrementalState, store, batch_id: int,
               suspect: bool = False) -> None:
    """Persist `state` after folding batch `batch_id` (monotonically
    increasing per store — foreachBatch's batch_id with a stable streaming
    checkpoint). Write cost: O(this increment) for keyed/content appends
    plus the slim (row_id, cluster_id) snapshot — the one O(corpus) term,
    two short columns, Iceberg/Parquet-compressed.

    `suspect=True` records this batch in meta `suspect_batches`: pass it
    when a previous attempt at the SAME batch may have appended before
    crashing (stream_resolve does on its first post-load fold), so load
    dedupes exactly those batches' rows instead of shuffling the whole
    table. A first-ever commit onto a PRE-EXISTING append table (the
    crashed-before-first-commit case) is marked suspect automatically."""
    if state.delta_keyed is None or state.delta_content is None:
        raise ValueError(
            "state has no delta frames to persist (already saved/loaded?)"
        )
    bid = int(batch_id)
    prev = _latest_commit(store)
    if prev is None:
        seq, keyed_t, content_t = 0, f"{_ST_KEYED_GEN}0", f"{_ST_CONTENT_GEN}0"
        suspects = []
        # append table exists but nothing ever committed: a first-batch
        # attempt crashed mid-append — its leftovers share our batch id
        if store.list_stages(keyed_t):
            suspect = True
    else:
        seq = prev[0] + 1
        keyed_t, content_t = prev[1]["keyed_table"], prev[1]["content_table"]
        suspects = list(prev[1].get("suspect_batches", []))
    if suspect and bid not in suspects:
        suspects.append(bid)
    tag = F.lit(bid).alias("_batch_id")
    store.append(keyed_t, state.delta_keyed.select("*", tag))
    store.append(content_t, state.delta_content.select("*", tag))
    spark = state.clusters.sparkSession
    store.write(f"{_ST_CLUSTERS}{seq}", state.clusters)
    bl = state.blacklist
    _commit(store, spark, seq, {
        "batch_id": bid,
        "n_pairs_scored": int(state.n_pairs_scored),
        # uint64 grams survive JSON as arbitrary-precision ints
        "blacklist": None if bl is None else [int(x) for x in bl],
        "keyed_table": keyed_t,
        "content_table": content_t,
        "clusters_table": f"{_ST_CLUSTERS}{seq}",
        "suspect_batches": suspects,
    })


def last_saved_batch_id(store) -> int | None:
    """Newest COMMITTED batch id in the store, or None if no state saved."""
    prev = _latest_commit(store)
    return None if prev is None else prev[1]["batch_id"]


def _committed_frame(store, table: str, bid: int,
                     suspects: list[int]) -> DataFrame:
    """Committed rows of an append table. Only `suspects` batches (crash-
    replay candidates) pay a dedupe shuffle; everything else streams
    straight off the scan — in the no-crash case this is shuffle-free."""
    df = store.read(table).filter(F.col("_batch_id") <= bid)
    sus = [b for b in suspects if b <= bid]
    if sus:
        dup = df.filter(F.col("_batch_id").isin(sus)).dropDuplicates(["row_id"])
        df = df.filter(~F.col("_batch_id").isin(sus)).unionByName(dup)
    return df.drop("_batch_id")


def load_state(store, spark) -> IncrementalState | None:
    """Rebuild the accumulated state from the newest committed save, or
    None if the store holds no state. The returned frames scan the stage
    tables directly (no union tree — loading doubles as in-memory plan
    compaction for a long-running process: save, then reload)."""
    import numpy as np

    prev = _latest_commit(store)
    if prev is None:
        return None
    meta = prev[1]
    bid = meta["batch_id"]
    bl = meta["blacklist"]
    sus = meta.get("suspect_batches", [])
    return IncrementalState(
        keyed=_committed_frame(store, meta["keyed_table"], bid, sus),
        content=_committed_frame(store, meta["content_table"], bid, sus),
        clusters=store.read(meta["clusters_table"]),
        n_pairs_scored=meta["n_pairs_scored"],
        blacklist=None if bl is None else np.array(bl, dtype=np.uint64),
    )


def compact_state(store, spark) -> IncrementalState | None:
    """Rewrite the append tables into the next generation and drop the old
    one — bounds file count for unbounded streams (each micro-batch append
    leaves O(shuffle partitions) small parquet files; K batches -> O(K)
    files scanned per load until compacted). Crash-safe by the same
    write-new/commit/drop-old discipline as save_state: generation N+1 is
    fully written, a meta commit points at it, only then is generation N
    dropped. Call at any cadence (e.g. stream_resolve(compact_every=N));
    cost is one O(corpus) rewrite, amortized over the cadence. Returns the
    reloaded (compacted) state, or None if the store holds no state."""
    prev = _latest_commit(store)
    if prev is None:
        return None
    seq, meta = prev[0] + 1, dict(prev[1])
    bid = meta["batch_id"]
    old_keyed, old_content = meta["keyed_table"], meta["content_table"]
    gen = int(old_keyed[len(_ST_KEYED_GEN):]) + 1
    new_keyed, new_content = f"{_ST_KEYED_GEN}{gen}", f"{_ST_CONTENT_GEN}{gen}"
    sus = meta.get("suspect_batches", [])
    tag = F.lit(bid).alias("_batch_id")
    store.write(new_keyed,
                _committed_frame(store, old_keyed, bid, sus).select("*", tag))
    store.write(new_content,
                _committed_frame(store, old_content, bid, sus).select("*", tag))
    # clusters are already a single slim table; re-point the new commit at
    # a fresh copy so the pruning rule (commit versions < seq) stays simple
    clusters = store.read(meta["clusters_table"])
    store.write(f"{_ST_CLUSTERS}{seq}", clusters)
    # the rewrite deduped the suspect batches — the new generation is clean
    meta.update(keyed_table=new_keyed, content_table=new_content,
                clusters_table=f"{_ST_CLUSTERS}{seq}", suspect_batches=[])
    _commit(store, spark, seq, meta)
    store.invalidate(old_keyed)
    store.invalidate(old_content)
    return load_state(store, spark)
