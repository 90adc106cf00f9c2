"""Structured Streaming extension: incremental repo_files ingestion.

The reference is pure batch (SURVEY.md §2.9 — stage files, no streams).
This module is the forward-looking extension noted there: `stream_resolve`
reads new file snapshots from a Parquet directory and folds each
micro-batch into the accumulated resolution state through foreachBatch
(plans/incremental.resolve_increment), so clusters after the backlog drains
equal a batch resolve over the same corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from entitylinking_spark.operators.blocking import ERConfig
from entitylinking_spark.schemas import REPO_FILES


def stream_resolve(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    cfg: ERConfig = ERConfig(),
    id_col: str | None = None,
    state_holder: dict | None = None,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    store=None,
    compact_every: int | None = None,
):
    """Streaming -> incremental-ER bridge (round-4 verdict #6): each
    arriving micro-batch of raw repo files is folded into the accumulated
    resolution state via plans/incremental.resolve_increment, so streaming
    ingest and incremental entity resolution compose end-to-end — clusters
    after the backlog drains equal a batch resolve over the same corpus
    (tests/test_streaming.py::test_stream_resolve_equals_batch).

    foreachBatch is the right seam: resolve_increment needs multi-stage
    batch semantics (self-join, connected components) that no streaming
    operator expresses, and foreachBatch hands each micro-batch over as a
    plain DataFrame with exactly-once file tracking from the streaming
    checkpoint. Returns (query, state_holder); state_holder["state"] is
    the latest IncrementalState after the query drains.

    Durability (round-5): pass `store` (a CheckpointStore) to make the
    STATE restartable too — each folded batch is persisted via
    plans/incremental.save_state (O(batch) appends + slim versioned
    clusters/meta commit), a fresh call on the same store resumes from
    load_state, and already-persisted batch ids are skipped when the
    at-least-once foreachBatch replays one. `store` and `checkpoint_dir`
    are a PAIRED unit: foreachBatch batch ids restart from 0 with a fresh
    streaming checkpoint, so retain or discard both together. The holder's
    state is swapped to the table-backed reload after every save, so the
    in-memory plan stays one-scan deep no matter how many batches stream
    through. `compact_every=N` additionally rewrites the on-disk append
    tables into a fresh generation every N folded batches, bounding
    small-file accumulation on unbounded streams (incremental.py
    compact_state — crash-safe write-new/commit/drop-old).

    Without `store`, the IncrementalState lives in driver memory only and
    this function is the single-process bridge.
    """
    from entitylinking_spark.plans.incremental import (
        compact_state,
        last_saved_batch_id,
        load_state,
        resolve_increment,
        save_state,
    )

    holder = state_holder if state_holder is not None else {}
    if store is not None and store.enabled and "state" not in holder:
        loaded = load_state(store, spark)
        if loaded is not None:
            holder["state"] = loaded
            holder["last_saved_batch_id"] = last_saved_batch_id(store)
            # the first batch folded after a restart may be a replay whose
            # previous attempt appended before crashing — mark it suspect
            # so load dedupes exactly that batch (incremental.py notes;
            # the no-prior-commit crash case is auto-detected by
            # save_state itself)
            holder["_replay_suspect"] = True
    reader = spark.readStream.schema(REPO_FILES)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = reader.parquet(input_dir)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        last = holder.get("last_saved_batch_id")
        if last is not None and batch_id <= last:
            return  # at-least-once replay of an already-persisted batch
        holder["state"] = resolve_increment(
            batch_df, holder.get("state"), cfg, id_col=id_col
        )
        holder["n_batches"] = holder.get("n_batches", 0) + 1
        if store is not None and store.enabled:
            save_state(holder["state"], store, batch_id,
                       suspect=holder.pop("_replay_suspect", False))
            holder["last_saved_batch_id"] = batch_id
            if compact_every and holder["n_batches"] % compact_every == 0:
                # rewrite the append tables into the next generation so
                # file count stays bounded on unbounded streams; the
                # returned state IS the reload below
                holder["state"] = compact_state(store, spark)
            else:
                # table-backed reload: collapses the in-memory union tree
                # and leaves delta frames None — the delta is saved, and
                # a second save_state on this state should loudly refuse
                holder["state"] = load_state(store, spark)

    writer = src.writeStream.foreachBatch(fold).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start(), holder
