"""Custom stateful streaming operators via applyInPandasWithState.

The engine's other streaming path keeps cross-batch state in a SINK
table (stream_resolve's checkpointed IncrementalState). This module is
the second idiom the stack offers —
state held in Spark's own state store, keyed by group, surviving
restarts through the streaming checkpoint — for operators whose state is
small per key and touched on every batch (reference dedupe loop:
/root/reference/OneNet/data_process.py:137-239 dedupes per file;
merge_shards_first_seen is the batch twin).

stream_first_seen_dedup: emit each key's FIRST occurrence exactly once
across all micro-batches. State per key is one boolean; the state store
scales with DISTINCT keys, so an optional processing-time TTL bounds it
for unbounded key spaces (the documented exactness trade: a key re-seen
after its state expired is emitted again).

Scale notes: applyInPandasWithState shuffles each batch by the key (the
state store is key-partitioned — unavoidable for keyed state) and
serializes only the group's rows + one tiny state tuple per key through
Arrow. RocksDB state backend (spark.sql.streaming.stateStore.*) is the
production setting for 10^9-key stores; local tests run the default
HDFS-backed store.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

FIRST_SEEN_SCHEMA = "key string, first_id string, n_first_batch long"
_STATE_SCHEMA = "seen boolean"


def first_seen_dedup(stream_df: DataFrame, key_col: str = "content_sha",
                     id_col: str = "row_id",
                     ttl_ms: int | None = None) -> DataFrame:
    """Streaming cross-batch first-seen dedup: one output row per key,
    emitted by the FIRST micro-batch containing it — (key, first_id =
    min id among that batch's rows for the key, n_first_batch = how many
    rows that batch carried). Later batches emit nothing for the key.

    ttl_ms: optional processing-time state TTL — bounds the state store
    for unbounded key spaces at the cost of exactness after expiry.
    """

    def fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        rows = pd.concat(list(pdfs), ignore_index=True)
        fresh = not state.exists
        state.update((True,))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        if fresh and len(rows):
            yield pd.DataFrame({
                "key": [key[0]],
                "first_id": [rows[id_col].astype(str).min()],
                "n_first_batch": [len(rows)],
            })

    timeout = (GroupStateTimeout.ProcessingTimeTimeout
               if ttl_ms is not None else GroupStateTimeout.NoTimeout)
    return (
        stream_df.select(F.col(key_col), F.col(id_col))
        .groupBy(key_col)
        .applyInPandasWithState(
            fn, FIRST_SEEN_SCHEMA, _STATE_SCHEMA, "append", timeout
        )
    )


def stream_first_seen(spark, source_dir: str, out_dir: str,
                      checkpoint_dir: str, schema: str,
                      key_col: str = "content_sha", id_col: str = "row_id",
                      available_now: bool = True,
                      max_files_per_trigger: int | None = None):
    """File-source runner: parquet backlog -> first_seen_dedup -> parquet
    sink. State lives in the streaming checkpoint, so a SECOND run over
    new files resumes with every previously-seen key still deduped
    (test_stateful proves it across a restart)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = reader.parquet(source_dir)
    out = first_seen_dedup(src, key_col=key_col, id_col=id_col)
    writer = (
        out.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
