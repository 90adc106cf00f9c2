"""Structured Streaming ingest: availableNow one-shot over a backlog."""

import os

from entitylinking_spark.operators.blocking import ERConfig
from entitylinking_spark.streaming.ingest import stream_keyed
from entitylinking_spark.synthdata import generate_repo_files


def test_stream_keyed_availablenow(spark, tmp_path):
    fx = generate_repo_files(40, seed=9)
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(fx.rows.drop(columns=["row_id"])).write.parquet(src)

    q = stream_keyed(spark, src, out, ckpt, ERConfig(), available_now=True)
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    assert got.count() == 40
    assert {"content_sha", "minhash", "fname"} <= set(got.columns)

    # second micro-batch: only NEW files processed (incremental semantics)
    more = generate_repo_files(60, seed=10).rows.drop(columns=["row_id"]).tail(20)
    spark.createDataFrame(more).write.mode("append").parquet(src)
    q2 = stream_keyed(spark, src, out, ckpt, ERConfig(), available_now=True)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == 60


def test_stream_resolve_equals_batch(spark, tmp_path):
    """§2.9 end-to-end: files arriving as separate micro-batches
    (maxFilesPerTrigger=1) fold through resolve_increment via foreachBatch;
    the drained state's clusters equal a from-scratch batch resolve over
    the same total corpus."""
    from entitylinking_spark.plans.pipeline import resolve
    from entitylinking_spark.streaming.ingest import stream_resolve

    cfg = ERConfig(suppress_shingle_df=None)
    # the stream source reads the REPO_FILES schema (no row_id): rows are
    # identified by the natural (repo, path, commit) key end to end
    rows = generate_repo_files(150, seed=13).rows.drop(columns=["row_id"])
    src = str(tmp_path / "in")
    # three source files -> three micro-batches at maxFilesPerTrigger=1
    for chunk in (rows.iloc[:50], rows.iloc[50:100], rows.iloc[100:]):
        spark.createDataFrame(chunk).coalesce(1).write.mode("append").parquet(src)

    q, holder = stream_resolve(
        spark, src, str(tmp_path / "ckpt"), cfg, max_files_per_trigger=1,
    )
    q.awaitTermination(300)
    assert holder["n_batches"] >= 2, "backlog must split into micro-batches"
    inc = sorted(
        (r["row_id"], r["cluster_id"])
        for r in holder["state"].clusters.collect()
    )

    res = resolve(spark.createDataFrame(rows), cfg)
    batch = sorted((r["row_id"], r["cluster_id"]) for r in res.clusters.collect())
    res.unpersist()
    assert inc == batch


def test_stream_resolve_restart_resumes_from_store(spark, tmp_path):
    """Driver-restart model: stream part of the corpus with a durable
    store, throw the holder away (the 'dead driver'), land more files, and
    call stream_resolve again on the same (store, checkpoint) pair. The
    second run must reload state from the store, fold ONLY the new files
    (streaming checkpoint skips consumed ones), and finish with clusters
    equal to a batch resolve over the full corpus."""
    from entitylinking_spark.checkpoint import CheckpointStore
    from entitylinking_spark.plans.pipeline import resolve
    from entitylinking_spark.streaming.ingest import stream_resolve

    cfg = ERConfig(suppress_shingle_df=None)
    rows = generate_repo_files(150, seed=14).rows.drop(columns=["row_id"])
    src, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    store = CheckpointStore(str(tmp_path / "state"), spark)

    spark.createDataFrame(rows.iloc[:90]).coalesce(1).write.mode("append").parquet(src)
    q1, h1 = stream_resolve(spark, src, ckpt, cfg, store=store)
    q1.awaitTermination(300)
    assert h1["n_batches"] >= 1

    # driver dies; new files land
    spark.createDataFrame(rows.iloc[90:]).coalesce(1).write.mode("append").parquet(src)
    q2, h2 = stream_resolve(spark, src, ckpt, cfg, store=store)
    q2.awaitTermination(300)
    assert h2["n_batches"] == 1, "restart must fold only the NEW files"
    assert h2["state"].delta_keyed is None  # table-backed (compacted) state

    inc = sorted(
        (r["row_id"], r["cluster_id"]) for r in h2["state"].clusters.collect()
    )
    res = resolve(spark.createDataFrame(rows), cfg)
    batch = sorted((r["row_id"], r["cluster_id"]) for r in res.clusters.collect())
    res.unpersist()
    assert inc == batch


def test_corpus_monitor_watermark_drops_late_events(spark, tmp_path):
    """Windowed per-lang counts with watermarking: once the watermark has
    CLOSED a window (emitted + state evicted at the end of the batch
    where watermark passed its end), a later event for that window is
    dropped — the 10:00-11:00 window counts 2, not 3. (A late row landing
    in the SAME batch that closes its window still merges — watermark
    drops are deterministic only one batch after eviction, which is why
    the late file here arrives two batches after the window's data.)"""
    import time
    from datetime import datetime as DT

    from entitylinking_spark.streaming.ingest import stream_corpus_monitor

    src = str(tmp_path / "ev")
    out = str(tmp_path / "agg")
    ckpt = str(tmp_path / "ck")
    schema = "ts timestamp, lang string"

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append").parquet(src)

    # batch 0: the 10:xx window + a 14:00 event (watermark -> 12:00)
    write([(DT(2024, 1, 1, 10, 0), "en"),
           (DT(2024, 1, 1, 10, 20), "en"),
           (DT(2024, 1, 1, 14, 0), "en")])
    time.sleep(1.2)  # file-source ordering is by mod time
    # batch 1: watermark 12:00 active -> closes + emits the 10:00 window
    write([(DT(2024, 1, 1, 16, 30), "en")])
    time.sleep(1.2)
    # batch 2: VERY late 10:30 event -> dropped by the 14:30 watermark
    write([(DT(2024, 1, 1, 10, 30), "en")])

    events = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream_corpus_monitor(events, window="1 hour", watermark="2 hours")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    dropped = sum(
        p["stateOperators"][0]["numRowsDroppedByWatermark"]
        for p in q.recentProgress if p["stateOperators"]
    )
    got = {
        (r["window_start"].hour, r["lang"]): r["n_files"]
        for r in spark.read.parquet(out).collect()
    }
    assert got[(10, "en")] == 2  # closed without the late event
    assert dropped == 1          # and the late row was counted as dropped
