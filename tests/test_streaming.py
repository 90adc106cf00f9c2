"""Structured Streaming ingest: `stream_resolve` folds each micro-batch
through resolve_increment, and the drained state equals a batch resolve."""

from entitylinking_spark.operators.blocking import ERConfig
from entitylinking_spark.synthdata import generate_repo_files


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

