"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:

  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headline queries:
  er_pipeline      full ER: keys -> blocks -> salted pairs -> Arrow scoring
                   -> CC over repo_files shaped from the documents table
  dedup_minhash    MinHash-LSH near-dup clustering of documents
  q1 / j2 / t1     relational representatives (agg / multi-join / window)
  sim_topk         brute-force cosine top-k over embeddings

Also reports candidate_pairs_scored and pairs_per_sec for the ER run
(BASELINE.md protocol). Run with --cpus N to override parallelism (used
for the N vs 4N scaling-efficiency evidence).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def run_bench(sf_dir: str, cpus: int, repetitions: int = 1) -> dict:
    from pyspark.sql import functions as F

    import __spark_entry__ as entry_mod
    from entitylinking_spark.operators.blocking import ERConfig
    from entitylinking_spark.operators.dedup import dedup_minhash_lsh
    from entitylinking_spark.operators.similarity import brute_force_topk
    from entitylinking_spark.plans.pipeline import resolve
    from entitylinking_spark.session import get_spark
    from entitylinking_spark.synthdata import repo_files_from_documents

    spark = get_spark(app_name="entitylinking-bench", cores=cpus,
                      shuffle_partitions=max(cpus, 8))
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    extras: dict = {}

    def timed(name: str, fn):
        best = None
        for _ in range(repetitions):
            t0 = time.time()
            out = fn()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
        return out

    from entitylinking_spark.synthdata import generate_repo_files

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    # Untimed warmup: spawn the Python/Arrow worker pool and JIT the
    # whole-stage-codegen paths once, so the first timed query measures the
    # engine, not daemon startup (~5-10 s of one-time cost at local[32]).
    from entitylinking_spark.functions.strings import jaro_winkler_udf

    spark.range(10_000).repartition(cpus).select(
        F.count(jaro_winkler_udf(F.col("id").cast("string"), F.lit("warmup")))
    ).collect()
    docs.limit(1000).groupBy("lang").count().collect()

    # --- flagship ER pipeline on the synthetic bench table ----------------
    # (BASELINE.md protocol: deterministic repo_files, seed=42; the driver
    # documents table is too small to exercise the pair join at bench scale)
    n_synth = int(os.environ.get("SPARK_GRAFT_ER_ROWS", "20000"))
    fx = generate_repo_files(n_synth, seed=42)  # generation excluded from timing
    synth_df = spark.createDataFrame(fx.rows).repartition(max(cpus, 8)).persist()
    synth_df.count()

    def er_synth():
        res = resolve(synth_df, ERConfig(), id_col="row_id")
        n_pairs = res.scored_pairs.count()
        n_rows = res.clusters.count()
        extras["candidate_pairs_scored"] = n_pairs
        extras["er_synth_rows"] = n_rows
        return n_rows

    timed("er_synth", er_synth)
    if timings["er_synth"] > 0:
        # rows/sec is the headline throughput (stable across rounds);
        # pairs/sec is kept as a secondary signal only — pair-volume
        # REDUCTIONS (the round-2 win) make it fall while the pipeline
        # gets faster, so it must not be read as the throughput metric
        extras["rows_per_sec"] = round(
            extras["er_synth_rows"] / timings["er_synth"], 1
        )
        extras["pairs_per_sec"] = round(
            extras["candidate_pairs_scored"] / timings["er_synth"], 1
        )

    # --- ER over the driver documents table (real parquet input) ----------
    def er():
        repo_files = repo_files_from_documents(docs)
        res = resolve(repo_files, ERConfig(), id_col="row_id")
        return res.clusters.count()

    timed("er_pipeline", er)

    # --- dedup ------------------------------------------------------------
    timed("dedup_minhash", lambda: dedup_minhash_lsh(docs, threshold=0.7).count())

    # --- relational representatives ---------------------------------------
    qs = entry_mod.queries()
    timed("q1", lambda: qs["q1_pricing_summary"](spark, sf_dir).count())
    timed("j2", lambda: qs["j2_composite_key_join"](spark, sf_dir).count())
    timed("t1", lambda: qs["t1_topk_window"](spark, sf_dir).count())
    timed("bm25", lambda: qs["x9_bm25_topk"](spark, sf_dir).count())

    # --- similarity ---------------------------------------------------------
    def sim():
        q = emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        return brute_force_topk(emb, q, k=10).count()

    timed("sim_topk", sim)

    # corpus-scale ANN: every embedding row queries the index (round-3) —
    # shuffle bucket join, nothing broadcast except the 256-row census
    def ann():
        from entitylinking_spark.operators.similarity import lsh_topk_shuffle

        q = emb.select(F.col("vec_id").alias("query_id"), "embedding")
        return lsh_topk_shuffle(emb, q, k=10, n_planes=8, probe_bits=1, dim=64).count()

    timed("ann_shuffle", ann)

    # IVF counterpart: k-means fit (driver sample) + cell join, same
    # every-row-queries-the-index shape as ann_shuffle
    def ivf():
        from entitylinking_spark.operators.ivf import ivf_topk

        q = emb.select(F.col("vec_id").alias("query_id"), "embedding")
        return ivf_topk(emb, q, k=10, n_cells=32, nprobe=2).count()

    timed("ivf_shuffle", ivf)

    # SemDeDup with 8 perturbed replicas per base embedding: real
    # duplicate clusters drive the cells -> within-cell pairs -> CC ->
    # representative chain. Cells AUTO-SIZE from the corpus count — a
    # pinned cell count is the O((N/cells)^2) blowup the operator's
    # auto_n_cells exists to prevent (verdict r4 #1; re-learned here when
    # a hardcoded n_cells=64 cost 100 s at sf0.1's 100k vectors).
    def semdedup_run():
        from entitylinking_spark.operators.dedup import semdedup

        n_rep = 8
        reps_df = spark.range(n_rep).select(F.col("id").alias("rep"))
        big = emb.crossJoin(reps_df).select(
            (F.col("vec_id") * n_rep + F.col("rep")).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x: x.cast("double") + F.col("rep") * F.lit(3e-4),
            ).alias("embedding"),
        )
        # persist the derived input: the operator scans it 4x (fit sample,
        # assignment, both pair sides) and re-deriving the crossJoin per
        # scan would time input prep, not the operator
        big = big.persist()
        try:
            n = big.count()
            return (
                # kernel='arrow' = BLAS pair verify (native==arrow parity
                # tested; 13.8 -> 6.2 s at 16k vectors, sf0.1)
                semdedup(big, eps=0.98, corpus_count=n, kernel="arrow")
                .agg(F.sum(F.col("is_kept").cast("long")))
                .collect()
            )
        finally:
            big.unpersist()

    timed("semdedup", semdedup_run)

    # BPE tokenizer training: 8 merge iterations (each = one vocab-sized
    # shuffle + one Arrow merge pass) then the zero-shuffle corpus encode
    def bpe_run():
        from entitylinking_spark.operators.bpe import bpe_tokenize, train_bpe

        merges = train_bpe(docs, 8)
        return bpe_tokenize(docs, merges).agg(
            F.sum("n_bpe_tokens")
        ).collect()

    timed("bpe_train", bpe_run)

    # Gopher repetition signals over the documents table (one map-side
    # combined (doc, gram) shuffle)
    def repetition():
        from entitylinking_spark.operators.textstats import repetition_stats

        # aggregate a COMPUTED column: a bare count() lets Catalyst
        # eliminate the unique-key left join and skip the gram work
        return repetition_stats(docs, n=2).agg(
            F.sum("dup_gram_frac")).collect()

    timed("repetition", repetition)

    # benchmark decontamination: every-37th-doc benchmark, broadcast gram
    # set, map-side flagging (the driver-oracle query shape at bench scale)
    def decontam_run():
        from entitylinking_spark.operators.decontam import decontaminate

        bench = docs.filter(F.col("doc_id") % 37 == 0).select(
            F.col("doc_id").alias("bench_id"),
            F.substring("text", 1, 200).alias("text"),
        )
        return decontaminate(docs, bench, n=5).filter("contaminated").count()

    timed("decontam", decontam_run)

    # dataset assembly: stratified sample -> sharded packing in one plan,
    # plus the corpus vocabulary + bigram-PMI aggregations
    def assemble_run():
        from entitylinking_spark.operators.mixing import (
            pack_sequences, stratified_sample,
        )

        sampled = stratified_sample(docs, strata_col="lang",
                                    fractions={"en": 1.0, "de": 0.5},
                                    default_fraction=0.25)
        packed = pack_sequences(sampled, budget=2048, n_shards=cpus)
        # aggregate computed columns so Catalyst cannot skip the window
        return packed.agg(F.max("pack_id"), F.sum("n_tokens")).collect()

    timed("assemble", assemble_run)

    def vocab_pmi_run():
        from entitylinking_spark.operators.vocab import bigram_pmi

        return bigram_pmi(docs, min_count=8).agg(
            F.count("*"), F.sum("pmi")).collect()

    timed("vocab_pmi", vocab_pmi_run)

    # exact cross-doc duplicated-gram audit (the post-dedup QA pass)
    def dup_audit_run():
        from entitylinking_spark.operators.mixing import duplicated_ngram_stats

        return duplicated_ngram_stats(docs, n=5).agg(
            F.sum("n_dup_grams"), F.sum("dup_fraction")).collect()

    timed("dup_audit", dup_audit_run)

    # token-budget selection: the histogram-quickselect driver loop
    # (small max_boundary forces the recursion rounds, not just a window)
    def budget_run():
        from entitylinking_spark.operators.mixing import (
            select_under_token_budget,
        )

        d = docs.withColumn("n_tokens", F.length("text"))
        total = d.agg(F.sum("n_tokens")).first()[0]
        return select_under_token_budget(
            d, int(total) // 2, quality_col="n_chars",
            bins=64, max_boundary=100,
        ).agg(F.sum(F.col("keep").cast("long"))).collect()

    timed("budget_select", budget_run)

    # --- media decode throughput (round-4 verdict #5) ---------------------
    # per-format MB/s through the mapInPandas decode path; PNG uses the
    # all-Paeth worst case so the number is the reconstruction floor.
    # media_mbps_payload = encoded bytes/s, media_mbps_raw = decoded
    # ndarray bytes/s (what downstream feature code consumes).
    def media():
        from entitylinking_spark.functions.media_synth import bench_payloads
        from entitylinking_spark.operators.multimodal import (
            decode_avi_frames, decode_bmp, decode_gif, decode_png,
            decode_ppm, decode_wav, extract_features,
        )
        from entitylinking_spark.functions.jpeg import decode_jpeg

        payloads = bench_payloads()
        raw_bytes = {
            "ppm": decode_ppm(payloads["ppm"]).nbytes,
            "bmp": decode_bmp(payloads["bmp"]).nbytes,
            "png": decode_png(payloads["png"]).nbytes,
            "jpeg": decode_jpeg(payloads["jpeg"]).nbytes,
            "gif": decode_gif(payloads["gif"]).nbytes,
            # extract_features decodes the FIRST frame of a video payload
            "avi": next(decode_avi_frames(payloads["avi"]))[1].nbytes,
            "wav": decode_wav(payloads["wav"])[0].nbytes,
            "wav_ulaw": decode_wav(payloads["wav_ulaw"])[0].nbytes,
        }
        reps = {"ppm": 128, "bmp": 128, "png": 32, "jpeg": 128, "gif": 32,
                "avi": 64, "wav": 64, "wav_ulaw": 64}
        schema = (
            "media_id string, kind string, payload binary, "
            "meta struct<width:int,height:int,sample_rate:int,"
            "n_frames:int,codec:string>"
        )
        mbps_payload, mbps_raw = {}, {}
        total_s = 0.0
        for fmt, pl in payloads.items():
            n = reps[fmt]
            kind = ("audio" if fmt.startswith("wav")
                    else "video" if fmt == "avi" else "image")
            df = spark.createDataFrame(
                [(f"{fmt}{i}", kind, bytearray(pl), None) for i in range(n)],
                schema,
            ).repartition(min(cpus, n)).persist()
            df.count()
            t0 = time.time()
            extract_features(df, dim=8).count()
            dt = time.time() - t0
            df.unpersist()
            mbps_payload[fmt] = round(n * len(pl) / 1e6 / dt, 2)
            mbps_raw[fmt] = round(n * raw_bytes[fmt] / 1e6 / dt, 2)
            total_s += dt
        extras["media_mbps_payload"] = mbps_payload
        extras["media_mbps_raw"] = mbps_raw
        # resize throughput: decode -> bilinear -> re-encode through
        # resize_media on the PPM payload (256x256 -> 64x64)
        from entitylinking_spark.operators.multimodal import resize_media

        n = 128
        df = spark.createDataFrame(
            [(f"rz{i}", "image", bytearray(payloads["ppm"]), None)
             for i in range(n)],
            schema,
        ).repartition(min(cpus, n)).persist()
        df.count()
        t0 = time.time()
        resize_media(df, 64, 64).count()
        dt = time.time() - t0
        df.unpersist()
        extras["resize_mbps_payload"] = round(n * len(payloads["ppm"]) / 1e6 / dt, 2)
        total_s += dt
        return total_s

    timings["media_decode"] = round(media(), 3)

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").split("sf")[-1]
    result = {
        "metric": "headline_suite_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        **extras,
    }
    spark.stop()
    return result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    # Bench parallelism is per-workload (round-3 verdict #7, re-measured
    # round 4): for THIS suite of many small sf0.1 queries local[32] wins
    # (43.5 s vs 52.9 s at local[16], fresh same-day reps) so 32 stays the
    # default; the 32-thread host cliff bites the long 500k pipeline runs,
    # where tools/scaling_run.py records local[16] as the fastest stable
    # config. Both rows in BASELINE.md; override with SPARK_GRAFT_CPUS.
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--repetitions", type=int, default=1)
    args = ap.parse_args()
    result = run_bench(args.sf_dir, args.cpus, args.repetitions)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
