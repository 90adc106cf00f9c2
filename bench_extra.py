"""Round-6 measurement harness: per-query isolation of the frozen bench.py
workloads (same operators, same parameters, same actions), selectable by
name, at any SF dir. bench.py itself is FROZEN for driver measurement;
this file exists so optimization work can time one query at a time
(guide §1.4) without re-running the whole suite.

Usage:
    SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py \
        [--reps N] [query ...]

Prints one JSON line {"queries": {name: [secs...]}, "sf": ..., "cpus": N}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    import __spark_entry__ as entry_mod
    from entitylinking_spark.operators.blocking import ERConfig
    from entitylinking_spark.operators.dedup import dedup_minhash_lsh
    from entitylinking_spark.operators.similarity import brute_force_topk
    from entitylinking_spark.plans.pipeline import resolve
    from entitylinking_spark.session import get_spark
    from entitylinking_spark.synthdata import (
        generate_repo_files, repo_files_from_documents,
    )

    spark = get_spark(app_name="entitylinking-bench-extra", cores=args.cpus,
                      shuffle_partitions=max(args.cpus, 8))
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = args.sf_dir

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    # same warmup as bench.py
    from entitylinking_spark.functions.strings import jaro_winkler_udf

    spark.range(10_000).repartition(args.cpus).select(
        F.count(jaro_winkler_udf(F.col("id").cast("string"), F.lit("warmup")))
    ).collect()
    docs.limit(1000).groupBy("lang").count().collect()

    runners = {}

    def reg(name):
        def deco(fn):
            runners[name] = fn
            return fn
        return deco

    @reg("er_synth")
    def er_synth():
        n_synth = int(os.environ.get("SPARK_GRAFT_ER_ROWS", "20000"))
        fx = generate_repo_files(n_synth, seed=42)
        synth_df = spark.createDataFrame(fx.rows).repartition(
            max(args.cpus, 8)).persist()
        synth_df.count()
        t0 = time.time()
        res = resolve(synth_df, ERConfig(), id_col="row_id")
        res.scored_pairs.count()
        res.clusters.count()
        dt = time.time() - t0
        res.unpersist()
        synth_df.unpersist()
        return dt

    @reg("er_pipeline")
    def er_pipeline():
        t0 = time.time()
        repo_files = repo_files_from_documents(docs)
        res = resolve(repo_files, ERConfig(), id_col="row_id")
        res.clusters.count()
        dt = time.time() - t0
        res.unpersist()
        return dt

    @reg("dedup_minhash")
    def dm():
        t0 = time.time()
        dedup_minhash_lsh(docs, threshold=0.7).count()
        return time.time() - t0

    for qname, bname in [("q1_pricing_summary", "q1"),
                         ("j2_composite_key_join", "j2"),
                         ("t1_topk_window", "t1"),
                         ("x9_bm25_topk", "bm25")]:
        def mk(qn):
            def run():
                t0 = time.time()
                entry_mod.queries()[qn](spark, sf_dir).count()
                return time.time() - t0
            return run
        runners[bname] = mk(qname)

    @reg("sim_topk")
    def sim():
        t0 = time.time()
        q = emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("query_id"), "embedding")
        brute_force_topk(emb, q, k=10).count()
        return time.time() - t0

    @reg("ann_shuffle")
    def ann():
        from entitylinking_spark.operators.similarity import lsh_topk_shuffle

        t0 = time.time()
        q = emb.select(F.col("vec_id").alias("query_id"), "embedding")
        lsh_topk_shuffle(emb, q, k=10, n_planes=8, probe_bits=1, dim=64).count()
        return time.time() - t0

    @reg("ivf_shuffle")
    def ivf():
        from entitylinking_spark.operators.ivf import ivf_topk

        t0 = time.time()
        q = emb.select(F.col("vec_id").alias("query_id"), "embedding")
        ivf_topk(emb, q, k=10, n_cells=32, nprobe=2).count()
        return time.time() - t0

    @reg("semdedup")
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
        ).persist()
        n = big.count()
        t0 = time.time()
        semdedup(big, eps=0.98, corpus_count=n, kernel="arrow").agg(
            F.sum(F.col("is_kept").cast("long"))).collect()
        dt = time.time() - t0
        big.unpersist()
        return dt

    @reg("bpe_train")
    def bpe_run():
        from entitylinking_spark.operators.bpe import bpe_tokenize, train_bpe

        t0 = time.time()
        merges = train_bpe(docs, 8)
        bpe_tokenize(docs, merges).agg(F.sum("n_bpe_tokens")).collect()
        return time.time() - t0

    @reg("repetition")
    def repetition():
        from entitylinking_spark.operators.textstats import repetition_stats

        t0 = time.time()
        repetition_stats(docs, n=2).agg(F.sum("dup_gram_frac")).collect()
        return time.time() - t0

    @reg("decontam")
    def decontam_run():
        from entitylinking_spark.operators.decontam import decontaminate

        t0 = time.time()
        bench = docs.filter(F.col("doc_id") % 37 == 0).select(
            F.col("doc_id").alias("bench_id"),
            F.substring("text", 1, 200).alias("text"),
        )
        decontaminate(docs, bench, n=5).filter("contaminated").count()
        return time.time() - t0

    @reg("assemble")
    def assemble_run():
        from entitylinking_spark.operators.mixing import (
            pack_sequences, stratified_sample,
        )

        t0 = time.time()
        sampled = stratified_sample(docs, strata_col="lang",
                                    fractions={"en": 1.0, "de": 0.5},
                                    default_fraction=0.25)
        packed = pack_sequences(sampled, budget=2048, n_shards=args.cpus)
        packed.agg(F.max("pack_id"), F.sum("n_tokens")).collect()
        return time.time() - t0

    @reg("vocab_pmi")
    def vocab_pmi_run():
        from entitylinking_spark.operators.vocab import bigram_pmi

        t0 = time.time()
        bigram_pmi(docs, min_count=8).agg(F.count("*"), F.sum("pmi")).collect()
        return time.time() - t0

    @reg("dup_audit")
    def dup_audit_run():
        from entitylinking_spark.operators.mixing import duplicated_ngram_stats

        t0 = time.time()
        duplicated_ngram_stats(docs, n=5).agg(
            F.sum("n_dup_grams"), F.sum("dup_fraction")).collect()
        return time.time() - t0

    @reg("budget_select")
    def budget_run():
        from entitylinking_spark.operators.mixing import select_under_token_budget

        t0 = time.time()
        d = docs.withColumn("n_tokens", F.length("text"))
        total = d.agg(F.sum("n_tokens")).first()[0]
        select_under_token_budget(
            d, int(total) // 2, quality_col="n_chars",
            bins=64, max_boundary=100,
        ).agg(F.sum(F.col("keep").cast("long"))).collect()
        return time.time() - t0

    names = args.queries or list(runners)
    out = {}
    for name in names:
        fn = runners[name]
        samples = []
        for _ in range(args.reps):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            samples.append(round(fn(), 3))
            spark.sparkContext.setJobDescription(None)
        out[name] = samples
        print(f"# {name}: {samples}", file=sys.stderr)

    print(json.dumps({
        "queries": out,
        "sf": sf_dir.rstrip("/").split("sf")[-1],
        "cpus": args.cpus,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
