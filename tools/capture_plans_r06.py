"""Capture .explain("formatted") output for the round-6 optimization
targets, before/after. Writes plans/r06/<query>_<tag>.txt.

Usage: python tools/capture_plans_r06.py <tag> [query ...]

Queries are built exactly the way bench.py builds them (same operators,
same parameters) so the captured plan is the one the frozen bench times;
oracle-shaped variants are captured via __spark_entry__ where that is the
interesting plan.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "plans", "r06")


def capture(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    tag = sys.argv[1]
    only = set(sys.argv[2:])

    from pyspark.sql import functions as F

    from entitylinking_spark.session import get_spark

    os.makedirs(OUT_DIR, exist_ok=True)
    spark = get_spark(app_name=f"plans-r06-{tag}", cores=8)
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    builders = {}

    def ann_shuffle():
        from entitylinking_spark.operators.similarity import lsh_topk_shuffle

        q = emb.select(F.col("vec_id").alias("query_id"), "embedding")
        return lsh_topk_shuffle(emb, q, k=10, n_planes=8, probe_bits=1, dim=64)

    builders["ann_shuffle"] = ann_shuffle

    def ivf_shuffle():
        from entitylinking_spark.operators.ivf import ivf_topk

        q = emb.select(F.col("vec_id").alias("query_id"), "embedding")
        return ivf_topk(emb, q, k=10, n_cells=32, nprobe=2)

    builders["ivf_shuffle"] = ivf_shuffle

    def semdedup():
        from entitylinking_spark.operators.dedup import semdedup as sd

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
        return sd(big, eps=0.98, corpus_count=n, kernel="arrow")

    builders["semdedup"] = semdedup

    def embedding_near_dup():
        from entitylinking_spark.operators.dedup import embedding_near_dup_pairs

        return embedding_near_dup_pairs(emb, threshold=0.35, n_planes=4, dim=64)

    builders["embedding_near_dup"] = embedding_near_dup

    def bpe_train():
        from entitylinking_spark.operators.bpe import train_bpe, bpe_tokenize

        merges = train_bpe(docs.limit(500), 2)
        return bpe_tokenize(docs, merges)

    builders["bpe_train"] = bpe_train

    def vocab_pmi():
        from entitylinking_spark.operators.vocab import bigram_pmi

        return bigram_pmi(docs, min_count=8)

    builders["vocab_pmi"] = vocab_pmi

    def dedup_minhash():
        from entitylinking_spark.operators.dedup import dedup_minhash_lsh

        return dedup_minhash_lsh(docs, threshold=0.7)

    builders["dedup_minhash"] = dedup_minhash

    def dup_audit():
        from entitylinking_spark.operators.mixing import duplicated_ngram_stats

        return duplicated_ngram_stats(docs, n=5)

    builders["dup_audit"] = dup_audit

    def decontam():
        from entitylinking_spark.operators.decontam import decontaminate

        bench = docs.filter(F.col("doc_id") % 37 == 0).select(
            F.col("doc_id").alias("bench_id"),
            F.substring("text", 1, 200).alias("text"),
        )
        return decontaminate(docs, bench, n=5)

    builders["decontam"] = decontam

    def assemble():
        from entitylinking_spark.operators.mixing import (
            pack_sequences, stratified_sample,
        )

        sampled = stratified_sample(docs, strata_col="lang",
                                    fractions={"en": 1.0, "de": 0.5},
                                    default_fraction=0.25)
        return pack_sequences(sampled, budget=2048, n_shards=8)

    builders["assemble"] = assemble

    for name, build in builders.items():
        if only and name not in only:
            continue
        try:
            txt = capture(build())
        except Exception as e:  # noqa: BLE001
            txt = f"CAPTURE FAILED: {e!r}\n"
        path = os.path.join(OUT_DIR, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} bytes)")

    spark.stop()


if __name__ == "__main__":
    main()
