"""Dump formatted physical plans for the pipeline's key stages.

Review checklist (SCALE.md): PushedFilters/ReadSchema on scans, broadcast
vs shuffle joins where intended, WholeStageCodegen spans around the native
kernels, no Exchange where a reuse was expected.

Usage: python tools/explain_plans.py [n_rows]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2000

    from pyspark.sql import functions as F

    import __spark_entry__ as entry_mod
    from entitylinking_spark.operators.blocking import (
        ERConfig, block_candidates, with_keys,
    )
    from entitylinking_spark.operators.pairs import candidate_pairs
    from entitylinking_spark.operators.scoring import score_pairs
    from entitylinking_spark.session import get_spark
    from entitylinking_spark.synthdata import generate_repo_files

    spark = get_spark(cores=4)
    spark.sparkContext.setLogLevel("ERROR")
    cfg = ERConfig()
    fx = generate_repo_files(n, seed=42)
    df = spark.createDataFrame(fx.rows)

    keyed = with_keys(df, cfg, id_col="row_id")
    blocks = block_candidates(keyed, cfg)
    pairs = candidate_pairs(blocks, cfg)
    scored = score_pairs(pairs, keyed, cfg)

    sections = {
        "KEYED": keyed,
        "PAIRS": pairs,
        "SCORED": scored,
    }
    # driver-contract representatives over parquet (pushdown evidence)
    sf = "/root/testdata/sf0.001"
    qs = entry_mod.queries()
    sections["Q1_PARQUET"] = qs["q1_pricing_summary"](spark, sf)
    sections["J2_BROADCAST"] = qs["j2_composite_key_join"](spark, sf)
    sections["PRUNE_CHECK"] = spark.read.parquet(f"{sf}/lineitem.parquet").filter(
        F.col("l_shipdate") > "1995-01-01"
    ).select("l_orderkey", "l_quantity")

    # curation/analytics representatives: bucketed two-level top-K (caps),
    # vocab-sized BPE pair counting
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    from entitylinking_spark.operators.bpe import _pair_counts, word_counts
    from entitylinking_spark.operators.mixing import cap_per_domain

    sections["DOMAIN_CAPS"] = cap_per_domain(docs, cap=30)
    sections["BPE_PAIRS"] = _pair_counts(
        word_counts(docs).select(
            "word", "n", F.split("word", "(?!$)").alias("syms")))

    for name, d in sections.items():
        print(f"\n{'='*20} {name} {'='*20}")
        d.explain(mode="formatted")


if __name__ == "__main__":
    main()
