"""Explicit StructType schemas for every stage boundary.

The reference is schema-on-read (dicts from json.loads, keys added
mid-pipeline — e.g. /root/reference/OneNet/data_process.py:289). This engine
replaces that with fixed schemas per stage: required for Parquet/Iceberg
checkpoint tables and for Arrow UDF signatures (SURVEY.md §1.2).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Primary pipeline input (BASELINE.json input_hint):
# an Iceberg/Parquet table of source-code repository files.
# ---------------------------------------------------------------------------
REPO_FILES = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("content", T.StringType(), False),
    ]
)

# Candidate pair after the block join (ids only + features needed to score).
SCORED_PAIRS = T.StructType(
    [
        T.StructField("id_l", T.StringType(), False),
        T.StructField("id_r", T.StringType(), False),
        # 64-bit hashed block key (blocking.block_candidates): the pair-join
        # and dedup shuffles carry 8 bytes instead of a ~40-char string
        T.StructField("block_key", T.LongType(), False),
        T.StructField("name_sim", T.DoubleType(), False),
        T.StructField("lev_sim", T.DoubleType(), False),
        T.StructField("minhash_sim", T.DoubleType(), False),
        T.StructField("jaccard_sim", T.DoubleType(), True),
        T.StructField("score", T.DoubleType(), False),
    ]
)

EDGES = T.StructType(
    [
        T.StructField("src", T.StringType(), False),
        T.StructField("dst", T.StringType(), False),
    ]
)

# ---------------------------------------------------------------------------
# Reference-shaped EL records (SURVEY.md §1.1) for operator-parity tests.
# Mention: /root/reference/Sparkle/linking.py:48-56
# Entity : /root/reference/Sparkle/database.py:52-61
# ---------------------------------------------------------------------------
MENTIONS = T.StructType(
    [
        T.StructField("corpus", T.StringType(), False),
        T.StructField("mention_id", T.StringType(), False),
        T.StructField("context_document_id", T.StringType(), True),
        T.StructField("label_document_id", T.StringType(), True),
        T.StructField("start_index", T.IntegerType(), True),
        T.StructField("end_index", T.IntegerType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("category", T.StringType(), True),
    ]
)

ENTITIES = T.StructType(
    [
        T.StructField("document_id", T.StringType(), False),
        T.StructField("title", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("corpus", T.StringType(), True),
    ]
)

# Experiment rows for rank aggregation
# (/root/reference/Sparkle/algorithms.py:336-341).
EXPERIMENTS = T.StructType(
    [
        T.StructField("mention_id", T.StringType(), False),
        T.StructField("exp_id", T.IntegerType(), False),
        T.StructField("winners", T.ArrayType(T.StringType()), False),
        T.StructField("losers", T.ArrayType(T.StringType()), False),
    ]
)

RANKED = T.StructType(
    [
        T.StructField("mention_id", T.StringType(), False),
        T.StructField("entity_id", T.StringType(), False),
        T.StructField("score", T.DoubleType(), False),
        T.StructField("rank", T.IntegerType(), False),
    ]
)

# Multimodal blob rows (binary payload + typed metadata) for the
# training-data-pipeline operators; the decode step itself is stubbed.
MEDIA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("meta", T.StructType(
            [
                T.StructField("width", T.IntegerType(), True),
                T.StructField("height", T.IntegerType(), True),
                T.StructField("sample_rate", T.IntegerType(), True),
                T.StructField("n_frames", T.IntegerType(), True),
                T.StructField("codec", T.StringType(), True),
            ]
        ), True),
    ]
)
