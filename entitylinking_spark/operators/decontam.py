"""Benchmark decontamination + deterministic split assignment.

Training-data hygiene ops a 100 TB pipeline runs before anything touches a
model:

  decontaminate        flag documents sharing >= 1 token n-gram with an
                       evaluation benchmark (the GPT-3 Appendix C /
                       Pile "13-gram collision" rule)
  contamination_pairs  the per-(doc, benchmark-item) evidence table
  split_assign         stable train/val/test assignment from a seeded
                       content-independent hash of the document id

Reference analogue: the reference filters its evaluation corpora against
held-out mention sets before scoring
(/root/reference/OneNet/data_process.py:137-169 builds eval splits by key
exclusion); decontamination is the corpus-scale generalization every LLM
data pipeline needs.

Scale design:
- Doc-side n-grams are generated map-side and matched as 64-bit hashes,
  never strings, so the benchmark set broadcast is 8 bytes/gram and the
  probe is a long==long hash lookup. The default kernel is the Arrow
  rolling-combine siphash (same architecture as the keys stage's MinHash
  kernel — token strings hashed once per batch, gram hash = shifted
  multiply-xor of n token hashes; measured ~5x the expression path per
  core); kernel='expr' keeps the whole-stage-codegen
  ngram_tokens+xxhash64 twin, whose gram-STRING formulation is what the
  DuckDB oracle recomputes.
- A benchmark is almost always tiny relative to the corpus (MMLU-sized:
  ~10^5 items, ~10^7 grams ~ 80 MB hashed). When its distinct gram count
  is <= `broadcast_max_grams` the join is broadcast: the 100 TB doc scan
  is flagged map-side with ZERO doc-side shuffle except the matched grams
  (inner join output ~ contamination volume, which is the small quantity
  by definition). Above the cap it degrades to a shuffle join on the gram
  hash.
- Collision note: matching on xxhash64 instead of gram text admits a
  2^-64-per-probe false positive — at 10^12 docs x 10^3 grams vs 10^7
  benchmark grams the expected spurious matches are ~10^-3 corpus-wide.
  The DuckDB oracle joins the gram STRINGS and agrees exactly at test
  scale.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

from entitylinking_spark.functions.hashing import row_gram_segments
from entitylinking_spark.functions.relhash import md5_hash60
from entitylinking_spark.operators.textstats import ngram_tokens

# 2^60 as the bucket space of md5_hash60 (15 hex chars)
_HASH_SPACE = float(1 << 60)


def make_gram_hash_udf(n: int):
    """Arrow kernel: text -> array<long> of DISTINCT token n-gram hashes.

    The throughput path (same architecture as the keys stage's MinHash
    kernel): token strings are siphashed once per batch, gram hashes are a
    numeric rolling combine — no gram-string building. Measured ~5x the
    whole-stage-codegen ngram_tokens expression per core at sf0.1 (the
    interpreted transform/slice/concat_ws HOF is the expression path's
    floor). Rows with fewer than n tokens return an EMPTY array — the
    decontamination rule's semantics, NOT _shingle_hashes' token fallback.
    """

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def gram_hashes(text: pd.Series) -> pd.Series:
        if len(text) == 0:
            return pd.Series([], dtype=object)
        tok_lists, base, bounds = row_gram_segments(text, n)
        empty = np.empty(0, dtype=np.int64)
        out = [
            empty if len(tl) < n
            else np.unique(base[bounds[i]:bounds[i + 1]]).view(np.int64)
            for i, tl in enumerate(tok_lists)
        ]
        return pd.Series(out)

    return gram_hashes


def _gram_hashes(df: DataFrame, id_col: str, text_col: str, n: int,
                 out: str, kernel: str = "arrow") -> DataFrame:
    """(id, text) -> (id, gram hash) with per-document distinct grams.

    kernel='arrow': siphash rolling-combine kernel (the scale path).
    kernel='expr': whole-stage-codegen expressions hashing gram STRINGS
    with xxhash64 — the relational twin the DuckDB oracle narrative uses.
    The two hash spaces differ; both sides of a match MUST use the same
    kernel. Match decisions are identical modulo 64-bit collisions.
    """
    if kernel == "expr":
        return df.select(
            F.col(id_col),
            F.explode(F.array_distinct(ngram_tokens(text_col, n))).alias("_g"),
        ).select(id_col, F.xxhash64("_g").alias(out))
    udf = make_gram_hash_udf(n)
    return df.select(
        F.col(id_col), F.explode(udf(text_col)).alias(out)
    )


def benchmark_gram_set(benchmark: DataFrame, n: int = 13,
                       text_col: str = "text",
                       kernel: str = "arrow") -> DataFrame:
    """Distinct n-gram hashes of the benchmark — the probe set."""
    if kernel == "expr":
        return (
            benchmark.select(F.explode(ngram_tokens(text_col, n)).alias("_g"))
            .select(F.xxhash64("_g").alias("bh"))
            .distinct()
        )
    udf = make_gram_hash_udf(n)
    return (
        benchmark.select(F.explode(udf(text_col)).alias("bh")).distinct()
    )


def decontaminate(docs: DataFrame, benchmark: DataFrame, n: int = 13,
                  id_col: str = "doc_id", text_col: str = "text",
                  bench_text_col: str = "text",
                  broadcast_max_grams: int = 20_000_000,
                  kernel: str = "arrow",
                  metrics=None) -> DataFrame:
    """Per-document contamination flag vs a benchmark corpus.

    Returns (id_col, bench_hits, contaminated): bench_hits = number of the
    document's DISTINCT n-grams that appear anywhere in the benchmark;
    contaminated = bench_hits >= 1. Documents with fewer than `n` tokens
    produce no grams and are never flagged (the n-gram rule's documented
    blind spot — pick n to taste, 13 is the GPT-3 convention).

    Every document is returned (left join semantics), so the output can be
    used directly as a keep/drop filter.
    """
    grams = benchmark_gram_set(benchmark, n, bench_text_col, kernel=kernel)
    n_grams = grams.count()  # needed for the broadcast decision anyway
    if metrics is not None:
        metrics.record("decontam_gram_census", n=n,
                       benchmark_grams=n_grams,
                       broadcast=n_grams <= broadcast_max_grams)
    if n_grams <= broadcast_max_grams:
        grams = F.broadcast(grams)

    doc_grams = _gram_hashes(docs, id_col, text_col, n, "bh", kernel=kernel)
    hits = (
        doc_grams.join(grams, "bh")  # inner: only contaminated grams survive
        .groupBy(id_col)
        .agg(F.count("*").alias("bench_hits"))
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .withColumn("bench_hits", F.coalesce("bench_hits", F.lit(0)).cast("long"))
        .select(id_col, "bench_hits",
                (F.col("bench_hits") >= 1).alias("contaminated"))
    )


def contamination_pairs(docs: DataFrame, benchmark: DataFrame, n: int = 13,
                        id_col: str = "doc_id", text_col: str = "text",
                        bench_id_col: str = "bench_id",
                        bench_text_col: str = "text",
                        broadcast_max_grams: int = 20_000_000,
                        kernel: str = "arrow") -> DataFrame:
    """Evidence table: (doc id, bench id, shared_grams >= 1) for every
    document x benchmark-item pair sharing at least one n-gram — what a
    human audits before dropping data. Same broadcast geometry as
    `decontaminate`, keyed per benchmark item instead of deduped."""
    grams = _gram_hashes(benchmark, bench_id_col, bench_text_col, n, "bh",
                         kernel=kernel).distinct()
    if grams.count() <= broadcast_max_grams:
        grams = F.broadcast(grams)
    doc_grams = _gram_hashes(docs, id_col, text_col, n, "bh", kernel=kernel)
    return (
        doc_grams.join(grams, "bh")
        .groupBy(id_col, bench_id_col)
        .agg(F.count("*").alias("shared_grams"))
    )


def split_bucket(id_col: str | Column, seed: str = "v1") -> Column:
    """Uniform [0,1) bucket from md5(seed || ':' || id) — content- and
    partitioning-independent, identical in DuckDB (md5_hash60 twin), so a
    split assignment is reproducible across engines, reruns and backfills.
    """
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return md5_hash60(F.concat(F.lit(seed + ":"), c.cast("string"))) / F.lit(_HASH_SPACE)


def split_expr(id_col: str | Column,
               weights: dict[str, float] | None = None,
               seed: str = "v1") -> Column:
    """The split-band column expression behind `split_assign` — reusable
    inline wherever a per-row split label is wanted without a join.
    Weights are normalized; dict iteration order fixes the band order."""
    if weights is None:
        weights = {"train": 0.9, "val": 0.05, "test": 0.05}
    if not weights or any(w < 0 for w in weights.values()):
        raise ValueError("weights must be a non-empty dict of >=0 floats")
    total = float(sum(weights.values()))
    if total <= 0:
        raise ValueError("weights must sum to > 0")
    b = split_bucket(id_col, seed)
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        branch = F.when(b < F.lit(acc), F.lit(name))
        expr = branch if expr is None else expr.when(b < F.lit(acc), F.lit(name))
    last = F.lit(names[-1])
    return last if expr is None else expr.otherwise(last)


def split_assign(docs: DataFrame, id_col: str = "doc_id",
                 weights: dict[str, float] | None = None,
                 seed: str = "v1") -> DataFrame:
    """Deterministic train/val/test assignment: (id_col, split).

    Pure map-side expression — no shuffle, no sampling state, stable under
    repartitioning and incremental appends (a doc keeps its split forever,
    the property Bernoulli `df.sample` lacks).
    """
    return docs.select(F.col(id_col),
                       split_expr(id_col, weights, seed).alias("split"))
