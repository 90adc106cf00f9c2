"""IVF (inverted-file) approximate nearest-neighbor search.

The coarse-quantizer counterpart of `similarity.lsh_topk_shuffle` for the
reference's embedding top-k probe (/root/reference/Sparkle/database.py:
165-183 — np.dot + argsort per query; /root/reference/e2e/
entity_database.py:306-324): corpus vectors are partitioned into Voronoi
cells around learned (or data-seeded) centroids, and each query scans only
its `nprobe` nearest cells instead of the whole corpus. LSH needs no
training but its buckets are data-oblivious; IVF adapts the partition to
the data distribution — the standard trade (Jégou et al., "Product
Quantization for Nearest Neighbor Search", TPAMI 2011, §IV; FAISS IndexIVF).

Spark mapping (no index structure, just relational ops):

  assign     one Arrow-batched matmul per batch tags every corpus row with
             its nearest-centroid cell id; queries get their `nprobe`
             nearest cells (an exploded array)
  join       cell equi-join, skew-salted by `similarity.salt_hot_blocks`
             (a natural cluster in the data IS a hot cell)
  score+k    exact cosine inside probed cells, per-query rank window

Cross-engine exactness (the srp integer pattern): centroids
and vectors are floor-quantized by 2**12 — float32 inputs scale by a power
of two EXACTLY in double, so the quantized components are deterministic
integers, and the assignment score ip(c,c) - 2*ip(x,c) (argmin == nearest
by L2 on the quantized grid) stays below 2**53, meaning float64 BLAS
computes it EXACTLY. A DuckDB oracle recomputes every cell id bit-for-bit
with list_inner_product over the same quantized lists.

Scale notes (100 TB): assignment is one (batch × dim)·(dim × n_cells) BLAS
matmul per Arrow batch — at the auto-sized n_cells ≈ √N this stays cheap
through N ≈ 10^9 (n_cells ≈ 32k ⇒ ~2 MFLOP/row·dim64); beyond that a
two-level coarse quantizer (assign to √n_cells super-cells first) is the
standard continuation, out of scope here. Training collects only a
bounded deterministic sample (`sample_n` rows) to the driver; the
centroid broadcast is n_cells × dim × 8 bytes (32k × 64 ⇒ 16 MB).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql import types as T

from .similarity import _SRP_QUANT, _stack_vecs, norm, salt_hot_blocks

_QUANT = _SRP_QUANT  # 2**12: exact scaling of float32/64 in double


def _quantize(mat: np.ndarray) -> np.ndarray:
    """floor(x * 2**12) as float64 — exact integers, BLAS-friendly."""
    return np.floor(np.asarray(mat, dtype=np.float64) * float(_QUANT))


def seed_centroids(embeddings: DataFrame, n_cells: int,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> np.ndarray:
    """Data-seeded centroids: the first `n_cells` corpus rows by id,
    quantized. Deterministic and SQL-expressible — the driver oracle's
    init (and FAISS's fallback when train data ≤ n_cells)."""
    rows = (
        embeddings.orderBy(id_col).select(vec_col).limit(n_cells).collect()
    )
    if not rows:
        raise ValueError("cannot seed centroids from an empty corpus")
    return _quantize([r[0] for r in rows])


def fit_centroids(embeddings: DataFrame, n_cells: int,
                  sample_n: int = 100_000, n_iter: int = 10,
                  id_col: str = "vec_id", vec_col: str = "embedding") -> np.ndarray:
    """Lloyd's k-means on a bounded deterministic sample, driver-side.

    The sample is the `sample_n` rows with the smallest xxhash64(id) — a
    uniform pseudo-random draw that Spark executes as a TakeOrdered
    (per-partition top-K, no full sort), so training I/O is one scan and
    driver memory is O(sample_n · dim). Init = first n_cells sample rows
    (deterministic); empty clusters keep their previous centroid, the
    classic fix. Returns QUANTIZED centroids so assignment is exact and a
    re-fit on the same data is bit-stable.
    """
    # Arrow toArrow() instead of the pickled-row collect (guide §6): same
    # rows in the same TakeOrdered order, same float64 values (float32
    # elements upcast exactly). The list column's Arrow buffer is one flat
    # (n*dim) array — reshape it directly instead of stacking n object
    # cells (collect+stack measured 3.7 s at the sf1.0 100k x 64 sample;
    # this path ~0.5 s).
    tbl = (
        embeddings.select(F.col(vec_col).alias("v"),
                          F.xxhash64(F.col(id_col).cast("string")).alias("h"))
        .orderBy("h").limit(sample_n).select("v").toArrow()
    )
    if tbl.num_rows == 0:
        raise ValueError("cannot fit centroids on an empty corpus")
    flat = tbl.column("v").combine_chunks().flatten().to_numpy(
        zero_copy_only=False)
    x = flat.reshape(tbl.num_rows, -1).astype(np.float64, copy=False)
    n_cells = min(n_cells, len(x))
    cent = x[:n_cells].copy()
    # Buffers allocated ONCE: a fresh (sample_n x n_cells) float64 per
    # iteration is ~320 MB of first-touch page faults on this box —
    # measured 2.7-5.5 s/iteration vs 0.2 s with reused out= buffers.
    # The arithmetic is unchanged bit-for-bit: d = (-2·p) + c·c equals
    # c·c - 2·p exactly in IEEE (negation and a+(-b) are exact).
    p = np.empty((len(x), n_cells), dtype=np.float64)
    d = np.empty_like(p)
    for _ in range(n_iter):
        # argmin_c ||x-c||² == argmin_c (c·c - 2 x·c); ties -> lowest cell
        np.matmul(x, cent.T, out=p)
        np.multiply(p, -2.0, out=d)
        np.add(d, (cent * cent).sum(axis=1), out=d)
        lab = np.argmin(d, axis=1)
        for c in range(n_cells):
            members = x[lab == c]
            if len(members):
                cent[c] = members.mean(axis=0)
    return _quantize(cent)


def auto_n_cells(corpus_count: int, lo: int = 1, hi: int = 65_536) -> int:
    """n_cells ≈ √N balances the two per-query costs (centroid scan
    n_cells vs cell scan nprobe·N/n_cells) — the standard IVF sizing
    (FAISS guidelines). Clamped at `hi`: past ~65k cells the flat
    centroid matmul dominates and a two-level quantizer is the right
    structure (module note)."""
    return max(lo, min(hi, int(math.ceil(math.sqrt(max(1, corpus_count))))))


def make_cell_probe_udf(centroids_q: np.ndarray, nprobe: int):
    """Arrow-batched cell assignment: the `nprobe` nearest cells per
    vector, nearest first, ties broken by lower cell id. All arithmetic
    is exact (module note), so the DuckDB oracle reproduces every id."""
    cent = np.ascontiguousarray(centroids_q, dtype=np.float64)
    cc = (cent * cent).sum(axis=1)  # ip(c,c), exact integers

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probe(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="object")
        q = _quantize(_stack_vecs(vecs.to_numpy()))
        d = cc[None, :] - 2.0 * (q @ cent[: , : q.shape[1]].T)
        if nprobe == 1:
            idx = np.argmin(d, axis=1)[:, None]  # first occurrence = lowest id
        else:
            idx = np.argsort(d, axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(idx.astype(np.int32)))

    return probe


def ivf_topk(embeddings: DataFrame, queries: DataFrame, k: int = 10,
             n_cells: int | None = None, nprobe: int = 2,
             centroids: np.ndarray | None = None,
             cell_cap: int = 2_000, max_salt: int = 64,
             id_col: str = "vec_id", vec_col: str = "embedding",
             qid_col: str = "query_id", qvec_col: str = "embedding",
             kernel: str = "native",
             corpus_count: int | None = None, metrics=None) -> DataFrame:
    """Corpus-scale IVF top-k: cell equi-join, skew-salted.

    `centroids` (quantized, from `fit_centroids` or `seed_centroids`)
    pins the partition; default fits k-means with auto-sized `n_cells`.
    Neither side is broadcast in the main join; a natural data cluster
    (hot cell) is salted exactly like a hot LSH bucket — corpus rows land
    in one salt group, query probes replicate, results unchanged. Returns
    (query_id, vec_id, cosine, rank ≤ k), ties by vec_id — the same
    contract as brute_force_topk / lsh_topk_shuffle.
    """
    if centroids is None:
        if n_cells is None:
            if corpus_count is None:
                corpus_count = embeddings.count()
            n_cells = auto_n_cells(corpus_count)
        centroids = fit_centroids(embeddings, n_cells,
                                  id_col=id_col, vec_col=vec_col)
    n_cells = len(centroids)
    nprobe = min(nprobe, n_cells)

    assign = make_cell_probe_udf(centroids, 1)
    corp = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_vec")
    ).withColumn("cell", F.element_at(assign(F.col("_vec")), 1)).withColumn(
        "_n", norm(F.col("_vec"))
    )
    corp, hot = salt_hot_blocks(
        corp, "cell", cell_cap, max_salt, metrics=metrics,
        metric_name="ivf_cell_census", n_cells=n_cells, cell_cap=cell_cap,
    )

    # the probe kernel runs ONCE into its own ArrowEvalPython node; the
    # explode fans each query to its nprobe cells
    probe = make_cell_probe_udf(centroids, nprobe)
    q = queries.select(
        F.col(qid_col).alias("query_id"), F.col(qvec_col).alias("_qvec")
    ).withColumn("cell", F.explode(probe(F.col("_qvec")))).withColumn(
        "_qn", norm(F.col("_qvec"))
    )
    q = q.join(F.broadcast(hot), "cell", "left").withColumn(
        "n_salt", F.coalesce(F.col("n_salt"), F.lit(1))
    ).withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.col("n_salt") - 1))
    )

    # Round 6: same rewrite as lsh_topk_shuffle — the cell equi-join used
    # to materialize every (query, corpus) pair row with both vectors and
    # evaluate the dot per pair (25M+ pair rows at sf1.0, 96% of the
    # query's 219 s). One cogrouped numpy kernel per (cell, salt) block
    # now computes bit-identical cosines and emits only per-group top-k;
    # `kernel` is kept for API stability (both modes take this path).
    # probed cells are disjoint (each corpus row is in exactly one cell):
    # no (query_id, vec_id) dedup needed before ranking
    from .similarity import _cogrouped_topk

    cand = _cogrouped_topk(
        corp.select("cell", "salt", "vec_id", "_vec", "_n"),
        q.select("cell", "salt", "query_id", "_qvec", "_qn"),
        ["cell", "salt"], k,
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("vec_id"))
    return cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
