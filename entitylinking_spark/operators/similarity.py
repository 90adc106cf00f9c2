"""Similarity search over embedding columns (array<float>).

Replaces the reference's embedding top-k probe
(/root/reference/Sparkle/database.py:165-183: np.dot + argsort per query;
/root/reference/e2e/entity_database.py:306-324) with distributed variants:

  brute_force_topk    exact cosine top-k via JVM-native dot products +
                      a rank window — the correctness baseline
  lsh_topk            random-hyperplane LSH buckets bound the join
                      (the 100TB scale path; approximate)

Dot products use F.zip_with/F.aggregate (whole-stage codegen, no Python);
the hyperplane projections are one Arrow-batched matmul per partition.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql import types as T


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v.cast("double"),
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v.cast("double")
        )
    )


def cosine_sim(a: Column, b: Column) -> Column:
    denom = norm(a) * norm(b)
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot(a, b) / denom)


def brute_force_topk(embeddings: DataFrame, queries: DataFrame, k: int = 10,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     qid_col: str = "query_id", qvec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query side against the big
    corpus, score JVM-native, take the per-query rank window.

    Returns (query_id, vec_id, cosine, rank). Ties broken by vec_id so the
    result is deterministic (the reference's argsort is stable — T4).
    """
    q = F.broadcast(
        queries.select(F.col(qid_col).alias("_qid"), F.col(qvec_col).alias("_qvec"))
        .withColumn("_qn", norm(F.col("_qvec")))
    )
    # norms once per row, dot once per pair (same arithmetic as cosine_sim;
    # higher-order fns are interpreted, so per-pair norm recompute is ~3x)
    denom = F.col("_n") * F.col("_qn")
    scored = embeddings.withColumn("_n", norm(F.col(vec_col))).crossJoin(q).select(
        F.col("_qid").alias("query_id"),
        F.col(id_col).alias("vec_id"),
        F.when(denom == 0, F.lit(0.0))
        .otherwise(dot(F.col(vec_col), F.col("_qvec")) / denom)
        .alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# Fixed random hyperplanes (seeded) shared by corpus and queries.
_HP_RNG = np.random.RandomState(1234)
_HP_MAX_PLANES = 32
_HP_MAX_DIM = 4096
_HYPERPLANES = _HP_RNG.normal(size=(_HP_MAX_PLANES, _HP_MAX_DIM))


def hyperplane_bucket(vec_col: Column, n_planes: int = 8) -> Column:
    """Sign-bit bucket id from fixed random hyperplanes (SRP-LSH for cosine).

    Arrow-batched: one (batch, dim) x (dim, planes) matmul per batch.
    """
    planes = _HYPERPLANES[:n_planes]

    @F.pandas_udf(T.IntegerType())
    def bucket(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int32")
        mat = _stack_vecs(vecs.to_numpy()).astype(np.float64, copy=False)
        proj = mat @ planes[:, : mat.shape[1]].T
        bits = (proj > 0).astype(np.int32)
        out = np.zeros(len(vecs), dtype=np.int32)
        for j in range(bits.shape[1]):
            out |= bits[:, j] << j
        return pd.Series(out)

    return bucket(vec_col)


def lsh_topk(embeddings: DataFrame, queries: DataFrame, k: int = 10,
             n_planes: int = 8, id_col: str = "vec_id", vec_col: str = "embedding",
             qid_col: str = "query_id", qvec_col: str = "embedding") -> DataFrame:
    """Approximate top-k for a SMALL query set: only score corpus vectors in
    the query's SRP bucket, query side broadcast. For a query side that is
    itself corpus-scale (the reference probes its index once per mention —
    /root/reference/Sparkle/database.py:165-183), use lsh_topk_shuffle."""
    corp = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_vec")
    ).withColumn("bucket", hyperplane_bucket(F.col("_vec"), n_planes))
    q = queries.select(
        F.col(qid_col).alias("query_id"), F.col(qvec_col).alias("_qvec")
    ).withColumn("bucket", hyperplane_bucket(F.col("_qvec"), n_planes))
    scored = corp.join(F.broadcast(q), "bucket").select(
        "query_id", "vec_id", cosine_sim(F.col("_vec"), F.col("_qvec")).alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# Corpus-scale ANN: shuffle bucket join + multi-probe (round-3 verdict #1)
# ---------------------------------------------------------------------------
#
# Integer-quantized SRP: hyperplane weights are md5-derived integers in
# [-2048, 2047] and embedding components are floor(x * 4096) — float32
# inputs scale by 2^12 EXACTLY in double, so the floor is deterministic and
# every dot product is pure BIGINT arithmetic. That gives (a) a bucket
# function with no float-summation-order ambiguity (the DuckDB oracle
# recomputes it bit-for-bit from the same md5-derived integers), and (b) a
# JVM-native whole-stage-codegen bucket expression with no Python in the path.
# Quantization changes each hyperplane direction by <= 2^-12 per component —
# immaterial to LSH quality.

_SRP_QUANT = 4096


def srp_planes(n_planes: int, dim: int, tag: str = "srp") -> list[list[int]]:
    """Deterministic quantized hyperplanes: w[p][d] = md5-60bit("{tag}:{p}:{d}")
    % 4096 - 2048. Same derivation is re-expressed in SQL by the driver
    oracle, so Spark and DuckDB agree on every bucket bit."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"{tag}:{p}:{d}".encode()).hexdigest()[:15], 16) % _SRP_QUANT
            - _SRP_QUANT // 2
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def make_srp_bucket_udf(planes: list[list[int]]):
    """Arrow-batched SRP bucket kernel: floor-quantize, one int64 matmul
    per batch. Integer arithmetic is order-independent, so the values are
    BIT-IDENTICAL to srp_bucket_expr / the DuckDB oracle — this is purely
    the throughput kernel (the interpreted HOF expression measured
    ~1.7 ms/row at dim=64; the matmul is ~1 µs/row)."""
    arr = np.array(planes, dtype=np.int64)  # (P, D)

    @F.pandas_udf(T.LongType())
    def bucket(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int64")
        mat = _stack_vecs(vecs.to_numpy()).astype(np.float64, copy=False)
        q = np.floor(mat * float(_SRP_QUANT)).astype(np.int64)
        dots = q @ arr[:, : mat.shape[1]].T  # (N, P) exact int64
        out = np.zeros(len(vecs), dtype=np.int64)
        for p in range(arr.shape[0]):
            out |= (dots[:, p] > 0).astype(np.int64) << p
        return pd.Series(out)

    return bucket


def srp_bucket_expr(vec_col: Column, planes: list[list[int]]) -> Column:
    """JVM-native SRP bucket id from quantized planes (see module note).

    The relational twin of make_srp_bucket_udf (identical integer values);
    kept for SQL-parity documentation and no-Python contexts. Stays in the
    higher-order-function form deliberately: an unrolled flat expression
    (dim x n_planes multiply-add nodes) was tried and measured WORSE — the
    tree blows up every optimizer pass and codegen compile, and at dim=64
    the 9-way probe duplication OOMed the driver. The HOF form is one
    compact tree evaluated once per row."""
    q = F.transform(
        vec_col, lambda x: F.floor(x.cast("double") * _SRP_QUANT).cast("long")
    )
    bucket = F.lit(0).cast("long")
    for p, plane in enumerate(planes):
        w = F.array(*[F.lit(int(wi)).cast("long") for wi in plane])
        dot = F.aggregate(
            F.zip_with(q, w, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0)).cast("long")
    return bucket


def _probe_buckets(bucket: Column, n_planes: int, probe_bits: int) -> Column:
    """Multi-probe bucket list: the query's own bucket plus every bucket at
    Hamming distance <= probe_bits (bit flips). probe_bits=1 costs n_planes
    extra probes per query and recovers most near-boundary misses."""
    probes = [bucket]
    if probe_bits >= 1:
        probes += [bucket.bitwiseXOR(F.lit(1 << j)) for j in range(n_planes)]
    if probe_bits >= 2:
        probes += [
            bucket.bitwiseXOR(F.lit((1 << i) | (1 << j)))
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
    return F.array_distinct(F.array(*probes))


def _stack_vecs(cells) -> np.ndarray:
    """(n, dim) matrix from a pandas object column of Arrow list values,
    PRESERVING the element dtype (float32 stays float32) so kernel
    arithmetic can reproduce the JVM's per-element rounding exactly."""
    first = cells[0]
    if isinstance(first, np.ndarray):
        return np.stack(cells)
    return np.array(list(cells), dtype=np.float64)


def _jvm_exact_dots(Q: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(nq, d) x (nc, d) -> (nq, nc) float64 dot products BIT-IDENTICAL to
    the interpreted JVM fold `dot()`: each per-element product is computed
    in the INPUT element type (float32 inputs round every product to
    float32, exactly like Spark's float*float), then accumulated into a
    float64 in ascending dimension order (the fold's sequential sum; a
    BLAS matmul/einsum would reassociate the sum and drift in the last
    ulp). Vectorized across all pairs, so it runs at numpy speed — the
    guide-§4 replacement for evaluating the fold once per candidate pair
    — while changing NOTHING about the computed values."""
    if Q.dtype != C.dtype:
        # mixed float32/float64 sides: Spark promotes both to double
        # before multiplying (float32 -> float64 is exact)
        Q = Q.astype(np.float64)
        C = C.astype(np.float64)
    nq, d = Q.shape
    nc = C.shape[0]
    acc = np.zeros((nq, nc), dtype=np.float64)
    if d == 0 or nq == 0 or nc == 0:
        return acc
    prod = np.empty((nq, nc), dtype=Q.dtype)
    for j in range(d):
        np.multiply(Q[:, j, None], C[None, :, j], out=prod)
        acc += prod
    return acc


def _id_order_key(ids: np.ndarray) -> np.ndarray:
    """Sort key matching Spark's ordering for the id column: UTF8 byte
    order for strings (Spark compares UTF8String bytes; Python compares
    code points — encode so both agree beyond ASCII), natural order for
    numerics."""
    if ids.dtype == object:
        return np.array(
            [s.encode("utf-8") if isinstance(s, str) else s for s in ids],
            dtype=object,
        )
    return ids


def _cogrouped_topk(corp: DataFrame, q: DataFrame, keys: list[str],
                    k: int) -> DataFrame:
    """Per-block candidate scorer for the shuffled ANN joins: replaces
      corp.join(q, keys).select(cosine per pair)  ->  full rank window
    with ONE cogrouped Arrow kernel per (bucket/cell, salt) group that
    scores the group's query x corpus block as a matrix and emits only
    each query's per-group top-k (guide §2.3 "shuffle keys and metadata,
    not payloads" + §4.2 "hand whole batches to vectorized native code").

    Wins over the join form, measured at sf1.0 (20k x 20k, 256 buckets):
      * the pair rows (14M+ of them, each carrying BOTH ~512 B vectors)
        are never materialized — the join projected them all through an
        interpreted higher-order fold;
      * the rank-window Exchange shrinks from every scored pair to at
        most (probes x k) rows per query.

    Correctness: cosine = when(denom == 0, 0.0, dot/denom) with dot from
    `_jvm_exact_dots` — bit-identical to the JVM fold the join projected —
    and per-group selection uses the window's exact order (cosine DESC,
    id ASC by Spark semantics). A row of the true global top-k ranks <= k
    inside its own group (its group candidates are a subset of its global
    candidates), so the union of per-group top-k lists contains the global
    top-k and the downstream window returns identical rows and ranks.

    corp: (*keys, vec_id, _vec, _n); q: (*keys, query_id, _qvec, _qn).
    Returns (query_id, vec_id, cosine) candidates.
    """
    out_schema = T.StructType([
        T.StructField("query_id", q.schema["query_id"].dataType),
        T.StructField("vec_id", corp.schema["vec_id"].dataType),
        T.StructField("cosine", T.DoubleType()),
    ])

    def score(cdf: pd.DataFrame, qdf: pd.DataFrame) -> pd.DataFrame:
        if len(cdf) == 0 or len(qdf) == 0:
            return pd.DataFrame({"query_id": [], "vec_id": [], "cosine": []})
        vid = cdf["vec_id"].to_numpy()
        order = np.argsort(_id_order_key(vid), kind="stable")
        vid = vid[order]
        C = _stack_vecs(cdf["_vec"].to_numpy()[order])
        cn = cdf["_n"].to_numpy().astype(np.float64, copy=False)[order]
        nc = len(vid)
        kk = min(k, nc)
        qid_all = qdf["query_id"].to_numpy()
        qn_all = qdf["_qn"].to_numpy().astype(np.float64, copy=False)
        qvec_all = qdf["_qvec"].to_numpy()
        qids_out, vids_out, cos_out = [], [], []
        # bound the (chunk x nc) score matrix to ~16 MB however large the
        # group's query fan-in is
        chunk = max(1, int(2_000_000 // max(nc, 1)))
        for s in range(0, len(qid_all), chunk):
            Qm = _stack_vecs(qvec_all[s:s + chunk])
            dots = _jvm_exact_dots(Qm, C)
            denom = qn_all[s:s + chunk, None] * cn[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(denom == 0.0, 0.0, dots / denom)
            # stable argsort of -cosine over corpus pre-sorted by id ==
            # the window's (cosine DESC, id ASC) order
            sel = np.argsort(-cos, axis=1, kind="stable")[:, :kk]
            qids_out.append(np.repeat(qid_all[s:s + chunk], kk))
            vids_out.append(vid[sel].ravel())
            cos_out.append(np.take_along_axis(cos, sel, axis=1).ravel())
        return pd.DataFrame({
            "query_id": np.concatenate(qids_out),
            "vec_id": np.concatenate(vids_out),
            "cosine": np.concatenate(cos_out),
        })

    return (
        corp.groupBy(*keys)
        .cogroup(q.groupBy(*keys))
        .applyInPandas(score, out_schema)
    )


def auto_n_planes(corpus_count: int, bucket_cap: int = 2_000,
                  lo: int = 4, hi: int = 24) -> int:
    """Plane count targeting E[bucket size] ~= bucket_cap: the number of
    buckets must grow WITH the corpus (2^n_planes ~= N / cap), otherwise
    bucket size — and with it both join-task size and the query-side salt
    replication — grows linearly in N (round-3 verdict #3). Clamped:
    below `lo` the probe set is too coarse to discriminate; above `hi`
    the 1-bit multi-probe fan-out (n_planes + 1 probes/query) dominates.
    At N=10^9, cap=2000: n_planes = 19 -> 2^19 buckets, E[size] ~= 1900,
    n_salt ~= 1, probes/query = 20."""
    import math

    need = max(1, int(math.ceil(corpus_count / max(1, bucket_cap))))
    return max(lo, min(hi, int(math.ceil(math.log2(need))) if need > 1 else lo))


def salt_hot_blocks(corp: DataFrame, key_col: str, cap: int, max_salt: int,
                    salt_id_col: str = "vec_id", metrics=None,
                    metric_name: str = "block_census", **metric_tags):
    """Census + salt the skew tail of a blocked corpus frame; shared by
    the SRP-bucket (lsh_topk_shuffle) and IVF-cell (ivf.ivf_topk) joins.

    One pass censuses block sizes (persisted so a metrics collect does not
    recompute it — ADVICE r4); only HOT blocks (size > cap) are collected
    and re-emitted as a broadcast literal frame, so the broadcast is
    O(skewed blocks) at any corpus size. Blocks at or under cap default to
    n_salt=1 through the left join + coalesce. A block of size S gets
    min(ceil(S/cap), max_salt) salt groups; corpus rows land in ONE group
    (hash of `salt_id_col`) — the probe side replicates across groups, so
    salting changes task boundaries, never results.

    Returns (corp with n_salt+salt columns, hot broadcast frame). Census
    stats (n_buckets / max_bucket / mean_bucket / n_hot / max_n_salt) plus
    `metric_tags` are recorded under `metric_name` when `metrics` is set.
    """
    key_type = corp.schema[key_col].dataType.simpleString()
    census = corp.groupBy(key_col).agg(F.count("*").alias("_bsize")).persist()
    if metrics is not None:
        stats = census.agg(
            F.count("*").alias("n_buckets"),
            F.max("_bsize").alias("max_bucket"),
            F.avg("_bsize").alias("mean_bucket"),
            F.sum((F.col("_bsize") > cap).cast("long")).alias("n_hot"),
            F.max(F.least(F.ceil(F.col("_bsize") / cap),
                          F.lit(max_salt))).alias("max_n_salt"),
        ).collect()[0].asDict()
        metrics.record(
            metric_name, max_salt=max_salt, **metric_tags,
            **{kk: (float(v) if v is not None else None) for kk, v in stats.items()},
        )
    hot_rows = census.filter(F.col("_bsize") > cap).select(
        key_col,
        F.least(F.ceil(F.col("_bsize") / cap).cast("int"),
                F.lit(max_salt)).alias("n_salt"),
    ).collect()
    census.unpersist()
    hot = corp.sparkSession.createDataFrame(
        hot_rows, f"{key_col} {key_type}, n_salt int"
    )
    corp = corp.join(F.broadcast(hot), key_col, "left").withColumn(
        "n_salt", F.coalesce(F.col("n_salt"), F.lit(1))
    ).withColumn(
        "salt", F.pmod(F.xxhash64(salt_id_col), F.col("n_salt")).cast("int")
    )
    return corp, hot


def lsh_topk_shuffle(embeddings: DataFrame, queries: DataFrame, k: int = 10,
                     n_planes: int | None = None, probe_bits: int = 1,
                     bucket_cap: int = 2_000, dim: int | None = None,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     qid_col: str = "query_id", qvec_col: str = "embedding",
                     planes: list[list[int]] | None = None,
                     kernel: str = "native",
                     corpus_count: int | None = None, max_salt: int = 64,
                     metrics=None) -> DataFrame:
    """Corpus-scale approximate top-k: shuffle bucket equi-join, salted.

    The 100 TB path for "every mention queries the index"
    (/root/reference/Sparkle/database.py:165-183): neither side is
    broadcast. Corpus vectors hash to one SRP bucket each; queries probe
    their bucket plus all buckets within `probe_bits` bit flips (recall
    knob). Hot buckets are salted: a bucket of size S gets
    min(ceil(S/cap), max_salt) salt groups, corpus rows land in one group
    (hash of id), query probes replicate across groups — no join task
    reads more than ~`bucket_cap` corpus rows of one bucket, the standard
    bipartite skew treatment (salting changes task boundaries, never
    results). Per-query rank window yields (query_id, vec_id, cosine,
    rank<=k), ties broken by vec_id — the same contract as
    brute_force_topk.

    Scale-proofing (round-3 verdict #3):
      * `n_planes=None` (default) derives the plane count from the corpus
        size via auto_n_planes, so E[bucket] tracks `bucket_cap` instead
        of N/2^8 — pass `corpus_count` to skip the count job when known.
      * only HOT buckets (size > bucket_cap) enter the broadcast census;
        everything else defaults to n_salt=1 via left join + coalesce.
        With auto-sized planes the hot set is the skew tail only, so the
        broadcast stays O(skewed buckets), not O(2^n_planes), at any N.
      * query-side replication is bounded by `max_salt`: a degenerate
        bucket (e.g. 10^6 identical vectors) costs at most max_salt query
        replicas; its per-task corpus rows then exceed bucket_cap, which
        AQE skew-split handles — bounded replication is the right trade
        against unbounded query fan-out.
      * pass `metrics` (MetricsCollector) to record the bucket census
        (n_buckets, max/mean size, hot count, max n_salt, plane count).
    """
    if planes is None:
        if dim is None:
            row = embeddings.select(F.col(vec_col)).first()
            if row is None or row[0] is None:
                raise ValueError(
                    "cannot infer dim from empty embeddings; pass dim="
                )
            dim = len(row[0])
        if n_planes is None:
            if corpus_count is None:
                corpus_count = embeddings.count()
            n_planes = auto_n_planes(corpus_count, bucket_cap)
        planes = srp_planes(n_planes, dim)
    n_planes = len(planes)
    dim = len(planes[0]) if planes else dim

    # per-row norms are computed ONCE here, so the per-pair work inside the
    # join is a single dot product (Catalyst higher-order functions are
    # interpreted, not codegen'd — recomputing two norms per candidate pair
    # measured ~3x the whole query cost). dot/(n_l*n_r) keeps the exact
    # arithmetic of cosine_sim, so the DuckDB oracle parity is unchanged.
    bucket_udf = make_srp_bucket_udf(planes)
    corp = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_vec")
    ).withColumn("bucket", bucket_udf(F.col("_vec"))).withColumn(
        "_n", norm(F.col("_vec"))
    )
    corp, hot = salt_hot_blocks(
        corp, "bucket", bucket_cap, max_salt, metrics=metrics,
        metric_name="ann_bucket_census",
        n_planes=n_planes, bucket_cap=bucket_cap,
    )

    # the bucket kernel runs ONCE into _b0 (ArrowEvalPython is its own plan
    # node, never inlined into the 9+ probe slots)
    qb = queries.select(
        F.col(qid_col).alias("query_id"), F.col(qvec_col).alias("_qvec")
    ).withColumn("_b0", bucket_udf(F.col("_qvec")))
    q = qb.withColumn(
        "bucket",
        F.explode(_probe_buckets(F.col("_b0"), n_planes, probe_bits)),
    ).drop("_b0").withColumn("_qn", norm(F.col("_qvec")))
    # probes into cold buckets replicate once (coalesce -> 1); probes into
    # empty buckets survive to the join and match nothing — results equal
    q = q.join(F.broadcast(hot), "bucket", "left").withColumn(
        "n_salt", F.coalesce(F.col("n_salt"), F.lit(1))
    ).withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.col("n_salt") - 1))
    )

    # Round 6: the bucket equi-join used to materialize EVERY candidate
    # pair (each row carrying both vectors) and run the dot product as an
    # interpreted JVM fold per pair ('native') or a per-pair Arrow UDF
    # ('arrow') — at sf1.0 that is 14M+ pair rows and was 92% of the
    # query's 161 s. _cogrouped_topk scores each (bucket, salt) block as
    # one numpy matrix with arithmetic bit-identical to the 'native' fold
    # and emits only per-group top-k candidates, so both kernel modes now
    # return byte-identical results through the same grouped path (the
    # `kernel` parameter is kept for API stability).
    # multi-probe buckets are disjoint (each corpus vector hashes to exactly
    # one bucket), so no (query_id, vec_id) dedup is needed before ranking
    cand = _cogrouped_topk(
        corp.select("bucket", "salt", "vec_id", "_vec", "_n"),
        q.select("bucket", "salt", "query_id", "_qvec", "_qn"),
        ["bucket", "salt"], k,
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("vec_id"))
    return cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ann_recall_report(embeddings: DataFrame, queries: DataFrame, k: int = 10,
                      sample_n: int = 50, metrics=None,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      qid_col: str = "query_id", qvec_col: str = "embedding",
                      **lsh_kwargs) -> dict:
    """Measured recall@k of lsh_topk_shuffle vs brute_force_topk on a
    sampled query subset, recorded into `metrics` — the tuning loop for
    the n_planes / probe_bits / bucket_cap knobs from a report instead of
    a rerun (round-3 verdict #9). The sample is the first `sample_n`
    queries by qid (deterministic)."""
    qs = queries.orderBy(qid_col).limit(sample_n)
    cols = dict(id_col=id_col, vec_col=vec_col,
                qid_col=qid_col, qvec_col=qvec_col)
    exact = brute_force_topk(embeddings, qs, k=k, **cols)
    approx = lsh_topk_shuffle(embeddings, qs, k=k, metrics=metrics,
                              **cols, **lsh_kwargs)
    want = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    got = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(want & got) / len(want) if want else 1.0
    report = {"recall_at_k": recall, "k": k, "n_queries_sampled": sample_n,
              "n_exact_pairs": len(want)}
    if metrics is not None:
        metrics.record("ann_recall", **report)
    return report


def hard_negatives(embeddings: DataFrame, assignments: DataFrame,
                   queries: DataFrame | None = None, k: int = 5,
                   method: str = "exact", retrieve_k: int | None = None,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   cluster_col: str = "cluster_id",
                   exclude_self: bool = True, **ann_kwargs) -> DataFrame:
    """Mined hard negatives for contrastive/embedding training: per
    anchor, the top-k most-similar vectors NOT in the anchor's duplicate
    cluster (the near-but-not-same examples retriever training wants —
    the duplicate clusters are the positive set, this is its complement).

    assignments: (id_col, cluster_col) from any clustering, e.g.
    connected_components over near-duplicate edges or resolve()'s
    clusters. queries defaults to the whole corpus.

    method='exact' ranks AFTER the exclusion, so every anchor gets
    exactly k negatives (fewer only when the corpus runs out) — the
    brute-force baseline, broadcast-queries shaped like brute_force_topk.
    method='lsh' goes through lsh_topk_shuffle with retrieve_k
    (default 4*k + 8) candidates BEFORE exclusion and re-ranks the
    survivors — the corpus-scale path; an anchor inside a duplicate
    cluster larger than retrieve_k can come back short (the documented
    slack trade; raise retrieve_k or collapse duplicates first).

    Returns (query_id, vec_id, cosine, neg_rank).
    """
    if method not in ("exact", "lsh"):
        raise ValueError(f"unknown method {method!r}")
    if queries is None:
        queries = embeddings.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("embedding")
        )
    a_q = assignments.select(
        F.col(id_col).alias("query_id"), F.col(cluster_col).alias("_qc")
    )
    a_v = assignments.select(
        F.col(id_col).alias("vec_id"), F.col(cluster_col).alias("_vc")
    )
    if method == "exact":
        n = embeddings.count() if retrieve_k is None else retrieve_k
        cand = brute_force_topk(
            embeddings, queries, k=n, id_col=id_col, vec_col=vec_col
        ).drop("rank")
    else:
        cand = lsh_topk_shuffle(
            embeddings, queries, k=retrieve_k or (4 * k + 8),
            id_col=id_col, vec_col=vec_col, **ann_kwargs
        ).drop("rank")
    kept = (
        cand.join(a_q, "query_id").join(a_v, "vec_id")
        .filter(F.col("_qc") != F.col("_vc"))
    )
    if exclude_self:
        kept = kept.filter(F.col("query_id") != F.col("vec_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("vec_id")
    )
    return (
        kept.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= k)
        .select("query_id", "vec_id", "cosine", "neg_rank")
    )
