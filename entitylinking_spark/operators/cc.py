"""Iterative connected components: alternating large-star / small-star.

Generalizes the reference's graph propagation — confident nodes pulling
their pending neighbors to a shared identity
(/root/reference/e2e/systems/graph_system.py:46-79,953-1006) — into full
transitive closure over the matched-pair graph.

Algorithm: the alternating large-star/small-star method (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) — O(log^2 n)
rounds, every round a pair of shuffles, safe at 10^12 nodes:

  large-star(E): for each node u, m = min(N(u) ∪ {u});
                 emit (v, m) for every neighbor v > u.
  small-star(E): orient edges high->low; for each node u,
                 m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u) ∪ {u}.

Each iteration is localCheckpoint()ed (lineage would otherwise grow
exponentially — SURVEY.md §4). Convergence = stable edge-set signature
(count + sum of bounded hashes); the final edges form stars whose centers
are component minima, matching the FIXTURES.md cluster_id convention.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# Edge-count bound for the driver union-find fast path. 10^6 edges is
# ~50-100 MB through the Arrow collect and a sub-second union-find —
# bounded driver work in the fit_centroids / CMS-sketch sense, NOT an
# unbounded collect: graphs above the bound run the distributed
# large-star/small-star loop unchanged. At bench scale the loop's cost is
# almost entirely fixed per-iteration job overhead (~0.8-1 s x 6-9
# iterations for graphs of 20k-160k nodes), which the fast path removes.
_DRIVER_CC_MAX_EDGES = 1_000_000


def _driver_cc(edges: DataFrame) -> DataFrame:
    """Union-find over a BOUNDED edge list, labels = component min —
    exactly the loop's fixed point. Values are compared the way Spark
    compares them (UTF8 bytes for strings), so the emitted cluster_id is
    bit-identical to the distributed result. One Arrow collect in, one
    Arrow createDataFrame out."""
    import pandas as pd

    spark = edges.sparkSession
    src_type = edges.schema["src"].dataType
    # a null endpoint never joins two components (as in the star loop,
    # where null comparisons drop the edge); factorize would code it -1,
    # and parent[-1] would alias it to the last node
    pdf = edges.dropna(subset=["src", "dst"]).toPandas()
    # factorize to dense ints; keep original values for label selection
    codes_l, uniq = pd.factorize(
        pd.concat([pdf["src"], pdf["dst"]], ignore_index=True), sort=False
    )
    n = len(uniq)
    half = len(pdf)
    parent = list(range(n))

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]  # path halving
            a = parent[a]
        return a

    for i in range(half):
        ra, rb = find(int(codes_l[i])), find(int(codes_l[half + i]))
        if ra != rb:
            parent[rb] = ra
    vals = uniq.tolist()
    if vals and isinstance(vals[0], str):
        keys = [v.encode("utf-8") for v in vals]  # Spark's UTF8 byte order
    else:
        keys = vals
    best: dict[int, int] = {}
    for i in range(n):
        r = find(i)
        j = best.get(r)
        if j is None or keys[i] < keys[j]:
            best[r] = i
    out = pd.DataFrame({
        "row_id": vals,
        "cluster_id": [vals[best[find(i)]] for i in range(n)],
    })
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("row_id", src_type),
        T.StructField("cluster_id", src_type),
    ])
    return spark.createDataFrame(out, schema=schema)


def _signature(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(F.sum(F.pmod(F.xxhash64("src", "dst"), F.lit(2**31))), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _large_star(edges: DataFrame) -> DataFrame:
    # No trailing distinct: duplicates are absorbed by small-star's groupBy
    # in the same iteration, and dropping the extra full shuffle per
    # iteration is worth more than the bounded duplicate inflation
    # (duplicates never exceed the input edge multiplicity).
    sym = edges.unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = sym.groupBy("src").agg(F.min("dst").alias("min_nbr"))
    mins = mins.withColumn("m", F.least(F.col("min_nbr"), F.col("src"))).select("src", "m")
    return (
        sym.filter(F.col("dst") > F.col("src"))
        .join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    e = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    mins = e.groupBy("src").agg(F.min("dst").alias("m"))  # all dst < src here
    nbrs = (
        e.join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    centers = mins.select(F.col("src"), F.col("m").alias("dst"))
    return (
        nbrs.unionByName(centers)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    all_ids: DataFrame | None = None,
    max_iter: int = 50,
    on_iteration=None,
    assume_distinct: bool = False,
    driver_max_edges: int = _DRIVER_CC_MAX_EDGES,
) -> DataFrame:
    """edges(src,dst) -> assignments(row_id, cluster_id = component min).

    all_ids: optional DataFrame with a `row_id` column; nodes absent from
    `edges` come back as singleton clusters (cluster_id = row_id).
    on_iteration: optional callback(iteration:int, edge_count:int) — used by
    the pipeline to checkpoint the frontier (resume support).
    assume_distinct: skip the initial dedup shuffle when the caller already
    guarantees distinct (src != dst) edges. The ER core's new edges are
    distinct by construction: near pairs are unique via candidate_pairs'
    (id_l, id_r) groupBy, there is one exact edge per non-rep row, and the
    two sets are disjoint (non-reps never enter candidate pairs). Only a
    fold's prior star edges can repeat an edge, so the core passes False
    when it has them.
    driver_max_edges: graphs at or under this many (distinct) edges are
    finished by one bounded driver union-find (identical labels — see
    _driver_cc); larger graphs run the star loop. 0 forces the loop.
    """
    # Catalyst's Union constraint rewriting can hit "key not found: attr"
    # when both union branches share lineage (SPARK-known issue); constraint
    # propagation buys nothing for this iterated plan — disable it for the
    # loop only and RESTORE the caller's setting afterwards (a permanent
    # session-wide mutation would silently change unrelated queries).
    conf = edges.sparkSession.conf
    prev_cp = conf.get("spark.sql.constraintPropagation.enabled", "true")
    conf.set("spark.sql.constraintPropagation.enabled", "false")
    try:
        e = edges.select("src", "dst")
        if not assume_distinct:
            e = e.filter(F.col("src") != F.col("dst")).distinct()
        # lazy localCheckpoint + signature collect = ONE job per iteration:
        # the signature action materializes the checkpoint as a side effect
        # (eager=True would spend a separate job per iteration just to
        # materialize, then a second for the signature — at ~8 iterations
        # the fixed job overhead is most of CC's wall time on small/medium
        # graphs, and at scale it is a free saving).
        e = e.localCheckpoint(eager=False)
        sig = _signature(e)
        labels = None
        if sig[0] <= driver_max_edges:
            # round 6: the signature already counted the (distinct) edges —
            # when the graph is BOUNDED, finish it with one driver
            # union-find instead of 6-9 star iterations whose cost at this
            # size is fixed job overhead (guide §1.2: algorithm first).
            # Labels are identical (component min, Spark value order).
            labels = _driver_cc(e)
            e.unpersist()
        for it in range(max_iter) if labels is None else ():
            e2 = _small_star(_large_star(e)).localCheckpoint(eager=False)
            new_sig = _signature(e2)
            if on_iteration is not None:
                on_iteration(it, new_sig[0])
            e.unpersist()
            e = e2
            if new_sig == sig:
                break
            sig = new_sig
    finally:
        conf.set("spark.sql.constraintPropagation.enabled", prev_cp)

    if labels is None:
        # final edges: (node -> component min) stars; label every endpoint
        sym = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        labels = (
            sym.groupBy("src")
            .agg(F.min("dst").alias("min_nbr"))
            .select(
                F.col("src").alias("row_id"),
                F.least(F.col("min_nbr"), F.col("src")).alias("cluster_id"),
            )
        )
    if all_ids is not None:
        labels = (
            all_ids.select("row_id")
            .join(labels, "row_id", "left")
            .withColumn("cluster_id", F.coalesce(F.col("cluster_id"), F.col("row_id")))
        )
    # materialize the (small) label table and release the final edge frame:
    # callers get a lineage-truncated result and can safely unpersist/drop
    # their inputs (round-1 verdict: dedup ops leaked cached frames because
    # the lazy result pinned them)
    labels = labels.localCheckpoint(eager=True)
    e.unpersist()
    return labels
