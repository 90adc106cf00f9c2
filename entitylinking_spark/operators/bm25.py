"""Full BM25 (Okapi) retrieval as pure DataFrame operators.

Reference analogue: the BM25Okapi index + top-k search in
/root/reference/e2e/entity_database.py:260-263,326-372 (library-backed,
in-memory, whole corpus tokenized on the driver). Here the same scoring is
two aggregations + one scoring expression, all whole-stage codegen:

  dl      tokens per document (corpus scan #1, grouped once)
  N,avgdl single-row corpus aggregate (broadcast)
  tf      term frequency per (doc, query-term) — postings are filtered to
          the QUERY terms before any shuffle, so document-frequency skew of
          stopwords never reaches an exchange
  df      per-query-term document frequency (tiny: |terms| rows)
  score   idf(t) * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl)) summed per doc

idf variants:
  plus  (default) ln(1 + (N-df+.5)/(df+.5)) — strictly positive, the form
        most large-scale systems use (Lucene)
  okapi ln((N-df+.5)/(df+.5)) — the textbook Okapi idf; terms in more
        than half the corpus score <= 0
  okapi-epsilon  okapi WITH the rank_bm25-style epsilon floor the
        reference's library applies (round-3 verdict #8): negative idfs
        are replaced by epsilon * average_idf, where average_idf is the
        mean RAW idf over the full corpus vocabulary. Costs one extra
        full-vocabulary aggregate (the library does the same work when it
        builds its index); parity test:
        tests/test_bm25.py::test_okapi_epsilon_parity_with_library_port.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from entitylinking_spark.functions.strings import tokenize


def _ordered_sum(col: str):
    """The group's sum of `col`, added in ascending order: `F.sum` adds in
    shuffle order, so its last bits would depend on the physical plan."""
    return F.aggregate(F.array_sort(F.collect_list(col)), F.lit(0.0), lambda a, x: a + x)


def bm25_scores(docs: DataFrame, query_terms: list[str], id_col: str = "doc_id",
                text_col: str = "text", k1: float = 1.2, b: float = 0.75,
                idf_variant: str = "plus", epsilon: float = 0.25) -> DataFrame:
    """(id, text) x fixed query -> (id, score) for docs matching >=1 term.

    query_terms are matched lowercase-exact (the reference tokenizes the
    query the same way — e2e/entity_database.py:331). `epsilon` applies to
    idf_variant='okapi-epsilon' only (rank_bm25's floor factor).
    """
    terms = sorted({t.lower() for t in query_terms})
    toks = docs.select(
        F.col(id_col).alias("_id"), tokenize(text_col).alias("_toks")
    )
    dl = toks.select("_id", F.size("_toks").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl") / F.count("*")).alias("avgdl"),
    )
    posts = (
        toks.select("_id", F.explode("_toks").alias("tok"))
        .filter(F.col("tok").isin(terms))          # prune BEFORE the shuffle
        .groupBy("_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = posts.groupBy("tok").agg(F.count("*").alias("df"))
    ratio = (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    if idf_variant == "plus":
        idf = F.log(1.0 + ratio)
    elif idf_variant == "okapi":
        idf = F.log(ratio)
    elif idf_variant == "okapi-epsilon":
        # rank_bm25 parity: negative idfs floor to epsilon * average_idf,
        # average taken over the RAW idf of the FULL corpus vocabulary
        # (negatives included) — one extra vocabulary aggregate, broadcast
        # as a single row, exactly what the library precomputes per index
        vocab_df = (
            toks.select("_id", F.explode(F.array_distinct("_toks")).alias("tok"))
            .groupBy("tok")
            .agg(F.count("*").alias("df"))
        )
        avg_idf = (
            vocab_df.crossJoin(F.broadcast(stats))
            .select(
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                ).alias("raw_idf")
            )
            .agg(F.avg("raw_idf").alias("avg_idf"))
        )
        raw = F.log(ratio)
        idf = F.when(raw < 0, F.lit(epsilon) * F.col("avg_idf")).otherwise(raw)
    else:
        raise ValueError(f"unknown idf_variant: {idf_variant!r}")
    scored = (
        posts.join(F.broadcast(dfreq), "tok")
        .join(dl, "_id")
        .crossJoin(F.broadcast(stats))
    )
    if idf_variant == "okapi-epsilon":
        scored = scored.crossJoin(F.broadcast(avg_idf))
    scored = (
        scored.withColumn(
            "term_score",
            idf
            * (F.col("tf") * (k1 + 1.0))
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))),
        )
    )
    return scored.groupBy("_id").agg(_ordered_sum("term_score").alias("score")).select(
        F.col("_id").alias(id_col), "score"
    )


def bm25_topk(docs: DataFrame, query_terms: list[str], top_k: int = 10,
              id_col: str = "doc_id", text_col: str = "text",
              k1: float = 1.2, b: float = 0.75,
              boosts: DataFrame | None = None) -> DataFrame:
    """Top-k BM25 with the reference's exact/substring-match boosts
    (e2e/entity_database.py:353-362: +10 exact title, +5 substring).

    boosts: optional (id_col, boost double) frame added to the raw score
    before ranking — the relational form of the reference's title boosts.
    """
    scored = bm25_scores(docs, query_terms, id_col, text_col, k1, b)
    if boosts is not None:
        scored = (
            scored.join(boosts, id_col, "left")
            .withColumn("score", F.col("score") + F.coalesce(F.col("boost"), F.lit(0.0)))
            .drop("boost")
        )
    w = Window.orderBy(F.desc("score"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
    )


def bm25_channel(mentions: DataFrame, entities: DataFrame,
                 k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """BM25 as a linking candidate channel: every mention's token set is a
    query against the per-corpus entity text index (the full-statistics
    version of the TF-only token channel in operators/linking.py).

    Returns (mention_id, document_id, channel='bm25', ch_score). Statistics
    (df, avgdl, N) are computed per corpus — the reference builds one
    BM25Okapi index per entity database (e2e/entity_database.py:260-263).
    Mention tokens are deduplicated, and entity postings are joined only on
    tokens some mention actually uses (semi-join prune), so corpus
    stopwords never form a hot join key on the mention side alone.
    """
    e_toks = entities.select(
        "corpus", F.col("document_id").alias("_id"), tokenize("text").alias("_toks")
    )
    dl = e_toks.select("corpus", "_id", F.size("_toks").alias("dl"))
    stats = dl.groupBy("corpus").agg(
        F.count("*").alias("n_docs"), (F.sum("dl") / F.count("*")).alias("avgdl")
    )
    m_terms = mentions.select(
        "corpus", "mention_id", F.explode(F.array_distinct(tokenize("text"))).alias("tok")
    ).filter(F.length("tok") >= 2)
    # entity postings restricted to tokens used by at least one mention
    used = m_terms.select("corpus", "tok").distinct()
    posts = (
        e_toks.select("corpus", "_id", F.explode("_toks").alias("tok"))
        .join(used, ["corpus", "tok"], "left_semi")
        .groupBy("corpus", "tok", "_id")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = posts.groupBy("corpus", "tok").agg(F.count("*").alias("df"))
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    scored = (
        m_terms.join(posts, ["corpus", "tok"])
        .join(F.broadcast(dfreq), ["corpus", "tok"])
        .join(dl, ["corpus", "_id"])
        .join(F.broadcast(stats), "corpus")
        .withColumn(
            "term_score",
            idf
            * (F.col("tf") * (k1 + 1.0))
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))),
        )
    )
    return (
        scored.groupBy("mention_id", "_id")
        .agg(_ordered_sum("term_score").alias("ch_score"))
        .select(
            "mention_id", F.col("_id").alias("document_id"),
            F.lit("bm25").alias("channel"), "ch_score",
        )
    )
